"""End-to-end corpus cleaning — the composed training-data pipeline.

``clean_corpus`` chains the datapipe stages the way a pre-training data
job actually runs them, cheapest-first so each stage sees fewer rows:

1. PII scrub (``text.redact_pii`` — narrow regexp_replace chain)
2. heuristic quality filters (``text.quality_score`` — codegen exprs)
3. Gopher repetition filters (``text.repetition_stats``)
4. language filter (``text.language_id``)
5. global length band (``utils.distributed.quantile_filter`` — exact
   p-lo/p-hi cutoffs via range-partition selection, broadcast back)
6. benchmark decontamination (``decontam.drop_contaminated`` —
   broadcast eval n-gram hashes)
7. optional trained quality classifier (``quality_classifier=`` — a
   ``datapipe.classifier.QualityClassifier``; per-n-gram scalar scorer)
8. exact dedup (hash-groupBy, min-id keeps)
9. MinHash+LSH near-dedup (band/bucket equi-joins)
10. optional SemDeDup (``semantic_threshold=``: hash_embed → cluster
    cells → within-cell cosine → keep-one; paraphrase-level dups)
11. optional cross-corpus LINE dedup (``line_dedup="keep_first"`` /
    ``"drop_all"`` — ``dedup.remove_duplicate_lines``, RefinedWeb
    boilerplate removal; rewrites text, so it runs after scoring)

Everything is ONE lazy DataFrame plan per returned frame — no driver
round-trips, no collects; at 100 TB each stage is a projection/filter or
an equi-join shaped for AQE.

``annotate_only=True`` is audit mode: every document comes back with its
``keep`` flag and the FIRST failing stage as ``reject_reason`` — the
frame a data team eyeballs before committing a multi-day cleaning run.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsflex_spark.datapipe.dedup import dedup_exact, minhash_dedup
from tsflex_spark.datapipe.text import language_id, quality_score, repetition_stats


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_quality_score: float = 0.5,
    max_dup_line_frac: float = 0.5,
    max_top_2gram_frac: float = 0.5,
    allowed_languages: Optional[Sequence[str]] = None,
    scrub_pii: bool = False,
    line_filter: Optional[dict] = None,
    gopher: Optional[dict] = None,
    length_band: Optional[tuple] = None,
    eval_df: Optional[DataFrame] = None,
    decontam_ngram: int = 8,
    quality_classifier=None,
    classifier_min_prob: float = 0.5,
    exact: bool = True,
    near_dup_threshold: Optional[float] = 0.8,
    semantic_threshold: Optional[float] = None,
    semantic_cells: int = 64,
    line_dedup: Optional[str] = None,
    line_dedup_min_chars: int = 16,
    annotate_only: bool = False,
) -> DataFrame:
    """Filter + dedup a document corpus; see module docstring.

    Returns the surviving rows of ``docs`` (all original columns), or —
    with ``annotate_only=True`` — ALL rows plus ``keep`` /
    ``reject_reason`` columns (dedup stages are skipped in audit mode:
    their verdicts depend on which other rows survive, which is exactly
    what the audit is for deciding).

    ``scrub_pii=True`` rewrites ``text_col`` in place before any scoring
    (so filters see the scrubbed text, as production pipelines do).
    ``gopher={...}`` (or ``{}`` for the published defaults) adds the
    Gopher A1.1 document rules (:func:`text.gopher_rules`) as a
    ``reject_reason='gopher'`` stage.
    ``length_band=(q_lo, q_hi)`` trims global char-length outliers with
    EXACT quantile cutoffs. ``eval_df`` enables benchmark
    decontamination (word-``decontam_ngram``-gram overlap). In audit
    mode both become ``reject_reason`` stages instead of drops.
    """
    if scrub_pii:
        from tsflex_spark.datapipe.text import redact_pii

        docs = redact_pii(docs, text_col)
    if line_filter is not None:
        # RefinedWeb order: line-wise boilerplate removal BEFORE document
        # scoring, so quality/repetition see the cleaned text. A text
        # TRANSFORM like scrub_pii — applies in audit mode too.
        from tsflex_spark.datapipe.text import filter_lines

        docs = filter_lines(docs, text_col, **line_filter)
    q = quality_score(docs, text_col, id_col=id_col).select(
        id_col, "quality_score"
    )
    rep = repetition_stats(docs, text_col, id_col=id_col).select(
        id_col, "dup_line_frac", "top_2gram_frac"
    )
    annotated = docs.join(q, id_col).join(rep, id_col)
    reason = (
        F.when(
            F.col("quality_score") < F.lit(float(min_quality_score)),
            F.lit("quality"),
        )
        .when(
            F.col("dup_line_frac") > F.lit(float(max_dup_line_frac)),
            F.lit("repetition_lines"),
        )
        .when(
            F.col("top_2gram_frac") > F.lit(float(max_top_2gram_frac)),
            F.lit("repetition_ngrams"),
        )
    )
    if gopher is not None:
        from tsflex_spark.datapipe.text import gopher_rules

        gr = gopher_rules(
            docs, text_col, id_col, **(gopher if isinstance(gopher, dict) else {})
        ).select(id_col, F.col("keep").alias("__gopher_keep"))
        annotated = annotated.join(gr, id_col)
        reason = reason.when(~F.col("__gopher_keep"), F.lit("gopher"))
    if allowed_languages is not None:
        lang = language_id(docs, text_col, id_col=id_col)
        annotated = annotated.join(lang, id_col)
        reason = reason.when(
            ~F.col("lang_pred").isin(*[str(x) for x in allowed_languages]),
            F.lit("language"),
        )
    if length_band is not None:
        from tsflex_spark.utils.distributed import _band_cuts

        lens = docs.select(F.length(text_col).alias("__len"))
        cuts = _band_cuts(lens, "__len", length_band[0], length_band[1], "__blo", "__bhi")
        # cutoffs come from the PRE-filter corpus in both modes (audit
        # parity; sequential re-derivation would couple stages)
        annotated = annotated.join(F.broadcast(cuts))
        reason = reason.when(
            (F.length(text_col) < F.col("__blo"))
            | (F.length(text_col) > F.col("__bhi")),
            F.lit("length_band"),
        )
    if eval_df is not None:
        from tsflex_spark.datapipe.decontam import decontaminate

        flags = decontaminate(
            docs, eval_df, text_col=text_col, id_col=id_col, n=decontam_ngram
        ).select(id_col, "contaminated")
        annotated = annotated.join(flags, id_col)
        reason = reason.when(F.col("contaminated"), F.lit("contaminated"))
    if quality_classifier is not None:
        # trained fastText-style model (datapipe.classifier) — the scored
        # join is id + one double; the scorer's shuffle carries one
        # (sum, count) pair per doc
        from tsflex_spark.datapipe.classifier import score_quality

        probs = score_quality(
            docs, quality_classifier, text_col, id_col
        ).select(id_col, "quality_prob")
        annotated = annotated.join(probs, id_col)
        reason = reason.when(
            F.col("quality_prob") < F.lit(float(classifier_min_prob)),
            F.lit("classifier"),
        )
    annotated = annotated.withColumn("reject_reason", reason)

    if annotate_only:
        return annotated.withColumn(
            "keep", F.col("reject_reason").isNull()
        ).drop("__blo", "__bhi")

    survivors = annotated.where(F.col("reject_reason").isNull()).select(
        *docs.columns
    )
    if exact:
        survivors = dedup_exact(survivors, text_col, id_col=id_col)
    if near_dup_threshold is not None:
        survivors = minhash_dedup(
            survivors, text_col, id_col=id_col, threshold=float(near_dup_threshold)
        )
    if semantic_threshold is not None:
        # SemDeDup straight from raw text: feature-hashing embeddings
        # (training-free, deterministic) → cluster cells → within-cell
        # cosine → keep one per duplicate group. Catches paraphrase-level
        # dups MinHash misses (shared vocabulary, different shingles).
        from tsflex_spark.datapipe.dedup import semantic_dedup
        from tsflex_spark.datapipe.text import hash_embed

        emb = hash_embed(survivors, text_col, id_col)
        keep = semantic_dedup(
            emb,
            float(semantic_threshold),
            vec_col="embedding",
            id_col=id_col,
            num_cells=int(semantic_cells),
        ).select(id_col)
        survivors = survivors.join(keep, id_col, "left_semi")
    if line_dedup is not None:
        # cross-corpus boilerplate line removal (RefinedWeb shape) runs
        # LAST: it rewrites text, and the scoring stages above should see
        # the document as crawled
        from tsflex_spark.datapipe.dedup import remove_duplicate_lines

        survivors = remove_duplicate_lines(
            survivors, text_col, id_col,
            mode=line_dedup, min_line_chars=int(line_dedup_min_chars),
        )
    return survivors
