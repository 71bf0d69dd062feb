"""Benchmark decontamination: flag / drop training documents that share
word n-grams with an evaluation set (the GPT-3 / Llama "13-gram overlap"
procedure — Brown et al. 2020 appendix C; Touvron et al. 2023 §5.1).

Shape for 100 TB: the eval side is tiny by construction (benchmarks are
thousands of documents vs a corpus of billions), so its distinct n-gram
hashes broadcast and the corpus side is ONE map-side hash join — the
corpus text never shuffles. Per-doc totals ride a single groupBy on the
(long) doc id with map-side partial aggregation. N-grams are built with
``text._grams`` + ``slice`` (whole-stage codegen; no interpreted
higher-order lambdas — see ``dedup.shingle_rows`` for the measured 10x
gap).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsflex_spark.datapipe.text import _grams, _tokens, _word_gram
from tsflex_spark.utils.data import fan_out

__all__ = ["word_ngram_rows", "decontaminate", "drop_contaminated"]


def word_ngram_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    out_col: str = "__g",
    *,
    lowercase: bool = True,
) -> DataFrame:
    """Distinct (id, xxhash64(word n-gram)) rows.

    Tokens are ``text._tokens``; a document shorter than ``n`` tokens
    contributes its whole token sequence as one gram (the clamp the
    char-shingle path uses), and one with no tokens contributes none.
    Hashing happens BEFORE the distinct so the shuffle key is two longs,
    never the gram string.
    """
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    d = fan_out(df).select(F.col(id_col), _tokens(txt).alias("__t"))
    d = _grams(d, [F.col(id_col)], "__t", n, whole=True)
    d = d.select(F.col(id_col), _word_gram("__t", n).alias("__str")).where(
        F.col("__str") != ""
    )
    return (
        d.select(F.col(id_col), F.xxhash64(F.col("__str")).alias(out_col))
        .dropDuplicates([id_col, out_col])
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: Optional[str] = None,
    n: int = 8,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-document contamination stats against ``eval_df``.

    Returns one row per input document: ``n_ngrams`` (distinct word
    n-grams), ``n_hits`` (how many of them appear anywhere in the eval
    set), ``hit_frac`` (exact int/int double), and ``contaminated``
    (``n_hits >= min_hits``). Documents with no tokens have 0/0/0.0.

    ``broadcast_eval=False`` drops the broadcast hint for eval sets too
    large to ship to every executor (the join then falls back to a
    shuffle hash join on the 8-byte gram hash).
    """
    ecol = eval_text_col or text_col
    # eval ids are irrelevant — only the distinct gram-hash set matters
    eval_g = (
        word_ngram_rows(
            eval_df.select(F.monotonically_increasing_id().alias("__eid"), ecol),
            ecol,
            "__eid",
            n,
        )
        .select("__g")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_eval:
        eval_g = F.broadcast(eval_g)

    doc_g = word_ngram_rows(df, text_col, id_col, n)
    agg = (
        doc_g.join(eval_g, on="__g", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"),
        )
    )
    out = df.select(id_col).join(agg, on=id_col, how="left")
    n_ngrams = F.coalesce(F.col("n_ngrams"), F.lit(0))
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return out.select(
        F.col(id_col),
        n_ngrams.alias("n_ngrams"),
        n_hits.alias("n_hits"),
        F.when(
            n_ngrams > 0, n_hits.cast("double") / n_ngrams.cast("double")
        ).otherwise(F.lit(0.0)).alias("hit_frac"),
        (n_hits >= F.lit(min_hits)).alias("contaminated"),
    )


def drop_contaminated(
    df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """``df`` minus contaminated documents (all original columns kept).
    The stats plan joins back on the (long) id — the document text rides
    only the final join, not the n-gram shuffle."""
    flags = decontaminate(
        df,
        eval_df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        min_hits=min_hits,
        broadcast_eval=broadcast_eval,
    ).where(F.col("contaminated")).select(id_col)
    return df.join(flags, on=id_col, how="left_anti")


def semantic_decontaminate(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    eval_vec_col: Optional[str] = None,
    max_eval_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag corpus documents
    whose embedding is within ``threshold`` cosine of ANY eval-set
    embedding — catching paraphrased/reformatted eval leakage that
    word-n-gram overlap (:func:`decontaminate`) misses.

    Scale shape: the EVAL set is the bounded side — it is collected once
    (guarded by ``max_eval_rows``) and rides every task's closure as a
    dense normalized matrix; the corpus side is a map-only Arrow scan
    with one BLAS product per batch and NEVER shuffles. Returns
    ``(id, max_eval_cosine, contaminated)`` for every corpus row;
    filter ``~contaminated`` to keep the clean slice.
    """
    import numpy as np
    import pandas as pd

    evec = eval_vec_col or vec_col
    n_eval = eval_emb.limit(max_eval_rows + 1).count()
    if n_eval > max_eval_rows:
        raise ValueError(
            f"eval set exceeds max_eval_rows={max_eval_rows}; decontaminate "
            "against a sampled/sharded eval set or raise the guard"
        )
    q = eval_emb.select(F.col(evec).alias(vec_col)).toPandas()
    id_dt = corpus_emb.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_dt}, max_eval_cosine double, contaminated boolean"
    if len(q) == 0:
        return corpus_emb.select(
            F.col(id_col),
            F.lit(None).cast("double").alias("max_eval_cosine"),
            F.lit(False).alias("contaminated"),
        )
    qm = np.vstack(q[vec_col].to_numpy()).astype(np.float64)
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    thr = float(threshold)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            best = (mn @ qn.T).max(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "max_eval_cosine": best,
                    "contaminated": best >= thr,
                }
            )

    return corpus_emb.select(id_col, vec_col).mapInPandas(score, out_schema)
