"""Text-analysis operators: token counts, quality scoring, language-ID,
document fingerprinting. All JVM-side (``F.*`` only) — no Python in the
hot path, safe at 100 TB.
"""

from __future__ import annotations

import warnings
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsflex_spark.utils.data import fan_out

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "was", "for", "on", "are", "as", "with", "at", "be", "this",
]


def _tokens(col: Column) -> Column:
    """The engine's word tokens: ``col`` split on runs of Java's ``\\s``
    (ASCII ``[ \\t\\n\\x0b\\f\\r]``), empties removed. NULL stays NULL;
    empty and whitespace-only text give ``[]``. Lowercase callers pass
    ``lower(text)`` in: lowering never creates or removes whitespace, so
    that equals lowering each token. ``array_remove`` keeps the tokenizer
    in codegen, where a ``filter`` lambda is interpreted per element.
    Its Python twin is the ``re.ASCII`` split in
    ``lm.score_perplexity_local``; the two must agree token for token."""
    return F.array_remove(F.split(col, r"\s+"), "")


def _grams(d: DataFrame, keep: Sequence, seq: str, n: int, *, whole: bool) -> DataFrame:
    """``d`` exploded to one row per n-gram start ``__i`` (1-based) of
    the array column ``seq`` — a strided window n, stride 1: starts
    ``1 .. size - n + 1``. Returns ``(*keep, seq, __i)``; each caller
    projects its own gram (``slice(seq, __i, n)`` joined or hashed, or
    ``element_at`` per word), so the explode comes FIRST and everything
    stays in whole-stage codegen (a ``transform`` lambda is interpreted
    per element).

    ``whole`` is what a sequence shorter than n gives: one whole-sequence
    gram at ``__i = 1`` (NULL included, since ``greatest`` skips a NULL
    size), or no gram. The guard matters because ``sequence(1, 0)``
    steps BACKWARDS (``[1, 0]``)."""
    last = F.size(seq) - F.lit(n - 1)
    if whole:
        starts = F.sequence(F.lit(1), F.greatest(last, F.lit(1)))
    else:
        starts = F.when(last >= 1, F.sequence(F.lit(1), last))
    return d.select(*keep, F.col(seq), F.explode(starts).alias("__i"))


def _word_gram(seq: str, n: int) -> Column:
    """The space-joined word n-gram at ``__i`` of a ``_grams`` frame."""
    return F.concat_ws(" ", F.slice(F.col(seq), F.col("__i"), n))


def _char_grams(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, __g) — one row per character k-gram position of the
    lowercased, whitespace-collapsed ``text_col``. NULL text yields one
    NULL gram, and text of at most k characters yields one gram, the
    whole text (``""`` included).

    PERF: the start positions come from ``_grams`` (``whole=True``) and
    the gram is a plain projection. A string
    ``substr(s, i, k)`` walks the UTF-8 bytes from the start to find
    character i: O(position) per gram, O(n²) per document. Instead the
    text is split into its characters once per document and each gram
    joins a k-slice of that array, O(k). ``split(s, '')`` cuts the bytes
    into the characters ``length`` and ``substr`` count, without
    decoding them; the normalized text is valid UTF-8 anyway
    (``regexp_replace`` decodes it, turning each malformed byte into
    U+FFFD). The split sits BELOW the explode: a non-generator item in
    the explode's own select is evaluated above the Generate, once per
    gram.
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    d = df.select(F.col(id_col), F.split(norm, "").alias("__chars"))
    d = _grams(d, [F.col(id_col)], "__chars", k, whole=True)
    gram = F.array_join(F.slice("__chars", F.col("__i"), F.lit(k)), "")
    return d.select(F.col(id_col), gram.alias("__g"))


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Char + token counts per document (oracle-matched in DuckDB)."""
    df = fan_out(df)
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(_tokens(F.col(text_col))).alias("n_tokens"),
    ).orderBy(id_col)


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality features: length, mean word length, punctuation /
    digit / uppercase / stopword ratios, plus a composite [0,1] score —
    the standard pre-training-corpus filters, entirely in codegen'd exprs."""
    df = fan_out(df)
    # hoist the token array into a projected column — inline references
    # would re-run the regex split once per consuming expression. The
    # tokens of the lowered text are the lowered tokens, so one split
    # serves the count and the stopword test
    df = df.withColumn("__toks", _tokens(F.lower(F.col(text_col))))
    toks = F.col("__toks")
    n_chars = F.length(text_col).cast("double")
    n_tokens = F.size(toks).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1.0))
    safe_toks = F.greatest(n_tokens, F.lit(1.0))
    n_punct = (n_chars - F.length(F.regexp_replace(F.col(text_col), r"[\.,;:!\?'\"]", ""))).cast("double")
    n_digit = (n_chars - F.length(F.regexp_replace(F.col(text_col), r"[0-9]", ""))).cast("double")
    n_upper = (n_chars - F.length(F.regexp_replace(F.col(text_col), r"[A-Z]", ""))).cast("double")
    n_stop = F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in _STOPWORDS]))).cast("double")
    # the tokens' characters are the text's non-whitespace characters
    # (counted on the original text: lowering can change a length)
    mean_word_len = F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) / safe_toks
    punct_ratio = n_punct / safe_chars
    digit_ratio = n_digit / safe_chars
    upper_ratio = n_upper / safe_chars
    stop_ratio = n_stop / safe_toks
    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(digit_ratio < 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.0, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    # NOTE: ratios are left unrounded — they are exact int/int double
    # divisions, bit-identical across engines; round() is the one operation
    # Spark and DuckDB disagree on at .XXXX5 boundaries.
    return df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        upper_ratio.alias("upper_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def token_count_bpe_ish(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token count under a BPE-ish regex (GPT-2-style word/number/punct
    pieces) — approximates tokenizer cost for budget accounting."""
    df = fan_out(df)
    pieces = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0
    )
    return df.select(
        F.col(id_col),
        F.size(pieces).alias("n_bpe_tokens"),
    ).orderBy(id_col)


_PII_PATTERNS = [
    # (name, java-regex, replacement token). Ordered: more-specific first
    # so e.g. an email is not half-eaten by the phone pattern.
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (
        "phone",
        r"(?<![\d.-])(?:\+?\d{1,2}[ .-]?)?(?:\(\d{3}\)|\d{3})[ .-]\d{3}[ .-]\d{4}\b",
        "<PHONE>",
    ),
    ("cc16", r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b", "<CC>"),
]


def redact_pii(
    df: DataFrame,
    text_col: str,
    out_col: Optional[str] = None,
    kinds: Optional[Sequence[str]] = None,
    count_col: Optional[str] = None,
) -> DataFrame:
    """Replace common PII literals (emails, SSNs, IPv4s, phone numbers,
    16-digit card numbers) with typed placeholder tokens — the standard
    pre-training scrub pass.

    Pure chained ``regexp_replace`` — whole-stage codegen, narrow (no
    shuffle), safe at 100 TB. ``kinds`` selects a subset of
    ``_PII_PATTERNS`` by name; ``count_col`` additionally emits the total
    pattern-match count over the ORIGINAL text per row (audit signal —
    replacements are applied sequentially, so a row's count can differ
    from the edits when patterns overlap).
    """
    out_col = out_col or text_col
    # fan_out: the regex chain is narrow but compute-heavy per byte — on
    # a single-file scan (one partition) it otherwise runs on one core
    # (guide §2.5); at scale the input already has many splits and this
    # is a no-op
    df = fan_out(df)
    pats = [p for p in _PII_PATTERNS if kinds is None or p[0] in kinds]
    col = F.col(text_col)
    for _, rx, tok in pats:
        col = F.regexp_replace(col, rx, tok)
    # count BEFORE the redacted column lands (out_col may shadow text_col)
    if count_col is not None:
        cnt = F.lit(0)
        for _, rx, _tok in pats:
            cnt = cnt + F.size(F.regexp_extract_all(F.col(text_col), F.lit(rx), 0))
        df = df.withColumn(count_col, cnt)
    return df.withColumn(out_col, col)


_LANG_MARKERS = {
    # tiny n-gram/stopword heuristic — deterministic, dependency-free
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "est", "et"],
    "es": ["el", "los", "es", "una", "que"],
    "nl": ["de", "het", "een", "en", "van"],
}


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hit counts;
    'und' (undetermined) when no marker hits."""
    df = fan_out(df)
    df = df.withColumn("__lt", _tokens(F.lower(F.col(text_col))))
    lower_toks = F.col("__lt")
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(lower_toks, lambda t: F.array_contains(marker_arr, t)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit content fingerprint (xxhash64 of normalized text) — the
    whole-document identity used by exact dedup. For the partial-overlap
    variant (MOSS-style local fingerprints) see ``winnow_fingerprints``."""
    df = fan_out(df)
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.select(F.col(id_col), F.xxhash64(norm).alias("fingerprint"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    base: int = 257,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm) over a true ROLLING polynomial hash — detects partial
    overlap/containment, which whole-document hashes and even shingle-set
    Jaccard handle poorly.

    The k-gram hash is arithmetic Rabin–Karp
    (``h(i) = Σ_j code[i+j]·base^(k-1-j) mod mod``), NOT an engine hash —
    so the values are engine-independent and a SQL oracle reproduces them
    bit-for-bit. Per window of ``window`` consecutive k-gram hashes the
    minimum is kept; duplicates collapse (first occurrence kept).

    Executed as an Arrow-vectorized pandas UDF (numpy sliding windows):
    Catalyst higher-order-function lambdas are INTERPRETED per element —
    a zip_with formulation of the same math measured ~20× slower on
    4 KB docs, and a nested aggregate-in-transform ran minutes. One
    scan-parallel pass, no shuffle; exact int64 arithmetic (code point
    < 2^21, power < 2^30, 5-term sum < 2^54).

    Output: ``(id, fps array<long>)`` — the document's ordered distinct
    winnowed fingerprints. Guarantee: any shared substring of length
    ``>= window + k - 1`` produces at least one shared fingerprint.
    """
    import re

    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.functions import pandas_udf

    pw = np.array([pow(base, k - 1 - j, mod) for j in range(k)], dtype=np.int64)

    @pandas_udf("array<long>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = re.sub(r"\s+", " ", (t or "")).lower()
            cs = np.fromiter((ord(c) for c in t), dtype=np.int64, count=len(t))
            if len(cs) < k:
                out.append([])
                continue
            grams = (sliding_window_view(cs, k) @ pw) % mod
            if len(grams) < window:
                out.append([])
                continue
            wmin = sliding_window_view(grams, window).min(axis=1)
            _, first = np.unique(wmin, return_index=True)
            out.append(wmin[np.sort(first)].tolist())
        return pd.Series(out)

    df = fan_out(df)
    return df.select(F.col(id_col), _winnow(F.col(text_col)).alias("fps"))


def winnow_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 2,
    k: int = 5,
    window: int = 4,
    fps: Optional[DataFrame] = None,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Partial-overlap candidate pairs from winnowing fingerprints: docs
    sharing at least ``min_shared`` fingerprints — the MOSS "these two
    submissions share passages" pairing, and the containment-aware
    complement to MinHash LSH (whose signatures dilute when one doc is a
    small fraction of the other).

    Shape mirrors ``minhash_lsh_candidates``: explode to (id, fp) rows,
    self equi-join on the fingerprint (only colliding docs meet), count
    shared fps per pair. Returns (id_a, id_b, n_shared) with id_a < id_b.
    Pass a precomputed ``fps`` frame (``winnow_fingerprints`` output) to
    reuse an existing fingerprint pass instead of re-running the UDF.

    ``max_doc_freq`` drops fingerprints appearing in more than that many
    documents BEFORE the self-join — MOSS's standard common-code/
    boilerplate exclusion, and the scale guard: unlike LSH band hashes
    (balanced by construction), winnow fps concentrate on boilerplate,
    and one fp shared by m documents alone emits m^2/2 pairs (measured:
    an uncapped corpus-wide join at sf0.1 took ~90 s where a cap of 20
    is sub-second). Defaults to ``None`` (no pairs dropped — full MOSS
    recall); callers at corpus scale should opt in explicitly, e.g.
    ``max_doc_freq=100``.
    """
    if fps is None:
        fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window)
    if max_doc_freq is None:
        # Full MOSS recall is the default CONTRACT, but the self-join is
        # quadratic in per-fingerprint document frequency — one boilerplate
        # fp shared by m docs emits m²/2 pairs (measured ~90 s vs
        # sub-second at sf0.1 with a cap of 20). Warn so corpus-scale
        # callers opt in knowingly; zero-cost (no extra scan).
        warnings.warn(
            "winnow_candidates(max_doc_freq=None): full-recall self-join is "
            "quadratic in per-fingerprint doc frequency; at corpus scale "
            "pass max_doc_freq (e.g. 100) to drop boilerplate fingerprints "
            "before the join.",
            RuntimeWarning,
            stacklevel=2,
        )
    rows = fps.select(F.col(id_col), F.explode("fps").alias("__fp")).dropDuplicates(
        [id_col, "__fp"]
    )
    if max_doc_freq is not None:
        keep = (
            rows.groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= int(max_doc_freq))
            .select("__fp")
        )
        rows = rows.join(keep, "__fp", "left_semi")
    a = rows.select(F.col(id_col).alias("id_a"), "__fp")
    b = rows.select(F.col(id_col).alias("id_b"), "__fp")
    return (
        a.join(b, "__fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, appendix A —
    the standard "remove boilerplate / auto-generated text" signals for
    pre-training corpora):

    - ``dup_line_frac``       fraction of (trimmed, non-empty) lines that
                              are copies of another line in the same doc
    - ``dup_line_char_frac``  fraction of line characters inside those
                              duplicated lines
    - ``top_2gram_frac``      occurrence fraction of the most frequent
                              word 2-gram
    - ``top_3gram_frac``      same for 3-grams

    Shape — ONE corpus scan: the line array and the 1/2/3-offset token
    slices are zipped in-row (``arrays_zip`` pads the shorter arrays with
    null), exploded ONCE, and each zipped position fans out to its ≤3
    (kind, gram) rows via a 3-element in-row explode — all whole-stage
    codegen, no window sort, no interpreted per-element lambdas on the
    hot path. The previous shape unioned three explode branches, each
    re-running the ``\\s+`` tokenizer over the full text (3 corpus scans;
    measured 1.50 → 1.10 s at sf0.1, and at 100 TB the scan count is the
    whole story). Same scale story as ``shingle_rows``: per-doc work is
    linear and nothing ever materializes a per-doc frequency map in one
    row.

    r11: the input fan-out is KEYED by id (``keyed_fan_out`` — the
    shingle_rows pattern). Per-gram counts barely combine map-side
    (most grams are unique within a doc), so the old round-robin shape
    shuffled ~one (id, kind, hash, count, len) row per token position
    into the count groupBy and then paid two more keyed exchanges for
    the per-(id, kind) stats and the pivot — measured 9.7 MB + 4.9 MB +
    0.5 MB of exchanges at sf0.1. HashPartitioning(id) below the
    explode satisfies all three groupings, so the only shuffle is the
    whole-doc input (0.8 MB), and the count→stats→pivot chain fuses
    into one exchange-free stage.
    """
    from tsflex_spark.utils.data import keyed_fan_out

    df = keyed_fan_out(df, id_col)
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    base = df.select(
        F.col(id_col),
        F.filter(
            F.transform(F.split(F.col(text_col), "\n"), F.trim),
            lambda x: x != F.lit(""),
        ).alias("__lines"),
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))).alias("__t0"),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("__t1"),
        F.slice(toks, 3, F.greatest(n - 2, F.lit(0))).alias("__t2"),
    )
    # one explode over the 4-way zip: position i holds line[i] (null past
    # the line count), and the 2-gram/3-gram token windows starting at i
    # (null once the offset slice runs out — t1[i] null ⇔ no 2-gram at i,
    # t2[i] null ⇔ no 3-gram at i, and t0 is always non-null there)
    z = base.select(
        F.col(id_col),
        F.explode(F.arrays_zip("__lines", "__t0", "__t1", "__t2")).alias("__z"),
    )
    grams = z.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(
                    F.lit("line").alias("kind"), F.col("__z.__lines").alias("gram")
                ),
                F.struct(
                    F.lit("g2").alias("kind"),
                    F.when(
                        F.col("__z.__t1").isNotNull(),
                        F.concat_ws(" ", F.col("__z.__t0"), F.col("__z.__t1")),
                    ).alias("gram"),
                ),
                F.struct(
                    F.lit("g3").alias("kind"),
                    F.when(
                        F.col("__z.__t2").isNotNull(),
                        F.concat_ws(
                            " ",
                            F.col("__z.__t0"),
                            F.col("__z.__t1"),
                            F.col("__z.__t2"),
                        ),
                    ).alias("gram"),
                ),
            )
        ).alias("__g"),
    ).where(F.col("__g.gram").isNotNull())
    per = (
        grams.select(
            id_col,
            F.col("__g.kind").alias("kind"),
            F.xxhash64("__g.gram").alias("__gh"),
            F.length("__g.gram").alias("__gl"),
        )
        .groupBy(id_col, "kind", "__gh")
        .agg(F.count(F.lit(1)).alias("c"), F.first("__gl").alias("__gl"))
    )
    stats = per.groupBy(id_col, "kind").agg(
        F.sum("c").alias("tot"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
        F.max("c").alias("mx"),
        F.sum(F.col("c") * F.col("__gl")).alias("totw"),
        F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("__gl")).otherwise(0)).alias(
            "dupw"
        ),
    )
    p = (
        stats.groupBy(id_col)
        .pivot("kind", ["line", "g2", "g3"])
        .agg(
            F.first("tot").alias("tot"),
            F.first("dup").alias("dup"),
            F.first("mx").alias("mx"),
            F.first("totw").alias("totw"),
            F.first("dupw").alias("dupw"),
        )
    )

    def _frac(num: Column, den: Column) -> Column:
        # exact int/int double division (bit-identical across engines);
        # 0.0 for empty docs on both sides
        return F.when(
            den > 0, num.cast("double") / den.cast("double")
        ).otherwise(F.lit(0.0))

    return (
        df.select(id_col)
        .join(p, id_col, "left")
        .select(
            F.col(id_col),
            _frac(F.coalesce("line_dup", F.lit(0)), F.coalesce("line_tot", F.lit(0))).alias(
                "dup_line_frac"
            ),
            _frac(
                F.coalesce("line_dupw", F.lit(0)), F.coalesce("line_totw", F.lit(0))
            ).alias("dup_line_char_frac"),
            _frac(F.coalesce("g2_mx", F.lit(0)), F.coalesce("g2_tot", F.lit(0))).alias(
                "top_2gram_frac"
            ),
            _frac(F.coalesce("g3_mx", F.lit(0)), F.coalesce("g3_tot", F.lit(0))).alias(
                "top_3gram_frac"
            ),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into token-budgeted chunks with optional overlap —
    the context-window preparation step of an LLM training pipeline.

    Tokens are whitespace tokens (the engine's ``_tokens`` convention);
    chunk ``k`` covers token positions ``[k*(max_tokens-overlap),
    k*(max_tokens-overlap) + max_tokens)`` and the last chunk is the
    remainder (never empty, never duplicated). Output one row per chunk:
    ``(id, chunk_id, n_chunk_tokens, chunk_text)``.

    Shape: chunk boundaries are computed in-row from the token count, the
    chunk index explodes (fan-out = ceil(n/stride) — bounded by document
    length, not corpus size), and the text is re-sliced with native
    ``slice`` + ``concat_ws``. No shuffle at all — a pure narrow
    pipeline, trivially 100 TB-safe.
    """
    assert 0 <= overlap < max_tokens, "need 0 <= overlap < max_tokens"
    stride = max_tokens - overlap
    d = fan_out(df).select(
        F.col(id_col), _tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    d = d.withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    start = F.col("chunk_id") * stride  # 0-based token offset
    piece = F.slice(F.col("__toks"), start + 1, F.lit(max_tokens))
    return d.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.size(piece).alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    count_col: str,
    budget: int,
    bin_col: str = "bin_id",
    *,
    deterministic: bool = False,
    id_col: Optional[str] = None,
    num_buckets: int = 1024,
) -> DataFrame:
    """Pack rows (documents / chunks) into bins of at most ``budget``
    tokens — sequence packing for training-batch construction. Adds a
    globally-unique ``bin_col``; callers group on it to concatenate.

    Default strategy: first-fit-decreasing PER PARTITION (the scalable
    compromise: exact global FFD is inherently sequential; partition-
    local FFD loses ~1% fill at realistic chunk-size distributions while
    staying embarrassingly parallel). Rows are sorted by size descending
    within each partition; bin ids are made globally unique by a
    partition-id offset, so no cross-partition coordination, no shuffle
    beyond the initial sortWithinPartitions. Oversized rows (count >
    budget) get a bin of their own (callers decide to truncate or drop).

    ``deterministic=True`` (requires ``id_col``): bins depend ONLY on
    the data, never on partitioning or parallelism — rows bucket by
    ``pmod(xxhash64(id), num_buckets)``, FFD runs within each bucket
    over rows totally ordered by ``(count desc, id asc)``, and the bin
    id is ``bucket << 40 | bin_index``. Re-running at any cluster size
    (or single-node) reproduces the exact assignment — the mode to use
    when packing must be replayable (data lineage, resumable jobs,
    cross-engine verification). Same O(rows·bins) FFD work, one extra
    hash shuffle (the bucket groupBy); ``num_buckets`` trades bucket-FFD
    sequential depth against packing quality exactly like partition
    count does in the default mode (size it to ~thousands of rows per
    bucket).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    b = int(budget)

    def ffd(sizes: "np.ndarray", offset: int, remaining: list) -> "np.ndarray":
        # first-fit over a running remaining-capacity list (mutated in
        # place so partition-local mode can carry state across Arrow
        # batches); oversize rows (> budget) get a bin of their own
        # (capacity floors at 0)
        bins = np.empty(len(sizes), dtype="int64")
        for i, sz in enumerate(sizes):
            placed = False
            for j, cap in enumerate(remaining):
                if cap >= sz:
                    remaining[j] = cap - sz
                    bins[i] = offset + j
                    placed = True
                    break
            if not placed:
                remaining.append(max(b - sz, 0))
                bins[i] = offset + len(remaining) - 1
        return bins

    if deterministic:
        if id_col is None:
            raise ValueError("deterministic=True requires id_col")
        if int(num_buckets) < 1:
            raise ValueError("num_buckets must be >= 1")
        d = df.withColumn(
            "__bkt",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(num_buckets))).cast(
                "long"
            ),
        )
        schema = T.StructType(
            list(d.schema.fields) + [T.StructField(bin_col, T.LongType())]
        )

        def pack_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values(
                [count_col, id_col], ascending=[False, True], kind="mergesort"
            )
            offset = int(pdf["__bkt"].iloc[0]) << 40
            pdf = pdf.copy()
            pdf[bin_col] = ffd(pdf[count_col].to_numpy(), offset, [])
            return pdf

        return d.groupBy("__bkt").applyInPandas(pack_bucket, schema).drop(
            "__bkt"
        )

    d = df.sortWithinPartitions(F.col(count_col).desc()).withColumn(
        "__pid", F.spark_partition_id()
    )
    schema = T.StructType(
        list(d.schema.fields) + [T.StructField(bin_col, T.LongType())]
    )

    def pack(batches):
        # FFD state spans the partition's batches (the shared
        # `remaining` list); bin ids offset by pid * 2^40
        remaining: list = []
        offset = None
        for pdf in batches:
            if offset is None and len(pdf):
                offset = int(pdf["__pid"].iloc[0]) << 40
            pdf = pdf.copy()
            pdf[bin_col] = ffd(pdf[count_col].to_numpy(), offset, remaining)
            yield pdf

    return d.mapInPandas(pack, schema).drop("__pid")


def hash_embed(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 64,
    ngram: int = 3,
    out_col: str = "embedding",
) -> DataFrame:
    """Feature-hashing text embedder (the hashing trick, Weinberger et
    al. 2009): every character n-gram (with multiplicity) hashes to one
    of ``dim`` buckets with an independent ±1 sign hash; the embedding is
    the L2-normalized bucket-sum vector. Deterministic and training-free
    — the honest baseline embedder that makes ``semantic_dedup`` /
    ``knn_join`` runnable end-to-end from raw text when no model
    embeddings exist (similar texts share n-grams ⇒ high cosine).

    Scale shape: explode to n-gram rows, ONE hash-aggregate with ``dim``
    conditional sums (map-side combined — the shuffle carries one
    ``dim``-wide buffer per doc, never the n-grams), then a codegen
    normalize. No Python anywhere.
    """
    rows = _char_grams(fan_out(df.select(id_col, text_col)), text_col, id_col, ngram)
    h = F.xxhash64("__g")
    sign = F.when(F.pmod(F.xxhash64("__g", F.lit(1)), F.lit(2)) == 0, 1).otherwise(-1)
    b = F.pmod(h, F.lit(dim))
    g = rows.groupBy(id_col).agg(
        *[
            F.sum(F.when(b == j, sign).otherwise(0)).cast("double").alias(f"__e{j}")
            for j in range(dim)
        ]
    )
    nrm = F.sqrt(sum(F.col(f"__e{j}") * F.col(f"__e{j}") for j in range(dim)))
    vec = F.array(
        *[
            (F.col(f"__e{j}") / F.when(nrm == 0, F.lit(1.0)).otherwise(nrm))
            for j in range(dim)
        ]
    )
    return g.select(F.col(id_col), vec.alias(out_col))


def normalize_text(
    df: DataFrame,
    text_col: str,
    out_col: Optional[str] = None,
    *,
    strip_html: bool = True,
    unescape_entities: bool = True,
    strip_control: bool = True,
    collapse_whitespace: bool = True,
    lowercase: bool = False,
    trim: bool = True,
) -> DataFrame:
    """Canonical text cleanup before shingling/tokenizing/dedup — a
    narrow codegen ``regexp_replace`` chain (no Python, stream-safe,
    one projection):

    1. ``strip_html``: drop ``<...>`` tags (non-greedy, no nesting —
       the crawl-pipeline heuristic, not an HTML parser);
    2. ``unescape_entities``: the six core entities
       (&amp; &lt; &gt; &quot; &#39; &nbsp;);
    3. ``strip_control``: remove C0/C1 control chars except \\t \\n \\r;
    4. ``collapse_whitespace``: any whitespace run → one space;
    5. ``lowercase`` / ``trim``.

    Order matters and is fixed: tags before entities (so ``&lt;b&gt;``
    stays text, real ``<b>`` dies), controls before whitespace collapse.
    """
    c: Column = F.col(text_col)
    if strip_html:
        c = F.regexp_replace(c, r"<[^>]*>", " ")
    if unescape_entities:
        for ent, rep in (
            ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
            ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
        ):
            c = F.regexp_replace(c, ent, rep)
    if strip_control:
        c = F.regexp_replace(c, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]", "")
    if collapse_whitespace:
        c = F.regexp_replace(c, r"\s+", " ")
    if lowercase:
        c = F.lower(c)
    if trim:
        c = F.trim(c)
    return df.withColumn(out_col or text_col, c)


def normalize_unicode(
    df: DataFrame,
    text_col: str,
    out_col: Optional[str] = None,
    *,
    form: str = "NFKC",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the multilingual-
    corpus canonicalization step before hashing/dedup: visually
    identical strings with different codepoint sequences (composed vs
    decomposed accents, full-width forms, ligatures under NFKC) hash
    differently and defeat exact/fuzzy dedup unless normalized first.

    No Catalyst builtin exists, so this is an Arrow ``mapInPandas``
    pass (pandas ``str.normalize`` — vectorized ICU-backed C, not a
    per-row Python UDF); every output row derives from exactly one
    input row: no shuffle, stream-safe in append mode.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")
    # fan_out: one Arrow task per input partition — a single-file scan
    # would funnel the whole corpus through one Python worker
    df = fan_out(df)
    out = out_col or text_col
    fields = [f"{fld.name} {fld.dataType.simpleString()}" for fld in df.schema.fields]
    if out not in df.columns:
        fields.append(f"{out} string")
    schema = ", ".join(fields)

    def run(batches):
        for pdf in batches:
            pdf[out] = pdf[text_col].str.normalize(form)
            yield pdf

    return df.mapInPandas(run, schema)


# --- URL / domain curation (C4- and RefinedWeb-style source filtering) -------

# second-level public suffixes where the registrable domain is THREE labels
# (a bounded, well-known subset of the public-suffix list; extend via the
# ``extra_suffixes`` parameter for exotic TLD policies)
_MULTIPART_SUFFIXES = [
    "co.uk", "ac.uk", "gov.uk", "org.uk", "me.uk", "net.uk", "sch.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "net.nz", "org.nz", "govt.nz",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.mx", "com.tr", "com.sg", "com.hk", "com.tw", "com.ar",
    "co.in", "net.in", "org.in", "co.kr", "or.kr", "co.za", "org.za",
    "co.id", "or.id", "com.my", "com.ph", "com.vn", "com.eg", "com.sa",
]

_URL_RE = r"""https?://[^\s<>"'\)\]\}]+"""


def extract_urls(
    df: DataFrame,
    text_col: str,
    id_col: str,
    explode: bool = False,
) -> DataFrame:
    """Extract all http(s) URLs from a text column — `(id, urls array)`
    or one `(id, url)` row per hit with ``explode=True``. Pure codegen
    ``regexp_extract_all``; no Python, no shuffle.
    """
    urls = F.regexp_extract_all(F.col(text_col), F.lit(_URL_RE), 0)
    out = df.select(F.col(id_col), urls.alias("urls"))
    if explode:
        return out.select(id_col, F.explode("urls").alias("url"))
    return out


def url_host(url: Column) -> Column:
    """Lowercased host of a URL (scheme/userinfo/port/path stripped);
    empty string when nothing parses. Composable codegen expression.
    """
    h = F.regexp_extract(url, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^@/?#\s]*@)?([^/:?#\s]+)", 1)
    return F.lower(F.regexp_replace(h, r"\.+$", ""))


def registered_domain(
    host: Column,
    extra_suffixes: Optional[Sequence[str]] = None,
) -> Column:
    """Registrable ("eTLD+1") domain of a host: the last two labels,
    or the last three when the 2-label tail is a known multi-part public
    suffix (``co.uk``-class); IPs and single-label hosts pass through.
    All codegen — ``split`` + ``element_at`` + one ``isin`` over a
    bounded literal set, no Python, no shuffle.
    """
    suffixes = list(_MULTIPART_SUFFIXES) + [s.lower() for s in (extra_suffixes or [])]
    h = F.lower(host)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    is_ip = h.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    return (
        F.when(is_ip | (n <= 2), h)
        .when((n >= 3) & last2.isin(suffixes), last3)
        .otherwise(last2)
    )


def domain_filter(
    df: DataFrame,
    url_col: str,
    blocklist=None,
    allowlist=None,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Filter rows by the registered domain of ``url_col`` — the C4/
    RefinedWeb URL-blocklist curation step. Exactly one of ``blocklist``
    (drop matching domains) or ``allowlist`` (keep only matching) must
    be given, each either a small Python sequence (compiled to a literal
    ``isin`` — pure codegen) or a single-column DataFrame of domains (a
    **broadcast** semi/anti join — the corpus side never shuffles, so a
    million-domain blocklist still streams map-side). ``out_col`` keeps
    the computed domain as a column for audit.
    """
    if (blocklist is None) == (allowlist is None):
        raise ValueError("pass exactly one of blocklist / allowlist")
    dom = registered_domain(url_host(F.col(url_col)))
    keep_col = out_col or "__dom"
    out = df.withColumn(keep_col, dom)
    lst = blocklist if blocklist is not None else allowlist
    if isinstance(lst, DataFrame):
        dcol = lst.columns[0]
        dims = lst.select(F.lower(F.col(dcol)).alias(keep_col)).distinct()
        how = "left_anti" if blocklist is not None else "left_semi"
        out = out.join(F.broadcast(dims), on=keep_col, how=how)
    else:
        lits = [str(s).lower() for s in lst]
        cond = F.col(keep_col).isin(lits)
        out = out.where(~cond if blocklist is not None else cond)
    return out if out_col else out.drop(keep_col)


def filter_lines(
    df: DataFrame,
    text_col: str,
    *,
    min_chars: int = 0,
    max_uppercase_frac: Optional[float] = None,
    max_digit_frac: Optional[float] = None,
    drop_rlike: Optional[Sequence[str]] = None,
    out_col: Optional[str] = None,
    dropped_col: Optional[str] = None,
) -> DataFrame:
    """RefinedWeb-style LINE-wise cleaning: drop boilerplate lines from
    each document (too short, mostly-uppercase, mostly-digits, or
    matching ``drop_rlike`` patterns — nav menus, cookie banners,
    "sign in" chrome) and rejoin the survivors with ``\\n``.
    ``drop_rlike`` patterns are java regexes matched against the raw
    line — prefix with ``(?i)`` for case-insensitive matching.

    One ``split`` → ``filter`` → ``array_join`` chain per row — no
    explode, no shuffle, stream-safe; every output row derives from one
    input row. The per-line predicates run in Catalyst's interpreted
    higher-order-function evaluator, which is fine here: cost scales
    with line COUNT (dozens per doc), not characters. ``dropped_col``
    records how many lines each document lost (audit).
    """
    lines = F.split(F.col(text_col), r"\n")

    def keep(x: Column) -> Column:
        cond = F.length(F.trim(x)) >= F.lit(int(min_chars))
        n = F.length(x)
        if max_uppercase_frac is not None:
            ups = F.length(F.regexp_replace(x, r"[^A-Z]", ""))
            cond = cond & (
                (n == 0) | (ups / n <= F.lit(float(max_uppercase_frac)))
            )
        if max_digit_frac is not None:
            digs = F.length(F.regexp_replace(x, r"[^0-9]", ""))
            cond = cond & (
                (n == 0) | (digs / n <= F.lit(float(max_digit_frac)))
            )
        # patterns match the RAW line (case-sensitive java regex); prefix
        # a pattern with (?i) for case-insensitive boilerplate matching
        for pat in drop_rlike or []:
            cond = cond & ~x.rlike(pat)
        return cond

    kept = F.filter(lines, keep)
    # one withColumns call: both expressions bind to the ORIGINAL text —
    # a chained second withColumn would re-split the already-filtered
    # output when out_col overwrites text_col
    cols = {(out_col or text_col): F.array_join(kept, "\n")}
    if dropped_col:
        cols[dropped_col] = F.size(lines) - F.size(kept)
    return df.withColumns(cols)


# Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1)
_GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_words: int = 2,
) -> DataFrame:
    """The canonical Gopher document-quality rules (Rae et al. 2021,
    App. A1.1) as per-rule boolean columns + a combined ``keep`` flag:
    word-count band, mean-word-length band, symbol-to-word ratio
    (# and ellipses), bullet-line and ellipsis-line fractions,
    alphabetic-word fraction, and the required-stop-word presence test.

    Entirely in-row codegen (token array hoisted once; line rules via a
    split→filter pass) — no shuffle, stream-safe. The companion
    REPETITION rules (dup-line / top-n-gram fractions) are
    :func:`repetition_stats` — they need per-doc grouping, so they stay
    a separate (joinable) op.
    """
    df = fan_out(df)
    df = df.withColumn("__toks", _tokens(F.col(text_col)))
    toks = F.col("__toks")
    n_words = F.size(toks).cast("double")
    safe_words = F.greatest(n_words, F.lit(1.0))
    mean_word_len = (
        F.aggregate(toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t))
        / safe_words
    )
    n_symbols = (
        F.regexp_count(F.col(text_col), F.lit(r"#"))
        + F.regexp_count(F.col(text_col), F.lit(r"\.\.\.|…"))
    ).cast("double")
    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda x: F.length(F.trim(x)) > 0
    )
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(F.filter(lines, lambda x: F.trim(x).rlike(r"^[•\-\*•]"))) / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: F.trim(x).rlike(r"(\.\.\.|…)$"))) / n_lines
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike(r"[A-Za-z]"))).cast("double")
        / safe_words
    )
    n_required = F.size(
        F.array_intersect(
            _tokens(F.lower(F.col(text_col))),
            F.array(*[F.lit(w) for w in _GOPHER_REQUIRED_WORDS]),
        )
    )
    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "r_symbol_ratio": (n_symbols / safe_words) <= max_symbol_word_ratio,
        "r_bullet_lines": bullet_frac <= max_bullet_line_frac,
        "r_ellipsis_lines": ellipsis_frac <= max_ellipsis_line_frac,
        "r_alpha_words": alpha_frac >= min_alpha_word_frac,
        "r_required_words": n_required >= min_required_words,
    }
    keep = F.lit(True)
    for expr in rules.values():
        keep = keep & expr
    return df.select(
        F.col(id_col),
        *[expr.alias(name) for name, expr in rules.items()],
        keep.alias("keep"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 100,
    text_col: str = "text",
    id_col: Optional[str] = None,
    *,
    by_docs: bool = False,
    lowercase: bool = True,
    min_count: int = 2,
    tokens: Optional[DataFrame] = None,
) -> DataFrame:
    """Corpus-wide most-frequent word ``n``-grams → top-``k``
    ``(ngram, count[, n_docs])`` — the boilerplate-DISCOVERY companion to
    ``repetition_stats`` (which scores repetition per document): shared
    templates ("click here to subscribe", cookie banners, SEO footers)
    only show up when counted across the corpus.

    Scale shape: tokens explode to (xxhash64(gram), gram) rows; ONE
    hash-keyed aggregate computes ``count(*)``, ``min(gram)`` (the
    string rides the shuffle once per distinct gram per partition —
    map-side combine bounds the exchange at per-partition vocabulary,
    never corpus size) and, when ``id_col`` is given, an
    ``approx_count_distinct(id)`` HLL partial for the documents-
    containing count. The final top-k is a TakeOrdered heap, no global
    sort. ``by_docs=True`` ranks by document reach instead of raw
    occurrences (the better boilerplate signal: a single spammy doc
    can't dominate). ``min_count`` prunes the long singleton tail
    before the heap.

    Grams come from ``_grams`` (docs shorter than ``n`` contribute
    nothing) and are ``slice`` + ``concat_ws`` projections — codegen,
    no interpreted HOF lambdas.

    ``tokens`` — a pre-tokenized ``([id,] __t array<string>)`` frame
    (same contract as ``dedup.span_gram_rows``): skips the tokenize so
    a pipeline that already tokenized the corpus (passage dedup, LM
    counting) shares that pass; ``lowercase`` is then the caller's
    responsibility.
    """
    from tsflex_spark.utils.data import fan_out

    if n < 1:
        raise ValueError("n must be >= 1")
    cols = [F.col(id_col)] if id_col is not None else []
    if tokens is not None:
        d = tokens.select(*cols, F.col("__t"))
    else:
        txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        d = fan_out(df).select(*cols, _tokens(txt).alias("__t"))
    d = _grams(d, cols, "__t", n, whole=False)
    d = d.select(*cols, _word_gram("__t", n).alias("__g")).where(F.col("__g") != "")
    aggs = [F.count(F.lit(1)).alias("count"), F.min("__g").alias("__str")]
    if id_col is not None:
        aggs.append(F.approx_count_distinct(id_col).alias("n_docs"))
    grouped = d.groupBy(F.xxhash64("__g").alias("__h")).agg(*aggs)
    if min_count > 1:
        grouped = grouped.where(F.col("count") >= int(min_count))
    order_col = "n_docs" if by_docs else "count"
    if by_docs and id_col is None:
        raise ValueError("by_docs=True requires id_col")
    out_cols = [F.col("__str").alias("ngram"), F.col("count")]
    if id_col is not None:
        out_cols.append(F.col("n_docs"))
    return (
        grouped.orderBy(F.col(order_col).desc(), F.col("__str"))
        .limit(int(k))
        .select(*out_cols)
    )


def html_to_text(
    df: DataFrame,
    html_col: str,
    out_col: str = "text",
    *,
    charset: str = "UTF-8",
    strip_http_headers: bool = True,
) -> DataFrame:
    """Basic HTML → text extraction for crawl payloads (the step between
    ``sources.warc.read_warc`` response records and ``clean_corpus``):
    drops ``<script>/<style>/<head>/<noscript>/<template>`` blocks and
    comments, turns block-level tags into newlines (paragraph structure
    for the line-wise cleaners downstream), strips remaining tags,
    decodes the common entities, and collapses whitespace.

    ``html_col`` may be binary (decoded with ``charset``, invalid bytes
    replaced) or string. WARC 'response' payloads are full HTTP
    responses; ``strip_http_headers`` removes the status line + headers
    when the payload starts with ``HTTP/``.

    A deliberately simple, fully-codegen regexp chain (narrow, no
    shuffle, stream-safe; one row in, one row out) — the honest
    stdlib-only stand-in for a boilerplate-aware extractor
    (trafilatura / jusText); crawl providers publish WET files because
    they run exactly this extraction at scale.
    """
    from pyspark.sql import types as _T

    raw = F.col(html_col)
    if isinstance(df.schema[html_col].dataType, _T.BinaryType):
        raw = F.decode(raw, charset)
    # hoist into a projected column: every regexp below would otherwise
    # re-evaluate the decode per consuming expression
    d = df.withColumn("__html", raw)
    t = F.col("__html")
    if strip_http_headers:
        t = F.when(
            t.startswith("HTTP/"),
            F.regexp_replace(t, r"(?s)^.*?\r?\n\r?\n", ""),
        ).otherwise(t)
    for blk in ("script", "style", "head", "noscript", "template"):
        t = F.regexp_replace(t, rf"(?is)<{blk}\b.*?</{blk}\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(
        t,
        r"(?i)</?(p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|section|article|"
        r"header|footer|blockquote)\b[^>]*>",
        "\n",
    )
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(rep))
    t = F.regexp_replace(t, r"[ \t\x0b\f\r]+", " ")
    t = F.regexp_replace(t, r" ?\n[ \n]*", "\n")
    t = F.trim(F.regexp_replace(t, r"^\n+|\n+$", ""))
    return d.withColumn(out_col, t).drop("__html")


def materialize_packed(
    df: DataFrame,
    ids_col: str,
    bin_col: str = "bin_id",
    order_col: str = "doc_id",
    *,
    seq_len: int,
    eos_id: int,
    pad_id: int = 0,
) -> DataFrame:
    """Materialize training sequences from packed bins — the final step
    of the tokenize (``bpe.encode``) → budget (``pack_sequences``) →
    batch story: per bin, concatenate each document's token ids + EOS in
    deterministic ``order_col`` order, truncate to ``seq_len``, pad with
    ``pad_id``, and emit the position→document map packed-attention
    training needs.

    Output: ``(bin_col, input_ids array<int> (length == seq_len),
    segment_ids array<int> (0-based doc index per position, -1 on
    padding), n_docs, n_tokens)`` — ``n_tokens`` counts real (non-pad)
    positions. Entirely Catalyst collection expressions (collect_list +
    sort_array + flatten/transform): no Python, one bin-keyed exchange;
    a bin's payload is bounded by the packing budget, so the groupBy
    state is O(seq_len) per bin regardless of corpus size. Size
    ``pack_sequences(budget=seq_len - n_docs_per_bin)`` headroom or
    accept EOS-driven truncation of the last document.
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    g = df.select(
        F.col(bin_col),
        F.struct(F.col(order_col).alias("o"), F.col(ids_col).alias("ids")).alias(
            "__d"
        ),
    )
    agg = g.groupBy(bin_col).agg(
        F.sort_array(F.collect_list("__d")).alias("__docs")
    )
    docs = F.col("__docs")
    with_eos = F.transform(
        docs, lambda d: F.concat(d["ids"], F.array(F.lit(eos_id)))
    )
    flat = F.flatten(with_eos)
    seg = F.flatten(
        F.transform(
            docs,
            lambda d, i: F.array_repeat(i.cast("int"), F.size(d["ids"]) + 1),
        )
    )
    n_real = F.least(F.size(flat), F.lit(seq_len))
    pad_n = F.lit(seq_len) - n_real
    ids_out = F.concat(
        F.slice(flat, 1, seq_len),
        F.array_repeat(F.lit(pad_id), pad_n),
    )
    seg_out = F.concat(
        F.slice(seg, 1, seq_len), F.array_repeat(F.lit(-1), pad_n)
    )
    return agg.select(
        F.col(bin_col),
        ids_out.cast("array<int>").alias("input_ids"),
        seg_out.cast("array<int>").alias("segment_ids"),
        F.size(docs).alias("n_docs"),
        n_real.alias("n_tokens"),
    )
