"""DSIR — Data Selection via Importance Resampling (arXiv:2302.03169).

Given a small high-quality TARGET corpus and a huge RAW corpus, select
the raw documents whose hashed-n-gram distribution looks most like the
target: fit two bag-of-hashed-ngrams multinomials (target p, raw q),
weight every raw doc by its log importance ratio Σ_j c_j·(ln p_j −
ln q_j), then resample with deterministic Gumbel noise (importance
resampling, not plain top-k — preserves diversity instead of picking
near-duplicates of the target).

Scale shape:
- Feature extraction explodes (unigram + bigram) → 64-bit hash →
  ``pmod`` bucket; the (doc, bucket) groupBy shuffles at most
  doc × min(buckets, doc_ngrams) rows after map-side combine.
- Both distributions are ONE ``num_buckets``-row aggregate each
  (default 10k rows ≈ KBs) — the log-ratio table always broadcasts.
- Per-doc weights: one broadcast join + one groupBy keyed by doc id.
- Selection: deterministic Gumbel key (hash-seeded, partition- and
  rerun-stable like curation.split) + ``TakeOrderedAndProject`` top-k —
  never a global sort.

Float discipline: bucket log-ratios are fixed-pointed to micro-nats
(BIGINT); per-doc scores are exact integer dot products, so weights are
identical under any partitioning. Only the Gumbel key is a derived
double (from an exact integer hash — same double everywhere).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsflex_spark.datapipe.text import _grams, _tokens, _word_gram


def _hashed_buckets(df: DataFrame, text_col: str, id_col: str, num_buckets: int) -> DataFrame:
    """(id, bucket, c): hashed unigram+bigram counts per document.

    Every unigram start (``text._grams``, n = 1) is also a bigram start
    except the last, so each start emits its unigram and, when one
    starts there, its bigram."""
    # KEYED fan-out before the compute-amplifying explode (r10 used
    # round-robin fan_out for the same input-skew reason — guide §2.5;
    # r11 keys it by id): HashPartitioning(id) below the explode
    # satisfies the (id, bucket) clustered distribution, so the groupBy
    # needs NO second exchange over the exploded gram-bucket table —
    # the only shuffle moves each doc's text once (guide §2.3/§2.4,
    # the shingle_rows pattern).
    from tsflex_spark.utils.data import keyed_fan_out

    d = keyed_fan_out(df, id_col).select(
        F.col(id_col), _tokens(F.lower(F.col(text_col))).alias("__t")
    )
    d = _grams(d, [F.col(id_col)], "__t", 1, whole=False)
    big = F.when(F.col("__i") < F.size("__t"), _word_gram("__t", 2))
    g = d.select(
        F.col(id_col), F.explode(F.array(F.element_at("__t", F.col("__i")), big)).alias("gram")
    ).where(F.col("gram").isNotNull())
    return (
        g.select(id_col, F.pmod(F.xxhash64("gram"), F.lit(num_buckets)).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def hashed_buckets(
    df: DataFrame, text_col: str, id_col: str, num_buckets: int
) -> DataFrame:
    """Public reuse surface for the per-document hashed-gram bucket
    counts (``(id, bucket, c)``): compute once, checkpoint, and pass to
    ``fit_bucket_logratio(raw_buckets=...)`` AND
    ``importance_weights(buckets=...)`` — the ``signatures=`` reuse
    contract of the sketch family, applied to DSIR (fit + weights over
    the same corpus otherwise tokenize + explode it twice — r10
    optimization, one full corpus gram pass saved)."""
    return _hashed_buckets(df, text_col, id_col, num_buckets)


def fit_bucket_logratio(
    target: DataFrame,
    raw: DataFrame,
    text_col: str,
    *,
    num_buckets: int = 10_000,
    alpha: float = 1.0,
    raw_buckets: Optional[DataFrame] = None,
) -> DataFrame:
    """(bucket, lr_e6): micro-nat fixed-point ln(p_bucket/q_bucket) with
    additive ``alpha`` smoothing over the bucket simplex. Tiny (≤
    ``num_buckets`` rows) — always broadcastable.

    ``raw_buckets``: a precomputed ``hashed_buckets`` frame for the SAME
    ``raw`` corpus and ``num_buckets`` — skips the raw-side gram pass
    (the bucket histogram is the per-doc counts summed, so the ids in
    the frame are irrelevant and the resulting integers are identical).
    """
    tid, rid = "__tid", "__rid"
    t = _hashed_buckets(
        target.select(F.monotonically_increasing_id().alias(tid), F.col(text_col)),
        text_col, tid, num_buckets,
    ).groupBy("bucket").agg(F.sum("c").alias("tc"))
    if raw_buckets is not None:
        r = raw_buckets.groupBy("bucket").agg(F.sum("c").alias("rc"))
    else:
        r = _hashed_buckets(
            raw.select(F.monotonically_increasing_id().alias(rid), F.col(text_col)),
            text_col, rid, num_buckets,
        ).groupBy("bucket").agg(F.sum("c").alias("rc"))
    j = t.join(r, on="bucket", how="full")
    tc = F.coalesce(F.col("tc"), F.lit(0)).cast("double")
    rc = F.coalesce(F.col("rc"), F.lit(0)).cast("double")
    # totals via a broadcast scalar join (no single-partition window)
    totals = j.agg(
        F.sum(F.coalesce(F.col("tc"), F.lit(0))).alias("tt"),
        F.sum(F.coalesce(F.col("rc"), F.lit(0))).alias("rt"),
    )
    a = F.lit(float(alpha))
    bkts = F.lit(float(num_buckets))
    out = j.join(F.broadcast(totals))
    logp = F.log((tc + a) / (F.col("tt").cast("double") + a * bkts))
    logq = F.log((rc + a) / (F.col("rt").cast("double") + a * bkts))
    return out.select(
        "bucket",
        F.round((logp - logq) * F.lit(1_000_000.0), 0).cast("long").alias("lr_e6"),
    )


def importance_weights(
    raw: DataFrame,
    logratio: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    *,
    num_buckets: int = 10_000,
    buckets: Optional[DataFrame] = None,
) -> DataFrame:
    """(id, n_grams, logw_e6): exact integer per-doc importance scores
    Σ c_bucket · lr_e6. Docs with no n-grams get logw_e6 = 0.
    ``buckets``: a precomputed ``hashed_buckets`` frame for ``raw``
    (same ``id_col``/``num_buckets``) — skips the gram pass."""
    b = buckets if buckets is not None else _hashed_buckets(raw, text_col, id_col, num_buckets)
    scored = b.join(F.broadcast(logratio), on="bucket", how="left")
    per = scored.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.sum(F.col("c") * F.coalesce(F.col("lr_e6"), F.lit(0))).alias("logw_e6"),
    )
    return raw.select(id_col).join(per, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("logw_e6", F.lit(0)).cast("long").alias("logw_e6"),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    *,
    k: int,
    num_buckets: int = 10_000,
    alpha: float = 1.0,
    seed: int = 0,
    temperature: float = 1.0,
    normalize: bool = True,
) -> DataFrame:
    """Pick ``k`` raw documents by Gumbel-top-k over importance weights —
    equivalent to sampling without replacement ∝ w^(1/temperature)
    (Gumbel-max trick), but fully deterministic: the noise is seeded
    from ``xxhash64(id, seed)``, so the selection is stable across
    reruns and partitionings and monotone under corpus growth only where
    true sampling would be. ``temperature → 0`` degenerates to top-k by
    weight. Returns the selected raw rows plus ``logw_e6``.

    ``normalize=True`` ranks by MEAN per-gram log-ratio: the paper's
    unnormalized sum assumes fixed-length chunks, and on variable-length
    docs it lets short off-target docs outrank long on-target ones (less
    accumulated negative mass). Pass ``False`` for paper-exact behavior
    on pre-chunked input."""
    w = importance_weights(raw, target_logratio(raw, target, text_col, num_buckets=num_buckets, alpha=alpha), text_col, id_col, num_buckets=num_buckets)
    # uniform in (0,1) from the integer hash — exact same double everywhere
    u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(int(seed))), F.lit(1 << 53)) + 1
         ).cast("double") / F.lit(float((1 << 53) + 1))
    gumbel = -F.log(-F.log(u))
    score = F.col("logw_e6").cast("double") / F.lit(1_000_000.0)
    if normalize:
        score = score / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
    key = score / F.lit(float(temperature)) + gumbel
    picked = (
        w.select(id_col, "logw_e6", key.alias("__key"))
        .orderBy(F.col("__key").desc())
        .limit(int(k))
        .drop("__key")
    )
    return raw.join(picked, on=id_col)


def target_logratio(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    *,
    num_buckets: int = 10_000,
    alpha: float = 1.0,
) -> DataFrame:
    """Convenience: fit the bucket log-ratio table for (target, raw)."""
    return fit_bucket_logratio(target, raw, text_col, num_buckets=num_buckets, alpha=alpha)
