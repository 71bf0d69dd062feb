"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` holds the DuckDB
equivalent. Column names/aliases match pairwise (the driver hash-compares
values after sorting columns by name). Float aggregates are rounded to 4
decimals on BOTH sides to absorb summation-order differences.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tsflex_spark import FeatureCollection, FeatureDescriptor
from tsflex_spark.datapipe.dedup import (
    connected_components,
    dedup_against_store,
    duplicate_spans,
    edit_similarity,
    fuzzy_join,
    minhash_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard,
    remove_duplicate_spans,
    shingle_rows,
    simhash_pairs,
    sketch_signatures,
    span_gram_rows,
)
from tsflex_spark.datapipe.dsir import (
    fit_bucket_logratio,
    hashed_buckets,
    importance_weights,
)
from tsflex_spark.datapipe.graph import pagerank
from tsflex_spark.datapipe.text import (
    _tokens,
    hash_embed,
    language_id,
    quality_score,
    repetition_stats,
    top_ngrams,
)
from tsflex_spark.utils.data import fan_out
from tsflex_spark.utils.pool import LegPool
from tsflex_spark.utils.time_args import ts_micros

# epoch-microsecond window constants shared by Spark + DuckDB oracle
H1 = 3_600_000_000  # 1 hour
M30 = 1_800_000_000  # 30 min


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _nan_null(c):
    """NaN → NULL canonicalization for gate columns whose oracle side
    produces SQL NULL on degenerate windows (DuckDB CASE guards) while
    the engine produces float NaN (numpy)."""
    return F.when(~F.isnan(c), c)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tsflex_spark.sources import read_events

    return read_events(spark, sf_dir)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _corpus_shingles(docs: DataFrame) -> DataFrame:
    """The corpus (doc_id, 5-shingle hash) table, checkpointed: every
    gate that shingles the whole corpus feeds it to several plan
    branches (sizes + both pair sides of the Jaccard verify, sketches)."""
    return shingle_rows(docs, "text", "doc_id").localCheckpoint(eager=True)


# --------------------------------------------------------------------- q:
def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided-rolling feature extraction (SURVEY §2.5): window=1h stride=30m
    over events.value — native-tier aggregates, window_idx='end'.

    ``value`` has exactly 2 decimals, so it is summed as DECIMAL(18,2)
    (exact, summation-order-independent) and mean is derived as sum/count —
    both engines then round identical doubles.
    """
    _utc(spark)
    ev = _events(spark, sf_dir).select(
        "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value", "1h", "30m"),
            FeatureDescriptor("count", "value", "1h", "30m"),
            FeatureDescriptor("min", "value", "1h", "30m"),
            FeatureDescriptor("max", "value", "1h", "30m"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    sum_d = F.col("value__sum__w=1h").cast("double")
    cnt = F.col("value__count__w=1h").cast("bigint")
    return out.select(
        "ts",
        F.try_divide(sum_d, cnt).alias("mean_val"),  # empty window -> NULL
        F.coalesce(sum_d, F.lit(0.0)).alias("sum_val"),
        cnt.alias("cnt_val"),
        F.col("value__min__w=1h").cast("double").alias("min_val"),
        F.col("value__max__w=1h").cast("double").alias("max_val"),
    )


def _oracle_rolling_stats() -> str:
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {H1}) / {M30}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {M30} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               sum(CAST(e.value AS DECIMAL(18,2))) AS sum_dec,
               count(e.value)                      AS cnt_val,
               min(e.value)                        AS min_raw,
               max(e.value)                        AS max_raw
        FROM seg LEFT JOIN events e
          ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {H1}
        GROUP BY s_start)
SELECT make_timestamp(s_start + {H1}) AS ts,
       CAST(sum_dec AS DOUBLE) / cnt_val      AS mean_val,
       coalesce(CAST(sum_dec AS DOUBLE), 0.0) AS sum_val,
       cnt_val,
       min_raw AS min_val,
       max_raw AS max_val
FROM agg ORDER BY ts
"""


def q_rolling_pop_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population std/var (np ddof=0 → stddev_pop/var_pop — SURVEY §2.4
    correctness trap) + exact median over 2h/1h windows.

    Population moments are derived from exact decimal sums (sum, sum of
    squares, count) so both engines round identical doubles — the direct
    ``var_pop``/``stddev_pop`` floats differ in summation order.
    """
    _utc(spark)
    ev = _events(spark, sf_dir).select(
        "ts",
        F.col("value").alias("value"),
        F.col("value").cast("decimal(18,2)").alias("valued"),
        (F.col("value") * F.col("value")).cast("decimal(28,4)").alias("value2"),
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "valued", "2h", "1h"),
            FeatureDescriptor("count", "valued", "2h", "1h"),
            FeatureDescriptor("sum", "value2", "2h", "1h"),
            FeatureDescriptor("median", "value", "2h", "1h"),
            # argmax native: first-max timestamp — integer micros, tie-broken
            # by (value desc, ts asc): hash-exact with no float accumulation
            FeatureDescriptor("argmax", "value", "2h", "1h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    s1 = F.col("valued__sum__w=2h").cast("double")
    s2 = F.col("value2__sum__w=2h").cast("double")
    n = F.col("valued__count__w=2h").cast("bigint")
    mean = F.try_divide(s1, n)
    # empty window -> NULL (not 0): greatest() must not swallow the NULL
    var = F.when(
        n > 0, F.greatest(F.try_divide(s2, n) - mean * mean, F.lit(0.0))
    )
    return out.select(
        "ts",
        F.sqrt(var).alias("std_val"),
        var.alias("var_val"),
        # variation coefficient from the SAME exact sums (std/mean);
        # try_divide -> NULL on a zero mean, matching the oracle CASE
        F.try_divide(F.sqrt(var), mean).alias("cv_val"),
        F.col("value__median__w=2h").alias("median_val"),
        F.col("value__argmax__w=2h").cast("bigint").alias("argmax_us"),
    )


def _oracle_rolling_pop_moments() -> str:
    w, s = 2 * H1, H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {s}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {s} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               sum(CAST(e.value AS DECIMAL(18,2)))               AS s1,
               sum(CAST(e.value * e.value AS DECIMAL(28,4)))     AS s2,
               count(e.value)                                    AS n,
               median(e.value)                                   AS med,
               max(e.value)                                      AS vmax
        FROM seg LEFT JOIN events e
          ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
        GROUP BY s_start),
-- first-max timestamp (argmax): join the window max back to its rows and
-- take the earliest ts — exact double equality on the same parquet values,
-- tie-break identical to the engine's (value desc, ts asc) ordering struct
am AS (SELECT a.s_start, min(epoch_us(e.ts)) AS amax_us
       FROM agg a JOIN events e
         ON epoch_us(e.ts) >= a.s_start AND epoch_us(e.ts) < a.s_start + {w}
        AND e.value = a.vmax
       GROUP BY a.s_start),
der AS (SELECT s_start, n, med,
               CASE WHEN n = 0 THEN NULL
                    ELSE greatest(CAST(s2 AS DOUBLE) / n
                                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                                  0.0) END AS var_raw,
               CASE WHEN n = 0 THEN NULL
                    ELSE CAST(s1 AS DOUBLE) / n END AS mean_raw
        FROM agg)
SELECT make_timestamp(d.s_start + {w}) AS ts,
       sqrt(d.var_raw) AS std_val,
       d.var_raw       AS var_val,
       CASE WHEN d.mean_raw IS NULL OR d.mean_raw = 0 THEN NULL
            ELSE sqrt(d.var_raw) / d.mean_raw END AS cv_val,
       d.med           AS median_val,
       am.amax_us      AS argmax_us
FROM der d LEFT JOIN am ON am.s_start = d.s_start ORDER BY ts
"""


def q_rolling_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles (percentile, not approx — SURVEY §2.4) over 2h
    tumbling windows: p25/p50/p75 of events.value."""
    _utc(spark)
    from tsflex_spark import FuncWrapper

    ev = _events(spark, sf_dir).select("ts", "value")
    fc = FeatureCollection(
        [
            FeatureDescriptor(FuncWrapper("quantile", output_names="q25", q=0.25), "value", "2h", "2h"),
            FeatureDescriptor(FuncWrapper("quantile", output_names="q50", q=0.50), "value", "2h", "2h"),
            FeatureDescriptor(FuncWrapper("quantile", output_names="q75", q=0.75), "value", "2h", "2h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts")
    return out.select(
        "ts",
        F.col("value__q25__w=2h").alias("q25"),
        F.col("value__q50__w=2h").alias("q50"),
        F.col("value__q75__w=2h").alias("q75"),
    )


def _oracle_rolling_quantiles() -> str:
    w = 2 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb)
SELECT make_timestamp(s_start + {w}) AS ts,
       quantile_cont(e.value, 0.25) AS q25,
       quantile_cont(e.value, 0.50) AS q50,
       quantile_cont(e.value, 0.75) AS q75
FROM seg LEFT JOIN events e
  ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
GROUP BY s_start ORDER BY ts
"""


def q_rolling_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness/kurtosis (scipy bias=True / fisher=True parity —
    SURVEY §2.4) over 2h tumbling windows, derived from exact decimal power
    sums so both engines compute identical doubles."""
    _utc(spark)
    v = F.col("value")
    ev = _events(spark, sf_dir).select(
        "ts",
        v.cast("decimal(18,2)").alias("v1"),
        (v * v).cast("decimal(28,4)").alias("v2"),
        (v * v * v).cast("decimal(38,6)").alias("v3"),
        (v * v * v * v).cast("decimal(38,8)").alias("v4"),
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "v1", "2h", "2h"),
            FeatureDescriptor("count", "v1", "2h", "2h"),
            FeatureDescriptor("sum", "v2", "2h", "2h"),
            FeatureDescriptor("sum", "v3", "2h", "2h"),
            FeatureDescriptor("sum", "v4", "2h", "2h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    n = F.col("v1__count__w=2h").cast("bigint")
    mu = F.try_divide(F.col("v1__sum__w=2h").cast("double"), n)
    r2 = F.try_divide(F.col("v2__sum__w=2h").cast("double"), n)
    r3 = F.try_divide(F.col("v3__sum__w=2h").cast("double"), n)
    r4 = F.try_divide(F.col("v4__sum__w=2h").cast("double"), n)
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu
    m4 = r4 - F.lit(4.0) * mu * r3 + F.lit(6.0) * mu * mu * r2 - F.lit(3.0) * mu * mu * mu * mu
    skew = F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))
    kurt = F.when(m2 > 0, m4 / (m2 * m2) - F.lit(3.0))
    return out.select("ts", skew.alias("skew_val"), kurt.alias("kurt_val"), n.alias("cnt_val"))


def _oracle_rolling_skew_kurt() -> str:
    w = 2 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               sum(CAST(e.value AS DECIMAL(18,2)))                         AS s1,
               sum(CAST(e.value * e.value AS DECIMAL(28,4)))               AS s2,
               sum(CAST(e.value * e.value * e.value AS DECIMAL(38,6)))     AS s3,
               sum(CAST(e.value * e.value * e.value * e.value AS DECIMAL(38,8))) AS s4,
               count(e.value) AS n
        FROM seg LEFT JOIN events e
          ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
        GROUP BY s_start),
r AS (SELECT s_start, n,
             CAST(s1 AS DOUBLE) / n AS mu,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM agg),
m AS (SELECT s_start, n, mu, r2,
             r2 - mu * mu AS m2,
             r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
             r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS m4
      FROM r)
SELECT make_timestamp(s_start + {w}) AS ts,
       CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skew_val,
       CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS kurt_val,
       n AS cnt_val
FROM m ORDER BY ts
"""


# epoch micros of 2024-01-01 UTC — events tables start here (TESTDATA.md)
T0_2024 = 1_704_067_200_000_000


def q_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of value vs time (units/second — SURVEY §2.4
    linregress parity) over 4h tumbling windows, from exact integer sums:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), x in micros since 2024-01-01,
    y in cents. All sums are exact decimals; only the final division is
    floating point."""
    _utc(spark)
    ev = _events(spark, sf_dir)
    xd = (ts_micros("ts") - F.lit(T0_2024)).cast("decimal(18,0)")
    vc = F.col("value").cast("decimal(18,2)") * F.lit(100).cast("decimal(3,0)")
    ev = ev.select(
        "ts",
        xd.alias("xd"),
        (xd * xd).alias("xx"),
        (xd.cast("decimal(18,0)") * vc.cast("decimal(12,2)")).alias("xv"),
        vc.alias("vc"),
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "xd", "4h", "4h"),
            FeatureDescriptor("sum", "xx", "4h", "4h"),
            FeatureDescriptor("sum", "xv", "4h", "4h"),
            FeatureDescriptor("sum", "vc", "4h", "4h"),
            FeatureDescriptor("count", "vc", "4h", "4h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    n = F.col("vc__count__w=4h").cast("bigint")
    sx, sxx = F.col("xd__sum__w=4h"), F.col("xx__sum__w=4h")
    sxy, sy = F.col("xv__sum__w=4h"), F.col("vc__sum__w=4h")
    num = (n * sxy - sx * sy).cast("double")
    den = (n * sxx - sx * sx).cast("double")
    slope = F.when(den > 0, num / den * F.lit(1e4))  # cents/us -> units/s
    return out.select("ts", slope.alias("slope_val"), n.alias("cnt_val"))


def _oracle_rolling_slope() -> str:
    w = 4 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
prep AS (SELECT ts, CAST(epoch_us(ts) - {T0_2024} AS DECIMAL(18,0)) AS xd,
                CAST(value AS DECIMAL(18,2)) * CAST(100 AS DECIMAL(3,0)) AS vc
         FROM events),
agg AS (SELECT s_start,
               sum(p.xd)                                              AS sx,
               sum(CAST(p.xd AS DECIMAL(19,0)) * CAST(p.xd AS DECIMAL(19,0))) AS sxx,
               sum(CAST(p.xd AS DECIMAL(19,0)) * CAST(p.vc AS DECIMAL(19,2))) AS sxy,
               sum(p.vc)                                              AS sy,
               count(p.vc)                                            AS n
        FROM seg LEFT JOIN prep p
          ON epoch_us(p.ts) >= s_start AND epoch_us(p.ts) < s_start + {w}
        GROUP BY s_start),
der AS (SELECT s_start, n,
               CAST(n * sxy - sx * sy AS DOUBLE) AS num,
               CAST(n * sxx - sx * sx AS DOUBLE) AS den
        FROM agg)
SELECT make_timestamp(s_start + {w}) AS ts,
       CASE WHEN den > 0 THEN num / den * 1e4 END AS slope_val,
       n AS cnt_val
FROM der ORDER BY ts
"""


def q_sequence_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-domain strided rolling (SURVEY §2.5 SequenceStridedRolling):
    numeric index = o_orderkey, window=1000 keys, stride=500."""
    _utc(spark)
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "price", 1000, 500),
            FeatureDescriptor("count", "price", 1000, 500),
            FeatureDescriptor("max", "price", 1000, 500),
        ]
    )
    out = fc.calculate(od, ts_col="o_orderkey")
    return out.select(
        F.col("o_orderkey").cast("bigint").alias("seg_end"),
        F.coalesce(F.col("price__sum__w=1000").cast("double"), F.lit(0.0)).alias("sum_price"),
        F.col("price__count__w=1000").cast("bigint").alias("cnt"),
        F.col("price__max__w=1000").cast("double").alias("max_price"),
    )


def _oracle_sequence_rolling() -> str:
    w, s = 1000, 500
    return f"""
WITH b AS (SELECT min(o_orderkey) AS t0, max(o_orderkey) AS t1 FROM orders),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {s}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {s} AS s_start
        FROM k CROSS JOIN generate_series(0, 1000000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS sum_dec,
               count(o.o_totalprice)                      AS cnt,
               max(o.o_totalprice)                        AS max_raw
        FROM seg LEFT JOIN orders o
          ON o.o_orderkey >= s_start AND o.o_orderkey < s_start + {w}
        GROUP BY s_start)
SELECT s_start + {w} AS seg_end,
       coalesce(CAST(sum_dec AS DOUBLE), 0.0) AS sum_price,
       cnt,
       max_raw AS max_price
FROM agg ORDER BY seg_end
"""


def q_count_based_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based windows on a TIME index (SURVEY §2.5
    TimeIndexSampleStridedRolling): int window=256 samples, stride=128;
    output index = the timestamp AT the end sample position.

    Round 8: the SHAPE feature family's integer-valued members are
    promoted from numpy-parity pytest to this hash gate — number_peaks,
    longest_strike_above/below_mean, and index_mass_quantile run as
    vectorized FuncWrappers over the same count-256 windows (equal
    lengths → the true (nb, 256) batch path) on an INTEGRAL derived
    series ``iv = floor(value·100 + 0.5)``: integral doubles make every
    sum exact in any order, so window mean / cumulative mass / strict
    comparisons are bit-identical between numpy's pairwise summation
    and DuckDB's sequential one, and the (idx+1)/256 quantile index
    divides by a power of two — no tolerance anywhere.

    Round 9: ``c3(1)`` and ``time_reversal_asymmetry(1)`` leave the
    honest-residue list — they are POLYNOMIAL (multiply/add/one final
    division, no libm), so on the coarser integral series ``jv =
    floor(value + 0.5)`` (|jv| ≤ 561 ⇒ per-term products ≤ 1.8e8, the
    254-term sums ≤ 9e10 ≪ 2^53) every intermediate is an exactly-
    representable integer in BOTH engines regardless of summation
    order, and the single final division by 254 rounds identically."""
    _utc(spark)
    from tsflex_spark.features.shape import (
        c3,
        energy_ratio_chunks,
        index_mass_quantile,
        longest_strike_above_mean,
        longest_strike_below_mean,
        number_peaks,
        time_reversal_asymmetry,
    )

    ev = _events(spark, sf_dir).select(
        "ts",
        F.col("value").cast("decimal(18,2)").alias("value"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("double").alias("iv"),
        F.floor(F.col("value") + F.lit(0.5)).cast("double").alias("jv"),
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value", 256, 128),
            FeatureDescriptor("count", "value", 256, 128),
            FeatureDescriptor(number_peaks(3), "iv", 256, 128),
            FeatureDescriptor(longest_strike_above_mean(), "iv", 256, 128),
            FeatureDescriptor(longest_strike_below_mean(), "iv", 256, 128),
            FeatureDescriptor(index_mass_quantile(0.5), "iv", 256, 128),
            # iv² ≤ 3.2e9, ×256 windows < 2^53 — the chunk/total energy
            # sums are exact integers in doubles, the ratio one division
            FeatureDescriptor(energy_ratio_chunks(10, 0), "iv", 256, 128),
            # cubic terms ride the COARSER jv series so the 254-term
            # sums stay ≪ 2^53 (see docstring round-9 note)
            FeatureDescriptor(c3(1), "jv", 256, 128),
            FeatureDescriptor(time_reversal_asymmetry(1), "jv", 256, 128),
        ]
    )
    out = fc.calculate(ev, ts_col="ts")
    return out.select(
        "ts",
        F.col("value__sum__w=256").cast("double").alias("sum_val"),
        F.col("value__count__w=256").cast("bigint").alias("cnt_val"),
        F.col("iv__n_peaks_3__w=256").cast("bigint").alias("n_peaks"),
        F.col("iv__strike_above__w=256").cast("bigint").alias("strike_above"),
        F.col("iv__strike_below__w=256").cast("bigint").alias("strike_below"),
        # NaN → NULL: the engine yields NaN on zero-mass / zero-energy
        # windows (shape.py); the oracle yields SQL NULL for the same
        # windows (tot > 0 / tot2 > 0 guards) — canonicalize here so the
        # hash gate compares like with like on degenerate windows.
        _nan_null(F.col("`iv__imq_0.5__w=256`")).alias("imq"),
        _nan_null(F.col("iv__er_0_10__w=256")).alias("er0"),
        F.col("jv__c3_1__w=256").alias("c3_1"),
        F.col("jv__tra_1__w=256").alias("tra_1"),
    )


def _oracle_count_based_rolling() -> str:
    # shape legs on iv = floor(value*100 + 0.5) (integral doubles →
    # order-free exact sums): number_peaks(3) = strictly greater than
    # all 3 neighbors each side, core positions 3..252 (shape.py:58);
    # strikes = longest gaps-and-islands run vs the exact segment mean;
    # imq = (first 0-based position whose cumulative |iv| reaches half
    # the total, +1) / 256 (shape.py:97)
    w, s = 256, 128
    return f"""
WITH d AS (SELECT ts, value, row_number() OVER (ORDER BY ts) - 1 AS rn FROM events),
b AS (SELECT max(rn) AS endp FROM d),
k AS (SELECT endp, greatest(CAST(floor((endp - {w}) / {s}.0) AS BIGINT) + 1, 0) AS nb FROM b),
seg AS (SELECT kk * {s} AS s_start
        FROM k CROSS JOIN generate_series(0, 1000000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               sum(CAST(d.value AS DECIMAL(18,2))) AS sum_dec,
               count(d.value) AS cnt
        FROM seg JOIN d ON d.rn >= s_start AND d.rn < s_start + {w}
        GROUP BY s_start),
rows_ AS (SELECT s_start, d.rn - s_start AS p,
                 floor(d.value * 100 + 0.5) AS iv
          FROM seg JOIN d ON d.rn >= s_start AND d.rn < s_start + {w}),
m AS (SELECT s_start, sum(iv) / {w} AS mu, sum(abs(iv)) AS tot
      FROM rows_ GROUP BY s_start),
pkc AS (SELECT s_start, p, iv,
               lag(iv, 1) OVER sw AS l1, lead(iv, 1) OVER sw AS r1,
               lag(iv, 2) OVER sw AS l2, lead(iv, 2) OVER sw AS r2,
               lag(iv, 3) OVER sw AS l3, lead(iv, 3) OVER sw AS r3
        FROM rows_ WINDOW sw AS (PARTITION BY s_start ORDER BY p)),
pk AS (SELECT s_start,
              CAST(sum(CASE WHEN p >= 3 AND p <= {w} - 4
                        AND iv > l1 AND iv > r1 AND iv > l2 AND iv > r2
                        AND iv > l3 AND iv > r3
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks
       FROM pkc GROUP BY s_start),
sa AS (SELECT s_start, count(*) AS run FROM (
         SELECT r.s_start, r.p,
                r.p - row_number() OVER (PARTITION BY r.s_start ORDER BY r.p) AS g
         FROM rows_ r JOIN m USING (s_start) WHERE r.iv > m.mu)
       GROUP BY s_start, g),
samax AS (SELECT s_start, max(run) AS strike_above FROM sa GROUP BY s_start),
sb AS (SELECT s_start, count(*) AS run FROM (
         SELECT r.s_start, r.p,
                r.p - row_number() OVER (PARTITION BY r.s_start ORDER BY r.p) AS g
         FROM rows_ r JOIN m USING (s_start) WHERE r.iv < m.mu)
       GROUP BY s_start, g),
sbmax AS (SELECT s_start, max(run) AS strike_below FROM sb GROUP BY s_start),
cs AS (SELECT s_start, p,
              sum(abs(iv)) OVER (PARTITION BY s_start ORDER BY p) AS csum
       FROM rows_),
imqt AS (SELECT cs.s_start, (min(cs.p) + 1) / {w}.0 AS imq
         FROM cs JOIN m USING (s_start)
         -- m.tot > 0 mirrors the engine (shape.py index_mass_quantile
         -- returns NaN on zero-mass windows; csum >= 0 would otherwise
         -- be satisfied at p=0 and yield imq = 1/w)
         WHERE m.tot > 0 AND cs.csum >= 0.5 * m.tot GROUP BY cs.s_start),
er AS (SELECT s_start,
              sum(iv * iv) AS tot2,
              sum(CASE WHEN p < 26 THEN iv * iv ELSE 0 END) AS band2
       FROM rows_ GROUP BY s_start),
-- c3/tra on jv = floor(value + 0.5): every product and partial sum is
-- an exact integer (|jv| <= 561 -> cubic terms <= 1.8e8, 254-term sums
-- <= 9e10 << 2^53), so summation order is irrelevant and the single
-- final division by 254 rounds identically in both engines
rj AS (SELECT s_start, d.rn - s_start AS p,
              floor(d.value + 0.5) AS jv
       FROM seg JOIN d ON d.rn >= s_start AND d.rn < s_start + {w}),
cub AS (SELECT a.s_start,
               sum(a.jv * b.jv * c.jv) / ({w} - 2.0) AS c3_1,
               sum(c.jv * c.jv * b.jv - b.jv * a.jv * a.jv)
                 / ({w} - 2.0) AS tra_1
        FROM rj a
        JOIN rj b ON b.s_start = a.s_start AND b.p = a.p + 1
        JOIN rj c ON c.s_start = a.s_start AND c.p = a.p + 2
        GROUP BY a.s_start)
SELECT t.ts, CAST(a.sum_dec AS DOUBLE) AS sum_val, a.cnt AS cnt_val,
       pk.n_peaks AS n_peaks,
       coalesce(samax.strike_above, 0) AS strike_above,
       coalesce(sbmax.strike_below, 0) AS strike_below,
       imqt.imq AS imq,
       CASE WHEN er.tot2 > 0 THEN er.band2 / er.tot2 END AS er0,
       cub.c3_1 AS c3_1, cub.tra_1 AS tra_1
FROM agg a
JOIN pk USING (s_start)
LEFT JOIN samax USING (s_start)
LEFT JOIN sbmax USING (s_start)
LEFT JOIN imqt USING (s_start)
JOIN er USING (s_start)
JOIN cub USING (s_start)
LEFT JOIN d t ON t.rn = a.s_start + {w}
ORDER BY t.ts
"""


def q_multi_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stride union + include_final_window + window_idx='middle'
    (SURVEY §2.5): window=2h, strides=[2h, 3h] — start grids are unioned
    and deduped; one trailing (possibly partial) window is added."""
    _utc(spark)
    ev = _events(spark, sf_dir).select(
        "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value", "2h", ["2h", "3h"]),
            FeatureDescriptor("count", "value", "2h", ["2h", "3h"]),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", window_idx="middle", include_final_window=True)
    return out.select(
        "ts",
        F.coalesce(F.col("value__sum__w=2h").cast("double"), F.lit(0.0)).alias("sum_val"),
        F.col("value__count__w=2h").cast("bigint").alias("cnt_val"),
    )


def _oracle_multi_stride() -> str:
    w, s1, s2 = 2 * H1, 2 * H1, 3 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k1 AS (SELECT t0, t1,
              greatest(CAST(floor((t1 - t0 - {w}) / {s1}.0) AS BIGINT) + 1, 0) AS nb0
       FROM b),
k1f AS (SELECT t0, t1, nb0 + CASE WHEN t0 + {s1} * nb0 <= t1 THEN 1 ELSE 0 END AS nb FROM k1),
k2 AS (SELECT t0, t1,
              greatest(CAST(floor((t1 - t0 - {w}) / {s2}.0) AS BIGINT) + 1, 0) AS nb0
       FROM b),
k2f AS (SELECT t0, t1, nb0 + CASE WHEN t0 + {s2} * nb0 <= t1 THEN 1 ELSE 0 END AS nb FROM k2),
seg AS (
  SELECT DISTINCT s_start FROM (
    SELECT t0 + kk * {s1} AS s_start FROM k1f CROSS JOIN generate_series(0, 100000) AS g(kk) WHERE kk < nb
    UNION ALL
    SELECT t0 + kk * {s2} AS s_start FROM k2f CROSS JOIN generate_series(0, 100000) AS g(kk) WHERE kk < nb)),
agg AS (SELECT s_start,
               sum(CAST(e.value AS DECIMAL(18,2))) AS sum_dec,
               count(e.value) AS cnt
        FROM seg LEFT JOIN events e
          ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
        GROUP BY s_start)
SELECT make_timestamp(s_start + CAST(floor({w} / 2.0) AS BIGINT)) AS ts,
       coalesce(CAST(sum_dec AS DOUBLE), 0.0) AS sum_val,
       cnt AS cnt_val
FROM agg ORDER BY ts
"""


def _udf_range_fn(a):
    import numpy as np

    if len(a) == 0:
        return np.nan
    return float(np.max(a) - np.min(a))


def _udf_two_series_fn(a, b):
    import numpy as np

    maxdiff = (
        float(np.max(a) - np.max(b)) if len(a) > 0 and len(b) > 0 else np.nan
    )
    return [float(len(a)), float(len(b)), maxdiff]


def _udf_last_ts_fn(s):
    # index-aware (input_type=pd.Series): timestamp of the last non-null
    # sample — a TIME-VALUED feature (dtype preserved, not forced to double)
    return s.index.max() if len(s) else None


def _udf_level_fn(a):
    # CATEGORICAL feature (string dtype preserved); integer-count threshold
    # so both engines decide identically (no float boundary)
    if len(a) == 0:
        return None
    return "many" if len(a) >= 100 else "few"


def q_udf_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF tier (SURVEY §2.10): arbitrary Python feature functions via one
    Arrow applyInPandas per window config — a single-series custom range,
    a MULTI-series (tuple series_name) 3-output function over ragged
    per-series segment data (click-values vs view-values), plus dtype
    preservation (reference tests :1965-2089): a TIME-valued feature
    (index-aware last-sample timestamp) declared via
    FuncWrapper(output_dtypes=...) and a CATEGORICAL string feature with
    NO declaration — its string type is probe-INFERRED at plan time,
    the reference's automatic dtype-retention contract."""
    _utc(spark)
    import pandas as _pd

    from tsflex_spark import FuncWrapper

    ev = _events(spark, sf_dir).select(
        "ts",
        F.when(F.col("event_type") == "click", F.col("value")).alias("va"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("vb"),
        F.col("value").alias("v"),
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor(
                FuncWrapper(_udf_range_fn, output_names="vrange"), "v", "4h", "4h"
            ),
            FeatureDescriptor(
                FuncWrapper(_udf_two_series_fn, output_names=["n_a", "n_b", "maxdiff"]),
                ("va", "vb"),
                "4h",
                "4h",
            ),
            FeatureDescriptor(
                FuncWrapper(
                    _udf_last_ts_fn,
                    output_names="last_ts",
                    input_type=_pd.Series,
                    output_dtypes="timestamp",
                ),
                "v", "4h", "4h",
            ),
            FeatureDescriptor(
                FuncWrapper(_udf_level_fn, output_names="level"),
                "v", "4h", "4h",
            ),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", bound_method="outer", approve_sparsity=True)

    def denan(c):
        col = F.col(c)
        return F.when(~F.isnan(col), col)

    return out.select(
        "ts",
        denan("v__vrange__w=4h").alias("vrange"),
        F.coalesce(F.col("va|vb__n_a__w=4h"), F.lit(0.0)).cast("bigint").alias("n_click"),
        F.coalesce(F.col("va|vb__n_b__w=4h"), F.lit(0.0)).cast("bigint").alias("n_view"),
        denan("va|vb__maxdiff__w=4h").alias("maxdiff"),
        F.col("v__last_ts__w=4h").alias("last_ts"),
        F.col("v__level__w=4h").alias("level"),
    )


def _oracle_udf_features() -> str:
    w = 4 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               max(e.value) - min(e.value) AS vrange,
               count(e.value) FILTER (WHERE e.event_type = 'click') AS n_click,
               count(e.value) FILTER (WHERE e.event_type = 'view')  AS n_view,
               max(e.value) FILTER (WHERE e.event_type = 'click')
                 - max(e.value) FILTER (WHERE e.event_type = 'view') AS maxdiff,
               max(e.ts) FILTER (WHERE e.value IS NOT NULL) AS last_ts,
               CASE WHEN count(e.value) = 0 THEN NULL
                    WHEN count(e.value) >= 100 THEN 'many' ELSE 'few' END AS level
        FROM seg LEFT JOIN events e
          ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
        GROUP BY s_start)
SELECT make_timestamp(s_start + {w}) AS ts, vrange, n_click, n_view, maxdiff,
       last_ts, level
FROM agg ORDER BY ts
"""


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-mode feature extraction (SURVEY §2.9) exercised in batch:
    the same helper compiles to a streaming plan on a readStream input
    (tests/test_operators.py); F.window aligns tumbling windows to the
    epoch grid — oracle = GROUP BY floor(epoch/window)."""
    _utc(spark)
    from tsflex_spark.streaming.rolling import rolling_features_stream

    ev = _events(spark, sf_dir).select(
        "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    out = rolling_features_stream(ev, {"value": ["sum", "count", "max"]}, window="1 hour")
    return out.select(
        F.col("win_start"),
        F.col("value__sum__w=1hour").cast("double").alias("sum_val"),
        F.col("value__count__w=1hour").cast("bigint").alias("cnt_val"),
        F.col("value__max__w=1hour").cast("double").alias("max_val"),
    ).coalesce(1).orderBy("win_start")


def _oracle_streaming_window() -> str:
    return f"""
SELECT make_timestamp(CAST(floor(epoch_us(ts) / {H1}.0) AS BIGINT) * {H1}) AS win_start,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
       count(value) AS cnt_val,
       max(value) AS max_val
FROM events GROUP BY 1 ORDER BY 1
"""


def q_processing_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both pandas-tier SeriesProcessor lanes in one gate (driver caps
    queries() at 50; same event grain). ``value_diff``: the UNKEYED
    order-dependent whole-series transform (first difference) running
    DISTRIBUTED via the overlap-stitch halo path (halo_rows=(1, 0) —
    diff's dependence radius is one row back), so the series does not
    funnel through a single Arrow group. ``value_diff_user``: the KEYED
    lane — the same transform per user via bucketed Arrow groups (one
    Arrow call per hash bucket of keys)."""
    _utc(spark)
    import pandas as pd

    from tsflex_spark import SeriesPipeline, SeriesProcessor

    def make_diff(name: str):
        def diff_series(v: pd.Series) -> pd.Series:
            return pd.Series(v.to_numpy(), index=v.index, name=name).diff()

        return diff_series

    pipe = SeriesPipeline(
        [
            SeriesProcessor(
                make_diff("value_diff"), "value", input_type="pandas", halo_rows=(1, 0)
            )
        ]
    )
    out = pipe.process(
        _events(spark, sf_dir).select("ts", "event_id", "value"), ts_col="ts"
    )

    pipe_u = SeriesPipeline(
        [SeriesProcessor(make_diff("value_diff_user"), "value", input_type="pandas")]
    )
    out_u = pipe_u.process(
        _events(spark, sf_dir).select("ts", "event_id", "user_id", "value"),
        ts_col="ts",
        key_cols=["user_id"],
    ).select("event_id", "user_id", "value_diff_user")
    return (
        out.select("event_id", "value", "value_diff")
        .join(out_u, "event_id")
        .select("event_id", "user_id", "value", "value_diff", "value_diff_user")
        .orderBy("event_id")
    )


def _oracle_processing_diff() -> str:
    return """
SELECT event_id, user_id, value,
       value - lag(value) OVER (ORDER BY ts) AS value_diff,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS value_diff_user
FROM events ORDER BY event_id
"""


def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by_all mode (SURVEY §2.6): features per distinct event_type.

    Round 8: the PRE-GROUPED input form ``calculate((df, keys))``
    (§2.6 #40, reference accepting a pandas DataFrameGroupBy,
    feature_collection.py:1095-1170) is promoted from pytest to this
    hash gate — the same descriptors run through the tuple form and the
    results join in as ``pg_*`` columns, so any divergence between the
    two input paths (or a regression in either) breaks the value hash."""
    _utc(spark)
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value", "1h", "1h"),
            FeatureDescriptor("count", "value", "1h", "1h"),
            FeatureDescriptor("max", "value", "1h", "1h"),
        ]
    )
    ev = _events(spark, sf_dir).select(
        "ts", "event_type", F.col("value").cast("decimal(18,2)").alias("value")
    )
    out = fc.calculate(ev, ts_col="ts", group_by_all="event_type")
    pre = fc.calculate((ev, "event_type"), ts_col="ts")
    sum_d = F.col("value__sum__w=manual").cast("double")
    cnt = F.col("value__count__w=manual").cast("bigint")
    pleg = pre.select(
        "event_type",
        sum_d.alias("pg_sum"),
        cnt.alias("pg_cnt"),
        F.col("value__max__w=manual").cast("double").alias("pg_max"),
    )
    return (
        out.select(
            "event_type",
            (sum_d / cnt).alias("mean_val"),
            cnt.alias("cnt_val"),
            F.col("value__max__w=manual").cast("double").alias("max_val"),
        )
        .join(pleg, "event_type")
        .coalesce(1).orderBy("event_type")
    )


def _oracle_group_by_all() -> str:
    return """
SELECT event_type,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS mean_val,
       count(value) AS cnt_val,
       max(value)   AS max_val,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS pg_sum,
       count(value) AS pg_cnt,
       max(value)   AS pg_max
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def q_group_by_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by_consecutive (SURVEY §2.6 gaps-and-islands): runs of equal
    consecutive event_type values become segments with __start/__end,
    where __end is the run's LAST MEMBER ts — the reference's reported
    value (feature_collection.py:713-714), verified by running the
    reference directly in tests/test_reference_parity.py."""
    _utc(spark)
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value", "1h", "1h"),
            FeatureDescriptor("count", "value", "1h", "1h"),
        ]
    )
    out = fc.calculate(
        _events(spark, sf_dir).select(
            "ts", "event_type", F.col("value").cast("decimal(18,2)").alias("value")
        ),
        ts_col="ts",
        group_by_consecutive="event_type",
    )
    return out.select(
        "ts",
        "event_type",
        F.col("__start").alias("run_start"),
        F.col("__end").alias("run_end"),
        F.col("value__sum__w=manual").cast("double").alias("sum_val"),
        F.col("value__count__w=manual").cast("bigint").alias("cnt_val"),
    )


def _oracle_group_by_consecutive() -> str:
    return """
WITH d AS (SELECT ts, event_type, CAST(value AS DECIMAL(18,2)) AS v,
                  CASE WHEN lag(event_type) OVER (ORDER BY ts) IS NULL
                         OR event_type <> lag(event_type) OVER (ORDER BY ts)
                       THEN 1 ELSE 0 END AS chg
           FROM events WHERE event_type IS NOT NULL),
i AS (SELECT *, sum(chg) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS isl FROM d),
g AS (SELECT isl, any_value(event_type) AS event_type,
             min(ts) AS run_start, max(ts) AS last_ts,
             CAST(sum(v) AS DOUBLE) AS sum_val, count(v) AS cnt_val
      FROM i GROUP BY isl)
SELECT run_start AS ts, event_type, run_start,
       last_ts AS run_end,
       sum_val, cnt_val
FROM g ORDER BY run_start
"""


def q_manual_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit user segments (SURVEY §2.5 segment_start/end_idxs): 30 daily
    [00:00, 06:00) windows over events — variable segments, window='manual'."""
    _utc(spark)
    import pandas as pd

    starts = pd.date_range("2024-01-01", periods=30, freq="1D")
    ends = starts + pd.Timedelta("6h")
    ev = _events(spark, sf_dir).select(
        "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value"),
            FeatureDescriptor("count", "value"),
            FeatureDescriptor("min", "value"),
        ]
    )
    out = fc.calculate(
        ev,
        ts_col="ts",
        segment_start_idxs=list(starts),
        segment_end_idxs=list(ends),
        window_idx="begin",
    )
    return out.select(
        "ts",
        F.coalesce(F.col("value__sum__w=manual").cast("double"), F.lit(0.0)).alias("sum_val"),
        F.col("value__count__w=manual").cast("bigint").alias("cnt_val"),
        F.col("value__min__w=manual").cast("double").alias("min_val"),
    )


def _oracle_manual_segments() -> str:
    return f"""
WITH seg AS (SELECT {T0_2024} + kk * 86400000000 AS s_start
             FROM generate_series(0, 29) AS g(kk)),
agg AS (SELECT s_start,
               sum(CAST(e.value AS DECIMAL(18,2))) AS sum_dec,
               count(e.value) AS cnt,
               min(e.value)   AS min_raw
        FROM seg LEFT JOIN events e
          ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {6 * H1}
        GROUP BY s_start)
SELECT make_timestamp(s_start) AS ts,
       coalesce(CAST(sum_dec AS DOUBLE), 0.0) AS sum_val,
       cnt AS cnt_val,
       min_raw AS min_val
FROM agg ORDER BY ts
"""


def q_processing_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SeriesPipeline of column-tier SeriesProcessors (SURVEY §2.8): clip →
    sqrt → add/replace semantics, all fused into one codegen projection."""
    _utc(spark)
    from tsflex_spark import SeriesPipeline, SeriesProcessor

    def clip(v):
        return F.least(F.greatest(v, F.lit(10.0)), F.lit(100.0))

    def sqrt_of(v):
        return {"value_sqrt": F.sqrt(v)}

    pipe = SeriesPipeline(
        [
            SeriesProcessor(clip, "value", input_type="column"),
            SeriesProcessor(sqrt_of, "value", input_type="column"),
        ]
    )
    out = pipe.process(_events(spark, sf_dir).select("ts", "event_id", "value"), ts_col="ts")
    return out.select("event_id", F.col("value").alias("value_clip"), "value_sqrt").orderBy(
        "event_id"
    )


def _oracle_processing_pipeline() -> str:
    return """
SELECT event_id,
       least(greatest(value, 10.0), 100.0) AS value_clip,
       sqrt(least(greatest(value, 10.0), 100.0)) AS value_sqrt
FROM events ORDER BY event_id
"""


def q_chunk_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both chunk_data lanes in one gate (driver caps queries() at 50;
    same operator, same output shape). mode='global': unkeyed gap-aware
    chunk detection over the value-bearing series, max_gap=10m (SURVEY
    §2.11). mode='session': per-user sessionization — 30m inactivity gap
    keyed by user_id (session_window semantics in batch, SURVEY §2.9).
    Same gaps-and-islands core, unkeyed vs keyed partitioning."""
    _utc(spark)
    from tsflex_spark.chunking import chunk_data

    ev = _events(spark, sf_dir)
    glob = chunk_data(ev, ts_col="ts", value_col="value", max_gap="10m").select(
        F.lit("global").alias("mode"),
        F.lit(-1).cast("long").alias("user_id"),
        "chunk_id",
        "chunk_start",
        "chunk_end",
        "n_samples",
    )
    sess = chunk_data(ev, ts_col="ts", key_cols=["user_id"], max_gap="30m").select(
        F.lit("session").alias("mode"),
        F.col("user_id").cast("long").alias("user_id"),
        "chunk_id",
        "chunk_start",
        "chunk_end",
        "n_samples",
    )
    return glob.unionByName(sess).orderBy("mode", "user_id", "chunk_id")


def _oracle_chunk_islands() -> str:
    return """
WITH d AS (SELECT ts,
                  CASE WHEN lag(ts) OVER (ORDER BY ts) IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (ORDER BY ts)) > 600000000
                       THEN 1 ELSE 0 END AS chg
           FROM events WHERE value IS NOT NULL),
i AS (SELECT ts, sum(chg) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS isl FROM d),
g AS (SELECT isl, min(ts) AS chunk_start, max(ts) AS chunk_end, count(*) AS n_samples
      FROM i GROUP BY isl),
gl AS (SELECT 'global' AS mode, CAST(-1 AS BIGINT) AS user_id,
              CAST(row_number() OVER (ORDER BY chunk_start) - 1 AS INT) AS chunk_id,
              chunk_start, chunk_end, n_samples
       FROM g),
sd AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                   THEN 1 ELSE 0 END AS chg
       FROM events),
si AS (SELECT user_id, ts,
              sum(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS isl
       FROM sd),
sg AS (SELECT user_id, isl, min(ts) AS chunk_start, max(ts) AS chunk_end,
              count(*) AS n_samples
       FROM si GROUP BY user_id, isl),
se AS (SELECT 'session' AS mode, user_id,
              CAST(row_number() OVER (PARTITION BY user_id ORDER BY chunk_start) - 1 AS INT) AS chunk_id,
              chunk_start, chunk_end, n_samples
       FROM sg)
SELECT * FROM gl UNION ALL SELECT * FROM se
ORDER BY mode, user_id, chunk_id
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational substrate check: TPC-H Q1-style pricing summary, fused
    with the Q6 forecasting-revenue scalar (pure filter + aggregate whose
    predicates push down to the parquet scan) — two relational probes,
    one gate (50-entry board cap; the Q6 1-row frame broadcast-crosses
    onto Q1's 4 groups, no extra exchange)."""
    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_sbp"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,4)"
                )
            ).alias("_sdp"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    q1 = out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sbp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        (F.col("_sq").cast("double") / F.col("count_order")).alias("avg_qty"),
        "count_order",
    )
    q6 = q_tpch_q6(spark, sf_dir).select(
        F.col("revenue").alias("q6_revenue"), F.col("n_rows").alias("q6_rows")
    )
    return q1.join(F.broadcast(q6)).orderBy("l_returnflag", "l_linestatus")


def _oracle_tpch_q1() -> str:
    return """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         sum(CAST(l_quantity AS DECIMAL(18,2)))      AS sq,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sbp,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS sdp,
         count(*) AS count_order
  FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
  GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus,
       CAST(sq AS DOUBLE)  AS sum_qty,
       CAST(sbp AS DOUBLE) AS sum_base_price,
       CAST(sdp AS DOUBLE) AS sum_disc_price,
       CAST(sq AS DOUBLE) / count_order AS avg_qty,
       count_order,
       q6.q6_revenue, q6.q6_rows
FROM agg CROSS JOIN (
  SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS q6_revenue,
         count(*) AS q6_rows
  FROM lineitem
  WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
    AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24) q6
ORDER BY l_returnflag, l_linestatus
"""


_SAMPLE_FRACTIONS = {f"src{i}": (0.3 if i % 2 == 0 else 0.7) for i in range(20)}


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on documents.text (hash-groupBy — SURVEY north-star),
    fused with corpus-level LINE dedup (RefinedWeb/CCNet boilerplate
    removal, ``dedup.remove_duplicate_lines`` keep-first mode) and — new
    round 7 — the hash-deterministic curation memberships
    (``curation.deterministic_split`` 80/10/10 and ``stratified_sample``
    per-source fractions): each representative doc reports its
    line-deduped char count, its split, and its sample flag. The oracle
    replays Spark's ``xxhash64`` (long+int specializations) bit-for-bit
    in DuckDB SQL — membership is a pure function of (id, seed), provably
    engine-independent, which is the whole reproducibility contract of
    hash-based curation at 100 TB. All assignment columns are codegen,
    no extra shuffle (broadcast joins onto the dedup output).

    Round-7 fourth leg: ``curation.temperature_mix`` membership
    (``tmix_kept``) at alpha=0 — the uniform-target rebalance. The oracle
    replays the whole ``_keep_by_weights`` chain: per-source counts, the
    max-retention corpus size T = min_s(c_s/w_s), keep fraction
    ``least(T*w_s/c_s, 1)``, threshold truncation, and the xxh64(id, 11)
    membership hash. alpha=0 keeps the verified path pow-free (JVM
    ``Math.pow`` vs DuckDB libm differ in ulps for fractional exponents;
    fractional-alpha behavior is pytest-verified against numpy instead —
    the engine-independence claim is about the membership MECHANICS).

    Fifth leg (round 7): URL curation — the gate plants two URLs per doc
    (one ``blog.shopK.co.uk`` path URL exercising the multi-part public-
    suffix branch of ``registered_domain``, one bare-IP URL exercising
    the IP passthrough) and verifies ``extract_urls`` counts, the first
    URL's registrable domain, and the post-``domain_filter`` blocklist
    survivor count — C4/RefinedWeb source filtering, replayed in SQL."""
    docs = _documents(spark, sf_dir)
    from tsflex_spark.datapipe.curation import deterministic_split, stratified_sample
    from tsflex_spark.datapipe.dedup import dedup_exact_stats, remove_duplicate_lines

    exact = dedup_exact_stats(docs, "text", id_col="doc_id")
    ld = remove_duplicate_lines(
        docs, "text", "doc_id", mode="keep_first", out_col="__clean"
    ).select(
        F.col("doc_id").alias("keep_id"),
        F.length("__clean").alias("n_chars_line_deduped"),
    )
    samp = stratified_sample(
        docs.select("doc_id", "source"), "source", _SAMPLE_FRACTIONS, "doc_id", seed=7
    ).select(F.col("doc_id").alias("keep_id"), F.lit(1).cast("long").alias("sampled"))
    from tsflex_spark.datapipe.curation import temperature_mix

    tmix = temperature_mix(
        docs.select("doc_id", "source"), "source", "doc_id", alpha=0.0, seed=11
    ).select(F.col("doc_id").alias("keep_id"), F.lit(1).cast("long").alias("tmix_kept"))
    out = exact.join(ld, "keep_id")
    # the split is a pure column function of the id — tag the joined
    # frame directly instead of building and broadcasting a corpus-sized
    # (id, split) frame (the sample join genuinely needs `source`)
    out = deterministic_split(out, "keep_id", [0.8, 0.1, 0.1], seed=42)
    from tsflex_spark.datapipe.text import (
        domain_filter,
        extract_urls,
        registered_domain,
        url_host,
    )

    urltxt = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://blog.shop"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".co.uk/p?x=1 or http://192.168.1."),
            (F.col("doc_id") % 9).cast("string"),
            F.lit("/ ok"),
        ).alias("__u"),
    )
    uarr = extract_urls(urltxt, "__u", "doc_id")
    ufirst = uarr.select(
        "doc_id",
        F.size("urls").cast("long").alias("n_urls"),
        registered_domain(url_host(F.element_at("urls", 1))).alias("first_domain"),
    )
    eu = extract_urls(urltxt, "__u", "doc_id", explode=True)
    keptu = domain_filter(eu, "url", blocklist=["shop7.co.uk", "192.168.1.5"])
    perk = keptu.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls_kept")
    )
    url_leg = ufirst.join(perk, "doc_id", "left").select(
        F.col("doc_id").alias("keep_id"),
        "n_urls",
        "first_domain",
        F.coalesce("n_urls_kept", F.lit(0)).alias("n_urls_kept"),
    )
    # samp is a genuinely bounded (sampled-subset) frame — broadcast it.
    # tmix/url_leg are one-row-per-doc, i.e. corpus-sized: no hint, the
    # keep_id equi-join shuffles (or AQE broadcasts when actually small).
    return (
        out.join(F.broadcast(samp), "keep_id", "left")
        .withColumn("sampled", F.coalesce("sampled", F.lit(0)))
        .join(tmix, "keep_id", "left")
        .withColumn("tmix_kept", F.coalesce("tmix_kept", F.lit(0)))
        .join(url_leg, "keep_id")
        .coalesce(1).orderBy("keep_id")
    )


def _xxh64_long_steps(
    prefix: str,
    id_col: str,
    out_col: str,
    *,
    int_value=None,
    pmod: int = None,
) -> list:
    """(name, expr) steps computing Spark ``xxhash64(id_col[, int])`` in
    DuckDB SQL, bit-for-bit equal to Catalyst: ``hash_long`` over the
    8-byte id (running seed 42), then — when ``int_value`` is given —
    ``hash_int`` over the 4-byte int (a python literal OR an SQL column
    expression, e.g. a per-row slot index). ``out_col`` is the signed
    64-bit hash, or ``pmod(h, pmod)`` when ``pmod`` is set. u64
    wraparound multiplication is a 32-bit-split product so INT128 never
    overflows; each step lands in its own CTE column (inlining would
    duplicate subexpressions exponentially)."""
    M = "18446744073709551616::HUGEINT"
    M32 = "4294967296::HUGEINT"
    P = {
        "P1": 0x9E3779B185EBCA87,
        "P2": 0xC2B2AE3D27D4EB4F,
        "P3": 0x165667B19E3779F9,
        "P4": 0x85EBCA77C2B2AE63,
        "P5": 0x27D4EB2F165667C5,
    }

    def mulm(a: str, p: int) -> str:
        bh, bl = p >> 32, p & 0xFFFFFFFF
        return (
            f"(({a}) * {bl}::HUGEINT % {M} + "
            f"((({a}) * {bh}::HUGEINT % {M32}) << 32)) % {M}"
        )

    def rotl(x: str, r: int) -> str:
        return f"((({x}) << {r}) % {M} + (({x}) >> {64 - r}))"

    def signed(x: str) -> str:
        return (
            f"(CASE WHEN {x} >= 9223372036854775808::HUGEINT "
            f"THEN {x} - {M} ELSE {x} END)"
        )

    p = prefix
    steps = [
        # hash_long(id, 42): xxh.py:40-49
        (f"{p}_v", f"(({id_col})::HUGEINT + {M}) % {M}"),
        (f"{p}_k1", mulm(rotl(mulm(f"{p}_v", P["P2"]), 31), P["P1"])),
        (f"{p}_h1", f"xor((42::HUGEINT + {P['P5']}::HUGEINT + 8) % {M}, {p}_k1)"),
        (
            f"{p}_h2",
            f"(({mulm(rotl(f'{p}_h1', 27), P['P1'])}) + {P['P4']}::HUGEINT) % {M}",
        ),
        (f"{p}_f1", mulm(f"xor({p}_h2, {p}_h2 >> 33)", P["P2"])),
        (f"{p}_f2", mulm(f"xor({p}_f1, {p}_f1 >> 29)", P["P3"])),
        (f"{p}_f3", f"xor({p}_f2, {p}_f2 >> 32)"),
    ]
    last = f"{p}_f3"
    if int_value is not None:
        # hash_int(value, h): xxh.py:52-58 — the int is the VALUE, the
        # running hash is the SEED; the value hashes as its unsigned
        # 4-byte pattern (xxh.py:54 `value &= 0xFFFFFFFF`)
        if isinstance(int_value, int):
            assert -(2**31) <= int_value < 2**31, f"{int_value} not int32"
            vexpr = f"{int_value & 0xFFFFFFFF}::HUGEINT"
        else:
            vexpr = f"((({int_value})::HUGEINT % {M32} + {M32}) % {M32})"
        steps += [
            (
                f"{p}_g1",
                f"xor(({p}_f3 + {P['P5']}::HUGEINT + 4) % {M}, "
                f"{mulm(vexpr, P['P1'])})",
            ),
            (
                f"{p}_g2",
                f"(({mulm(rotl(f'{p}_g1', 23), P['P2'])}) + {P['P3']}::HUGEINT) % {M}",
            ),
            (f"{p}_e1", mulm(f"xor({p}_g2, {p}_g2 >> 33)", P["P2"])),
            (f"{p}_e2", mulm(f"xor({p}_e1, {p}_e1 >> 29)", P["P3"])),
            (f"{p}_e3", f"xor({p}_e2, {p}_e2 >> 32)"),
        ]
        last = f"{p}_e3"
    if pmod is not None:
        steps.append(
            (
                out_col,
                f"(({signed(last)} % {pmod} + {pmod}) % {pmod})::BIGINT",
            )
        )
    else:
        steps.append((out_col, f"({signed(last)})::BIGINT"))
    return steps


def _xxh64_pmod_steps(prefix: str, id_col: str, seed: int, out_col: str) -> list:
    """``pmod(xxhash64(id_col, lit(seed)), 10^6)`` — the curation-
    membership specialization of :func:`_xxh64_long_steps`. ``seed``
    must fit int32: a Python int literal outside int32 becomes a
    LongType lit, which Catalyst folds with hash_long instead — a
    caller passing one would get a silently divergent oracle."""
    assert -(2**31) <= seed < 2**31, f"seed {seed} not an int32 literal"
    return _xxh64_long_steps(
        prefix, id_col, out_col, int_value=seed, pmod=1_000_000
    )


def _xxh64_gram_steps(prefix: str, gram_col: str, dim: int) -> list:
    """(name, expr) steps computing Spark ``xxhash64(gram)`` (a STRING —
    hashed as its UTF-8 bytes with running seed 42) and the
    ``xxhash64(gram, lit(1))`` sign hash, for grams of length <= 3, in
    pure DuckDB SQL: XXH64's byte-tail rounds unrolled per position.
    The corpus is ASCII (byte == codepoint via ``unicode``) — a non-ASCII
    char would make the gate mismatch, so the assumption is checked by
    the gate being green, not trusted. Follows ``utils/xxh.py``
    ``hash_bytes`` (len<32 branch: h = seed+P5+len, per-byte
    ``rotl(h ^ b*P5, 11)*P1``, avalanche) and ``hash_int`` for the sign
    fold. Emits ``{prefix}_bucket`` = pmod(h, dim) and ``{prefix}_sign``
    = +1/-1 (hash-parity of the sign hash)."""
    M = "18446744073709551616::HUGEINT"
    M32 = "4294967296::HUGEINT"
    P = {
        "P1": 0x9E3779B185EBCA87,
        "P2": 0xC2B2AE3D27D4EB4F,
        "P3": 0x165667B19E3779F9,
        "P5": 0x27D4EB2F165667C5,
    }

    def mulm(a: str, p: int) -> str:
        bh, bl = p >> 32, p & 0xFFFFFFFF
        return (
            f"(({a}) * {bl}::HUGEINT % {M} + "
            f"((({a}) * {bh}::HUGEINT % {M32}) << 32)) % {M}"
        )

    def rotl(x: str, r: int) -> str:
        return f"((({x}) << {r}) % {M} + (({x}) >> {64 - r}))"

    def signed(x: str) -> str:
        return (
            f"(CASE WHEN {x} >= 9223372036854775808::HUGEINT "
            f"THEN {x} - {M} ELSE {x} END)"
        )

    p, g = prefix, gram_col
    steps = [
        (f"{p}_len", f"length({g})"),
        (f"{p}_h0", f"(42::HUGEINT + {P['P5']}::HUGEINT + {p}_len) % {M}"),
    ]
    for j in (1, 2, 3):
        steps.append(
            (
                f"{p}_b{j}",
                f"CASE WHEN {p}_len >= {j} THEN "
                f"CAST(unicode(substr({g}, {j}, 1)) AS HUGEINT) "
                f"ELSE 0::HUGEINT END",
            )
        )
        steps.append(
            (f"{p}_t{j}", f"xor({p}_h{j - 1}, {mulm(f'{p}_b{j}', P['P5'])})")
        )
        steps.append(
            (
                f"{p}_h{j}",
                f"CASE WHEN {p}_len >= {j} "
                f"THEN {mulm(rotl(f'{p}_t{j}', 11), P['P1'])} "
                f"ELSE {p}_h{j - 1} END",
            )
        )
    steps += [
        (f"{p}_f1", mulm(f"xor({p}_h3, {p}_h3 >> 33)", P["P2"])),
        (f"{p}_f2", mulm(f"xor({p}_f1, {p}_f1 >> 29)", P["P3"])),
        (f"{p}_f3", f"xor({p}_f2, {p}_f2 >> 32)"),
        (
            f"{p}_bucket",
            f"((({signed(f'{p}_f3')}) % {dim} + {dim}) % {dim})::BIGINT",
        ),
        # sign hash: hash_int(1, h) — the int literal is the VALUE, the
        # running string hash is the SEED (xxh.py:52-58)
        (
            f"{p}_g1",
            f"xor(({p}_f3 + {P['P5']}::HUGEINT + 4) % {M}, "
            f"{mulm('1::HUGEINT', P['P1'])})",
        ),
        (
            f"{p}_g2",
            f"(({mulm(rotl(f'{p}_g1', 23), P['P2'])}) + {P['P3']}::HUGEINT) % {M}",
        ),
        (f"{p}_e1", mulm(f"xor({p}_g2, {p}_g2 >> 33)", P["P2"])),
        (f"{p}_e2", mulm(f"xor({p}_e1, {p}_e1 >> 29)", P["P3"])),
        (f"{p}_e3", f"xor({p}_e2, {p}_e2 >> 32)"),
        (
            f"{p}_sign",
            f"CASE WHEN (({signed(f'{p}_e3')}) % 2 + 2) % 2 = 0 "
            f"THEN 1 ELSE -1 END",
        ),
    ]
    return steps


def _xxh64_str_cte(src: str, rid: str, scol: str, tag: str) -> str:
    """CTE fragment computing ``{tag}_h`` = Spark ``xxhash64(scol)``
    (UTF-8/ASCII bytes, seed 42, signed BIGINT) for ARBITRARY-length
    strings — the general replication the fixed-length gram chain can't
    do. XXH64's three loops become recursive CTEs: the 32-byte stripe
    accumulator (v1..v4), the 8-byte word tail, then one conditional
    4-byte round + three conditional byte rounds + avalanche. Follows
    ``utils/xxh.py`` ``hash_bytes`` exactly; bit-parity fuzzed against
    it in ``tests/test_oracle_helpers.py``. The byte==codepoint identity
    only holds for ASCII, so the src CTE hard-errors (DuckDB ``error()``
    naming the offending rid) on any non-ASCII input instead of
    producing an opaque hash mismatch. The enclosing query must be
    ``WITH RECURSIVE``. Final CTE: ``{tag}_out(rid, {tag}_h)``."""
    M = "18446744073709551616::HUGEINT"
    M32 = "4294967296::HUGEINT"
    P1 = 0x9E3779B185EBCA87
    P2 = 0xC2B2AE3D27D4EB4F
    P3 = 0x165667B19E3779F9
    P4 = 0x85EBCA77C2B2AE63
    P5 = 0x27D4EB2F165667C5

    def mulm(a: str, p: int) -> str:
        bh, bl = p >> 32, p & 0xFFFFFFFF
        return (
            f"(({a}) * {bl}::HUGEINT % {M} + "
            f"((({a}) * {bh}::HUGEINT % {M32}) << 32)) % {M}"
        )

    def rotl(x: str, r: int) -> str:
        return f"((({x}) << {r}) % {M} + (({x}) >> {64 - r}))"

    def word(o: str, nbytes: int = 8) -> str:
        # little-endian nbytes at 1-based offset o (ASCII: byte==codepoint)
        return "(" + " + ".join(
            f"(unicode(substr({scol}, ({o}) + {j}, 1))::HUGEINT << {8 * j})"
            for j in range(nbytes)
        ) + ")"

    def stripe_round(v: str, w: str) -> str:
        return mulm(rotl(f"(({v}) + {mulm(w, P2)}) % {M}", 31), P1)

    t = tag
    sw = [word(f"done + {1 + 8 * i}") for i in range(4)]
    fold, h = [], "hm"
    for i in range(4):
        k1 = mulm(rotl(mulm(f"v{i + 1}", P2), 31), P1)
        fold.append(
            (f"hf{i + 1}",
             f"({mulm(f'xor({h}, {k1})', P1)} + {P4}::HUGEINT) % {M}")
        )
        h = f"hf{i + 1}"
    fold_cols = ",\n    ".join(f"{expr} AS {name}" for name, expr in fold)
    k1t = mulm(rotl(mulm(word("i + 1"), P2), 31), P1)
    hw = f"({mulm(rotl(f'xor(h, {k1t})', 27), P1)} + {P4}::HUGEINT) % {M}"
    k4 = mulm(word("i + 1", 4), P1)
    h4 = (
        f"CASE WHEN i + 4 <= n THEN "
        f"({mulm(rotl(f'xor(h, {k4})', 23), P2)}"
        f" + {P3}::HUGEINT) % {M} ELSE h END"
    )
    byte_steps = []
    for j in (1, 2, 3):
        b = f"unicode(substr({scol}, i4 + {j}, 1))::HUGEINT"
        byte_steps.append(
            (f"hb{j}",
             f"CASE WHEN i4 + {j} <= n THEN "
             f"{mulm(rotl(f'xor(hb{j - 1}, {mulm(b, P5)})', 11), P1)} "
             f"ELSE hb{j - 1} END")
        )
    byte_cols = ",\n    ".join(f"{expr} AS {name}" for name, expr in byte_steps)
    return f"""
{t}_src AS (SELECT {rid} AS rid, {scol},
  CASE WHEN octet_length(encode({scol})) <> length({scol})
       THEN error('xxh64 oracle: non-ASCII input at rid=' || {rid}::VARCHAR)
       ELSE length({scol}) END AS n FROM {src}),
{t}_st AS (
  SELECT rid, {scol}, n, CAST(0 AS BIGINT) AS done,
         (42::HUGEINT + {P1}::HUGEINT + {P2}::HUGEINT) % {M} AS v1,
         (42::HUGEINT + {P2}::HUGEINT) % {M} AS v2,
         42::HUGEINT AS v3,
         (42::HUGEINT - {P1}::HUGEINT + {M}) % {M} AS v4
  FROM {t}_src WHERE n >= 32
  UNION ALL
  SELECT rid, {scol}, n, done + 32,
         {stripe_round('v1', sw[0])},
         {stripe_round('v2', sw[1])},
         {stripe_round('v3', sw[2])},
         {stripe_round('v4', sw[3])}
  FROM {t}_st WHERE done + 32 <= n),
{t}_stf AS (
  SELECT rid, {scol}, n, done,
         ({rotl('v1', 1)} % {M} + {rotl('v2', 7)} + {rotl('v3', 12)}
          + {rotl('v4', 18)}) % {M} AS hm,
         v1, v2, v3, v4
  FROM {t}_st WHERE done + 32 > n),
{t}_stm AS (
  SELECT rid, {scol}, n, done,
    {fold_cols}
  FROM {t}_stf),
{t}_h0 AS (
  SELECT s.rid, s.{scol}, s.n,
         coalesce(m.done, 0) AS done,
         (coalesce(m.hf4, (42::HUGEINT + {P5}::HUGEINT) % {M}) + s.n) % {M} AS h
  FROM {t}_src s LEFT JOIN {t}_stm m ON m.rid = s.rid),
{t}_wt AS (
  SELECT rid, {scol}, n, done AS i, h FROM {t}_h0
  UNION ALL
  SELECT rid, {scol}, n, i + 8, {hw} FROM {t}_wt WHERE i + 8 <= n),
{t}_wtf AS (SELECT * FROM {t}_wt WHERE i + 8 > n),
{t}_b4 AS (
  SELECT rid, {scol}, n,
         CASE WHEN i + 4 <= n THEN i + 4 ELSE i END AS i4,
         {h4} AS hb0
  FROM {t}_wtf),
{t}_bs AS (
  SELECT rid, {scol}, n, i4,
    {byte_cols}
  FROM {t}_b4),
{t}_f1 AS (SELECT rid, {mulm('xor(hb3, hb3 >> 33)', P2)} AS f1 FROM {t}_bs),
{t}_f2 AS (SELECT rid, {mulm('xor(f1, f1 >> 29)', P3)} AS f2 FROM {t}_f1),
{t}_out AS (
  SELECT rid,
         (CASE WHEN xor(f2, f2 >> 32) >= 9223372036854775808::HUGEINT
               THEN xor(f2, f2 >> 32) - {M}
               ELSE xor(f2, f2 >> 32) END)::BIGINT AS {t}_h
  FROM {t}_f2)
"""


def _xxh64_cte_chain(base_cte: str, steps: list, tag: str) -> str:
    """Chain each step into its own CTE over ``base_cte``; returns the
    CTE fragment text, final CTE named ``{tag}_fin``."""
    frags = []
    prev = base_cte
    for i, (name, expr) in enumerate(steps):
        cur = f"{tag}_fin" if i == len(steps) - 1 else f"{tag}{i}"
        frags.append(f"{cur} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cur
    return ",\n".join(frags)


def _url_leg_sql() -> str:
    """URL-curation replay (extract_urls / url_host / registered_domain /
    domain_filter) on the same planted-URL column the Spark side builds:
    per-doc URL count, first URL's registrable domain (multi-part
    public-suffix and bare-IP branches both exercised by construction),
    and the blocklist survivor count."""
    from tsflex_spark.datapipe.text import _MULTIPART_SUFFIXES, _URL_RE

    url_re = _URL_RE.replace("'", "''")
    host_re = (
        r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^@/?#\s]*@)?([^/:?#\s]+)"
    )
    ip_re = r"^\d{1,3}(\.\d{1,3}){3}$"
    sufs = ", ".join(f"'{s}'" for s in _MULTIPART_SUFFIXES)
    dom_case = (
        f"CASE WHEN regexp_matches(host, '{ip_re}') OR len(labels) <= 2 "
        f"THEN host "
        f"WHEN len(labels) >= 3 AND (labels[-2] || '.' || labels[-1]) IN ({sufs}) "
        f"THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1] "
        f"ELSE labels[-2] || '.' || labels[-1] END"
    )
    return f"""
WITH up AS (
  SELECT doc_id,
         text || ' see https://blog.shop' || (doc_id % 50)
              || '.co.uk/p?x=1 or http://192.168.1.' || (doc_id % 9)
              || '/ ok' AS u
  FROM documents),
ulab AS (
  SELECT doc_id, url,
         string_split_regex(host, '\\.') AS labels, host
  FROM (SELECT doc_id, url,
               lower(regexp_replace(regexp_extract(url, '{host_re}', 1),
                                    '\\.+$', '')) AS host
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(u, '{url_re}', 0)) AS url
              FROM up))),
ur AS (SELECT doc_id, url, {dom_case} AS dom FROM ulab),
un AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_urls FROM ur GROUP BY doc_id),
uk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_urls_kept
       FROM ur WHERE dom NOT IN ('shop7.co.uk', '192.168.1.5')
       GROUP BY doc_id),
uf AS (
  SELECT doc_id, {dom_case} AS first_domain
  FROM (SELECT doc_id,
               string_split_regex(host, '\\.') AS labels, host
        FROM (SELECT doc_id,
                     lower(regexp_replace(
                       regexp_extract(regexp_extract(u, '{url_re}', 0),
                                      '{host_re}', 1), '\\.+$', '')) AS host
              FROM up)))
SELECT un.doc_id, un.n_urls, uf.first_domain,
       coalesce(uk.n_urls_kept, 0) AS n_urls_kept
FROM un JOIN uf USING (doc_id) LEFT JOIN uk USING (doc_id)
"""


def _oracle_dedup_exact() -> str:
    split_chain = _xxh64_cte_chain(
        "base", _xxh64_pmod_steps("sp", "keep_id", 42, "b_split"), "xs"
    )
    samp_chain = _xxh64_cte_chain(
        "xs_fin", _xxh64_pmod_steps("sa", "keep_id", 7, "b_samp"), "xa"
    )
    tmix_chain = _xxh64_cte_chain(
        "xa_fin", _xxh64_pmod_steps("tm", "keep_id", 11, "b_tmix"), "xt"
    )
    return f"""
WITH ex AS (
  SELECT min(doc_id) AS keep_id, count(*) AS n_copies
  FROM documents GROUP BY text),
ln AS (
  SELECT doc_id,
         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
         unnest(string_split(text, chr(10))) AS line
  FROM documents),
kept AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM ln),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean
  FROM kept WHERE rn = 1 GROUP BY doc_id),
base AS (
  SELECT ex.keep_id, ex.n_copies,
         length(coalesce(r.clean, '')) AS n_chars_line_deduped,
         CAST(substr(d.source, 4) AS INT) % 2 AS src_parity,
         d.source AS src
  FROM ex LEFT JOIN rebuilt r ON r.doc_id = ex.keep_id
  JOIN documents d ON d.doc_id = ex.keep_id),
{split_chain},
{samp_chain},
{tmix_chain},
-- temperature_mix alpha=0 replay: w_s = pow(c_s, 0) = 1, max-retention
-- T = min(c_s/w_s), keep_s = least(T*w_s/c_s, 1); Spark's double->long
-- cast TRUNCATES, so the threshold is trunc(), never round()
tm_c AS (SELECT source, CAST(count(*) AS DOUBLE) AS c FROM documents GROUP BY source),
tm_t AS (SELECT min(c / pow(c, 0.0)) AS t FROM tm_c),
tm_k AS (SELECT source, CAST(trunc(least(t * pow(c, 0.0) / c, 1.0) * 1000000) AS BIGINT) AS thr
         FROM tm_c CROSS JOIN tm_t)
SELECT keep_id, n_copies, n_chars_line_deduped,
       CASE WHEN b_split < 800000 THEN 'train'
            WHEN b_split < 900000 THEN 'val' ELSE 'test' END AS split,
       CASE WHEN src_parity = 0 AND b_samp < 300000 THEN 1
            WHEN src_parity = 1 AND b_samp < 700000 THEN 1
            ELSE 0 END AS sampled,
       CASE WHEN b_tmix < tm_k.thr THEN 1 ELSE 0 END AS tmix_kept,
       uleg.n_urls, uleg.first_domain, uleg.n_urls_kept
FROM xt_fin JOIN tm_k ON tm_k.source = xt_fin.src
JOIN ({_url_leg_sql()}) uleg ON uleg.doc_id = xt_fin.keep_id
ORDER BY keep_id
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis ops: char/whitespace-token counts + BPE-ish token
    counts (GPT-2-style word/digit/punct pieces via regexp_extract_all)
    per document — two catalog ops, one gate (driver caps queries() at 50
    entries; same table, same key, merged by doc_id join). Also carries
    the EXACT global p05/p95 length band (utils/distributed
    exact_quantiles: range-partition selection + broadcast cutoffs — the
    curation "trim length outliers" step, never a single-task sort).
    Fourth op in the gate: self-perplexity under a bigram Laplace LM
    (datapipe/lm.py — the CCNet-style LM quality filter; micro-nat
    fixed-point log sums make the per-doc aggregate exact integers).
    Fifth op (round 7): ``text.chunk_documents`` (max_tokens=64,
    overlap=16) — per-doc chunk count plus the chunk-token and re-sliced
    chunk-text char sums, which pin the window arithmetic (ceil/stride/
    last-chunk remainder) AND the slice+concat re-assembly byte-for-byte
    against a SQL replay.

    Sixth op (round 7): interpolated Kneser-Ney perplexity
    (``lm.train_kn_lm`` order 2 + ``score_perplexity_kn``) — trained on
    the corpus, scored on each doc with an out-of-vocabulary token
    appended so the unk floor AND the unseen-context λ=1 fallthrough are
    both exercised, not just the smooth path. The oracle replays the
    full KN stack in SQL: bigram/continuation/context tables, Ney
    discounts D=n1/(n1+2·n2) from count-of-counts, and the bottom-up
    interpolation fold with the engine's exact double parenthesization
    (micro-nat fixed-point sums keep the per-doc aggregate integral).

    Seventh op (round 7): ``text.normalize_unicode`` (NFC) — the gate
    appends decomposed combining sequences (e+́, A+̊, o+̈) to every doc
    and verifies the composed length + tail against DuckDB's
    ``nfc_normalize`` (utf8proc vs the engine's pandas/UCD — both
    implement UAX#15 canonical composition).

    Eighth op (round 7, reworked round 8): ``text.pack_sequences`` in
    its ``deterministic=True`` mode — rows bucket by
    ``pmod(xxhash64(doc_id), 32)``, first-fit-decreasing runs within
    each bucket over ``(count desc, id asc)`` total order, bin id =
    ``bucket << 40 | index``. Bins depend only on the data (any
    parallelism reproduces them), so the gate runs the FULL corpus at
    natural parallelism — the round-7 ``coalesce(1)`` + ``doc_id<2000``
    verification bound is gone. The oracle replays the bucket hash
    (xxh64-long chain) and the per-bucket first-fit loop as a RECURSIVE
    CTE whose state advances all 32 buckets in lockstep (capacity list
    + assignment list per bucket; recursion depth = largest bucket,
    ~n/32; oversize rows get a bin of their own).

    Ninth op (round 7): ``bpe.bpe_encode`` with a FIXED literal merge
    list — the corpus-scale half of the BPE story (training's merge
    LOOP stays driver-side + pytest, exactly like the classifier
    split). The oracle replays encode_word's lowest-rank-leftmost merge
    loop as a recursive CTE over the DISTINCT word vocabulary (rank =
    list_position over the literal merge keys), then sums token counts
    and stable vocab ids per document."""
    docs = _documents(spark, sf_dir)
    from tsflex_spark.datapipe.lm import bigram_rows, score_perplexity, train_ngram_lm
    from tsflex_spark.datapipe.text import text_stats, token_count_bpe_ish

    base = text_stats(docs, "text", id_col="doc_id")
    bpe = token_count_bpe_ish(docs, "text", id_col="doc_id")
    # self-perplexity: train AND score consume the same bigram explode —
    # checkpoint it once instead of exploding the corpus twice
    bg = bigram_rows(docs, "text", "doc_id").localCheckpoint(eager=True)

    # r10: the Laplace-LM chain, the KN chain, and the exact-quantile
    # selection are three independent eager-ish build chains (each ends
    # in internal checkpoints whose stages run at build time under AQE);
    # run them on a small driver pool so their job barriers overlap
    # (guide §2.6) — ~1.5 s less build wall at sf0.1, identical plans.
    # Concurrent first use of the shared bg checkpoint is safe (the
    # block manager locks per-partition computation).
    from tsflex_spark.datapipe.lm import score_perplexity_kn, train_kn_lm
    from tsflex_spark.utils.distributed import _band_cuts

    def _laplace_leg():
        lm = train_ngram_lm(docs, "text", id_col="doc_id", bigrams=bg)
        return score_perplexity(
            docs, lm, "text", id_col="doc_id", broadcast_model=True, bigrams=bg
        )

    def _kn_leg():
        kn = train_kn_lm(
            docs,
            "text",
            id_col="doc_id",
            order=2,
            ngrams=bg.select(
                "doc_id", F.col("w1").alias("g1"), F.col("w2").alias("g2")
            ),
        )
        docs2 = docs.select(
            "doc_id", F.concat(F.col("text"), F.lit(" zzqqunk")).alias("__t2")
        )
        return score_perplexity_kn(
            docs2, kn, "__t2", id_col="doc_id", broadcast_model=True
        ).select(
            "doc_id",
            F.col("n_ngrams").alias("kn_n"),
            F.col("sum_logp_e6").alias("kn_sum_logp_e6"),
            F.col("ppl").alias("kn_ppl"),
        )

    def _cuts_leg():
        # quantiles from a MINIMAL projection straight off the scan —
        # feeding the joined frame would re-execute the whole join once
        # per selection pass (exact_quantiles is two-pass by construction)
        lens = docs.select(F.length("text").alias("n_chars"))
        return _band_cuts(lens, "n_chars", 0.05, 0.95, "p05_chars", "p95_chars")

    with LegPool(3, "text_stats") as leg_pool:
        ppl_fut = leg_pool.submit(_laplace_leg)
        kn_fut = leg_pool.submit(_kn_leg)
        cuts_fut = leg_pool.submit(_cuts_leg)

        out = base.join(bpe, on="doc_id").join(leg_pool.result(ppl_fut), on="doc_id")
        from tsflex_spark.datapipe.text import chunk_documents

        ch = chunk_documents(docs, "text", id_col="doc_id", max_tokens=64, overlap=16)
        cha = ch.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("sum_chunk_tokens"),
            F.sum(F.length("chunk_text")).cast("long").alias("sum_chunk_chars"),
        )
        out = out.join(cha, on="doc_id")
        # KN training consumes the SAME bigram explode the Laplace leg
        # checkpointed above (g-col rename instead of re-exploding the
        # corpus); the chain ran on the background pool started above
        out = out.join(leg_pool.result(kn_fut), on="doc_id")
        from tsflex_spark.datapipe.text import normalize_unicode

        nsrc = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                # DECOMPOSED combining sequences (explicit escapes; a
                # composed literal would make normalization a no-op)
                F.lit(" nfc:e\u0301:A\u030A:o\u0308"),
            ).alias("__nf"),
        )
        nu = normalize_unicode(nsrc, "__nf", out_col="__nfo", form="NFC")
        nleg = nu.select(
            "doc_id",
            F.length("__nfo").cast("long").alias("nfc_chars"),
            F.expr("right(__nfo, 10)").alias("nfc_tail"),
        )
        out = out.join(nleg, on="doc_id")
        from tsflex_spark.datapipe.text import pack_sequences

        sz = docs.select(
            "doc_id",
            (F.length("text").cast("long") * 1000 + F.col("doc_id")).alias("__cnt"),
        )
        packed = pack_sequences(
            sz,
            "__cnt",
            budget=8_000_000,
            deterministic=True,
            id_col="doc_id",
            num_buckets=32,
        )
        pleg = packed.select("doc_id", F.col("bin_id").cast("long").alias("pack_bin"))
        out = out.join(pleg, on="doc_id")
        from tsflex_spark.datapipe.bpe import BPETokenizer, bpe_encode

        btok = BPETokenizer(
            _BPE_GATE_MERGES, lowercase=True, alphabet=_BPE_GATE_ALPHABET
        )
        enc = bpe_encode(docs, "text", "doc_id", btok, out_col="__toks", ids=True)
        bleg = (
            enc.select("doc_id", F.col("n_tokens"), F.explode_outer("__toks").alias("__tid"))
            .groupBy("doc_id")
            .agg(
                F.first("n_tokens").cast("long").alias("bpe_enc_tokens"),
                F.coalesce(F.sum("__tid"), F.lit(0)).cast("long").alias("bpe_enc_id_sum"),
            )
        )
        out = out.join(bleg, on="doc_id")
        # quantile cutoffs from the background pool (see _cuts_leg above)
        out = out.join(F.broadcast(leg_pool.result(cuts_fut)))
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_bpe_tokens",
        "n_bigrams",
        "sum_logp_e6",
        "ppl",
        "n_chunks",
        "sum_chunk_tokens",
        "sum_chunk_chars",
        "kn_n",
        "kn_sum_logp_e6",
        "kn_ppl",
        "nfc_chars",
        "nfc_tail",
        "pack_bin",
        "bpe_enc_tokens",
        "bpe_enc_id_sum",
        "p05_chars",
        "p95_chars",
        (
            (F.col("n_chars") >= F.col("p05_chars"))
            & (F.col("n_chars") <= F.col("p95_chars"))
        ).cast("int").alias("in_band"),
    ).orderBy("doc_id")


def _oracle_text_stats() -> str:
    pack_chain = _xxh64_cte_chain(
        "pit0", _xxh64_long_steps("pk", "doc_id", "bkt", pmod=32), "pbk"
    )
    return rf"""
WITH RECURSIVE s AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]', 0)) AS n_bpe_tokens
  FROM documents),
c AS (
  SELECT quantile_cont(n_chars, 0.05) AS p05_chars,
         quantile_cont(n_chars, 0.95) AS p95_chars
  FROM s),
tk AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
bgf AS (
  SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                     i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
        FROM tk)),
pairs AS (SELECT w1, w2, count(*) AS c FROM bgf GROUP BY w1, w2),
ctx AS (SELECT w1, sum(c) AS cc FROM pairs GROUP BY w1),
voc AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM tk)),
sc AS (
  SELECT bgf.doc_id,
         CAST(round(ln(CAST(coalesce(p.c, 0) + 1 AS DOUBLE)
                       / CAST(coalesce(x.cc, 0) + voc.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp
  FROM bgf
  LEFT JOIN pairs p ON p.w1 = bgf.w1 AND p.w2 = bgf.w2
  LEFT JOIN ctx x ON x.w1 = bgf.w1
  CROSS JOIN voc),
per AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS sum_logp_e6 FROM sc GROUP BY doc_id),
-- chunk_documents(max_tokens=64, overlap=16) replay: stride 48, RAW
-- (non-lowered) whitespace tokens, ceil window count with a floor of 1,
-- 1-based inclusive list_slice re-slicing + single-space re-join
ck AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents),
ckn AS (
  SELECT doc_id, t,
         greatest(CAST(ceil((len(t) - 16) / 48.0) AS BIGINT), 1) AS nc
  FROM ck),
chv AS (
  SELECT doc_id, nc,
         len(list_slice(t, CAST(k * 48 + 1 AS BIGINT), CAST(k * 48 + 64 AS BIGINT))) AS nct,
         length(array_to_string(
           list_slice(t, CAST(k * 48 + 1 AS BIGINT), CAST(k * 48 + 64 AS BIGINT)), ' ')) AS ncc
  FROM (SELECT doc_id, nc, t, unnest(range(0, nc)) AS k FROM ckn)),
cagg AS (
  SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(nct) AS BIGINT) AS sum_chunk_tokens,
         CAST(sum(ncc) AS BIGINT) AS sum_chunk_chars
  FROM chv GROUP BY doc_id),
-- interpolated Kneser-Ney (order 2) replay, scored on text + an OOV
-- token so the unk floor and unseen-context fallthrough both fire.
-- pairs/ctx-equivalents reuse the Laplace CTEs above; `pairs` rows are
-- distinct (w1,w2) so count(*) IS the distinct-left-context count
kn_ctx AS (SELECT w1, CAST(sum(c) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS n1p
           FROM pairs GROUP BY w1),
kn_uni AS (SELECT w2 AS w, count(*) AS cc FROM pairs GROUP BY w2),
kn_con AS (SELECT CAST(sum(cc) AS DOUBLE) AS tot1, CAST(count(*) AS DOUBLE) AS n1p1
           FROM kn_uni),
kn_d AS (
  -- degenerate-count fallback mirrors train_kn_lm: D = 0.5 when n1 = 0
  SELECT (SELECT CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0
                 THEN CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(greatest(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                                  + 2 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END), 1) AS DOUBLE)
                 ELSE 0.5 END
          FROM pairs) AS d2,
         (SELECT CASE WHEN sum(CASE WHEN cc = 1 THEN 1 ELSE 0 END) > 0
                 THEN CAST(sum(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(greatest(sum(CASE WHEN cc = 1 THEN 1 ELSE 0 END)
                                  + 2 * sum(CASE WHEN cc = 2 THEN 1 ELSE 0 END), 1) AS DOUBLE)
                 ELSE 0.5 END
          FROM kn_uni) AS d1),
kn_v AS (SELECT CAST(v + 1 AS DOUBLE) AS v FROM voc),
tk2 AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text || ' zzqqunk', '\s+'),
                                    x -> x <> ''), x -> lower(x)) AS t
  FROM documents),
sg2 AS (
  SELECT doc_id, b['w1'] AS w1, b['w2'] AS w2
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                     i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
        FROM tk2)),
kn_lp AS (
  SELECT sg2.doc_id,
         CAST(round(ln(
           CASE WHEN kx.tot IS NOT NULL AND kx.tot > 0
                THEN greatest(CAST(coalesce(p.c, 0) AS DOUBLE) - kd.d2, 0.0) / kx.tot
                     + (kd.d2 * kx.n1p / kx.tot)
                       * (greatest(CAST(coalesce(ku.cc, 0) AS DOUBLE) - kd.d1, 0.0) / kc.tot1
                          + (kd.d1 * kc.n1p1 / kc.tot1) * (1.0 / kv.v))
                ELSE greatest(CAST(coalesce(ku.cc, 0) AS DOUBLE) - kd.d1, 0.0) / kc.tot1
                     + (kd.d1 * kc.n1p1 / kc.tot1) * (1.0 / kv.v)
           END) * 1000000.0) AS BIGINT) AS lp
  FROM sg2
  LEFT JOIN pairs p ON p.w1 = sg2.w1 AND p.w2 = sg2.w2
  LEFT JOIN kn_ctx kx ON kx.w1 = sg2.w1
  LEFT JOIN kn_uni ku ON ku.w = sg2.w2
  CROSS JOIN kn_d kd CROSS JOIN kn_con kc CROSS JOIN kn_v kv),
kn_per AS (SELECT doc_id, count(*) AS kn_n, CAST(sum(lp) AS BIGINT) AS kn_sum
           FROM kn_lp GROUP BY doc_id),
-- normalize_unicode(NFC) replay: decomposed combining sequences planted
-- (chr codes 769/778/776 = the same U+0301/U+030A/U+0308 the engine
-- appends), composed by DuckDB's utf8proc nfc_normalize
nfc AS (
  SELECT doc_id,
         nfc_normalize(text || ' nfc:e' || chr(769) || ':A' || chr(778)
                       || ':o' || chr(776)) AS t2
  FROM documents),
-- pack_sequences(deterministic=True) replay: bucket by
-- pmod(xxhash64(doc_id), 32) (xxh64-long chain below), then first-fit-
-- decreasing per bucket over (cnt DESC, doc_id) total order as a
-- recursion whose state advances all buckets in lockstep (caps =
-- per-bin remaining capacity, outb = 0-based assignment per rank;
-- DuckDB list_position returns 0, not NULL, on no fit). Bin id =
-- (bucket << 40) + index — exactly the engine's offset scheme.
pit0 AS (
  SELECT doc_id, length(text) * 1000 + doc_id AS cnt FROM documents),
{pack_chain},
pitems AS (
  SELECT doc_id, cnt, bkt,
         row_number() OVER (PARTITION BY bkt ORDER BY cnt DESC, doc_id) AS rn
  FROM pbk_fin),
pnb AS (SELECT bkt, count(*) AS n FROM pitems GROUP BY bkt),
ppk AS (
  SELECT bkt, CAST(0 AS BIGINT) AS i,
         CAST([] AS BIGINT[]) AS caps,
         CAST([] AS BIGINT[]) AS outb
  FROM pnb
  UNION ALL
  SELECT s.bkt, s.i + 1,
         CASE WHEN s.pos = 0
              THEN list_append(s.caps, greatest(8000000 - s.cnt, 0))
              ELSE list_transform(range(1, len(s.caps) + 1),
                     k -> CASE WHEN k = s.pos THEN s.caps[k] - s.cnt
                               ELSE s.caps[k] END)
         END,
         list_append(s.outb,
           CASE WHEN s.pos = 0 THEN len(s.caps) ELSE s.pos - 1 END)
  FROM (SELECT ppk.bkt, ppk.i, ppk.caps, ppk.outb, it.cnt,
               list_position(list_transform(ppk.caps, c -> c >= it.cnt),
                             true) AS pos
        FROM ppk JOIN pitems it
          ON it.bkt = ppk.bkt AND it.rn = ppk.i + 1) s),
ppack AS (
  SELECT it.doc_id, (it.bkt << 40) + pf.outb[it.rn] AS pack_bin
  FROM pitems it
  JOIN (SELECT ppk.bkt, ppk.outb FROM ppk
        JOIN pnb ON pnb.bkt = ppk.bkt WHERE ppk.i = pnb.n) pf
    ON pf.bkt = it.bkt)
SELECT s.doc_id, s.n_chars, s.n_tokens, s.n_bpe_tokens,
       coalesce(per.n_bigrams, 0) AS n_bigrams,
       CAST(coalesce(per.sum_logp_e6, 0) AS BIGINT) AS sum_logp_e6,
       round(exp(-(CAST(per.sum_logp_e6 AS DOUBLE) / 1e6) / per.n_bigrams), 6) AS ppl,
       cagg.n_chunks, cagg.sum_chunk_tokens, cagg.sum_chunk_chars,
       CAST(coalesce(kn_per.kn_n, 0) AS BIGINT) AS kn_n,
       CAST(coalesce(kn_per.kn_sum, 0) AS BIGINT) AS kn_sum_logp_e6,
       round(exp(-(CAST(kn_per.kn_sum AS DOUBLE) / 1e6) / kn_per.kn_n), 6) AS kn_ppl,
       CAST(length(nfc.t2) AS BIGINT) AS nfc_chars,
       right(nfc.t2, 10) AS nfc_tail,
       ppack.pack_bin,
       bpe.bpe_enc_tokens, bpe.bpe_enc_id_sum,
       c.p05_chars, c.p95_chars,
       CAST(s.n_chars >= c.p05_chars AND s.n_chars <= c.p95_chars AS INT) AS in_band
FROM s CROSS JOIN c LEFT JOIN per ON per.doc_id = s.doc_id
JOIN cagg ON cagg.doc_id = s.doc_id
LEFT JOIN kn_per ON kn_per.doc_id = s.doc_id
JOIN nfc ON nfc.doc_id = s.doc_id
JOIN ppack ON ppack.doc_id = s.doc_id
JOIN (__BPE_LEG__) bpe ON bpe.doc_id = s.doc_id
ORDER BY s.doc_id
""".replace("__BPE_LEG__", _bpe_leg_sql())


def _quality_features(docs: DataFrame) -> DataFrame:
    return quality_score(docs, "text", id_col="doc_id")


def _language_ids(docs: DataFrame) -> DataFrame:
    return language_id(docs, "text", id_col="doc_id")


def _repetition_features(docs: DataFrame) -> DataFrame:
    return repetition_stats(docs, "text", id_col="doc_id")


def _dsir_buckets(docs: DataFrame) -> DataFrame:
    """The ONE corpus gram pass (per-doc hashed bucket counts), checkpointed.
    It feeds both the log-ratio fit (raw side) and the per-doc weights.
    Checkpoint-free, the fit consumed the gram exchange from inside a
    BROADCAST subtree that AQE materializes on a separate thread, so
    stage-cache dedup was a race and a REST profile caught the gram pass
    executing TWICE; the checkpoint (n_docs x 64 rows) makes the single
    pass deterministic."""
    return hashed_buckets(docs, "text", "doc_id", 64).localCheckpoint(eager=True)


def _dsir_weights(docs: DataFrame, dbk: DataFrame) -> DataFrame:
    target = docs.where(F.col("doc_id") % 10 == 0).select("text")
    lr = fit_bucket_logratio(
        target, docs.select("text"), "text", num_buckets=64, raw_buckets=dbk
    )
    return importance_weights(
        docs, lr, "text", id_col="doc_id", num_buckets=64, buckets=dbk
    ).select(
        "doc_id",
        F.col("n_grams").alias("dsir_n_grams"),
        F.col("logw_e6").alias("dsir_logw_e6"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality features (SURVEY north-star): length / word-length /
    punct / digit / upper / stopword ratios + composite score — pure
    codegen expressions, no Python. Also carries the heuristic language-ID
    (argmax of per-language stopword hits over {en,de,fr,es,nl}, 'und'
    when nothing matches) and the Gopher-style repetition filters
    (dup-line / dup-line-char / top-2gram / top-3gram fractions) — three
    catalog ops, one gate (50-entry cap).

    Fourth op (round 7): ``text.redact_pii`` — the gate plants one
    synthetic email + IPv4 + SSN per doc (identically constructed on
    both sides, so natural-text matches are mirrored too) and verifies
    the per-doc match COUNT and the redacted-text LENGTH after the
    sequential email→ssn→ipv4→cc16 replace chain. The ``phone`` pattern
    is excluded here (its negative lookbehind is Java-regex-only — RE2/
    DuckDB can't replay it; covered by pytest instead).

    Fifth op (round 7): DSIR importance weights (Xie et al. 2023 —
    ``dsir.importance_weights`` over a doc_id%10==0 target slice,
    num_buckets=64): per-doc hashed unigram+bigram counts × the smoothed
    bucket log-ratio, exact micro-nat integers. The oracle replays the
    WHOLE chain — Spark xxhash64 over every distinct gram STRING (the
    recursive-CTE XXH64 replay), bucket histograms for target and raw,
    the alpha-smoothed ln(p/q) table, and the per-doc Σ c·lr_e6."""
    docs = _documents(spark, sf_dir)
    from tsflex_spark.datapipe.text import redact_pii

    # the DSIR gram-pass checkpoint builds on a background thread,
    # submitted BEFORE the other legs' plan construction so the py4j
    # build below overlaps the pass (guide §2.6)
    with LegPool(1, "quality_dsir") as dsir_pool:
        dbk_fut = dsir_pool.submit(lambda: _dsir_buckets(docs))
        q = _quality_features(docs)
        lang = _language_ids(docs)
        rep = _repetition_features(docs)
        pii_src = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" reach me at user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or 192.168."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7, SSN 123-45-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ).alias("__txt"),
        )
        red = redact_pii(
            pii_src,
            "__txt",
            out_col="__red",
            kinds=("email", "ssn", "ipv4", "cc16"),
            count_col="pii_count",
        ).select(
            "doc_id",
            F.col("pii_count").cast("long").alias("pii_count"),
            F.length("__red").cast("long").alias("n_chars_redacted"),
        )
        dbk = dsir_pool.result(dbk_fut)
    return (
        q.join(lang, on="doc_id")
        .join(rep, on="doc_id")
        .join(red, on="doc_id")
        .join(_dsir_weights(docs, dbk), on="doc_id")
        .orderBy("doc_id")
    )


def _oracle_quality_score() -> str:
    stop = "['the','a','an','and','or','of','to','in','is','it','that','was','for','on','are','as','with','at','be','this']"
    dsir_chain = _xxh64_str_cte("dvoc2", "rid", "gram", "dx")
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents),
d AS (
  SELECT doc_id, n_chars, toks,
         CAST(len(toks) AS DOUBLE) AS n_tokens,
         greatest(n_chars, 1.0) AS safe_chars,
         greatest(CAST(len(toks) AS DOUBLE), 1.0) AS safe_toks,
         CAST(n_chars - length(regexp_replace(text, '[\\.,;:!\\?''"]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digit,
         CAST(n_chars - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS n_upper,
         CAST(len(list_distinct(list_intersect(list_transform(toks, x -> lower(x)), {stop}))) AS DOUBLE) AS n_stop,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS mean_word_len
  FROM t)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       mean_word_len,
       n_punct / safe_chars AS punct_ratio,
       n_digit / safe_chars AS digit_ratio,
       n_upper / safe_chars AS upper_ratio,
       n_stop / safe_toks AS stopword_ratio,
       (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END
        + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END
        + CASE WHEN n_digit / safe_chars < 0.2 THEN 0.25 ELSE 0.0 END
        + CASE WHEN n_stop / safe_toks > 0.0 THEN 0.25 ELSE 0.0 END) AS quality_score,
       {_lang_pred_sql()} AS lang_pred,
       r.dup_line_frac, r.dup_line_char_frac, r.top_2gram_frac, r.top_3gram_frac,
       p.pii_count, p.n_chars_redacted,
       CAST(coalesce(dper.dsir_n_grams, 0) AS BIGINT) AS dsir_n_grams,
       CAST(coalesce(dper.dsir_logw_e6, 0) AS BIGINT) AS dsir_logw_e6
FROM d JOIN ({_repetition_sql()}) r USING (doc_id)
JOIN ({_redact_pii_sql()}) p USING (doc_id)
LEFT JOIN ({_dsir_sql(dsir_chain)}) dper USING (doc_id)
ORDER BY doc_id
"""


def _dsir_sql(chain: str) -> str:
    """DSIR importance-weights replay (Xie et al.): hashed unigram+bigram
    buckets (Spark xxhash64 over each DISTINCT gram string — the
    recursive-CTE XXH64 replay — joined back to occurrences), target =
    doc_id%10==0 slice, alpha=1 smoothed ln(p/q) in micro-nats, per-doc
    exact-integer Σ c·lr_e6. Mirrors ``dsir._hashed_buckets`` /
    ``fit_bucket_logratio`` / ``importance_weights`` at num_buckets=64."""
    return rf"""
WITH RECURSIVE dt AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
                        x -> lower(x)) AS t
  FROM documents),
dg AS (
  SELECT doc_id, gram FROM (
    SELECT doc_id, unnest(t) AS gram FROM dt
    UNION ALL
    SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram
    FROM (SELECT doc_id, t,
                 unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
          FROM dt))),
dvoc2 AS (
  SELECT gram, row_number() OVER (ORDER BY gram) AS rid
  FROM (SELECT DISTINCT gram FROM dg)),
{chain},
dbkt AS (
  SELECT v.gram, ((dx_h % 64) + 64) % 64 AS bucket
  FROM dvoc2 v JOIN dx_out o ON o.rid = v.rid),
dcnt AS (
  SELECT dg.doc_id, b.bucket, count(*) AS c
  FROM dg JOIN dbkt b USING (gram) GROUP BY dg.doc_id, b.bucket),
dtc AS (
  SELECT bucket,
         sum(CASE WHEN doc_id % 10 = 0 THEN c ELSE 0 END) AS tc,
         sum(c) AS rc
  FROM dcnt GROUP BY bucket),
dtot AS (SELECT CAST(sum(tc) AS DOUBLE) AS tt, CAST(sum(rc) AS DOUBLE) AS rt FROM dtc),
dlr AS (
  SELECT bucket,
         CAST(round((ln((CAST(tc AS DOUBLE) + 1.0) / (tt + 1.0 * 64))
                   - ln((CAST(rc AS DOUBLE) + 1.0) / (rt + 1.0 * 64)))
                    * 1000000.0) AS BIGINT) AS lr_e6
  FROM dtc CROSS JOIN dtot)
SELECT dcnt.doc_id,
       CAST(sum(c) AS BIGINT) AS dsir_n_grams,
       CAST(sum(c * lr_e6) AS BIGINT) AS dsir_logw_e6
FROM dcnt JOIN dlr USING (bucket) GROUP BY dcnt.doc_id
"""


def _redact_pii_sql() -> str:
    """redact_pii replay (email→ssn→ipv4→cc16 sequential replace chain +
    match count over the ORIGINAL text) on the same planted-PII column
    the Spark side builds. Patterns are verbatim from
    ``datapipe.text._PII_PATTERNS`` minus the lookbehind-bearing phone
    rule (RE2 has no lookbehind)."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ssn = r"\b\d{3}-\d{2}-\d{4}\b"
    ipv4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
    cc16 = r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b"
    return rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(txt, '{email}', 0))
          + len(regexp_extract_all(txt, '{ssn}', 0))
          + len(regexp_extract_all(txt, '{ipv4}', 0))
          + len(regexp_extract_all(txt, '{cc16}', 0)) AS BIGINT) AS pii_count,
       CAST(length(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(txt, '{email}', '<EMAIL>', 'g'),
               '{ssn}', '<SSN>', 'g'),
             '{ipv4}', '<IP>', 'g'),
           '{cc16}', '<CC>', 'g')) AS BIGINT) AS n_chars_redacted
FROM (
  SELECT doc_id,
         text || ' reach me at user' || doc_id || '@mail.example.com or 192.168.'
              || (doc_id % 256) || '.7, SSN 123-45-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
  FROM documents)
"""


def _repetition_sql() -> str:
    """Gopher repetition filters (mirror of datapipe.text.repetition_stats):
    trimmed non-empty lines + word 2/3-grams, duplicate and top-frequency
    fractions as exact int/int double divisions."""
    return r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lns
  FROM documents),
g AS (
  SELECT doc_id, 'line' AS kind, unnest(lns) AS gram FROM tk
  UNION ALL
  SELECT doc_id, 'g2' AS kind,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                               i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM tk
  UNION ALL
  SELECT doc_id, 'g3' AS kind,
         unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
  FROM tk),
per AS (SELECT doc_id, kind, gram, count(*) AS c FROM g GROUP BY doc_id, kind, gram),
st AS (
  SELECT doc_id, kind,
         sum(c) AS tot,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
         max(c) AS mx,
         sum(c * length(gram)) AS totw,
         sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS dupw
  FROM per GROUP BY doc_id, kind)
SELECT d.doc_id,
       CASE WHEN coalesce(l.tot, 0) > 0
            THEN CAST(l.dup AS DOUBLE) / CAST(l.tot AS DOUBLE) ELSE 0.0 END AS dup_line_frac,
       CASE WHEN coalesce(l.totw, 0) > 0
            THEN CAST(l.dupw AS DOUBLE) / CAST(l.totw AS DOUBLE) ELSE 0.0 END AS dup_line_char_frac,
       CASE WHEN coalesce(b2.tot, 0) > 0
            THEN CAST(b2.mx AS DOUBLE) / CAST(b2.tot AS DOUBLE) ELSE 0.0 END AS top_2gram_frac,
       CASE WHEN coalesce(b3.tot, 0) > 0
            THEN CAST(b3.mx AS DOUBLE) / CAST(b3.tot AS DOUBLE) ELSE 0.0 END AS top_3gram_frac
FROM documents d
LEFT JOIN st l  ON l.doc_id = d.doc_id AND l.kind = 'line'
LEFT JOIN st b2 ON b2.doc_id = d.doc_id AND b2.kind = 'g2'
LEFT JOIN st b3 ON b3.doc_id = d.doc_id AND b3.kind = 'g3'
"""


def _lang_pred_sql() -> str:
    """Scalar language-ID expression over ``toks`` (mirror of
    datapipe.text._LANG_MARKERS; argmax = lexicographic max over
    (hits, lang) structs — matches Spark's array_max struct ordering)."""
    markers = {
        "en": "['the','and','of','to','is']",
        "de": "['der','die','und','ist','nicht']",
        "fr": "['le','la','les','est','et']",
        "es": "['el','los','es','una','que']",
        "nl": "['de','het','een','en','van']",
    }
    structs = ", ".join(
        f"{{'hits': len(list_filter(list_transform(toks, x -> lower(x)), "
        f"x -> list_contains({m}, x))), 'lang': '{lang}'}}"
        for lang, m in markers.items()
    )
    return (
        f"(CASE WHEN list_sort([{structs}])[-1].hits > 0 "
        f"THEN list_sort([{structs}])[-1].lang ELSE 'und' END)"
    )


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (SURVEY north-star): 64-bit content hash of
    normalized text. Round 7: no longer just a group-structure check —
    the oracle recomputes Spark's ``xxhash64`` over every FULL normalized
    document (arbitrary length, ``_xxh64_str_cte``'s recursive-CTE XXH64
    stripes+tails) and the xor/min/max of the actual fingerprint VALUES
    must match bit-for-bit (the xor flips on any single-bit error in any
    document's hash)."""
    docs = _documents(spark, sf_dir)
    from tsflex_spark.datapipe.text import fingerprint

    fp = fingerprint(docs, "text", id_col="doc_id")
    agg = fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fingerprint").alias("n_unique"),
        F.expr("bit_xor(fingerprint)").alias("fp_xor"),
        F.min("fingerprint").alias("fp_min"),
        F.max("fingerprint").alias("fp_max"),
    )
    # rolling-hash (Rabin–Karp) winnowing fingerprints — arithmetic hash,
    # so DuckDB recomputes the exact values (unlike xxhash64 sketches).
    # Round 7: the MOSS pairing stage (winnow_candidates: fp equi-self-
    # join, >= 2 shared fps) is verified too, via its pair count + the
    # xor of its pair keys (order-free, flips on any pair difference)
    from tsflex_spark.datapipe.text import winnow_candidates, winnow_fingerprints

    wf = winnow_fingerprints(docs, "text", id_col="doc_id", k=5, window=4)
    wf = wf.localCheckpoint(eager=True)  # feeds the distinct count AND the pairing
    n_win = wf.select(F.explode("fps").alias("f")).agg(
        F.count_distinct("f").alias("n_winnow")
    )
    wc = winnow_candidates(
        docs, "text", id_col="doc_id", min_shared=2, fps=wf, max_doc_freq=20
    ).agg(
        F.count(F.lit(1)).alias("n_winnow_pairs"),
        F.coalesce(
            F.expr("bit_xor(id_a * 1048576 + id_b)"), F.lit(0)
        ).alias("winnow_pair_xor"),
    )
    n_win = n_win.join(F.broadcast(wc))
    # utils/ml_metrics.binary_auc verified against the same Mann-Whitney
    # rank computation in SQL (label = doc_id parity, score = n_chars —
    # the VALUE checks the tie-handling rank math, not a model)
    from tsflex_spark.utils.ml_metrics import binary_auc_frame

    # r10: the AUC rides the plan as a broadcast 1-row frame instead of
    # a blocking driver collect at build time (identical double — the
    # lazy frame replays binary_auc's scalar derivation in the same
    # arithmetic order; guide §5 no collects in query paths)
    auc_df = binary_auc_frame(
        docs.select(
            (F.col("doc_id") % 2).cast("double").alias("label"),
            F.col("n_chars").cast("double").alias("score"),
        ),
        "label",
        "score",
        out_col="auc_parity",
    )
    return agg.crossJoin(n_win).crossJoin(F.broadcast(auc_df))


def _oracle_fingerprint_dedup() -> str:
    # winnowing mirror: h(i) = Σ_j code[i+j]·257^(4-j) mod 1e9+7 (mod once
    # at the end ≡ the engine's mod-each-step fold), window-4 minima,
    # corpus-level distinct count; fp leg = full-document xxhash64 replay
    B, M, k, w = 257, 1_000_000_007, 5, 4
    pows = [pow(B, k - 1 - j, M) for j in range(k)]
    gram = " + ".join(f"codes[i+{j}] * {pows[j]}" for j in range(k))
    mins = ", ".join(f"hs[i+{j}]" for j in range(w))
    fp_chain = _xxh64_str_cte("nrm", "doc_id", "t", "fx")
    return rf"""
WITH RECURSIVE nrm AS (
  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
{fp_chain},
c AS (
  SELECT doc_id,
         list_transform(range(1, length(t) + 1),
                        i -> CAST(unicode(substr(t, CAST(i AS INT), 1)) AS BIGINT)) AS codes,
         length(t) AS len
  FROM nrm),
h AS (
  SELECT doc_id,
         CASE WHEN len >= {k}
              THEN list_transform(range(1, len - {k} + 2), i -> ({gram}) % {M})
              ELSE [] END AS hs
  FROM c),
wnw AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= {w}
              THEN list_transform(range(1, len(hs) - {w} + 2), i -> least({mins}))
              ELSE [] END AS fps
  FROM h),
u AS (SELECT DISTINCT unnest(fps) AS f FROM wnw),
-- MOSS pairing: docs sharing >= 2 winnow fps (fp equi-self-join),
-- boilerplate fps (doc-frequency > 20) excluded before the join —
-- the same cap the engine applies (max_doc_freq=20)
wrows0 AS (SELECT DISTINCT doc_id, f
           FROM (SELECT doc_id, unnest(fps) AS f FROM wnw)),
wkeep AS (SELECT f FROM wrows0 GROUP BY f HAVING count(*) <= 20),
wrows AS (SELECT doc_id, f FROM wrows0 JOIN wkeep USING (f)),
wpair AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM wrows a JOIN wrows b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2),
-- Mann-Whitney AUC with average tie ranks: per distinct score, rows
-- strictly below + (n+1)/2 (identical derivation to utils/ml_metrics)
auc_ps AS (
  SELECT CAST(n_chars AS DOUBLE) AS s,
         count(*) AS n,
         sum(CAST(doc_id % 2 AS DOUBLE)) AS np
  FROM documents GROUP BY 1),
auc_rk AS (
  SELECT s, n, np,
         CAST(coalesce(sum(n) OVER (ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
           + (n + 1) / 2.0 AS r
  FROM auc_ps),
auc_v AS (
  SELECT (sum(np * r) - sum(np) * (sum(np) + 1) / 2.0)
           / (sum(np) * sum(n - np)) AS auc
  FROM auc_rk)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       (SELECT count(DISTINCT lower(regexp_replace(text, '\s+', ' ', 'g')))
        FROM documents) AS n_unique,
       (SELECT bit_xor(fx_h) FROM fx_out) AS fp_xor,
       (SELECT min(fx_h) FROM fx_out) AS fp_min,
       (SELECT max(fx_h) FROM fx_out) AS fp_max,
       (SELECT count(*) FROM u) AS n_winnow,
       (SELECT count(*) FROM wpair) AS n_winnow_pairs,
       (SELECT coalesce(bit_xor(id_a * 1048576 + id_b), 0) FROM wpair)
         AS winnow_pair_xor,
       (SELECT auc FROM auc_v) AS auc_parity
"""


def _consecutive_jaccard(docs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact 5-shingle Jaccard of the pairs (2i, 2i+1). prune=False: the
    pairs touch EVERY doc, so the involved-docs semi-join would keep
    100% of the shingle table."""
    pairs = docs.select(F.col("doc_id").alias("id_a")).where(
        F.col("id_a") % 2 == 0
    ).withColumn("id_b", F.col("id_a") + 1)
    pairs = pairs.join(
        docs.select(F.col("doc_id").alias("id_b")), on="id_b", how="left_semi"
    )
    return ngram_jaccard(
        docs, pairs, "text", id_col="doc_id", shingles=sh, prune=False
    ).withColumn("kind", F.lit("consec"))


def _fuzzy_pairs(docs: DataFrame) -> DataFrame:
    """Exact-recall ``fuzzy_join`` at threshold 0.5 between the even and
    odd docs of the doc_id<200 slice. The slice is shingled directly so
    the predicate stays at the parquet scan, where filtering the
    checkpointed CORPUS shingle table would scan all ~10M (id, hash) rows
    twice to keep 4% of them (measured: 1.9 s -> 0.4 s at sf0.1)."""
    small = docs.where(F.col("doc_id") < 200)
    left = small.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id_a"), "text"
    )
    right = small.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("id_b"), "text"
    )
    small_sh = shingle_rows(small, "text", "doc_id")
    lsh = small_sh.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id_a"), "__s"
    )
    rsh = small_sh.where(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("id_b"), "__s"
    )
    return fuzzy_join(
        left, right, "text", "id_a", "id_b", threshold=0.5, shingle_k=5,
        method="exact", left_shingles=lsh, right_shingles=rsh,
    ).withColumn("kind", F.lit("fuzzy"))


def _edit_scores(docs: DataFrame, consec: DataFrame, fuzzy: DataFrame) -> DataFrame:
    """Levenshtein similarity over 128-char prefixes of EVERY pair of both
    legs."""
    return edit_similarity(
        consec.unionByName(fuzzy), docs, "text", "doc_id", prefix_len=128
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (5-shingle) Jaccard similarity on consecutive-doc pairs
    (SURVEY north-star near-dup verification stage), fused (round 7) with
    ``dedup.fuzzy_join(method="exact")`` — cross-table record linkage on
    a bounded doc_id<200 slice split by id parity (the bound keeps the
    oracle's all-pairs cross tractable; the engine side is the same
    shingle-intersection join that scales by hash keys). Both legs share
    one checkpointed corpus shingle table; the exact-recall fuzzy pairs
    at threshold 0.5 are hash-compared pair-for-pair against a DuckDB
    all-pairs replay.

    Third op (round 7): ``dedup.edit_similarity`` — unit-cost
    Levenshtein verify over 128-char normalized prefixes on EVERY pair
    of both legs (the record-linkage complement to shingle Jaccard:
    transpositions and in-word edits priced exactly). Integer distance
    and a single exact division make the similarity bit-identical to
    DuckDB's ``levenshtein`` replay. Round 8: prefix 256→128 (the DP is
    O(prefix²) per pair and the oracle replays the same bound — 4× less
    work, identical verification semantics), and the fuzzy leg shingles
    its 200-doc slice directly (parquet doc_id pushdown) instead of
    filtering the 10M-row corpus shingle checkpoint twice."""
    docs = _documents(spark, sf_dir)
    out = _edit_scores(
        docs, _consecutive_jaccard(docs, _corpus_shingles(docs)), _fuzzy_pairs(docs)
    )
    return out.coalesce(1).orderBy("kind", "id_a", "id_b")


def _oracle_ngram_jaccard() -> str:
    return r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(length(n) - 4, 1) + 1),
             i -> substr(n, i::INT, 5))) AS s
  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS n FROM documents)),
p AS (SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 2 = 0),
consec AS (
  SELECT 'consec' AS kind, p.id_a, p.id_b,
         CAST(len(list_distinct(list_intersect(sa.s, sb.s))) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) AS jaccard
  FROM p JOIN sh sa ON sa.doc_id = p.id_a JOIN sh sb ON sb.doc_id = p.id_b),
-- fuzzy_join(method='exact') replay: bounded doc_id<200 parity split,
-- jaccard = |A∩B| / (|A| + |B| - |A∩B|) over distinct-shingle sets —
-- the engine's i/(na+nb-i) form verbatim so the doubles are identical
fz AS (
  SELECT 'fuzzy' AS kind, a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
  FROM sh a CROSS JOIN sh b
  WHERE a.doc_id < 200 AND a.doc_id % 2 = 0
    AND b.doc_id < 200 AND b.doc_id % 2 = 1
    AND len(list_intersect(a.s, b.s)) > 0),
unioned AS (
  SELECT * FROM consec
  UNION ALL
  SELECT * FROM fz WHERE jaccard >= 0.5),
-- edit_similarity replay: unit-cost Levenshtein over 128-char
-- normalized prefixes (the engine passes prefix_len=128 — same bound
-- both sides); integer distance, one exact division
lev AS (
  SELECT doc_id,
         substr(lower(regexp_replace(text, '\s+', ' ', 'g')), 1, 128) AS nt
  FROM documents),
withd AS (
  SELECT u.*, levenshtein(la.nt, lb.nt) AS d,
         greatest(length(la.nt), length(lb.nt)) AS mx
  FROM unioned u
  JOIN lev la ON la.doc_id = u.id_a
  JOIN lev lb ON lb.doc_id = u.id_b)
SELECT kind, id_a, id_b, jaccard,
       CAST(d AS BIGINT) AS edit_dist,
       CASE WHEN mx = 0 THEN 1.0
            ELSE 1.0 - CAST(d AS DOUBLE) / CAST(mx AS DOUBLE) END AS edit_sim
FROM withd
ORDER BY kind, id_a, id_b
"""


def _span_tokens(docs: DataFrame) -> DataFrame:
    """The checkpointed whitespace tokenize: one corpus regex pass shared
    by the span positions and top_ngrams (tokens= reuse)."""
    return (
        fan_out(docs)
        .select("doc_id", _tokens(F.lower(F.col("text"))).alias("__t"))
        .localCheckpoint(eager=True)
    )


def _span_positions(docs: DataFrame, tok: DataFrame) -> DataFrame:
    """The checkpointed (id, pos, gram-hash) table: span detection AND
    removal both consume it (halves the dominant scan)."""
    return span_gram_rows(docs, "text", "doc_id", n=8, tokens=tok).localCheckpoint(
        eager=True
    )


def _span_rows(docs: DataFrame, pos_rows: DataFrame) -> DataFrame:
    spans = duplicate_spans(
        docs, "text", id_col="doc_id", n=8, min_occurrences=2,
        positions=pos_rows,
    )
    return spans.select(
        F.lit("span").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.lit(None).cast("string").alias("ngram"),
        F.lit(None).cast("long").alias("n_occ"),
        F.lit(None).cast("double").alias("val"),
    )


def _top_ngram_rows(docs: DataFrame, tok: DataFrame) -> DataFrame:
    tn = top_ngrams(docs, n=3, k=50, text_col="text", min_count=2, tokens=tok)
    return tn.select(
        F.lit("ngram").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("span_start"),
        F.lit(None).cast("long").alias("span_end"),
        F.lit(None).cast("long").alias("n_grams"),
        F.col("ngram"),
        F.col("count").cast("long").alias("n_occ"),
        F.lit(None).cast("double").alias("val"),
    )


def _hash_embed_rows(docs: DataFrame) -> DataFrame:
    he = hash_embed(docs, "text", id_col="doc_id", dim=16, ngram=3)
    return he.select(
        "doc_id", F.posexplode("embedding").alias("j", "val")
    ).select(
        F.lit("hembed").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("j").cast("long").alias("span_start"),
        F.lit(None).cast("long").alias("span_end"),
        F.lit(None).cast("long").alias("n_grams"),
        F.lit(None).cast("string").alias("ngram"),
        F.lit(None).cast("long").alias("n_occ"),
        F.col("val"),
    )


def _despan_rows(docs: DataFrame, pos_rows: DataFrame) -> DataFrame:
    """The REMOVAL half of passage dedup — keep-one canonical occurrence,
    non-canonical spans cut, text rebuilt. n_grams carries the kept-token
    count, n_occ the rebuilt length."""
    rds = remove_duplicate_spans(
        docs, "text", id_col="doc_id", n=8, out_col="__rb", positions=pos_rows
    )
    return rds.select(
        F.lit("despan").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("span_start"),
        F.lit(None).cast("long").alias("span_end"),
        F.size(F.split(F.col("__rb"), " ")).cast("long").alias("n_grams"),
        F.lit(None).cast("string").alias("ngram"),
        F.length("__rb").cast("long").alias("n_occ"),
        F.lit(None).cast("double").alias("val"),
    )


def q_passage_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup signal (Lee et al. 2022 ExactSubstr, reshaped
    for Spark: ``dedup.duplicate_spans`` — maximal token spans whose every
    8-gram occurs >= 2x in the corpus) UNION'd with the corpus-wide
    boilerplate discovery table (``text.top_ngrams`` top-50 3-grams) —
    two corpus-pattern ops, one gate (50-entry board cap). The span
    engine groups on ``xxhash64(gram)``; the oracle groups on the gram
    STRING — bit-equality of the result proves the hash bucketing is a
    faithful stand-in for string equality (no collision at test scale)
    and that the island/window math matches SQL gaps-and-islands.
    ``top_ngrams`` ties are broken by (count desc, ngram asc) on both
    sides so the LIMIT boundary is deterministic.

    Third block (kind='hembed'): ``text.hash_embed`` (dim=16, char
    3-grams) — every per-doc embedding coordinate hash-compared. The
    oracle replays Spark's ``xxhash64`` over UTF-8 STRING bytes in pure
    SQL (``_xxh64_gram_steps``: the XXH64 byte-tail rounds unrolled —
    the string specialization the long/int CTE chains couldn't reach),
    so bucket assignment, ±1 sign hashing, and L2 normalization are all
    engine-independent. Exact despite floats: the bucket sums are
    integers, their squares sum exactly in doubles, and sqrt + divide
    are correctly rounded — so the coordinates are bit-identical with
    no rounding tolerance."""
    docs = _documents(spark, sf_dir)
    tok = _span_tokens(docs)
    pos_rows = _span_positions(docs, tok)
    sp = _span_rows(docs, pos_rows)
    ng = _top_ngram_rows(docs, tok)
    hrows = _hash_embed_rows(docs)
    dsp = _despan_rows(docs, pos_rows)
    # fifth block (round 9): BPE TRAINING behind a hash check — the
    # driver-side merge loop (bpe.train_bpe) runs on a planted
    # micro-corpus (the Sennrich et al. 2016 running example: low x5,
    # lower x2, newest x6, widest x3) whose word-frequency table is
    # computed DISTRIBUTED (word_frequencies); the learned merge
    # sequence and a probe-word encoding are emitted as rows, and the
    # oracle carries the expected sequence as literals derived from an
    # independent reference implementation of the paper's Algorithm 1
    # (see NOTES_DEV round-9 ledger). Any drift in pair counting,
    # tie-breaking (max freq, ties -> lexicographically largest pair)
    # or the encode loop's lowest-rank-leftmost rule flips a row.
    from tsflex_spark.datapipe.bpe import train_bpe

    from tsflex_spark.utils.data import local_rows_df

    # local_rows_df: JVM-local literal frames (a list createDataFrame is
    # a 32-partition Python-RDD — every consumption pays per-partition
    # Python-worker round trips; see utils.data.local_rows_df)
    micro = local_rows_df(
        spark,
        [(("low " * 5) + ("lower " * 2) + ("newest " * 6) + ("widest " * 3),)],
        "text string",
    )
    btok = train_bpe(micro, "text", num_merges=10)
    bpe_rows = [
        ("bpe_merge", i, f"{a} {b}") for i, (a, b) in enumerate(btok.merges)
    ] + [("bpe_tok", i, t) for i, t in enumerate(btok.encode_word("lowest"))]
    bdf = local_rows_df(
        spark, bpe_rows, "kind string, doc_id long, ngram string"
    ).select(
        "kind",
        "doc_id",
        F.lit(None).cast("long").alias("span_start"),
        F.lit(None).cast("long").alias("span_end"),
        F.lit(None).cast("long").alias("n_grams"),
        "ngram",
        F.lit(None).cast("long").alias("n_occ"),
        F.lit(None).cast("double").alias("val"),
    )
    return (
        sp.unionByName(ng)
        .unionByName(hrows)
        .unionByName(dsp)
        .unionByName(bdf)
        .coalesce(1).orderBy("kind", "doc_id", "span_start", "ngram")
    )


def _oracle_passage_spans() -> str:
    # span leg: token 8-grams (positions 0-based), grams occurring >= 2x
    # corpus-wide, gaps-and-islands per doc (pos - row_number); ngram leg:
    # corpus top-50 3-grams with count >= 2, (count desc, ngram) order;
    # hembed leg: xxhash64-over-string replay (char 3-grams, dim 16)
    he_chain = _xxh64_cte_chain("hg", _xxh64_gram_steps("he", "g", 16), "hx")
    return rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents),
g8 AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(t, i, i + 7), ' ') AS gram
  FROM (SELECT doc_id, t,
               unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i
        FROM tk)),
dup AS (SELECT gram FROM g8 GROUP BY gram HAVING count(*) >= 2),
flagged AS (SELECT doc_id, pos FROM g8 JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM flagged),
spans AS (
  SELECT 'span' AS kind, doc_id,
         min(pos) AS span_start, max(pos) + 7 AS span_end,
         count(*) AS n_grams,
         CAST(NULL AS VARCHAR) AS ngram, CAST(NULL AS BIGINT) AS n_occ,
         CAST(NULL AS DOUBLE) AS val
  FROM isl GROUP BY doc_id, grp),
g3 AS (
  SELECT array_to_string(list_slice(t, i, i + 2), ' ') AS gram
  FROM (SELECT t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
        FROM tk)
  WHERE array_to_string(list_slice(t, i, i + 2), ' ') <> ''),
topn AS (
  SELECT 'ngram' AS kind, CAST(NULL AS BIGINT) AS doc_id,
         CAST(NULL AS BIGINT) AS span_start, CAST(NULL AS BIGINT) AS span_end,
         CAST(NULL AS BIGINT) AS n_grams,
         gram AS ngram, count(*) AS n_occ,
         CAST(NULL AS DOUBLE) AS val
  FROM g3 GROUP BY gram HAVING count(*) >= 2
  ORDER BY count(*) DESC, gram LIMIT 50),
-- hash_embed replay: char 3-grams (with multiplicity) of the lowered
-- whitespace-collapsed text; per gram the unrolled XXH64-string chain
-- gives bucket + sign; integer bucket sums -> exact L2 normalize
hn AS (
  SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS n
  FROM documents),
hg AS (
  SELECT doc_id, substr(n, i::INT, 3) AS g
  FROM (SELECT doc_id, n,
               unnest(range(1, greatest(length(n) - 2, 1) + 1)) AS i
        FROM hn)),
{he_chain},
hsum AS (
  SELECT doc_id, he_bucket AS j, CAST(sum(he_sign) AS BIGINT) AS s
  FROM hx_fin GROUP BY doc_id, he_bucket),
hq AS (SELECT doc_id, sum(s * s) AS q FROM hsum GROUP BY doc_id),
hdim AS (
  SELECT d.doc_id, r.range AS j
  FROM (SELECT DISTINCT doc_id FROM documents) d CROSS JOIN range(16) r),
hemb AS (
  SELECT 'hembed' AS kind, hd.doc_id,
         hd.j AS span_start, CAST(NULL AS BIGINT) AS span_end,
         CAST(NULL AS BIGINT) AS n_grams,
         CAST(NULL AS VARCHAR) AS ngram, CAST(NULL AS BIGINT) AS n_occ,
         CAST(coalesce(hs.s, 0) AS DOUBLE)
           / (CASE WHEN hq.q = 0 THEN 1.0 ELSE sqrt(CAST(hq.q AS DOUBLE)) END)
           AS val
  FROM hdim hd
  LEFT JOIN hsum hs ON hs.doc_id = hd.doc_id AND hs.j = hd.j
  JOIN hq ON hq.doc_id = hd.doc_id),
-- remove_duplicate_spans replay (keep-one): canonical = min (doc, pos)
-- composite (pos << 2^20 bound), non-canonical islands cut, text
-- rebuilt by single-space join of surviving tokens
rd_keep AS (
  SELECT gram, min(doc_id * 1048576 + pos) AS kk, count(*) AS c
  FROM g8 GROUP BY gram),
rd_flag AS (
  SELECT g8.doc_id, g8.pos
  FROM g8 JOIN rd_keep k USING (gram)
  WHERE k.c >= 2 AND g8.doc_id * 1048576 + g8.pos <> k.kk),
rd_isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM rd_flag),
rd_spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
  FROM rd_isl GROUP BY doc_id, grp),
rd_tokens AS (
  SELECT doc_id, i - 1 AS idx, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tk)),
rd_kept AS (
  SELECT tt.doc_id, tt.idx, tt.tok
  FROM rd_tokens tt
  WHERE NOT EXISTS (SELECT 1 FROM rd_spans sp
                    WHERE sp.doc_id = tt.doc_id
                      AND tt.idx BETWEEN sp.s AND sp.e)),
rd_rb AS (
  SELECT d.doc_id, coalesce(string_agg(k.tok, ' ' ORDER BY k.idx), '') AS rb
  FROM documents d LEFT JOIN rd_kept k ON k.doc_id = d.doc_id
  GROUP BY d.doc_id),
despan AS (
  SELECT 'despan' AS kind, doc_id,
         CAST(NULL AS BIGINT) AS span_start, CAST(NULL AS BIGINT) AS span_end,
         CAST(len(string_split(rb, ' ')) AS BIGINT) AS n_grams,
         CAST(NULL AS VARCHAR) AS ngram,
         CAST(length(rb) AS BIGINT) AS n_occ,
         CAST(NULL AS DOUBLE) AS val
  FROM rd_rb),
-- BPE training replay: expected merge sequence + probe encoding for the
-- planted micro-corpus {{low:5, lower:2, newest:6, widest:3}}, derived
-- from an INDEPENDENT reference implementation of Sennrich et al. 2016
-- Algorithm 1 (get_stats/merge_vocab as in the paper's pseudocode; ties
-- at equal frequency -> lexicographically largest pair, the engine's
-- documented contract) and hand-checked merge-by-merge
bpe AS (
  SELECT kind, CAST(doc_id AS BIGINT) AS doc_id,
         CAST(NULL AS BIGINT) AS span_start, CAST(NULL AS BIGINT) AS span_end,
         CAST(NULL AS BIGINT) AS n_grams, ngram,
         CAST(NULL AS BIGINT) AS n_occ, CAST(NULL AS DOUBLE) AS val
  FROM (VALUES
    ('bpe_merge', 0, 't </w>'), ('bpe_merge', 1, 's t</w>'),
    ('bpe_merge', 2, 'e st</w>'), ('bpe_merge', 3, 'o w'),
    ('bpe_merge', 4, 'l ow'), ('bpe_merge', 5, 'w est</w>'),
    ('bpe_merge', 6, 'n e'), ('bpe_merge', 7, 'ne west</w>'),
    ('bpe_merge', 8, 'low </w>'), ('bpe_merge', 9, 'w i'),
    ('bpe_tok', 0, 'low'), ('bpe_tok', 1, 'est</w>')
  ) AS t(kind, doc_id, ngram))
SELECT * FROM spans
UNION ALL
SELECT * FROM topn
UNION ALL
SELECT * FROM hemb
UNION ALL
SELECT * FROM despan
UNION ALL
SELECT * FROM bpe
ORDER BY kind, doc_id, span_start, ngram
"""


# fixed query for the bm25 leg of cosine_topk (terms from the synthetic
# documents vocabulary; inlined into BOTH the Spark plan and the oracle)
BM25_GATE_QUERY = "data table query"
_BM25_K1, _BM25_B = 1.2, 0.75


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 against the vec_id=0 embedding
    (SURVEY north-star similarity search). Per-partition heap top-k —
    no global sort."""
    _utc(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from pyspark.sql import Window

    from tsflex_spark.datapipe.similarity import knn_join

    # r10: each leg below starts with an eager driver fetch (knn_join
    # collects its bounded query side; bm25 collects its df table;
    # pca_train its moments) — independent chains, so they run on a
    # small driver pool and their fetch jobs overlap (guide §2.6).
    # brute leg rides the same knn_join BLAS kernel as the batch leg
    # (one Arrow matmul per corpus partition + per-partition partial
    # top-k) — no interpreted zip_with/aggregate lambda anywhere in the
    # gate's plan (the HOF path measured ~20x slower per element)
    def _brute_leg():
        q1 = emb.where(F.col("vec_id") == 0).select(
            F.lit(0).cast("long").alias("q_id"), "embedding"
        )
        return knn_join(emb.where(F.col("vec_id") != 0), q1, k=10).select(
            F.lit("brute").alias("method"), "q_id", "vec_id", "cosine", "rank"
        )

    # exact KNN JOIN: top-5 corpus neighbors for EVERY query in a 5-query
    # table at once (map-only corpus scan + BLAS partial top-k per
    # partition) — the batch retrieval-set builder
    def _knn_leg():
        qs = emb.where(F.col("vec_id") <= 4).select(
            F.col("vec_id").alias("q_id"), F.col("embedding")
        )
        return knn_join(
            emb.where(F.col("vec_id") > 4), qs, k=5, q_id_col="q_id"
        ).select(F.lit("knn").alias("method"), "q_id", "vec_id", "cosine", "rank")

    with LegPool(2, "cosine_topk") as leg_pool:
        brute_fut = leg_pool.submit(_brute_leg)
        knn_fut = leg_pool.submit(_knn_leg)
        # PCA isometry leg: full-rank (k = d) PCA is an orthonormal rotation
        # of the centered space, so euclidean top-10 in PCA coordinates MUST
        # equal euclidean top-10 on the raw vectors (DuckDB computes the
        # latter). Gates pca_train's moment reduction + eigh + pca_transform's
        # projection end-to-end on ids/ranks (cosine emitted NULL — pca-space
        # distances differ from raw by rotation float dust, ids don't).
        from tsflex_spark.datapipe.embedding import pca_train, pca_transform

        dim = len(emb.select("embedding").first()["embedding"])
        model = pca_train(emb, k=dim)
        proj = pca_transform(emb, model, out_col="p")
        # euclidean knn_join in PCA coordinates: same BLAS kernel, expanded
        # ||q||² − 2·Q·Cᵀ + ||c||² form; ranks (not distances) are gated, so
        # rotation/expansion float dust is immaterial
        qp1 = proj.where(F.col("vec_id") == 0).select(
            F.lit(0).cast("long").alias("q_id"), F.col("p").alias("embedding")
        )
        pca_top = knn_join(
            proj.where(F.col("vec_id") != 0).select("vec_id", F.col("p").alias("embedding")),
            qp1,
            k=10,
            metric="euclidean",
        ).select(
            F.lit("pca64").alias("method"),
            "q_id",
            "vec_id",
            F.lit(None).cast("double").alias("cosine"),
            "rank",
        )
        # BM25 leg: lexical retrieval over documents (datapipe/retrieval).
        # idf literals come from python libm log on exact integer (N, df) —
        # DuckDB's ln on the same doubles is the same libm, and every other
        # operand (tf, dl, avgdl) is integer-exact, so the double scores are
        # bit-equal; micro-rounding to 1e-6 on both sides removes any last-ulp
        # risk before the (score, id) ordering.
        from tsflex_spark.datapipe.retrieval import bm25_score

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        bm = bm25_score(
            docs, BM25_GATE_QUERY, text_col="text", id_col="doc_id",
            k1=_BM25_K1, b=_BM25_B,
        )
        bm = bm.select(
            F.col("doc_id").alias("vec_id"),
            (F.round(F.col("bm25") * 1e6)).cast("long").alias("s_e6"),
        )
        bm_top = (
            bm.orderBy(F.col("s_e6").desc(), F.col("vec_id"))
            .limit(10)
            .select(
                F.lit("bm25").alias("method"),
                F.lit(0).cast("long").alias("q_id"),
                "vec_id",
                (F.col("s_e6").cast("double") / F.lit(1e6)).alias("cosine"),
                F.row_number()
                .over(Window.orderBy(F.col("s_e6").desc(), F.col("vec_id")))
                .alias("rank"),
            )
        )
        brute = leg_pool.result(brute_fut)
        knn = leg_pool.result(knn_fut)
    return (
        brute.unionByName(knn)
        .unionByName(pca_top)
        .unionByName(bm_top)
        .coalesce(1).orderBy("method", "q_id", "rank")
    )


def _oracle_cosine_topk() -> str:
    return """
WITH q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_reduce(list_transform(range(1, len(e.embedding) + 1),
                     i -> e.embedding[i]::DOUBLE * q.q_vec[i]::DOUBLE),
                     (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(q.q_vec, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0),
brute AS (
  SELECT 'brute' AS method, CAST(0 AS BIGINT) AS q_id, vec_id, cosine,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS "rank"
  FROM s ORDER BY cosine DESC, vec_id LIMIT 10),
s2 AS (
  SELECT qq.vec_id AS q_id, e.vec_id,
         list_reduce(list_transform(range(1, len(e.embedding) + 1),
                     i -> e.embedding[i]::DOUBLE * qq.embedding[i]::DOUBLE),
                     (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))
            * sqrt(list_reduce(list_transform(qq.embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b))) AS cosine
  FROM embeddings e CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id <= 4) qq
  WHERE e.vec_id > 4),
knn AS (
  SELECT 'knn' AS method, q_id, vec_id, cosine,
         CAST(rnk AS INT) AS "rank"
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
        FROM s2)
  WHERE rnk <= 5),
pd2 AS (
  SELECT e.vec_id,
         list_reduce(list_transform(range(1, len(e.embedding) + 1),
                     i -> (e.embedding[i]::DOUBLE - q.q_vec[i]::DOUBLE)
                        * (e.embedding[i]::DOUBLE - q.q_vec[i]::DOUBLE)),
                     (a, b) -> a + b) AS d2
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0),
pca AS (
  SELECT 'pca64' AS method, CAST(0 AS BIGINT) AS q_id, vec_id,
         CAST(NULL AS DOUBLE) AS cosine,
         CAST(row_number() OVER (ORDER BY d2 ASC, vec_id) AS INT) AS "rank"
  FROM pd2 ORDER BY d2 ASC, vec_id LIMIT 10),
""" + _bm25_oracle_ctes() + """
SELECT * FROM brute UNION ALL SELECT * FROM knn
UNION ALL SELECT * FROM pca UNION ALL SELECT * FROM bm25
ORDER BY method, q_id, "rank"
"""


def _bm25_oracle_ctes() -> str:
    """bm25 leg CTEs: token-identical arithmetic to retrieval.bm25_score
    (same left-assoc order, same double literals; idf computed by DuckDB's
    libm ln on the same exact integer (N, df) inputs that the Spark side
    feeds python's libm log — see the q_cosine_topk docstring)."""
    from tsflex_spark.datapipe.retrieval import tokenize_query

    terms = list(dict.fromkeys(tokenize_query(BM25_GATE_QUERY)))
    k1, b = _BM25_K1, _BM25_B
    toks = "list_filter(string_split_regex(lower(text), '[^0-9A-Za-z]+'), x -> x <> '')"
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN list_contains(t, '{t}') THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i, t in enumerate(terms)
    )
    tf_cols = ", ".join(
        f"CAST(len(t) - len(list_filter(t, x -> x <> '{t_}')) AS DOUBLE) AS tf{i}"
        for i, t_ in enumerate(terms)
    )
    norm = f"{k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl)"
    score_terms = " + ".join(
        f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * {k1 + 1.0!r} / (tf{i} + {norm})"
        for i in range(len(terms))
    )
    return f"""
bt AS (SELECT doc_id, {toks} AS t FROM documents),
bmn AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(CAST(len(t) AS DOUBLE)) AS avgdl, {df_cols} FROM bt),
bms AS (
  SELECT doc_id,
         CAST(round((0.0 + {score_terms}) * 1e6) AS BIGINT) AS s_e6
  FROM (SELECT doc_id, {tf_cols}, CAST(len(t) AS DOUBLE) AS dl FROM bt)
  CROSS JOIN bmn),
bm25 AS (
  SELECT 'bm25' AS method, CAST(0 AS BIGINT) AS q_id,
         doc_id AS vec_id, CAST(s_e6 AS DOUBLE) / 1e6 AS cosine,
         CAST(row_number() OVER (ORDER BY s_e6 DESC, doc_id) AS INT) AS "rank"
  FROM bms ORDER BY s_e6 DESC, doc_id LIMIT 10)"""


def q_ann_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-model family in one gate (driver caps queries() at
    50) — both ANN scale paths plus distributed k-means, FULLY
    oracle-checked by gating verifiable invariants instead of a
    rows-only count:

    - ``lsh``: top-10 via random-hyperplane LSH buckets with multi-probe
      (hamming <= 2). The hyperplanes depend only on the seed, so the
      ORACLE replays the whole algorithm (signature bits, hamming probe,
      exact-cosine re-rank) in SQL with the plane matrix inlined as
      literals — the LSH answer is approximate w.r.t. the true top-10
      but exactly deterministic as an algorithm.
    - ``ivf_all``: the IVF machinery (seeded driver-side Lloyd quantizer,
      Arrow-BLAS cell assignment, cell-probe filter, exact cosine
      re-rank) probed over ALL nlist cells. Cells partition the corpus,
      so nprobe=nlist must reproduce the EXACT top-10 — the partition-
      completeness invariant (a doc lost or double-assigned by the
      quantizer breaks the hash match). The pruned nprobe<nlist path is
      covered by pytest recall tests.
    """
    _utc(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from pyspark.sql import Window

    from tsflex_spark.datapipe.similarity import ivf_topk, lsh_bucket_topk

    base = emb.where(F.col("vec_id") != 0)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_vec"))
    lsh = lsh_bucket_topk(
        base, q, k=10, num_planes=_ANN_PLANES, dim=_ANN_DIM, probe_hamming=2
    )
    # r11: ONE driver fetch feeds the ivf/pq query vector (vec_id 0), the
    # k-means init AND the PQ codebook — previously the query vector was
    # its own blocking first() job before the codebook toPandas (two
    # serial build-time driver jobs; guide §5 driver round trips).
    import numpy as np
    import pandas as pd

    _n_head = max(_KM_K, _PQ_KSUB)
    head_pd = (
        emb.where(F.col("vec_id") == 0)
        .select("vec_id", "embedding")
        .unionByName(
            base.select("vec_id", "embedding").orderBy("vec_id").limit(_n_head)
        )
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    # the query row must lead the fetch, or qv silently becomes the
    # smallest base vector and the codebook loses its first row
    if int(head_pd["vec_id"].iloc[0]) != 0:
        raise ValueError("embeddings.parquet has no query row vec_id 0")
    qv = [float(x) for x in head_pd["embedding"].iloc[0]]
    cb_pd = head_pd.iloc[1:].reset_index(drop=True)
    ivf = ivf_topk(base, qv, k=10, nlist=16, nprobe=16)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    lsh = lsh.select(
        F.lit("lsh").alias("method"), "vec_id",
        F.col("cosine").alias("metric"),
        F.row_number().over(w).alias("rank"),
    )
    ivf = ivf.select(
        F.lit("ivf_all").alias("method"), "vec_id",
        F.col("cosine").alias("metric"),
        F.row_number().over(w).alias("rank"),
    )
    # third leg (round 7): distributed Lloyd k-means, oracle-verified by
    # replaying the SAME 5 fixed iterations in SQL. Deterministic init =
    # the k smallest vec_ids (init_centroids skips the RNG-based D²
    # seeding, which SQL cannot replay); per-cluster squared centroid
    # norm + fresh-assignment count, plus a corpus inertia row — exact
    # verification of the iterative update, empty-cell keep-old rule,
    # and argmin tie-break (first index).
    from tsflex_spark.datapipe.embedding import kmeans_fit

    # r10: ONE driver fetch feeds both the k-means init (first _KM_K
    # rows) and the PQ codebook below (first _PQ_KSUB rows) — the two
    # limits were separate toPandas jobs (r11 folded the query-vector
    # first() into the same fetch, see head_pd above); and the whole
    # k-means leg (5 sequential Lloyd collects + the assignment scan)
    # runs from a second driver thread so its iteration barriers overlap
    # the lsh/ivf/pq plan construction (guide §2.6). Joined via
    # km_pool.result(km_fut) before the union.
    C0 = np.asarray(cb_pd["embedding"].head(_KM_K).tolist(), dtype="float64")

    def _kmeans_leg():
        C, _ = kmeans_fit(
            base, _KM_K, "embedding", iters=_KM_ITERS, tol=0.0, init_centroids=C0
        )

        def assign(batches):
            norms = (C**2).sum(1)
            cnt = np.zeros(len(C), dtype="int64")
            sse = 0.0
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.asarray(pdf["embedding"].tolist(), dtype="float64")
                d2 = -2.0 * (X @ C.T) + norms[None, :]
                a = d2.argmin(1)
                cnt_local = np.bincount(a, minlength=len(C))
                cnt += cnt_local
                sse += float((d2[np.arange(len(X)), a] + (X * X).sum(1)).sum())
            yield pd.DataFrame(
                {
                    "cid": np.arange(len(C)),
                    "cnt": cnt,
                    "sse": [sse] + [0.0] * (len(C) - 1),
                }
            )

        parts = (
            base.select("embedding")
            .mapInPandas(assign, "cid int, cnt long, sse double")
            .groupBy("cid")
            .agg(F.sum("cnt").alias("cnt"), F.sum("sse").alias("sse"))
            .collect()
        )
        counts = {int(r["cid"]): int(r["cnt"]) for r in parts}
        inertia = float(sum(r["sse"] for r in parts))
        rows = [
            ("kmeans", j, float((C[j] ** 2).sum()), counts.get(j, 0))
            for j in range(_KM_K)
        ]
        rows.append(("kmeans_inertia", -1, inertia, sum(counts.values())))
        from tsflex_spark.utils.data import local_rows_df

        return local_rows_df(
            spark, rows, "method string, vec_id long, metric double, rank int"
        )

    with LegPool(1, "ann_kmeans") as km_pool:
        km_fut = km_pool.submit(_kmeans_leg)
        # pq / ivfpq legs (round 10, r9 verdict task 4): the PQ/ADC search
        # surface promoted from pytest-only to hash legs. The codebook is
        # PLANTED deterministically from the corpus itself — subspace s's
        # centroids are the s-th subvectors of the _PQ_KSUB smallest vec_ids
        # (the kmeans-init precedent: skips pq_train's RNG-seeded Lloyd,
        # which SQL cannot replay; _lloyd itself is the same family the
        # kmeans leg's CTE fuzz covers) — so the oracle replays codebook
        # construction, per-subspace assignment (argmin -2·x·c + ||c||²,
        # first-index tie-break), the ADC distance table, IVF cell probing,
        # and the top-k end-to-end from the parquet rows alone. Four legs:
        #   pq          — ADC top-10 over the full corpus (pq_assign +
        #                 pq_search through the real Arrow-BLAS UDFs)
        #   pq_codes    — corpus-wide weighted checksum of EVERY PQ code
        #                 (one flipped assignment anywhere changes it)
        #   ivfpq       — the composed plan: coarse cells prune to
        #                 nprobe/nlist, ADC scans the remainder
        #   ivfpq_cells — corpus-wide sum of cell assignments + count
        from tsflex_spark.datapipe.similarity import (
            IVFIndex,
            PQCodebook,
            ivf_assign,
            ivfpq_search,
            pq_assign,
            pq_search,
        )

        # codebook rows come from the single driver fetch above (first
        # _PQ_KSUB of the max(_KM_K, _PQ_KSUB) rows — same frame, same order)
        Xcb = np.asarray(
            cb_pd["embedding"].head(_PQ_KSUB).tolist(), dtype="float64"
        )
        dsub = _ANN_DIM // _PQ_M
        cb = PQCodebook(
            np.stack([Xcb[:, s * dsub : (s + 1) * dsub] for s in range(_PQ_M)])
        )
        ivf_idx = IVFIndex(Xcb[:_IVFPQ_NLIST])
        # one encode pass feeds all four legs (pq_code + __cell side by side)
        enc = ivf_assign(pq_assign(base, cb), ivf_idx).localCheckpoint(eager=True)
        wpq = Window.orderBy(F.col("approx_dist").asc(), F.col("vec_id"))
        pqrows = pq_search(enc, cb, qv, k=10).select(
            F.lit("pq").alias("method"),
            "vec_id",
            F.col("approx_dist").alias("metric"),
            F.row_number().over(wpq).alias("rank"),
        )
        ipqrows = ivfpq_search(
            enc, ivf_idx, cb, qv, k=10, nprobe=_IVFPQ_NPROBE
        ).select(
            F.lit("ivfpq").alias("method"),
            "vec_id",
            F.col("approx_dist").alias("metric"),
            F.row_number().over(wpq).alias("rank"),
        )
        pqchk = (
            enc.select("__cell", F.posexplode("pq_code").alias("s", "c"))
            .agg(
                F.sum((F.col("s") + 1) * F.col("c")).alias("m"),
                F.count(F.lit(1)).alias("n"),
                # each cell appears m times per vector in this exploded view —
                # divide back out so the sum is over vectors, not code slots
                (F.sum("__cell") / _PQ_M).alias("cs"),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit("pq_codes").alias("method"),
                            F.lit(-1).cast("long").alias("vec_id"),
                            F.col("m").cast("double").alias("metric"),
                            F.col("n").cast("int").alias("rank"),
                        ),
                        F.struct(
                            F.lit("ivfpq_cells").alias("method"),
                            F.lit(-1).cast("long").alias("vec_id"),
                            F.col("cs").cast("double").alias("metric"),
                            (F.col("n") / _PQ_M).cast("int").alias("rank"),
                        ),
                    )
                ).alias("r")
            )
            .select("r.*")
        )
        km = km_pool.result(km_fut)
    return (
        lsh.unionByName(ivf)
        .unionByName(km)
        .unionByName(pqrows)
        .unionByName(ipqrows)
        .unionByName(pqchk)
        .coalesce(1).orderBy("method", "rank", "vec_id")
    )


_ANN_PLANES = 8
_ANN_DIM = 64  # embeddings.parquet dim at every driver SF
_KM_K = 4
_KM_ITERS = 5
_PQ_M = 4  # PQ subspaces (dsub = 16)
_PQ_KSUB = 8  # planted codebook size (vec_ids 1.._PQ_KSUB)
_IVFPQ_NLIST = 4  # planted coarse cells (first rows of the codebook)
_IVFPQ_NPROBE = 2


def _kmeans_cte_chain(k: int = None, iters: int = None) -> str:
    """CTE fragment replaying datapipe/embedding.kmeans_fit's Lloyd loop
    (fixed ``_KM_ITERS`` iterations, k = ``_KM_K``, init = the k
    smallest vec_ids) over ``embeddings`` rows with vec_id != 0.
    Identical derivations to the engine: assignment by
    ``argmin(-2·x·c + ||c||²)`` with first-index tie-break, centroid
    update = per-dimension mean of assigned points, empty cells keep
    their previous centroid. MATERIALIZED throughout — each iteration
    references the previous centroids twice. ``k``/``iters`` default to
    the gate constants; the fuzz suite passes its own (with a DuckDB
    view named ``embeddings`` over random vectors)."""
    k = _KM_K if k is None else int(k)
    iters = _KM_ITERS if iters is None else int(iters)
    frags = [
        "ke AS MATERIALIZED (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, "
        "list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(embedding, x -> CAST(x AS DOUBLE))) AS xx "
        "FROM embeddings WHERE vec_id <> 0)",
        f"kc0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 "
        f"AS INT) AS cid, v AS c FROM (SELECT vec_id, v FROM ke "
        f"ORDER BY vec_id LIMIT {k}))",
    ]
    for i in range(1, iters + 1):
        p = f"kc{i - 1}"
        frags.append(
            f"ka{i} AS MATERIALIZED (SELECT vec_id, v, xx, cid, d2 FROM ("
            f"SELECT e.vec_id, e.v, e.xx, c.cid, "
            f"-2 * list_inner_product(e.v, c.c) + list_inner_product(c.c, c.c) AS d2, "
            f"row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            f"-2 * list_inner_product(e.v, c.c) + list_inner_product(c.c, c.c), c.cid"
            f") AS rn FROM ke e CROSS JOIN {p} c) WHERE rn = 1)"
        )
        frags.append(
            f"kc{i} AS MATERIALIZED (SELECT p.cid, coalesce(nw.c, p.c) AS c "
            f"FROM {p} p LEFT JOIN ("
            f"SELECT cid, list(sx / n ORDER BY di) AS c FROM ("
            f"SELECT cid, di, sum(vx) AS sx, count(*) AS n FROM ("
            f"SELECT cid, unnest(v) AS vx, generate_subscripts(v, 1) AS di "
            f"FROM ka{i}) GROUP BY cid, di) GROUP BY cid) nw USING (cid))"
        )
    # fresh final assignment over the returned centroids (same pass the
    # gate runs engine-side for counts + inertia)
    frags.append(
        f"kaf AS MATERIALIZED (SELECT vec_id, xx, cid, d2 FROM ("
        f"SELECT e.vec_id, e.xx, c.cid, "
        f"-2 * list_inner_product(e.v, c.c) + list_inner_product(c.c, c.c) AS d2, "
        f"row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        f"-2 * list_inner_product(e.v, c.c) + list_inner_product(c.c, c.c), c.cid"
        f") AS rn FROM ke e CROSS JOIN kc{iters} c) WHERE rn = 1)"
    )
    frags.append(
        "kcnt AS MATERIALIZED (SELECT cid, count(*) AS n, sum(d2 + xx) AS sse "
        "FROM kaf GROUP BY cid)"
    )
    frags.append(
        f"km AS (SELECT 'kmeans' AS method, CAST(c.cid AS BIGINT) AS vec_id, "
        f"list_inner_product(c.c, c.c) AS metric, "
        f"CAST(coalesce(f.n, 0) AS INT) AS \"rank\" "
        f"FROM kc{iters} c LEFT JOIN kcnt f USING (cid) "
        f"UNION ALL SELECT 'kmeans_inertia', -1, "
        f"(SELECT sum(sse) FROM kcnt), "
        f"CAST((SELECT sum(n) FROM kcnt) AS INT))"
    )
    return ",\n".join(frags)


def _oracle_ann_methods() -> str:
    """Replays the LSH algorithm in SQL (plane literals from the same
    seeded generator the engine uses) and the exact top-10 for the
    all-cells IVF invariant."""
    from tsflex_spark.datapipe.similarity import _plane_signs

    signs = _plane_signs(_ANN_PLANES, _ANN_DIM, seed=7)
    def sig_expr(vec: str) -> str:
        bits = []
        for p, plane in enumerate(signs):
            lits = ", ".join(f"{v:.1f}" for v in plane)
            proj = (
                f"list_reduce(list_transform(range(1, {_ANN_DIM} + 1), "
                f"i -> {vec}[i]::DOUBLE * ([{lits}])[i]), (a, b) -> a + b)"
            )
            bits.append(f"(CASE WHEN {proj} > 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)")
        return " + ".join(bits)

    cos = (
        "list_reduce(list_transform(range(1, len(e.embedding) + 1), "
        "i -> e.embedding[i]::DOUBLE * q.q_vec[i]::DOUBLE), (a, b) -> a + b) "
        "/ (sqrt(list_reduce(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b)) "
        "* sqrt(list_reduce(list_transform(q.q_vec, x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b)))"
    )
    # PQ/ADC replay (r10): planted codebook = subvectors of the _PQ_KSUB
    # smallest vec_ids; assignment = argmin(-2 x·c + ||c||², first-index
    # tie-break); ADC table entry (s,j) = ||q_s - c_{s,j}||² expanded as
    # cc - 2qc + qq (engine sums ((c-q)²) directly — same double to
    # ~1e-13, inside the gate's 1e-6 rounding); probe = _IVFPQ_NPROBE
    # nearest coarse cells (the q·q offset cancels in the ordering).
    ds = _ANN_DIM // _PQ_M
    subs = ", ".join(f"({s})" for s in range(_PQ_M))
    pq_cte = f"""
pcb AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        ORDER BY vec_id LIMIT {_PQ_KSUB})),
psub AS MATERIALIZED (
  SELECT s.s, c.j, list_slice(c.v, s.s * {ds} + 1, s.s * {ds} + {ds}) AS cv
  FROM pcb c CROSS JOIN (VALUES {subs}) s(s)),
pvec AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id <> 0),
pq AS MATERIALIZED (SELECT vec_id, s, j FROM (
  SELECT e.vec_id, c.s, c.j, row_number() OVER (PARTITION BY e.vec_id, c.s
    ORDER BY -2 * list_inner_product(
               list_slice(e.v, c.s * {ds} + 1, c.s * {ds} + {ds}), c.cv)
             + list_inner_product(c.cv, c.cv), c.j) AS rn
  FROM pvec e CROSS JOIN psub c) WHERE rn = 1),
pcell AS MATERIALIZED (SELECT vec_id, cell FROM (
  SELECT e.vec_id, c.j AS cell, row_number() OVER (PARTITION BY e.vec_id
    ORDER BY -2 * list_inner_product(e.v, c.v)
             + list_inner_product(c.v, c.v), c.j) AS rn
  FROM pvec e CROSS JOIN (SELECT j, v FROM pcb WHERE j < {_IVFPQ_NLIST}) c)
  WHERE rn = 1),
pqv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id = 0),
ptab AS MATERIALIZED (
  SELECT c.s, c.j,
         list_inner_product(c.cv, c.cv)
         - 2 * list_inner_product(
                 list_slice(q.v, c.s * {ds} + 1, c.s * {ds} + {ds}), c.cv)
         + list_inner_product(
             list_slice(q.v, c.s * {ds} + 1, c.s * {ds} + {ds}),
             list_slice(q.v, c.s * {ds} + 1, c.s * {ds} + {ds})) AS d2
  FROM psub c CROSS JOIN pqv q),
pdist AS MATERIALIZED (
  -- ORDER BY s pins the 4-term accumulation order: equal-coded vectors
  -- then get BIT-identical dists, so top-k ties fall through to the
  -- vec_id tie-break exactly as the engine's (unordered GROUP BY sums
  -- round differently per group and steal the tie-break)
  SELECT p.vec_id, sum(t.d2 ORDER BY t.s) AS dist
  FROM pq p JOIN ptab t ON t.s = p.s AND t.j = p.j GROUP BY p.vec_id),
pqleg AS (
  SELECT 'pq' AS method, vec_id, dist AS metric,
         CAST(row_number() OVER (ORDER BY dist, vec_id) AS INT) AS "rank"
  FROM (SELECT vec_id, dist FROM pdist ORDER BY dist, vec_id LIMIT 10)),
pprobe AS (
  SELECT c.j FROM (SELECT j, v FROM pcb WHERE j < {_IVFPQ_NLIST}) c
  CROSS JOIN pqv q
  ORDER BY list_inner_product(c.v, c.v) - 2 * list_inner_product(q.v, c.v),
           c.j
  LIMIT {_IVFPQ_NPROBE}),
ipqleg AS (
  SELECT 'ivfpq' AS method, vec_id, dist AS metric,
         CAST(row_number() OVER (ORDER BY dist, vec_id) AS INT) AS "rank"
  FROM (SELECT d.vec_id, d.dist FROM pdist d JOIN pcell pc USING (vec_id)
        WHERE pc.cell IN (SELECT j FROM pprobe)
        ORDER BY d.dist, d.vec_id LIMIT 10)),
pchk AS (
  SELECT 'pq_codes' AS method, CAST(-1 AS BIGINT) AS vec_id,
         CAST(sum((s + 1) * j) AS DOUBLE) AS metric,
         CAST(count(*) AS INT) AS "rank" FROM pq
  UNION ALL
  SELECT 'ivfpq_cells', CAST(-1 AS BIGINT), CAST(sum(cell) AS DOUBLE),
         CAST(count(*) AS INT) FROM pcell)"""
    return f"""
WITH q AS (SELECT embedding AS q_vec, {sig_expr('embedding')} AS qsig
           FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, {cos} AS cosine,
         bit_count(CAST(xor({sig_expr('e.embedding')}, q.qsig) AS BIGINT)) AS ham
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0),
lsh AS (
  SELECT 'lsh' AS method, vec_id, cosine AS metric,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS "rank"
  FROM (SELECT vec_id, cosine FROM scored WHERE ham <= 2
        ORDER BY cosine DESC, vec_id LIMIT 10)),
ivf AS (
  SELECT 'ivf_all' AS method, vec_id, cosine AS metric,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS "rank"
  FROM (SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10)),
{_kmeans_cte_chain()},
{pq_cte}
SELECT * FROM lsh UNION ALL SELECT * FROM ivf UNION ALL SELECT * FROM km
UNION ALL SELECT * FROM pqleg UNION ALL SELECT * FROM ipqleg
UNION ALL SELECT * FROM pchk
ORDER BY method, "rank", vec_id
"""


def _jaccard_edges(docs: DataFrame, sh: DataFrame) -> DataFrame:
    """Consecutive-doc pairs (i, i+1) with exact Jaccard >= 0.2, checkpointed
    (CC, PageRank, degrees and the split hash all read it). prune=False:
    the pairs cover every doc, so the involved-doc prune keeps the whole
    shingle table."""
    pairs = docs.select(F.col("doc_id").alias("id_a")).withColumn(
        "id_b", F.col("id_a") + 1
    )
    pairs = pairs.join(
        docs.select(F.col("doc_id").alias("id_b")), on="id_b", how="left_semi"
    )
    sim = ngram_jaccard(docs, pairs, "text", id_col="doc_id", shingles=sh, prune=False)
    return sim.where(F.col("jaccard") >= 0.2).localCheckpoint(eager=True)


def _edge_components(edges: DataFrame) -> DataFrame:
    return connected_components(edges, "id_a", "id_b")


def _edge_pagerank(edges: DataFrame) -> DataFrame:
    return pagerank(edges, "id_a", "id_b", damping=0.85, iters=6)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs resolved into duplicate CLUSTERS
    (SURVEY north-star dedup, final stage): consecutive-doc pairs are
    scored with exact n-gram Jaccard, pairs >= 0.2 become edges, and the
    alternating large-star/small-star connected-components pass closes
    them transitively (A~B, B~C => one cluster). Output: one row per
    cluster (min doc_id label + member count) over ALL documents.

    Round 7: ``curation.leakage_safe_split`` joins the gate — every
    member's split is hashed from its CLUSTER label (near-dup clusters
    can never straddle train/val/test), verified two ways: the per-
    cluster ``split`` value must equal the oracle's xxh64-of-label
    bucket, and ``n_splits`` (count of distinct member splits) must be
    exactly 1 — the no-leakage invariant itself, computed from the
    engine's actual per-doc assignments, not assumed."""
    docs = _documents(spark, sf_dir)
    edges = _jaccard_edges(docs, _corpus_shingles(docs))
    # r10: PageRank's fixed-iteration loop only needs the edge
    # checkpoint, not the CC labels — run it from a second driver
    # thread so its per-iteration jobs overlap the union-find collect
    # and split-hash legs below (guide §2.6; concurrent first use of
    # the edges RDD is safe — the block manager locks per-partition
    # computation).
    from tsflex_spark.datapipe.graph import degrees

    with LegPool(1, "dup_pagerank") as pr_pool:
        pr_fut = pr_pool.submit(lambda: _edge_pagerank(edges))
        cc = _edge_components(edges)
        labeled = docs.select("doc_id").join(
            cc, docs["doc_id"] == cc["node"], "left"
        ).select(
            F.col("doc_id"),
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
        # round 7: per-cluster graph stats promote datapipe/graph.py from
        # pytest-only to oracle-verified — PageRank mass (6 fixed power
        # iterations, damping 0.85, dangling-mass redistribution) and total
        # degree over the SAME candidate edge graph; the DuckDB oracle
        # unrolls the identical iterations as a generated CTE chain.
        pr = pr_pool.result(pr_fut)
    dg = degrees(edges, "id_a", "id_b").select(
        "node", (F.col("out_degree") + F.col("in_degree")).alias("dtot")
    )
    stats = labeled.join(
        pr.join(dg, "node"), labeled.doc_id == F.col("node"), "left"
    )
    from tsflex_spark.datapipe.curation import leakage_safe_split

    lss = leakage_safe_split(
        docs.select("doc_id"), "doc_id", [0.8, 0.1, 0.1], seed=5,
        cluster_labels=cc,
    ).select("doc_id", "split")
    stats = stats.join(lss, on="doc_id")
    return (
        stats.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.coalesce("rank", F.lit(0.0))).alias("rank_mass"),
            F.sum(F.coalesce("dtot", F.lit(0))).alias("degree_sum"),
            F.min("split").alias("split"),
            F.count_distinct("split").alias("n_splits"),
        )
        .coalesce(1).orderBy("cluster_id")
    )


def _pagerank_cte_chain(iters: int, damping: float) -> str:
    """CTE fragment replaying datapipe/graph.pagerank's power iteration
    (graph.py:71-93) over the directed edge CTE ``de``: per round, the
    dangling mass (od-NULL nodes) redistributes uniformly and each node
    receives damping * sum(rank/od) from its in-neighbors. Fixed-count
    unroll — each iteration is three CTEs, generated like the xxh64
    chain so no subexpression duplicates."""
    d = float(damping)
    # every CTE is MATERIALIZED: pr{k-1} is referenced twice per round,
    # so default inlining would expand the chain exponentially (observed
    # as a planner blowup exhausting file handles on the parquet scans)
    frags = [
        "pn AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM de UNION ALL SELECT dst AS node FROM de))",
        "pod AS MATERIALIZED (SELECT src AS node, count(*) AS od FROM de GROUP BY src)",
        "pbase AS MATERIALIZED (SELECT pn.node, pod.od FROM pn LEFT JOIN pod USING (node))",
        "pcnt AS MATERIALIZED (SELECT count(*) AS n FROM pn)",
        "pr0 AS MATERIALIZED (SELECT node, od, 1.0 / (SELECT n FROM pcnt) AS rank FROM pbase)",
    ]
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        frags.append(
            f"pd{k} AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0) AS dang "
            f"FROM {p} WHERE od IS NULL)"
        )
        frags.append(
            f"pc{k} AS MATERIALIZED (SELECT de.dst AS node, sum(r.rank / r.od) AS c "
            f"FROM de JOIN {p} r ON r.node = de.src GROUP BY de.dst)"
        )
        frags.append(
            f"pr{k} AS MATERIALIZED (SELECT b.node, b.od, "
            f"{1.0 - d} / (SELECT n FROM pcnt) "
            f"+ {d} * (SELECT dang FROM pd{k}) / (SELECT n FROM pcnt) "
            f"+ {d} * coalesce(c.c, 0.0) AS rank "
            f"FROM pbase b LEFT JOIN pc{k} c USING (node))"
        )
    return ",\n".join(frags)


def _oracle_dup_clusters() -> str:
    # transitive closure via recursive CTE (min reachable label == the
    # engine's min-of-component label); PageRank mass + degree replayed
    # over the same directed edge list by a fixed-iteration CTE unroll
    return r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(length(n) - 4, 1) + 1),
             i -> substr(n, i::INT, 5))) AS s
  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS n FROM documents)),
p AS (SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
jac AS (
  SELECT p.id_a, p.id_b,
         CAST(len(list_distinct(list_intersect(sa.s, sb.s))) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) AS j
  FROM p JOIN sh sa ON sa.doc_id = p.id_a JOIN sh sb ON sb.doc_id = p.id_b),
de AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM jac WHERE j >= 0.2),
e AS (SELECT src AS u, dst AS v FROM de
      UNION SELECT dst AS u, src AS v FROM de),
reach(a, b) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.a, e.v FROM reach r JOIN e ON e.u = r.b),
lbl AS (
  SELECT d.doc_id,
         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
  GROUP BY d.doc_id),
""" + _pagerank_cte_chain(6, 0.85) + r""",
pdeg AS (SELECT node, count(*) AS dtot FROM
         (SELECT src AS node FROM de UNION ALL SELECT dst AS node FROM de)
         GROUP BY node),
-- leakage_safe_split replay: split hashed from the CLUSTER label;
-- n_splits = 1 is the no-straddle invariant the engine must exhibit
lclu AS (SELECT DISTINCT cluster_id FROM lbl),
""" + _xxh64_cte_chain(
        "lclu", _xxh64_pmod_steps("ls", "cluster_id", 5, "b_ls"), "lsx"
    ) + r""",
lsp AS (
  SELECT cluster_id,
         CASE WHEN b_ls < 800000 THEN 'train'
              WHEN b_ls < 900000 THEN 'val' ELSE 'test' END AS split
  FROM lsx_fin)
SELECT lbl.cluster_id, count(*) AS n_members,
       sum(coalesce(pr6.rank, 0.0)) AS rank_mass,
       CAST(sum(coalesce(pdeg.dtot, 0)) AS BIGINT) AS degree_sum,
       min(lsp.split) AS split,
       CAST(1 AS BIGINT) AS n_splits
FROM lbl
LEFT JOIN pr6 ON pr6.node = lbl.doc_id
LEFT JOIN pdeg ON pdeg.node = lbl.doc_id
JOIN lsp ON lsp.cluster_id = lbl.cluster_id
GROUP BY lbl.cluster_id ORDER BY lbl.cluster_id
"""


def _sketches(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(shingle checkpoint, sketch checkpoint). Both sketches come from
    ONE fused groupBy(doc_id) aggregate over the shingle table
    (sketch_signatures): one scan + one doc-keyed exchange instead of two
    of each, and the tiny (1 row/doc) fused result is the checkpoint both
    band branches, the xor leg and the mh_dedup leg read."""
    sh = _corpus_shingles(docs)
    sk = sketch_signatures(
        docs, "text", "doc_id", num_hashes=128, shingles=sh
    ).localCheckpoint(eager=True)
    return sh, sk


def _minhash_candidates(sk: DataFrame) -> DataFrame:
    return minhash_lsh_candidates(sk.select("doc_id", "minhash"), "doc_id", num_bands=16)


def _simhash_candidates(sk: DataFrame) -> DataFrame:
    return simhash_pairs(
        sk.select("doc_id", "simhash"), id_col="doc_id", max_hamming=8
    ).select("id_a", "id_b")


def _sketch_xor(sk: DataFrame) -> DataFrame:
    # two aggregates, not one: exploding minhash replicates simhash 128x
    # per doc (xor of an even count vanishes), and DISTINCT would collapse
    # byte-identical duplicate docs the oracle counts once per doc
    return (
        sk.select(F.explode("minhash").alias("__v"))
        .agg(F.expr("bit_xor(__v)").alias("mh_xor"))
        .join(F.broadcast(sk.agg(F.expr("bit_xor(simhash)").alias("sim_xor"))))
    )


def _survivor_rows(df: DataFrame, method: str) -> DataFrame:
    return df.select(
        F.lit(method).alias("method"),
        F.col("doc_id").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
    )


def _store_rows(docs: DataFrame, store_dir: str) -> DataFrame:
    """Incremental dedup vs a PERSISTENT band store
    (``dedup_against_store``): bootstrap the parquet store from the EVEN
    docs (within_batch=False: every even doc's 16 band hashes are
    appended), then probe the ODD docs read-only — an odd doc survives
    iff NONE of its band hashes collides with any even doc's same-band
    hash. The oracle replays the whole chain from raw text (64-bin OPH
    signatures, Spark's array→string cast, xxhash64 per band), so a
    wrong signature slot, band split or store-join bug adds or drops a
    survivor row. ``store_dir`` is emptied first, so repeat calls are
    deterministic, and removed before returning: the probe checkpoints
    its colliding-id set, so the survivors' plan no longer reads the
    store.

    Bounded slice (doc_id < 1000, the oracle replays the same bound):
    the collision semantics are not scale-dependent, and the slice keeps
    the store write + checkpoint barriers ~constant across SFs. ONE
    64-bin signature pass feeds both batches (signatures= reuse); the
    slice is shingled directly so the predicate reaches the parquet
    scan."""
    shutil.rmtree(store_dir, ignore_errors=True)
    s_docs = docs.where(F.col("doc_id") < 1000)
    sig64 = minhash_signatures(
        s_docs, "text", "doc_id", num_hashes=64,
        shingles=shingle_rows(s_docs, "text", "doc_id"),
    ).localCheckpoint(eager=True)
    even = s_docs.where(F.col("doc_id") % 2 == 0)
    odd = s_docs.where(F.col("doc_id") % 2 == 1)
    dedup_against_store(
        even, store_dir, "text", "doc_id",
        num_hashes=64, num_bands=16, within_batch=False, signatures=sig64,
    )
    sur = dedup_against_store(
        odd, store_dir, "text", "doc_id",
        num_hashes=64, num_bands=16, within_batch=False,
        update_store=False, signatures=sig64,
    )
    shutil.rmtree(store_dir, ignore_errors=True)
    return _survivor_rows(sur, "store")


def _mh_dedup_rows(docs: DataFrame, sh: DataFrame, sk: DataFrame) -> DataFrame:
    """The END-PRODUCT of the flagship near-dup op — minhash_dedup's
    SURVIVOR set ("drop the higher id of every confirmed pair").
    prefilter_margin=None keeps the path exact (the signature-estimate
    prefilter is a probabilistic recall trade the oracle can't replay);
    the oracle's survivor set is documents minus every id_b of the
    all-pairs exact-Jaccard >= 0.8 set — so a band miss, a verify bug,
    or a keep-rule regression all change rows.

    128 hashes / 16 bands (8 rows/band) is EXACTLY the banding whose full
    recall the minhash candidate-superset contract certifies on these
    corpora, and it reuses the gate's fused signatures (``sk``), so this
    adds a band self-join + verify on the ~tp-sized candidate set, not a
    second corpus signature pass. (Auto 8-band/64-hash missed one J≈0.9
    pair at sf0.01; 16-band/64-hash had full recall but 4-row bands
    ballooned the candidates ~250x, +30 s at sf0.1.)

    CORPUS-VERSION DEPENDENCY: the survivor set is LSH-candidate-limited
    but compared against an ALL-PAIRS truth, so full banding recall is
    certified only on the CURRENT gate corpora (0.99989/pair at J=0.8).
    If the test data is regenerated and this goes red, diff the survivor
    sets: a missing pair that ngram_jaccard confirms >= 0.8 from raw
    shingles means re-pin the banding, not an engine fix. For the same
    reason minhash_dedup's recall warning (fires below 0.999 catch
    probability at the threshold; 128h/16b = 0.947 at J=0.8) is
    suppressed HERE ONLY — it would be noise in bench/gate stderr.

    Bounded slice (doc_id < 1000): vacuous at the oracle-checked SFs
    (500 docs) and a 25x verify reduction at the sf0.1 bench corpus
    (5000 docs), where the minhash contract leg already re-verifies
    corpus-wide. The corpus-wide ``sh``/``sk`` pass through unchanged —
    minhash_dedup semi-join-prunes them to the slice."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        mhd = minhash_dedup(
            docs.where(F.col("doc_id") < 1000), "text", id_col="doc_id",
            threshold=0.8, num_hashes=128, num_bands=16, shingles=sh,
            signatures=sk.select("doc_id", "minhash"), prefilter_margin=None,
        )
    return _survivor_rows(mhd, "mh_dedup")


def q_sketch_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both hash-sketch dedup paths in one gate (driver caps queries() at
    50), now FULLY oracle-checked by gating the candidate-superset
    property instead of a rows-only count: every pair with EXACT shingle
    Jaccard >= 0.8 must survive sketch-candidate generation + exact
    verify, and nothing below the threshold may — the recall contract
    each sketch is FOR: its output must equal DuckDB's all-pairs
    exact-Jaccard >= 0.8 set.

    - ``minhash``: 128-hash OPH MinHash signatures → 16-band (8 rows/
      band) LSH candidates → exact-Jaccard verify (the production dedup
      path end-to-end). 8-row bands put the S-curve threshold at
      (1/16)^(1/8) ≈ 0.71: pairs at the 0.8 verify threshold are caught
      w.p. 1-(1-0.8^8)^16 ≈ 1-6e-2... while moderate-similarity false
      candidates collapse ~16x vs 4-row bands (measured 478k → 1.9k
      candidate pairs at sf0.1 — band tuning IS the scale knob).
    - ``simhash``: 64-bit SimHash fingerprints → hamming<=8 banded
      candidate pairs (pigeonhole bands) → exact-Jaccard verify.

    Round 7: the sketches are no longer engine-specific black boxes —
    ``mh_xor`` / ``sim_xor`` carry the bit-xor of EVERY OPH minhash
    slot and every SimHash fingerprint across the corpus, and the
    oracle recomputes both sketch families from scratch in SQL
    (shingle-string xxhash64 via the recursive-CTE replay, the
    hash_long+hash_int minhash mix, 128-bin OPH mins with circular-
    borrow densification, per-bit SimHash majorities). Any single-bit
    error in any signature flips the xor. The per-doc hash FILL of
    densification (three consecutive empty bins) cannot fire on KB-
    sized docs; it stays pytest-covered, and if it ever fired here the
    gate would mismatch loudly rather than silently diverge."""
    docs = _documents(spark, sf_dir)
    # the store leg shares nothing with the sketch legs, but its bootstrap
    # write and signature checkpoint are EAGER: submitted FIRST from a
    # second driver thread, those barriers overlap the sketch legs' jobs
    # instead of serializing ~3 s of idle cores (guide §2.6)
    store_dir = os.path.join(
        tempfile.gettempdir(),
        "tsflex_store_gate",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    with LegPool(1, "sketch_store") as store_pool:
        store_fut = store_pool.submit(lambda: _store_rows(docs, store_dir))
        sh, sk = _sketches(docs)
        # per-method provenance rides the candidate union as two booleans
        # and ONE pair-keyed aggregate replaces union->distinct; the shared
        # exact verify then runs once and each method's survivors come back
        # by exploding the flags. cands feeds the verify's two pair joins +
        # the tag join, so IT is the one lineage cut
        cands = (
            _minhash_candidates(sk).select(
                "id_a", "id_b", F.lit(True).alias("__m"), F.lit(False).alias("__s")
            )
            .unionByName(
                _simhash_candidates(sk).select(
                    "id_a", "id_b", F.lit(False).alias("__m"), F.lit(True).alias("__s")
                )
            )
            .groupBy("id_a", "id_b")
            .agg(F.max("__m").alias("__m"), F.max("__s").alias("__s"))
            .localCheckpoint(eager=True)
        )
        ver = ngram_jaccard(
            docs, cands.select("id_a", "id_b"), "text", id_col="doc_id", shingles=sh
        ).where(F.col("jaccard") >= 0.8)
        tagged = ver.join(cands, ["id_a", "id_b"])
        methods = F.array_compact(
            F.array(
                F.when(F.col("__m"), F.lit("minhash")),
                F.when(F.col("__s"), F.lit("simhash")),
            )
        )
        sig = _sketch_xor(sk)
        strows = store_pool.result(store_fut)
    return (
        tagged.select(F.explode(methods).alias("method"), "id_a", "id_b", "jaccard")
        .unionByName(strows)
        .unionByName(_mh_dedup_rows(docs, sh, sk))
        .join(F.broadcast(sig))
        .coalesce(1).orderBy("method", "id_a", "id_b")
    )


def _oracle_sketch_dedup() -> str:
    # ground truth, two layers: (1) the recall/precision CONTRACT — every
    # all-pairs exact-Jaccard >= 0.8 pair survives candidates + verify,
    # nothing below does; (2) the SKETCH VALUES — minhash OPH signatures
    # (shingle-string xxhash64 -> hash_long+hash_int(42) mix -> 128-bin
    # mins -> circular-borrow densify) and SimHash fingerprints (per-bit
    # majorities) recomputed from scratch, xor-checked corpus-wide
    sx_chain = _xxh64_str_cte("svoc", "rid", "g", "sx")
    mm_chain = _xxh64_cte_chain(
        "shh", _xxh64_long_steps("mm", "sh_h", "hm", int_value=42), "mxc"
    )
    ms_chain = _xxh64_cte_chain(
        "shh", _xxh64_long_steps("ms", "sh_h", "hs"), "msc"
    )
    mf_chain = _xxh64_cte_chain(
        "mh_grid", _xxh64_long_steps("mf", "dm", "fill", int_value="j"), "mfc"
    )
    # store leg: densify fill for the 64-bin OPH grid + xxhash64 of the
    # band STRING (Spark's array->string cast of each 4-slot slice)
    mg_chain = _xxh64_cte_chain(
        "mh64_grid", _xxh64_long_steps("mg", "dm", "fill64", int_value="j"), "mgc"
    )
    bx_chain = _xxh64_str_cte("bsv", "rid", "bs", "bx")
    pops = ",\n         ".join(
        f"sum((hsu >> {b}) % 2) AS p{b}" for b in range(64)
    )
    fp_terms = " + ".join(
        f"CASE WHEN 2 * p{b} > n THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END"
        for b in range(64)
    )
    return rf"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(length(n) - 4, 1) + 1),
             i -> substr(n, i::INT, 5))) AS s
  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS n FROM documents)),
tp AS (
  SELECT id_a, id_b, CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.s, b.s)) AS i,
               len(a.s) AS na, len(b.s) AS nb
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
  WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.8),
sh2 AS (SELECT doc_id, unnest(s) AS g FROM sh),
svoc AS (SELECT g, row_number() OVER (ORDER BY g) AS rid
         FROM (SELECT DISTINCT g FROM sh2)),
{sx_chain},
shh AS (
  SELECT sh2.doc_id, o.sx_h AS sh_h
  FROM sh2 JOIN svoc v USING (g) JOIN sx_out o ON o.rid = v.rid),
{mm_chain},
mh_rows AS (SELECT doc_id, hm, ((hm % 128) + 128) % 128 AS bin FROM mxc_fin),
mh_bin AS (SELECT doc_id, bin, min(hm) AS mn FROM mh_rows GROUP BY doc_id, bin),
mh_doc AS (SELECT doc_id, min(hm) AS dm FROM mh_rows GROUP BY doc_id),
mh_grid AS (SELECT d.doc_id, d.dm, r.range AS j FROM mh_doc d CROSS JOIN range(128) r),
{mf_chain},
mh_slot AS (
  SELECT g.doc_id, g.j, coalesce(b0.mn, b1.mn, b2.mn, g.fill) AS v
  FROM mfc_fin g
  LEFT JOIN mh_bin b0 ON b0.doc_id = g.doc_id AND b0.bin = g.j
  LEFT JOIN mh_bin b1 ON b1.doc_id = g.doc_id AND b1.bin = (g.j + 1) % 128
  LEFT JOIN mh_bin b2 ON b2.doc_id = g.doc_id AND b2.bin = (g.j + 2) % 128),
mh_x AS (SELECT bit_xor(v) AS mh_xor FROM mh_slot),
{ms_chain},
sim_pop AS (
  SELECT doc_id, count(*) AS n,
         {pops}
  FROM (SELECT doc_id, ((hs::HUGEINT % 18446744073709551616::HUGEINT)
                        + 18446744073709551616::HUGEINT)
                       % 18446744073709551616::HUGEINT AS hsu
        FROM msc_fin)
  GROUP BY doc_id),
sim_fp AS (
  SELECT doc_id,
         (CASE WHEN fpu >= 9223372036854775808::HUGEINT
               THEN fpu - 18446744073709551616::HUGEINT
               ELSE fpu END)::BIGINT AS fp
  FROM (SELECT doc_id, ({fp_terms}) AS fpu FROM sim_pop)),
sim_x AS (SELECT bit_xor(fp) AS sim_xor FROM sim_fp),
-- store leg: 64-bin OPH (same per-shingle hash hm), Spark band strings
-- '[v0, v1, v2, v3]', xxhash64-of-string band hashes; an odd doc
-- survives iff no band hash collides with any even doc's same band
mh64_rows AS (SELECT doc_id, hm, ((hm % 64) + 64) % 64 AS bin
              FROM mxc_fin WHERE doc_id < 1000),
mh64_bin AS (SELECT doc_id, bin, min(hm) AS mn FROM mh64_rows GROUP BY doc_id, bin),
mh64_doc AS (SELECT doc_id, min(hm) AS dm FROM mh64_rows GROUP BY doc_id),
mh64_grid AS (SELECT d.doc_id, d.dm, r.range AS j
              FROM mh64_doc d CROSS JOIN range(64) r),
{mg_chain},
mh64_slot AS (
  SELECT g.doc_id, g.j, coalesce(b0.mn, b1.mn, b2.mn, g.fill64) AS v
  FROM mgc_fin g
  LEFT JOIN mh64_bin b0 ON b0.doc_id = g.doc_id AND b0.bin = g.j
  LEFT JOIN mh64_bin b1 ON b1.doc_id = g.doc_id AND b1.bin = (g.j + 1) % 64
  LEFT JOIN mh64_bin b2 ON b2.doc_id = g.doc_id AND b2.bin = (g.j + 2) % 64),
bstr AS (
  SELECT doc_id, j // 4 AS band,
         '[' || string_agg(v::VARCHAR, ', ' ORDER BY j) || ']' AS bs
  FROM mh64_slot GROUP BY doc_id, j // 4),
bsv AS (SELECT bs, row_number() OVER (ORDER BY bs) AS rid
        FROM (SELECT DISTINCT bs FROM bstr)),
{bx_chain},
bh AS (SELECT bstr.doc_id, bstr.band, o.bx_h
       FROM bstr JOIN bsv USING (bs) JOIN bx_out o ON o.rid = bsv.rid),
surv AS (
  SELECT d.doc_id FROM documents d
  WHERE d.doc_id % 2 = 1 AND d.doc_id < 1000
    AND NOT EXISTS (
      SELECT 1 FROM bh o JOIN bh e ON e.band = o.band AND e.bx_h = o.bx_h
      WHERE o.doc_id = d.doc_id AND e.doc_id % 2 = 0)),
-- minhash_dedup survivors: drop the higher id of every exact-Jaccard
-- >= 0.8 pair (the engine's keep rule over its LSH+verify confirmed
-- set, which the candidate-superset contract pins to tp). r10: bounded
-- to doc_id < 1000 like the store leg (vacuous at the 500-doc gate
-- SFs; tp's id_a < id_b makes id_b < 1000 imply both ends in-slice)
mds AS (
  SELECT d.doc_id FROM documents d
  WHERE d.doc_id < 1000
    AND d.doc_id NOT IN (SELECT id_b FROM tp WHERE id_b < 1000))
SELECT 'minhash' AS method, id_a, id_b, jaccard, mh_x.mh_xor, sim_x.sim_xor
FROM tp CROSS JOIN mh_x CROSS JOIN sim_x
UNION ALL
SELECT 'simhash' AS method, id_a, id_b, jaccard, mh_x.mh_xor, sim_x.sim_xor
FROM tp CROSS JOIN mh_x CROSS JOIN sim_x
UNION ALL
SELECT 'store' AS method, surv.doc_id AS id_a, CAST(-1 AS BIGINT) AS id_b,
       CAST(NULL AS DOUBLE) AS jaccard, mh_x.mh_xor, sim_x.sim_xor
FROM surv CROSS JOIN mh_x CROSS JOIN sim_x
UNION ALL
SELECT 'mh_dedup' AS method, mds.doc_id AS id_a, CAST(-1 AS BIGINT) AS id_b,
       CAST(NULL AS DOUBLE) AS jaccard, mh_x.mh_xor, sim_x.sim_xor
FROM mds CROSS JOIN mh_x CROSS JOIN sim_x
ORDER BY method, id_a, id_b
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational substrate: TPC-H Q6 forecasting revenue change — pure
    filter + aggregate; predicates push down to the parquet scan."""
    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
        & (F.col("l_discount").between(0.02, 0.04))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(28,4)")
        ).alias("_rev"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return out.select(F.col("_rev").cast("double").alias("revenue"), "n_rows")


def _oracle_tpch_q6() -> str:
    return """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational substrate: TPC-H Q3 shipping-priority — 3-way join with a
    broadcast customer dim, aggregate, exact-decimal revenue, top-10
    (SURVEY §2.7 limits/top-k; ties broken by l_orderkey so the LIMIT is
    deterministic across engines)."""
    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cut = F.lit("1998-06-01").cast("timestamp")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    out = (
        li.where(F.col("l_shipdate") > cut)
        .join(
            od.where(F.col("o_orderdate") < cut).select(
                "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                cu.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("l_orderkey"))
        .limit(10)
    )
    return out.select(
        "l_orderkey",
        F.col("_rev").cast("double").alias("revenue"),
        "o_orderdate",
        "o_orderpriority",
    )


def _oracle_tpch_q3() -> str:
    return """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) DESC, l_orderkey
LIMIT 10
"""


def q_reduce_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``reduce()`` round-trip (SURVEY §2.2, reference
    feature_collection.py:1282-1353): build a 4-feature collection, prune
    it to two output columns by NAME (the naming grammar parsed back), and
    calculate only those — the pruned plan never touches the dropped
    aggregates."""
    _utc(spark)
    ev = _events(spark, sf_dir).select(
        "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value", "2h", "1h"),
            FeatureDescriptor("count", "value", "2h", "1h"),
            FeatureDescriptor("min", "value", "2h", "1h"),
            FeatureDescriptor("max", "value", "2h", "1h"),
        ]
    )
    reduced = fc.reduce(["value__max__w=2h", "value__count__w=2h"])
    out = reduced.calculate(ev, ts_col="ts")
    assert sorted(c for c in out.columns if c != "ts") == [
        "value__count__w=2h",
        "value__max__w=2h",
    ], "reduce() must prune the plan to exactly the requested outputs"
    return out.select(
        "ts",
        F.col("value__max__w=2h").cast("double").alias("max_val"),
        F.col("value__count__w=2h").cast("bigint").alias("cnt_val"),
    )


def _oracle_reduce_features() -> str:
    H2 = 2 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {H2}) / {H1}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {H1} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               max(e.value) AS max_raw,
               count(e.value) AS cnt_val
        FROM seg LEFT JOIN events e
          ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {H2}
        GROUP BY s_start)
SELECT make_timestamp(s_start + {H2}) AS ts,
       CAST(max_raw AS DOUBLE) AS max_val,
       cnt_val
FROM agg ORDER BY ts
"""


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-tier TWO-series aggregates (tuple series_name → one Catalyst
    aggregate, no Python): windowed Pearson correlation + population
    covariance between two aligned series. Pairwise SQL semantics (rows
    where both sides are non-null).

    Hash-exact discipline: inputs are DECIMAL (value has exactly 2
    decimals), the catalog natives aggregate exact decimal sums
    (n, Σa, Σb, Σab, Σa², Σb²) and apply ONE final double formula — the
    oracle repeats the identical IEEE-754 op sequence, so both engines
    produce bit-identical doubles (no accumulation-order drift, which made
    ``F.corr`` vs DuckDB flip at the 6-decimal rounding boundary in r2)."""
    _utc(spark)
    va = F.col("value").cast("decimal(12,2)")
    vb = (va + F.col("user_id").cast("decimal(10,0)")).cast("decimal(14,2)")
    ev = _events(spark, sf_dir).select("ts", va.alias("va"), vb.alias("vb"))
    fc = FeatureCollection(
        [
            FeatureDescriptor("corr", ("va", "vb"), "4h", "2h"),
            FeatureDescriptor("covar_pop", ("va", "vb"), "4h", "2h"),
            FeatureDescriptor("count", "va", "4h", "2h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    n = F.col("va__count__w=4h").cast("bigint")
    return out.select(
        "ts",
        F.col("va|vb__corr__w=4h").alias("corr_ab"),
        F.col("va|vb__covar_pop__w=4h").alias("covar_ab"),
        n.alias("cnt_val"),
    )


def _oracle_rolling_corr() -> str:
    H4, H2 = 4 * H1, 2 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {H4}) / {H2}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {H2} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
ev AS (SELECT epoch_us(ts) AS tn,
              CAST(value AS DECIMAL(12,2)) AS va,
              CAST(CAST(value AS DECIMAL(12,2)) + CAST(user_id AS DECIMAL(10,0))
                   AS DECIMAL(14,2)) AS vb
       FROM events),
agg AS (SELECT s_start,
               CAST(count(e.va) AS DOUBLE) AS n,
               CAST(sum(e.va) AS DOUBLE) AS sa,
               CAST(sum(e.vb) AS DOUBLE) AS sb,
               CAST(sum(e.va * e.vb) AS DOUBLE) AS sab,
               CAST(sum(e.va * e.va) AS DOUBLE) AS saa,
               CAST(sum(e.vb * e.vb) AS DOUBLE) AS sbb,
               count(e.va) AS cnt_val
        FROM seg LEFT JOIN ev e
          ON e.tn >= s_start AND e.tn < s_start + {H4}
        GROUP BY s_start)
SELECT make_timestamp(s_start + {H4}) AS ts,
       CASE WHEN n > 1 AND (n * saa - sa * sa) * (n * sbb - sb * sb) > 0
            THEN (n * sab - sa * sb)
                 / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) END AS corr_ab,
       CASE WHEN n > 0 THEN (n * sab - sa * sb) / (n * n) END AS covar_ab,
       cnt_val
FROM agg ORDER BY ts
"""


def q_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational substrate: star-schema join lineitem ⋈ orders ⋈ customer ⋈
    nation with explicit broadcast of the small dimensions (SURVEY scale
    guidance: broadcast small dims, shuffle only the fact table once)."""
    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    out = (
        li.join(F.broadcast(od.select("o_orderkey", "o_custkey")), li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).alias("_rev"), F.count(F.lit(1)).alias("n_items"))
    )
    return out.select(
        "n_name", F.col("_rev").cast("double").alias("revenue"), "n_items"
    ).coalesce(1).orderBy("n_name")


def _oracle_revenue_per_nation() -> str:
    return """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup + SemDeDup in one gate (driver caps
    queries() at 50). method='pairs': exact all-pairs cosine >= 0.45
    (blocked-GEMM verification path). method='drop': SemDeDup
    (arXiv:2303.09540) drop decisions — same-cell (label as the cell for
    oracle determinism; IVF cells in the library path) cosine pairs closed
    transitively, every non-minimum member of a duplicate group dropped
    (id_b = the kept canonical id). The LSH-candidates / IVF-cell variants
    are the 100 TB paths (tsflex_spark/datapipe/dedup.py)."""
    _utc(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from tsflex_spark.datapipe.dedup import embedding_neardup, semantic_dedup

    out = embedding_neardup(emb, threshold=0.45, vec_col="embedding", id_col="vec_id")
    sem = semantic_dedup(emb, 0.45, cell_col="label", audit=True)
    drops = sem.where(F.col("is_dup")).select(
        F.lit("drop").alias("method"),
        F.col("vec_id").alias("id_a"),
        F.col("component").alias("id_b"),
        F.lit(None).cast("double").alias("cosine"),
    )
    pairs = out.select(F.lit("pairs").alias("method"), "id_a", "id_b", "cosine")
    return pairs.unionByName(drops).repartition(1).orderBy("method", "id_a", "id_b")


def _oracle_embedding_neardup() -> str:
    # 'pairs' = all-pairs cosine >= 0.45; 'drop' = SemDeDup decisions:
    # same-label pairs >= 0.45 closed transitively (recursive CTE), every
    # non-minimum member of a component dropped in favor of the min id.
    return """
WITH RECURSIVE e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS lab_a, b.label AS lab_b,
             list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                         (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(a.v, x -> x * x), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(b.v, x -> x * x), (x, y) -> x + y))) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id),
sp AS (SELECT id_a, id_b FROM p WHERE cosine >= 0.45 AND lab_a = lab_b),
ed AS (SELECT id_a AS u, id_b AS v FROM sp UNION SELECT id_b, id_a FROM sp),
reach(a, b) AS (
  SELECT u, v FROM ed
  UNION
  SELECT r.a, ed.v FROM reach r JOIN ed ON ed.u = r.b),
comp AS (
  SELECT n.u AS vec_id, least(n.u, min(r.b)) AS c
  FROM (SELECT DISTINCT u FROM ed) n JOIN reach r ON r.a = n.u
  GROUP BY n.u)
SELECT 'pairs' AS method, id_a, id_b, cosine FROM p WHERE cosine >= 0.45
UNION ALL
SELECT 'drop' AS method, vec_id AS id_a, c AS id_b, NULL AS cosine
FROM comp WHERE vec_id != c
ORDER BY method, id_a, id_b
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join + point-in-time feature-store join in one gate (driver
    caps queries() at 50; same click grain). Columns 3-4: plain asof_join
    (SURVEY §2.3) — for every click, the most recent view value of the
    same user at-or-before the click; union-and-carry plan, one per-user
    window pass, no BroadcastNestedLoop. Columns 5-8: point_in_time_join
    (relational.py:272) over TWO feature tables with a per-table dict
    tolerance — the leakage-free training-set assembly op; views carry a
    2h staleness tolerance (stale match -> NULL), purchases none. K
    feature tables = K keyed window passes, never a fan-out join.
    Round 9 adds the fourth §2.3 leg: interval_join (interval×interval
    overlap) — see the inline comment; sess_buckets is the per-session
    count of overlapped 6h grid buckets, closed-form replayed."""
    _utc(spark)
    from tsflex_spark.relational import asof_join, point_in_time_join

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    plain = asof_join(clicks, views, on="ts", by=["user_id"], value_cols=["value"])
    pit = point_in_time_join(
        clicks,
        {"view": views, "purch": purchases},
        on="ts",
        by=["user_id"],
        tolerance={"view": "2h"},
    ).select(
        "event_id",
        F.col("view__value").alias("pit_view_value"),
        F.col("view__ts_matched").alias("pit_view_ts"),
        F.col("purch__value").alias("purch_value"),
        F.col("purch__ts_matched").alias("purch_ts"),
    )
    # third §2.3 leg: range_join (event-to-interval, granule-bucketed
    # equi-join — no BNLJ) assigns every click to its containing 30m
    # session; sessions are inclusive of their last event, so the
    # half-open interval gets a +1µs end
    from tsflex_spark.chunking import chunk_data
    from tsflex_spark.relational import range_join

    sess = chunk_data(ev, ts_col="ts", key_cols=["user_id"], max_gap="30m").select(
        "user_id",
        F.col("chunk_start").alias("start"),
        (F.col("chunk_end") + F.expr("INTERVAL 1 MICROSECOND")).alias("end"),
        F.col("n_samples").alias("sess_n"),
    )
    # explicit granule (r11): the default granule is a blocking driver
    # first() over max(session length) — i.e. the WHOLE chunk_data chain
    # executed as a serial job at plan-build time. Any granule >= 1 is
    # result-identical (the exact range predicate re-checks); 6h keeps
    # the bucket fan-out tiny for sub-day sessions while removing the
    # build barrier entirely.
    rj = range_join(
        clicks, sess, left_on="ts", by=["user_id"], granule=6 * H1
    ).select(
        "event_id", F.col("start").alias("sess_start"), "sess_n"
    )
    # fourth §2.3 leg (round 9): interval_join (interval×interval
    # OVERLAP, both sides granule-bucketed, first-shared-bucket dedup —
    # no post-join distinct, no BNLJ) overlaps every session interval
    # with a global 6h tumbling grid; the per-session overlap COUNT has
    # the closed form floor(last/6h) − floor(first/6h) + 1, which the
    # oracle replays in integer microseconds — any missed, duplicated,
    # or phantom overlap pair changes the count
    from tsflex_spark.relational import interval_join

    h6 = 6 * H1
    # one 1-row min/max aggregate -> sequence/explode grid (span/6h rows);
    # bucket index via exact integer floor-div (x - pmod(x, g)) / g so the
    # grid aligns bit-for-bit with the oracle's integer division
    def _bidx(c):
        return ((c - F.pmod(c, F.lit(h6))) / F.lit(h6)).cast("long")

    grid = (
        ev.agg(
            _bidx(F.min(ts_micros("ts"))).alias("lo_b"),
            _bidx(F.max(ts_micros("ts"))).alias("hi_b"),
        )
        .select(F.explode(F.sequence("lo_b", "hi_b")).alias("b"))
        .select((F.col("b") * h6).alias("start"), ((F.col("b") + 1) * h6).alias("end"))
    )
    ij = interval_join(
        sess.select("user_id", "start", "end"), grid, granule=h6
    )
    ijb = ij.groupBy("user_id", F.col("start").alias("sess_start")).agg(
        F.count(F.lit(1)).alias("sess_buckets")
    )
    return (
        plain.select(
            "event_id",
            "user_id",
            F.col("value").alias("view_value"),
            F.col("ts_r").alias("view_ts"),
        )
        .join(pit, "event_id")
        .join(rj, "event_id")
        .join(ijb, ["user_id", "sess_start"])
        .coalesce(1).orderBy("event_id")
    )


def _oracle_asof_join() -> str:
    return """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
j1 AS (SELECT c.event_id, c.user_id, c.ts, v.value AS vv, v.ts AS vt
       FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts),
j2 AS (SELECT j1.*, p.value AS pv, p.ts AS pt
       FROM j1 ASOF LEFT JOIN p ON j1.user_id = p.user_id AND p.ts <= j1.ts),
sd AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                   THEN 1 ELSE 0 END AS chg
       FROM events),
si AS (SELECT user_id, ts,
              sum(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS isl
       FROM sd),
sg AS (SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_end,
              count(*) AS sess_n
       FROM si GROUP BY user_id, isl)
SELECT j2.event_id, j2.user_id, vv AS view_value, vt AS view_ts,
       CASE WHEN j2.ts - vt <= INTERVAL 2 HOUR THEN vv END AS pit_view_value,
       CASE WHEN j2.ts - vt <= INTERVAL 2 HOUR THEN vt END AS pit_view_ts,
       pv AS purch_value, pt AS purch_ts,
       sg.sess_start, sg.sess_n,
       -- interval_join leg closed form: a session [start, end+1us) over
       -- a 6h tumbling grid touches exactly floor(last/6h) -
       -- floor(first/6h) + 1 buckets (integer microseconds)
       CAST(epoch_us(sg.sess_end) // 21600000000
            - epoch_us(sg.sess_start) // 21600000000 + 1 AS BIGINT)
         AS sess_buckets
FROM j2 JOIN sg ON sg.user_id = j2.user_id
                AND j2.ts BETWEEN sg.sess_start AND sg.sess_end
ORDER BY j2.event_id
"""


def q_processing_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + linear interpolation (SURVEY §2.8 canonical processing
    funcs) onto a per-user 1h grid: sequence/explode grid + two as-of
    joins (backward/forward neighbour) + interp expression — three
    per-key shuffles, no pandas, no driver loop."""
    _utc(spark)
    from tsflex_spark.processing.resample import resample_interpolate

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = resample_interpolate(
        ev, ts_col="ts", value_col="value", period="1h", key_cols=["user_id"]
    )
    return out.select("user_id", "ts", F.col("value").alias("value_interp")).orderBy(
        "user_id", "ts"
    )


def _oracle_processing_resample() -> str:
    return f"""
WITH b AS (SELECT user_id, epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1
           FROM events GROUP BY user_id),
g AS (SELECT user_id, unnest(generate_series(t0, t1, {H1})) AS gt FROM b),
p AS (SELECT g.user_id, g.gt, e.value AS vp, epoch_us(e.ts) AS tp
      FROM g ASOF LEFT JOIN events e
        ON e.user_id = g.user_id AND epoch_us(e.ts) <= g.gt),
n AS (SELECT p.user_id, p.gt, p.vp, p.tp, e.value AS vn, epoch_us(e.ts) AS tn
      FROM p ASOF LEFT JOIN events e
        ON e.user_id = p.user_id AND epoch_us(e.ts) >= p.gt)
SELECT user_id, make_timestamp(gt) AS ts,
       CASE WHEN tn = tp THEN vp
            ELSE vp + (vn - vp) * (gt - tp) / (tn - tp) END AS value_interp
FROM n ORDER BY user_id, ts
"""


def q_robust_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_robust semantics (SURVEY §2.10, reference utils.py:153-256):
    min_nb_samples gate returns error_val (NaN -> NULL) when a window has
    too few samples — UDF tier with the robust wrapper."""
    _utc(spark)
    import numpy as np

    from tsflex_spark import make_robust

    ev = _events(spark, sf_dir).select("ts", "value")

    # fixed-point mean: values carry 2 decimals, so summing CENTS is exact
    # int64 arithmetic and ONE final double division matches the oracle's
    # identical expression bit-for-bit. np.mean's pairwise summation vs
    # DuckDB avg() drifts at 6-decimal rounding boundaries on larger
    # windows (observed at sf0.1) — arbitrary-float user funcs can't be
    # hash-compared against SQL; exact ones can.
    def cents_mean(a: np.ndarray) -> float:
        return float(np.rint(a * 100.0).astype(np.int64).sum()) / (100.0 * len(a))

    fw = make_robust(cents_mean, min_nb_samples=60, output_names="robust_mean")
    fc = FeatureCollection(
        [
            FeatureDescriptor(fw, "value", "1h", "1h"),
            FeatureDescriptor("count", "value", "1h", "1h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    rm = F.col("value__robust_mean__w=1h")
    return out.select(
        "ts",
        F.when(~F.isnan(rm), rm).alias("robust_mean"),
        F.col("value__count__w=1h").cast("bigint").alias("cnt_val"),
    )


def _oracle_robust_features() -> str:
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {H1}) / {H1}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {H1} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               CAST(sum(CAST(round(e.value * 100.0) AS BIGINT)) AS DOUBLE)
                 / (100.0 * count(e.value)) AS mean_raw,
               count(e.value) AS n
        FROM seg LEFT JOIN events e
          ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {H1}
        GROUP BY s_start)
SELECT make_timestamp(s_start + {H1}) AS ts,
       CASE WHEN n >= 60 THEN mean_raw END AS robust_mean,
       n AS cnt_val
FROM agg ORDER BY ts
"""


def q_intersample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-sample time statistics (SURVEY §2.4, reference tests
    :1872-1962 — features over the ts-diff series): per 6h tumbling
    window, count / mean / max of the gap to the previous event. The
    previous-ts column comes from the distributed global shift
    (tsflex_spark/utils/distributed.py), then gaps feed the normal
    strided-rolling path — all integer micros, hash-exact."""
    _utc(spark)
    from tsflex_spark import FuncWrapper
    from tsflex_spark.utils.distributed import with_global_shift

    ev = (
        _events(spark, sf_dir)
        .select("ts", F.col("value").cast("decimal(18,2)").alias("vd"))
        .withColumn("__tsn", ts_micros("ts"))
    )
    # ONE global shift carries both lag columns (struct payload): prev ts
    # for the gap series + prev value for the change-feature natives
    ev = with_global_shift(
        ev, ["__tsn", "vd"], "__tsn", ["__prev", "vd_lag"], offset=-1
    )
    ev = ev.select(
        "ts",
        (F.col("__tsn") - F.col("__prev")).alias("gap"),  # null for first row
        "vd",
        "vd_lag",
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "gap", "6h", "6h"),
            FeatureDescriptor("count", "gap", "6h", "6h"),
            FeatureDescriptor("max", "gap", "6h", "6h"),
            # change-feature natives via the shift recipe (tsfresh
            # mean_change / cid_ce / number_crossing_m /
            # absolute_sum_of_changes): exact decimal pair sums, one
            # final double formula — token-identical to the oracle
            FeatureDescriptor("mean_diff", ("vd", "vd_lag"), "6h", "6h"),
            FeatureDescriptor("cid_ce", ("vd", "vd_lag"), "6h", "6h"),
            FeatureDescriptor(
                FuncWrapper("crossings", output_names="x35", t=35.0),
                ("vd", "vd_lag"), "6h", "6h",
            ),
            FeatureDescriptor("sum_abs_diff", ("vd", "vd_lag"), "6h", "6h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    n = F.col("gap__count__w=6h").cast("bigint")
    return out.select(
        "ts",
        F.try_divide(F.col("gap__sum__w=6h").cast("double"), n).alias("mean_gap_us"),
        F.col("gap__max__w=6h").cast("bigint").alias("max_gap_us"),
        n.alias("cnt_val"),
        F.col("vd|vd_lag__mean_diff__w=6h").alias("mean_change"),
        F.col("vd|vd_lag__cid_ce__w=6h").alias("cid_ce"),
        F.col("vd|vd_lag__x35__w=6h").cast("bigint").alias("n_cross_35"),
        F.col("vd|vd_lag__sum_abs_diff__w=6h").alias("abs_change_sum"),
    )


def _oracle_intersample_stats() -> str:
    w = 6 * H1
    return f"""
WITH d AS (SELECT ts,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY ts) AS gap,
                  CAST(value AS DECIMAL(18,2)) AS vd,
                  lag(CAST(value AS DECIMAL(18,2))) OVER (ORDER BY ts) AS vd_lag
           FROM events),
-- the gap series starts at its first non-null sample (the 2nd event):
-- series bounds come from the series' own index, not the raw table
b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1
      FROM d WHERE gap IS NOT NULL),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT s_start,
               sum(d.gap) AS sum_gap, count(d.gap) AS n, max(d.gap) AS max_gap,
               count(CASE WHEN d.vd IS NOT NULL AND d.vd_lag IS NOT NULL
                          THEN 1 END)                                    AS pn,
               sum(CASE WHEN d.vd IS NOT NULL AND d.vd_lag IS NOT NULL
                        THEN d.vd - d.vd_lag END)                        AS psd,
               sum(CASE WHEN d.vd IS NOT NULL AND d.vd_lag IS NOT NULL
                        THEN (d.vd - d.vd_lag) * (d.vd - d.vd_lag) END)  AS psdd,
               sum(CASE WHEN d.vd IS NOT NULL AND d.vd_lag IS NOT NULL
                        THEN abs(d.vd - d.vd_lag) END)                   AS psad,
               count(CASE WHEN d.vd IS NOT NULL AND d.vd_lag IS NOT NULL
                          AND ((d.vd > 35.0) <> (d.vd_lag > 35.0))
                          THEN 1 END)                                    AS nx
        FROM seg LEFT JOIN d
          ON epoch_us(d.ts) >= s_start AND epoch_us(d.ts) < s_start + {w}
        GROUP BY s_start)
SELECT make_timestamp(s_start + {w}) AS ts,
       CAST(sum_gap AS DOUBLE) / n AS mean_gap_us,
       max_gap AS max_gap_us,
       n AS cnt_val,
       CASE WHEN pn > 0 THEN CAST(psd AS DOUBLE) / pn END  AS mean_change,
       CASE WHEN pn > 0 THEN sqrt(CAST(psdd AS DOUBLE)) END AS cid_ce,
       nx AS n_cross_35,
       coalesce(CAST(psad AS DOUBLE), 0.0) AS abs_change_sum
FROM agg ORDER BY ts
"""


def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (SURVEY §2.9 applyInPandasWithState):
    per-user running count/mean/var_pop/min/max with O(1) state per key
    (Chan parallel-moment merge). Runs a real availableNow streaming job
    over the events parquet, then returns the final state per user."""
    _utc(spark)
    import uuid

    from pyspark.sql import Window as W

    from tsflex_spark.streaming.stateful import running_stats_stream

    # r11: stream the ORIGINAL events parquet directly — the gate's state
    # op needs only (user_id, value), and a user-supplied schema that
    # omits the nanosecond ts column never touches it (column pruning at
    # the parquet reader), so the old select+coalesce(4)+write source
    # copy (~1 s of build wall per call) is pure overhead. The file
    # source wants a DIRECTORY; pathGlobFilter pins it to the one file.
    # Identical rows, and the Chan fixed-point merge is batch-boundary-
    # independent, so results are unchanged by the source's file layout.
    # pathGlobFilter matches leaf file NAMES: a directory-shaped
    # events.parquet (a Spark-written dataset) would match no file and
    # the gate would return zero rows instead of failing
    if not os.path.isfile(f"{sf_dir}/events.parquet"):
        raise FileNotFoundError(f"{sf_dir}/events.parquet is not a single file")
    tmp = tempfile.mkdtemp(prefix="tsfs_stateful_")
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # exact fixed-point state: identical results regardless of micro-batch
    # boundaries, and hash-identical to the SQL oracle's derived moments
    out = running_stats_stream(
        stream, value_col="value", key_cols=["user_id"], exact_decimals=2
    )
    name = "q_stateful_" + uuid.uuid4().hex[:8]
    # the streaming query pins its state-store partition count to the
    # shuffle partitions at START; 100 user keys need far fewer than the
    # batch default, and each store instance costs checkpoint files per
    # micro-batch (restored below — batch queries are unaffected)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    res = spark.table(name)
    # the memory sink holds the rows; the source copy + checkpoint are done
    shutil.rmtree(tmp, ignore_errors=True)
    rn = F.row_number().over(W.partitionBy("user_id").orderBy(F.col("n").desc()))
    final = res.withColumn("__rn", rn).where(F.col("__rn") == 1).drop("__rn")
    stat_rows = final.select(
        "user_id",
        F.col("n").alias("cnt_val"),
        F.col("mean").alias("mean_val"),
        F.col("var_pop").alias("var_val"),
        F.col("min").alias("min_val"),
        F.col("max").alias("max_val"),
    )
    # EWMA legs (round 10, r9 verdict task 3): distributed EWMA promoted
    # from pytest to this hash gate via DYADIC data — alpha = 0.5 (so
    # r = 1-alpha = 2^-1: every multiply is an exact binary shift) over a
    # {0,1}-valued series of <= 52 rows, so every partial quantity N_t =
    # sum x_j 2^{j-t} / D_t = 2 - 2^{-t} spans <= 53 mantissa bits and is
    # EXACTLY representable — both engines compute bit-identical doubles
    # regardless of association (verified: pandas ewm(adjust=True) ==
    # plain recurrence bitwise on this data). Two lanes:
    #  - unkeyed (sentinel user_id -209..-261): utils.distributed.
    #    with_global_ewma — 52 rows range-partitioned across the full 32
    #    shuffle partitions, so the geometric prefix-stitch (per-partition
    #    edge table, pow(r, delta) carries) is exercised across ~32
    #    partition boundaries and replayed bit-exactly by the oracle's
    #    recursive CTE;
    #  - keyed (sentinel user_id -1..-208): 4 keys x 52 rows through the
    #    per-key pandas-ewm applyInPandas lane.
    # Series are derived from the documents table (doc_id is a dense
    # 0-based sequence at every driver SF), x = parity bits.
    from tsflex_spark.processing.smoothing import ewma

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ug = ewma(
        docs.where(F.col("doc_id") < 52).select(
            F.col("doc_id").alias("t"),
            (F.col("doc_id") % 2).cast("double").alias("x"),
        ),
        "x",
        0.5,
        ts_col="t",
    )
    urows = ug.select(
        (-(F.lit(208) + F.col("t") + 1)).cast("long").alias("user_id"),
        F.col("t").cast("bigint").alias("cnt_val"),
        F.col("x_ewma").alias("mean_val"),
        F.lit(0.0).alias("var_val"),
        F.col("x").alias("min_val"),
        F.lit(0.0).alias("max_val"),
    )
    kg = docs.where(F.col("doc_id") < 208).select(
        F.col("doc_id").alias("t"),
        (F.col("doc_id") % 4).alias("k"),
        ((F.floor(F.col("doc_id") / 4) + F.col("doc_id") % 4) % 2)
        .cast("double")
        .alias("x"),
    )
    kk = ewma(kg, "x", 0.5, ts_col="t", key_cols=["k"])
    krows = kk.select(
        (-(F.col("k") * 52 + F.floor(F.col("t") / 4) + 1))
        .cast("long")
        .alias("user_id"),
        F.floor(F.col("t") / 4).cast("bigint").alias("cnt_val"),
        F.col("x_ewma").alias("mean_val"),
        F.lit(0.0).alias("var_val"),
        F.col("x").alias("min_val"),
        F.lit(0.0).alias("max_val"),
    )
    return (
        stat_rows.unionByName(urows).unionByName(krows).repartition(1).orderBy("user_id")
    )


def _oracle_streaming_stateful() -> str:
    # derive mean/var from exact integer cent sums with the same op order
    # as the stateful operator's exact_decimals path. The ew CTE replays
    # the EWMA legs (r10) as the plain linear recurrence n_t = x_t + r
    # n_{t-1}, d_t = 1 + r d_{t-1}, y = n/d — bit-identical to BOTH the
    # engine's blocked prefix-stitch scan and pandas ewm because the
    # planted data is dyadic (r = 2^-1, x in {0,1}, <= 52 steps: every
    # partial sum is exactly representable, so association cannot change
    # the double). Lanes 0..3 are the keyed legs, lane 4 the unkeyed
    # distributed-stitch leg.
    return """
WITH RECURSIVE
c AS (SELECT user_id, value, CAST(round(value * 100) AS BIGINT) AS cv FROM events),
a AS (SELECT user_id, count(value) AS n, sum(cv) AS s1, sum(cv * cv) AS s2,
             min(value) AS mn, max(value) AS mx
      FROM c GROUP BY user_id),
ew(lane, p, x, n, d) AS (
    SELECT lane, 0,
           CAST((CASE WHEN lane = 4 THEN 0 ELSE lane END) % 2 AS DOUBLE),
           CAST((CASE WHEN lane = 4 THEN 0 ELSE lane END) % 2 AS DOUBLE),
           CAST(1.0 AS DOUBLE)
    FROM (VALUES (0), (1), (2), (3), (4)) l(lane)
    UNION ALL
    SELECT lane, p + 1,
           CAST(((CASE WHEN lane = 4 THEN 0 ELSE lane END) + p + 1) % 2 AS DOUBLE),
           CAST(((CASE WHEN lane = 4 THEN 0 ELSE lane END) + p + 1) % 2 AS DOUBLE)
             + 0.5 * n,
           CAST(1.0 AS DOUBLE) + 0.5 * d
    FROM ew WHERE p < 51
),
ewrows AS (
    SELECT CAST(-(CASE WHEN lane = 4 THEN 208 + p + 1
                       ELSE lane * 52 + p + 1 END) AS BIGINT) AS user_id,
           CAST(p AS BIGINT) AS cnt_val,
           n / d AS mean_val,
           0.0 AS var_val,
           x AS min_val,
           0.0 AS max_val
    FROM ew
)
SELECT user_id,
       n AS cnt_val,
       (CAST(s1 AS DOUBLE) / 100) / n AS mean_val,
       greatest((CAST(s2 AS DOUBLE) / 10000) / n
                - ((CAST(s1 AS DOUBLE) / 100) / n) * ((CAST(s1 AS DOUBLE) / 100) / n),
                0.0) AS var_val,
       mn AS min_val,
       mx AS max_val
FROM a
UNION ALL
SELECT * FROM ewrows
ORDER BY user_id
"""


def _plant_warc_archives(spark: SparkSession, sf_dir: str, n_arcs: int = 8) -> str:
    """Write deterministic gzipped WARC archives derived from the
    documents table into a scratch dir and return that dir.

    Per doc, THREE records ride one archive: a ``request`` (must be
    filtered out by ``record_types`` — if the filter broke, the gate's
    per-doc join would fan out and rows_match would fail loudly), a
    ``response`` whose payload is the doc text, and a ``conversion``
    (the WET record type) whose payload is ``text[::-1]`` — distinct
    per record type so each read leg verifies its own path. Every
    record is its own gzip MEMBER (CommonCrawl layout), exercising the
    reader's multi-member streaming branch.

    This is a TEST-FIXTURE generator for the oracle gate (the archive
    content is a pure function of the parquet rows, so DuckDB replays
    the expected records from ``documents`` alone). The ``.collect()``
    is the eager fixture write — bounded at one row per archive — not
    an engine pattern; on a real cluster the fixture would live on
    shared storage. Archives regenerate on every call (same file
    names, atomic replace), so stale fixtures cannot leak between SFs
    or test-data versions. The directory stays after the gate returns:
    its result reads the archives lazily, at every consumption.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out_dir = os.path.join(tempfile.gettempdir(), "tsflex_warc_gate", sf_name)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def _record(wtype: str, did: int, payload: bytes) -> bytes:
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: {wtype}\r\n"
            f"WARC-Record-ID: <urn:test:{did}>\r\n"
            f"WARC-Target-URI: <http://example.com/doc/{did}>\r\n"
            f"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            f"Content-Type: text/plain\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode("ascii")
        return head + payload + b"\r\n\r\n"

    def write_arcs(batches):
        import gzip

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        chunks = []
        n = 0
        for pdf in batches:
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                body = str(txt).encode("utf-8")
                chunks.append(gzip.compress(_record("request", did, b"GET /")))
                chunks.append(gzip.compress(_record("response", did, body)))
                chunks.append(gzip.compress(_record("conversion", did, body[::-1])))
                n += 1
        if chunks:
            path = os.path.join(out_dir, f"arc_{pid}.warc.gz")
            with open(path + ".tmp", "wb") as fh:
                fh.write(b"".join(chunks))
            os.replace(path + ".tmp", path)
            yield pd.DataFrame({"path": [path], "n": [n]})

    docs.repartition(n_arcs).mapInPandas(write_arcs, "path string, n long").collect()
    return out_dir


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing (SURVEY north-star): documents
    encoded as opaque blobs -> mapInPandas decode (deterministic 8x8 fake
    — image libs are stubbed) -> per-image mean/std features, plus the
    4x4 nearest-neighbor resize (sum of resized pixels). The oracle
    recomputes the same float32-quantized pixels from the bytes.

    Second op (round 7): ``text.html_to_text`` — the crawl-ingestion
    extraction step. The gate wraps each doc in a full HTML page
    (head/style/script blocks, entity-bearing list items, a comment;
    every 7th doc additionally gets an HTTP response header to exercise
    the header-strip branch) and hash-compares the ENTIRE extracted
    text: block removal, tag→newline structure, entity decode order,
    and whitespace collapse are all replayed in SQL (the whole regexp
    chain is RE2-compatible by construction).

    Third op (round 9): the WARC/WET source (``sources/warc.py``) —
    previously the largest operator with no oracle gate — runs its REAL
    path end-to-end: deterministic gzipped archives planted from the
    documents table (see ``_plant_warc_archives``) are read back through
    ``binaryFile`` → multi-member gzip streaming → header parse →
    record-type filter, three legs: ``read_warc`` (response records;
    payload must byte-equal the doc text), ``read_wet`` (conversion
    records; payload is the REVERSED text, so the WET decode path is
    verified distinctly), and ``read_warc(max_payload_bytes=64)``
    (payload truncation capped at parse time while ``content_length``
    keeps the declared full length). doc_id is recovered by parsing the
    WARC-Target-URI, so the URI/record-id angle-bracket strip and the
    header round-trip are all on the hash path."""
    _utc(spark)
    from tsflex_spark.datapipe.multimodal import (
        audio_features,
        decode_image_features,
        resize_images,
    )
    from tsflex_spark.datapipe.text import html_to_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = docs.select(
        F.col("doc_id"), F.encode(F.col("text"), "UTF-8").alias("media")
    )
    out = decode_image_features(media, media_col="media", id_col="doc_id")
    rs = resize_images(media, media_col="media", id_col="doc_id", height=4, width=4)
    rs_sum = rs.select(
        "doc_id",
        F.aggregate(
            "pixels", F.lit(0.0), lambda a, x: a + x.cast("double")
        ).alias("resize_sum"),
    )
    # audio tier on the same blobs: every fake-decoded sample (b-128)/128
    # is dyadic, so all float sums are EXACT and both engines produce
    # bit-identical rms/zcr doubles
    au = audio_features(media, media_col="media", id_col="doc_id").select(
        "doc_id", F.col("rms").alias("audio_rms"), F.col("zcr").alias("audio_zcr")
    )
    hsrc = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
            ).otherwise(F.lit("")),
            F.lit(
                "<html><head><title>T</title><style>p{color:red}</style>"
                "</head><body><h1>Doc "
            ),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit(
                "</p><ul><li>a &amp; b</li><li>x &lt;= y</li></ul>"
                "<script>var a = 1 < 2;</script><!-- hidden --></body></html>"
            ),
        ).alias("__h"),
    )
    ht = html_to_text(hsrc, "__h", out_col="__ht").select(
        "doc_id",
        F.col("__ht").alias("html_clean"),
        F.length("__ht").cast("long").alias("html_chars"),
    )
    # WARC/WET legs: plant archives, read them back through the real
    # parse path, key every record by the doc_id parsed from its URI
    from tsflex_spark.sources.warc import read_warc, read_wet

    arc_dir = _plant_warc_archives(spark, sf_dir)
    uri_id = F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long")
    wr = read_warc(spark, arc_dir, record_types=("response",)).select(
        uri_id.alias("doc_id"),
        F.col("record_id").alias("warc_record_id"),
        F.col("content_length").alias("warc_clen"),
        F.decode("payload", "UTF-8").alias("warc_text"),
    )
    wet = read_wet(spark, arc_dir).select(
        uri_id.alias("doc_id"), F.col("text").alias("wet_text")
    )
    tr = read_warc(
        spark, arc_dir, record_types=("response",), max_payload_bytes=64
    ).select(
        uri_id.alias("doc_id"),
        F.col("content_length").alias("trunc_clen"),
        F.decode("payload", "UTF-8").alias("trunc_text"),
    )
    return (
        out.join(rs_sum, on="doc_id")
        .join(au, on="doc_id")
        .join(ht, on="doc_id")
        .join(wr, on="doc_id")
        .join(wet, on="doc_id")
        .join(tr, on="doc_id")
        .select(
            "doc_id", "img_mean", "img_std", "resize_sum", "audio_rms",
            "audio_zcr", "html_clean", "html_chars",
            "warc_record_id", "warc_clen", "warc_text",
            "wet_text", "trunc_clen", "trunc_text",
        )
        .coalesce(1).orderBy("doc_id")
    )


def _oracle_multimodal_decode() -> str:
    # pixel i = float32(byte_i/255), bytes zero-padded to 64 (docs are
    # pure ASCII so unicode(char) == byte value). resize_sum = the 4x4
    # nearest-neighbor sample of the 8x8 image: rows/cols {0,2,4,6},
    # 1-indexed flat positions 8r+c+1, summed left-to-right like the
    # engine's F.aggregate fold.
    idxs = [8 * r + c + 1 for r in (0, 2, 4, 6) for c in (0, 2, 4, 6)]
    return f"""
WITH b AS (
  SELECT doc_id,
         list_transform(range(1, 65),
           i -> CAST(CAST(CASE WHEN i <= length(text)
                               THEN unicode(substr(text, CAST(i AS INT), 1))
                               ELSE 0 END / 255.0 AS REAL) AS DOUBLE)) AS px
  FROM documents),
s AS (SELECT doc_id,
             list_sum(px) / 64 AS m,
             list_sum(list_transform(px, x -> x * x)) / 64 AS m2,
             list_sum(list_transform({idxs}, i -> px[i])) AS resize_sum
      FROM b),
aud AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1),
           i -> (CAST(unicode(substr(text, CAST(i AS INT), 1)) AS DOUBLE) - 128.0)
                / 128.0) AS w
  FROM documents),
a2 AS (
  SELECT doc_id,
         CASE WHEN len(w) > 0
              THEN sqrt(list_sum(list_transform(w, x -> x * x)) / len(w))
              ELSE 0.0 END AS audio_rms,
         CASE WHEN len(w) > 1
              THEN CAST(len(list_filter(range(1, CAST(len(w) AS BIGINT)),
                                        i -> (w[i] < 0) != (w[i+1] < 0))) AS DOUBLE)
                   / (len(w) - 1)
              ELSE 0.0 END AS audio_zcr
  FROM aud),
wrc AS (
  -- the planted WARC fixture is a pure function of the documents rows:
  -- response payload = text, conversion (WET) payload = reverse(text),
  -- truncated read caps the payload at 64 bytes (docs are pure ASCII,
  -- checked by the xxh64 oracle precedent) while content_length keeps
  -- the DECLARED length
  SELECT doc_id,
         'urn:test:' || doc_id AS warc_record_id,
         CAST(strlen(text) AS BIGINT) AS warc_clen,
         text AS warc_text,
         reverse(text) AS wet_text,
         CAST(strlen(text) AS BIGINT) AS trunc_clen,
         substr(text, 1, 64) AS trunc_text
  FROM documents)
SELECT s.doc_id, m AS img_mean, sqrt(greatest(m2 - m * m, 0)) AS img_std, resize_sum,
       audio_rms, audio_zcr, h.html_clean, h.html_chars,
       w.warc_record_id, w.warc_clen, w.warc_text,
       w.wet_text, w.trunc_clen, w.trunc_text
FROM s JOIN a2 ON s.doc_id = a2.doc_id
JOIN ({_html_leg_sql()}) h ON h.doc_id = s.doc_id
JOIN wrc w ON w.doc_id = s.doc_id
ORDER BY s.doc_id
"""


def _html_leg_sql() -> str:
    """html_to_text replay on the gate's planted HTML page: the exact
    regexp chain from ``text.html_to_text`` (header strip, block
    removal, comment removal, block-tags→newline, tag strip, entity
    decode in engine order, whitespace collapse, trim) — every pattern
    is RE2-compatible (inline (?is) flags, lazy quantifiers; no
    lookaround), so the full extracted text hash-matches."""
    blocks = ""
    expr = "h"
    # header strip: anchored first-match replace, applied only to HTTP/
    expr = (
        f"CASE WHEN {expr} LIKE 'HTTP/%' THEN "
        f"regexp_replace({expr}, '(?s)^.*?\\r?\\n\\r?\\n', '', 'g') "
        f"ELSE {expr} END"
    )
    for blk in ("script", "style", "head", "noscript", "template"):
        expr = f"regexp_replace({expr}, '(?is)<{blk}\\b.*?</{blk}\\s*>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
    expr = (
        f"regexp_replace({expr}, '(?i)</?(p|div|br|li|ul|ol|tr|td|th|table|"
        f"h[1-6]|section|article|header|footer|blockquote)\\b[^>]*>', "
        f"chr(10), 'g')"
    )
    expr = f"regexp_replace({expr}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "''"), ("&apos;", "''"), ("&amp;", "&"),
    ):
        expr = f"replace({expr}, '{ent}', '{rep}')"
    expr = f"regexp_replace({expr}, '[ \\t\\x0b\\f\\r]+', ' ', 'g')"
    expr = f"regexp_replace({expr}, ' ?\\n[ \\n]*', chr(10), 'g')"
    expr = f"trim(regexp_replace({expr}, '^\\n+|\\n+$', '', 'g'))"
    return f"""
WITH hp AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN 'HTTP/1.1 200 OK' || chr(13) || chr(10)
                   || 'Content-Type: text/html' || chr(13) || chr(10)
                   || chr(13) || chr(10)
              ELSE '' END
         || '<html><head><title>T</title><style>p{{color:red}}</style>'
         || '</head><body><h1>Doc ' || doc_id || '</h1><p>' || text
         || '</p><ul><li>a &amp; b</li><li>x &lt;= y</li></ul>'
         || '<script>var a = 1 < 2;</script><!-- hidden --></body></html>'
           AS h
  FROM documents)
SELECT doc_id, {expr} AS html_clean,
       CAST(length({expr}) AS BIGINT) AS html_chars
FROM hp
"""


def q_multi_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple windows in ONE calculate() (reference MultipleFeatureDescriptors
    usage): value sum/count over 1h AND 2h tumbling windows — two window
    configs computed independently and full-outer-joined on the output
    index (reference feature_collection.py:827-838 assembly)."""
    _utc(spark)
    from tsflex_spark import MultipleFeatureDescriptors

    ev = _events(spark, sf_dir).select(
        "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    # strides applies to every descriptor (reference semantics): the 2h
    # window slides at 1h stride
    mfd = MultipleFeatureDescriptors(
        functions=["sum", "count"],
        series_names="value",
        windows=["1h", "2h"],
        strides="1h",
    )
    fc = FeatureCollection(mfd)
    out = fc.calculate(ev, ts_col="ts")
    return out.select(
        "ts",
        F.col("value__sum__w=1h").cast("double").alias("sum_1h"),
        F.col("value__count__w=1h").cast("bigint").alias("cnt_1h"),
        F.col("value__sum__w=2h").cast("double").alias("sum_2h"),
        F.col("value__count__w=2h").cast("bigint").alias("cnt_2h"),
    )


def _oracle_multi_window() -> str:
    def grid(w: int, tag: str) -> str:
        return f"""
g{tag} AS (SELECT t0 + kk * {H1} AS s_start
           FROM k{tag} CROSS JOIN generate_series(0, 100000) AS g(kk)
           WHERE kk < nb),
a{tag} AS (SELECT s_start + {w} AS ts_n,
                  sum(CAST(e.value AS DECIMAL(18,2))) AS sum_dec,
                  count(e.value) AS cnt
           FROM g{tag} LEFT JOIN events e
             ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
           GROUP BY s_start)"""

    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k1 AS (SELECT t0, t1, greatest(CAST(floor((t1 - t0 - {H1}) / {H1}.0) AS BIGINT) + 1, 0) AS nb FROM b),
k2 AS (SELECT t0, t1, greatest(CAST(floor((t1 - t0 - {2 * H1}) / {H1}.0) AS BIGINT) + 1, 0) AS nb FROM b),
{grid(H1, "1")},
{grid(2 * H1, "2")}
SELECT make_timestamp(coalesce(a1.ts_n, a2.ts_n)) AS ts,
       -- empty-window sum fills 0.0 within a config's own spine (np.sum([])
       -- parity); rows absent from a spine stay NULL (outer-join miss)
       CASE WHEN a1.ts_n IS NOT NULL
            THEN coalesce(CAST(a1.sum_dec AS DOUBLE), 0.0) END AS sum_1h,
       a1.cnt AS cnt_1h,
       CASE WHEN a2.ts_n IS NOT NULL
            THEN coalesce(CAST(a2.sum_dec AS DOUBLE), 0.0) END AS sum_2h,
       a2.cnt AS cnt_2h
FROM a1 FULL JOIN a2 ON a1.ts_n = a2.ts_n
ORDER BY ts
"""


def q_chunk_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk feature extraction (SURVEY §2.11 chunk_data →
    calculate-per-chunk, collapsed into one distributed pass): the gap
    island id IS the aggregation key — two shuffles, boundaries and
    features together."""
    _utc(spark)
    from tsflex_spark.chunking import chunk_features

    ev = _events(spark, sf_dir).select(
        "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    out = chunk_features(
        ev, ts_col="ts", value_col="value", aggs=["sum", "count", "max"], max_gap="10m"
    )
    return out.select(
        "chunk_id",
        "chunk_start",
        "chunk_end",
        "n_samples",
        F.col("value__sum__w=chunk").cast("double").alias("sum_val"),
        F.col("value__count__w=chunk").cast("bigint").alias("cnt_val"),
        F.col("value__max__w=chunk").cast("double").alias("max_val"),
    )


def _oracle_chunk_features() -> str:
    return """
WITH d AS (SELECT ts, CAST(value AS DECIMAL(18,2)) AS v,
                  CASE WHEN lag(ts) OVER (ORDER BY ts) IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (ORDER BY ts)) > 600000000
                       THEN 1 ELSE 0 END AS chg
           FROM events WHERE value IS NOT NULL),
i AS (SELECT ts, v, sum(chg) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS isl FROM d)
SELECT CAST(isl - 1 AS INT) AS chunk_id,
       min(ts) AS chunk_start, max(ts) AS chunk_end, count(*) AS n_samples,
       CAST(sum(v) AS DOUBLE) AS sum_val,
       count(v) AS cnt_val,
       max(v) AS max_val
FROM i GROUP BY isl ORDER BY chunk_id
"""


def q_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window features (SURVEY §2.9) in batch: per-user sessions
    with 30m gap — session end = last event + gap (Spark session-window
    semantics), native aggs only."""
    _utc(spark)
    from tsflex_spark.streaming.rolling import session_features_stream

    ev = _events(spark, sf_dir).select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    out = session_features_stream(
        ev, gap="30 minutes", aggs={"value": ["sum", "count"]}, key_cols=["user_id"]
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.col("value__sum__w=session").cast("double").alias("sum_val"),
        F.col("value__count__w=session").cast("bigint").alias("cnt_val"),
    ).orderBy("user_id", "session_start")


def _oracle_streaming_session() -> str:
    return """
WITH d AS (SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS v,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
                       THEN 1 ELSE 0 END AS chg
           FROM events),
i AS (SELECT user_id, ts, v,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS isl
      FROM d)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(sum(v) AS DOUBLE) AS sum_val,
       count(v) AS cnt_val
FROM i GROUP BY user_id, isl ORDER BY user_id, session_start
"""


def q_categorical_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical count features (SURVEY §2.4, reference tests
    :1965-2002): per 6h tumbling window, count of each event_type —
    F.count(F.when(...)) per category, one codegen aggregate. Also
    carries the exact ``n_unique`` distinct-agg on user_id (SURVEY §2.4,
    absent in the reference, Catalyst-native here) — a fused
    multi-function, multi-series config in ONE segment assignment (the
    driver caps queries() at 50, and fusion is itself an engine
    feature)."""
    _utc(spark)
    ev = _events(spark, sf_dir).select("ts", "event_type", "user_id")
    cats = ["click", "view", "purchase", "error", "signup"]
    # engine native count + per-category conditional counts via the same
    # segment assignment: express categories as pre-projected 0/1 series
    proj = ev.select(
        "ts",
        F.col("event_type").alias("event_type"),
        F.col("user_id"),
        *[
            F.when(F.col("event_type") == c, F.lit(1)).alias(f"is_{c}")
            for c in cats
        ],
    )
    fc = FeatureCollection(
        [FeatureDescriptor("count", "event_type", "6h", "6h")]
        + [FeatureDescriptor("count", f"is_{c}", "6h", "6h") for c in cats]
        + [FeatureDescriptor("n_unique", "user_id", "6h", "6h")]
    )
    out = fc.calculate(proj, ts_col="ts", bound_method="outer", approve_sparsity=True)
    return out.select(
        "ts",
        F.col("event_type__count__w=6h").cast("bigint").alias("n_total"),
        *[
            F.col(f"is_{c}__count__w=6h").cast("bigint").alias(f"n_{c}")
            for c in cats
        ],
        F.col("user_id__n_unique__w=6h").cast("bigint").alias("n_users"),
    )


def _oracle_categorical_counts() -> str:
    w = 6 * H1
    cats = ["click", "view", "purchase", "error", "signup"]
    cat_sel = ",\n       ".join(
        f"count(e.event_type) FILTER (WHERE e.event_type = '{c}') AS n_{c}" for c in cats
    )
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb)
SELECT make_timestamp(s_start + {w}) AS ts,
       count(e.event_type) AS n_total,
       {cat_sel},
       count(DISTINCT e.user_id) AS n_users
FROM seg LEFT JOIN events e
  ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
GROUP BY s_start ORDER BY ts
"""


# dyadic gate weights for the classifier-scorer leg: multiples of 2^-10,
# so sign*w products and their sums are EXACT doubles (order-independent)
_CLF_GATE_WEIGHTS = [(j - 64) / 1024.0 for j in range(128)]

# fixed merge list for the bpe_encode gate leg (training's merge loop is
# driver-side by design — the SCORER/encoder is the corpus-scale path)
_BPE_GATE_MERGES = [
    ("e", "</w>"), ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("a", "n"), ("an", "d"), ("i", "n"), ("o", "n"), ("e", "r"),
    ("er", "</w>"),
]
_BPE_GATE_ALPHABET = list("abcdefghijklmnopqrstuvwxyz0123456789")


def _bpe_leg_sql() -> str:
    """bpe_encode replay with the gate's literal merges: per DISTINCT
    word, the lowest-rank-leftmost merge loop of ``encode_word`` runs as
    a recursive CTE (rank = 1-based ``list_position`` over the literal
    merge keys — 0 means no merge applies, the loop's exit); per doc,
    token counts and stable-vocab id sums re-aggregate over the word
    sequence. Unseen symbols map to -1 exactly like the engine vocab.
    The recursion is bounded by ``it < length(word) + 1`` — a word of L
    chars starts as L+1 symbols so L merges is the true maximum, unlike
    a fixed cap which could spuriously fail long repetitive words."""
    from tsflex_spark.datapipe.bpe import BPETokenizer

    tok = BPETokenizer(
        _BPE_GATE_MERGES, lowercase=True, alphabet=_BPE_GATE_ALPHABET
    )
    keys = ", ".join(
        "'" + (a + "\x01" + b).replace("'", "''") + "'"
        for a, b in _BPE_GATE_MERGES
    )
    vocab_syms = ", ".join(
        "'" + s.replace("'", "''") + "'" for s in sorted(tok.vocab)
    )
    return rf"""
WITH RECURSIVE bw AS (
  SELECT DISTINCT word
  FROM (SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents)),
benc AS (
  SELECT word, 0 AS it,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> substr(word, CAST(i AS INT), 1)),
                     '</w>') AS syms
  FROM bw
  UNION ALL
  SELECT word, it + 1,
         list_concat(
           list_concat(list_slice(syms, 1, i0 - 1),
                       [syms[i0] || syms[i0 + 1]]),
           list_slice(syms, i0 + 2, len(syms))) AS syms
  FROM (
    SELECT word, it, syms,
           list_position(ranks,
             list_aggregate(list_filter(ranks, r -> r > 0), 'min')) AS i0
    FROM (SELECT word, it, syms,
                 list_transform(range(1, len(syms)),
                   i -> list_position([{keys}],
                          syms[i] || chr(1) || syms[i + 1])) AS ranks
          FROM benc)
    WHERE len(list_filter(ranks, r -> r > 0)) > 0
      AND it < length(word) + 1)),
bfin AS (
  SELECT word, syms FROM (
    SELECT word, syms,
           row_number() OVER (PARTITION BY word ORDER BY it DESC) AS rn
    FROM benc) WHERE rn = 1),
bids AS (
  SELECT word,
         CAST(len(syms) AS BIGINT) AS n_toks,
         CAST(list_sum(list_transform(syms,
           s -> CASE WHEN list_position([{vocab_syms}], s) > 0
                     THEN list_position([{vocab_syms}], s) - 1
                     ELSE -1 END)) AS BIGINT) AS id_sum
  FROM bfin),
bwords AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS word
  FROM documents)
SELECT d.doc_id,
       CAST(coalesce(sum(b.n_toks), 0) AS BIGINT) AS bpe_enc_tokens,
       CAST(coalesce(sum(b.id_sum), 0) AS BIGINT) AS bpe_enc_id_sum
FROM documents d
LEFT JOIN bwords w ON w.doc_id = d.doc_id
LEFT JOIN bids b ON b.word = w.word
GROUP BY d.doc_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (SURVEY north-star; GPT-3 appendix C /
    Llama §5.1 word-n-gram overlap): docs with doc_id % 97 == 0 play the
    eval set; every other document is scored by its distinct word-8-gram
    overlap with that set. Eval n-gram hashes broadcast; the corpus side
    is one map-side hash join — corpus text never shuffles.

    Second op (round 7): ``classifier.score_quality`` — the corpus-scale
    codegen scorer (per-gram sign·w[bucket] via element_at into a
    literal weight array, one (sum,count) exchange, sigmoid). Weights
    are DYADIC literals ((j-64)/1024), so every contribution and every
    partial sum is exact in double — the per-doc mean is bit-identical
    regardless of partition/summation order, and the oracle replays the
    whole path (gram string xxhash64 → bucket/sign → weight lookup →
    sigmoid, 6dp-rounded on both sides). Training (LBFGS) is inherently
    iterative-numeric and stays pytest-covered; what a 100 TB run must
    trust bit-wise is the SCORER."""
    _utc(spark)
    from tsflex_spark.datapipe.classifier import QualityClassifier, score_quality
    from tsflex_spark.datapipe.decontam import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 97 == 0).select("text")
    corpus = docs.where(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    out = decontaminate(corpus, ev, text_col="text", id_col="doc_id", n=8)
    clf = QualityClassifier(
        weights=_CLF_GATE_WEIGHTS, intercept=0.125, dim=128, ngram=3
    )
    sq = score_quality(docs, clf, "text", "doc_id").select(
        "doc_id", F.round("quality_prob", 6).alias("clf_prob")
    )
    return (
        out.select(
            "doc_id",
            "n_ngrams",
            "n_hits",
            "hit_frac",
            F.col("contaminated").cast("int").alias("contaminated"),
        )
        .join(sq, on="doc_id")
        .coalesce(1).orderBy("doc_id")
    )


def _oracle_decontaminate() -> str:
    cg_chain = _xxh64_cte_chain("cg", _xxh64_gram_steps("cf", "g", 128), "cgx")
    wl = "[" + ", ".join(repr(w) for w in _CLF_GATE_WEIGHTS) + "]"
    return rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents),
g0 AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - 7, 1) + 1),
           i -> array_to_string(t[i:i+7], ' '))) AS gs
  FROM tok),
gf AS (SELECT doc_id, unnest(gs) AS gram FROM g0),
gd AS (SELECT doc_id, gram FROM gf WHERE gram <> ''),
e AS (SELECT DISTINCT gram FROM gd WHERE doc_id % 97 = 0),
agg AS (
  SELECT gd.doc_id,
         count(*) AS n_ngrams,
         count(e.gram) AS n_hits
  FROM gd LEFT JOIN e USING (gram)
  WHERE gd.doc_id % 97 <> 0
  GROUP BY gd.doc_id),
-- classifier-scorer replay: char 3-grams of lower/collapsed text,
-- bucket/sign via the unrolled xxhash64-string chain, dyadic weight
-- lookup, exact order-free mean, sigmoid at 6dp
cg AS (
  SELECT doc_id, substr(n, i::INT, 3) AS g
  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS n,
               unnest(range(1, greatest(length(lower(regexp_replace(text, '\s+', ' ', 'g'))) - 2, 1) + 1)) AS i
        FROM documents)),
{cg_chain},
csum AS (
  SELECT doc_id,
         sum(cf_sign * ({wl})[cf_bucket + 1]) AS s,
         count(*) AS n
  FROM cgx_fin GROUP BY doc_id),
cprob AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-(coalesce(s / CAST(n AS DOUBLE), 0.0) + 0.125))), 6)
           AS clf_prob
  FROM csum)
SELECT d.doc_id,
       coalesce(a.n_ngrams, 0) AS n_ngrams,
       coalesce(a.n_hits, 0) AS n_hits,
       CASE WHEN coalesce(a.n_ngrams, 0) > 0
            THEN CAST(coalesce(a.n_hits, 0) AS DOUBLE) / CAST(a.n_ngrams AS DOUBLE)
            ELSE 0.0 END AS hit_frac,
       CAST(coalesce(a.n_hits, 0) >= 1 AS INT) AS contaminated,
       p.clf_prob
FROM documents d LEFT JOIN agg a USING (doc_id)
JOIN cprob p USING (doc_id)
WHERE d.doc_id % 97 <> 0
ORDER BY d.doc_id
"""


def q_sliding_fine_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-stride sliding windows (4h window / 10m stride, fan-out 24):
    exercises the two-level pre-aggregation rewrite — rows bucket at the
    gcd grain (one un-duplicated shuffle), buckets roll into segments.
    Decimal sums keep sum/count/min/max and the two-series (corr)
    decomposition bit-exact vs the oracle: partial exact sums per bucket,
    final double formula identical on both engines. std is checked
    against DuckDB's own ``stddev_pop``: the summary's variance numerator
    n·Σv² − (Σv)² is exact on decimal input (sums shifted by the first
    sample leave it unchanged), so a one-sample window reads exactly 0,
    as it does in DuckDB."""
    _utc(spark)
    va = F.col("value").cast("decimal(12,2)")
    vb = (va + F.col("user_id").cast("decimal(10,0)")).cast("decimal(14,2)")
    ev = _events(spark, sf_dir).select(
        "ts",
        F.col("value").cast("decimal(18,2)").alias("value"),
        va.alias("va"),
        vb.alias("vb"),
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value", "4h", "10m"),
            FeatureDescriptor("count", "value", "4h", "10m"),
            FeatureDescriptor("min", "value", "4h", "10m"),
            FeatureDescriptor("max", "value", "4h", "10m"),
            FeatureDescriptor("std", "value", "4h", "10m"),
            FeatureDescriptor("corr", ("va", "vb"), "4h", "10m"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    return out.select(
        "ts",
        F.coalesce(F.col("value__sum__w=4h").cast("double"), F.lit(0.0)).alias("sum_val"),
        F.col("value__count__w=4h").cast("bigint").alias("cnt_val"),
        F.col("value__min__w=4h").cast("double").alias("min_val"),
        F.col("value__max__w=4h").cast("double").alias("max_val"),
        F.col("value__std__w=4h").alias("std_val"),
        F.col("va|vb__corr__w=4h").alias("corr_ab"),
    )


def _oracle_sliding_fine_stride() -> str:
    w, s = 4 * H1, 600_000_000
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {s}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {s} AS s_start
        FROM k CROSS JOIN generate_series(0, 1000000) AS g(kk)
        WHERE kk < nb),
ev AS (SELECT epoch_us(ts) AS tn, value,
              CAST(value AS DECIMAL(12,2)) AS va,
              CAST(CAST(value AS DECIMAL(12,2)) + CAST(user_id AS DECIMAL(10,0))
                   AS DECIMAL(14,2)) AS vb
       FROM events),
agg AS (SELECT s_start,
               sum(CAST(e.value AS DECIMAL(18,2))) AS sum_dec,
               count(e.value) AS cnt,
               min(e.value) AS mn, max(e.value) AS mx,
               CAST(count(e.value) AS DOUBLE) AS n,
               stddev_pop(CAST(e.value AS DECIMAL(18,2))) AS sd,
               CAST(sum(e.va) AS DOUBLE) AS sa,
               CAST(sum(e.vb) AS DOUBLE) AS sb,
               CAST(sum(e.va * e.vb) AS DOUBLE) AS sab,
               CAST(sum(e.va * e.va) AS DOUBLE) AS saa,
               CAST(sum(e.vb * e.vb) AS DOUBLE) AS sbb
        FROM seg LEFT JOIN ev e
          ON e.tn >= s_start AND e.tn < s_start + {w}
        GROUP BY s_start)
SELECT make_timestamp(s_start + {w}) AS ts,
       coalesce(CAST(sum_dec AS DOUBLE), 0.0) AS sum_val,
       cnt AS cnt_val,
       mn AS min_val,
       mx AS max_val,
       sd AS std_val,
       CASE WHEN n > 1 AND (n * saa - sa * sa) * (n * sbb - sb * sb) > 0
            THEN (n * sab - sa * sb)
                 / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) END AS corr_ab
FROM agg ORDER BY ts
"""


def q_rolling_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity rolling extraction (the Spark-scale extension the
    single-entity reference lacks): 6h/6h windows per user, each user's
    grid anchored at its OWN first sample (per-key bounds). One segment
    shuffle keyed by (user, segment) — the canonical 100 TB layout where
    millions of entities extract independently."""
    _utc(spark)
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "value", "6h", "6h"),
            FeatureDescriptor("count", "value", "6h", "6h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", key_cols=["user_id"])
    return out.select(
        "user_id",
        "ts",
        F.coalesce(F.col("value__sum__w=6h").cast("double"), F.lit(0.0)).alias("sum_val"),
        F.col("value__count__w=6h").cast("bigint").alias("cnt_val"),
    ).orderBy("user_id", "ts")


def _oracle_rolling_per_user() -> str:
    w = 6 * H1
    return f"""
WITH b AS (SELECT user_id, epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1
           FROM events GROUP BY user_id),
k AS (SELECT user_id, t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT user_id, t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
agg AS (SELECT seg.user_id, s_start,
               sum(CAST(e.value AS DECIMAL(18,2))) AS sum_dec,
               count(e.value) AS cnt
        FROM seg LEFT JOIN events e
          ON e.user_id = seg.user_id
         AND epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
        GROUP BY seg.user_id, s_start)
SELECT user_id, make_timestamp(s_start + {w}) AS ts,
       coalesce(CAST(sum_dec AS DOUBLE), 0.0) AS sum_val,
       cnt AS cnt_val
FROM agg ORDER BY user_id, ts
"""


def q_wide_long_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide⇄long boundary converters (SURVEY §1.5/§2.1): events pivoted
    to a wide frame (one column per event_type), melted back to long,
    then per-series stats — the round trip must preserve every sample."""
    _utc(spark)
    from tsflex_spark.utils.data import long_to_wide, wide_to_long

    ev = _events(spark, sf_dir).select(
        "ts", F.col("event_type").alias("series_name"), "value"
    )
    cats = ["click", "view", "purchase", "error", "signup"]
    wide = long_to_wide(ev, series_names=cats)
    back = wide_to_long(wide, series_cols=cats)
    main = back.groupBy("series_name").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_val"),
    )
    # scalar-utility legs (r10, r9 verdict task 8): profile_columns,
    # check_rules, and feature_drift join the board as '~'-prefixed rows
    # on this small gate — each is a one-aggregate-scan op with a trivial
    # SQL replay. Deliberately ungated: approx_count_distinct (an HLL
    # estimate no oracle can replay) and quantile-DERIVED drift edges
    # (percentile_approx sketch) — the gate pins literal edges instead,
    # which is also the production monitoring shape (edges computed once
    # from the training reference, reused verbatim every window).
    from tsflex_spark.utils.drift import feature_drift
    from tsflex_spark.utils.profile import profile_columns
    from tsflex_spark.utils.validate import check_rules, in_range, matches, not_null

    ev_all = _events(spark, sf_dir)
    prof = profile_columns(ev_all, ["user_id", "value", "event_type"])
    prows = prof.select(
        F.concat(F.lit("~profile:"), "column").alias("series_name"),
        F.col("n_null").alias("n_samples"),
        F.col("null_frac").alias("sum_val"),
    )
    mmrows = (
        prof.where(F.col("column").isin("user_id", "value"))
        .select(
            "column",
            "n_rows",
            F.col("min").cast("double").alias("mn"),
            F.col("max").cast("double").alias("mx"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("~profile_min:"), "column").alias(
                            "series_name"
                        ),
                        F.col("n_rows").alias("n_samples"),
                        F.col("mn").alias("sum_val"),
                    ),
                    F.struct(
                        F.concat(F.lit("~profile_max:"), "column").alias(
                            "series_name"
                        ),
                        F.col("n_rows").alias("n_samples"),
                        F.col("mx").alias("sum_val"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
    )
    rep = check_rules(
        ev_all,
        {
            "user_id_not_null": not_null("user_id"),
            "value_in_0_100": in_range("value", 0, 100),
            "event_type_lower": matches("event_type", "^[a-z]+$"),
        },
    )
    from tsflex_spark.utils.data import local_rows_df

    vrows = local_rows_df(
        spark,
        [
            (f"~expect:{k}", int(v), float(rep["n_rows"]))
            for k, v in sorted(rep["violations"].items())
        ],
        "series_name string, n_samples long, sum_val double",
    )
    dr = feature_drift(
        ev_all.where(F.col("user_id") % 2 == 0),
        ev_all.where(F.col("user_id") % 2 == 1),
        cols=["value"],
        edges={"value": [50.0, 100.0, 200.0]},
    )[0]
    drows = local_rows_df(
        spark,
        [
            ("~drift:psi:value", int(dr["n_ref"]), float(dr["psi"])),
            ("~drift:js:value", int(dr["n_cur"]), float(dr["js"])),
        ],
        "series_name string, n_samples long, sum_val double",
    )
    return (
        main.unionByName(prows)
        .unionByName(mmrows)
        .unionByName(vrows)
        .unionByName(drows)
        .coalesce(1).orderBy("series_name")
    )


def _oracle_wide_long_roundtrip() -> str:
    # '~' legs: profile (null counts/fracs + min/max round-tripped
    # through the engine's string cast), expectations (violation counts
    # under the engine's NULL-is-violation rule), and pinned-edge PSI/JS
    # drift (4 bins over literal edges 50/100/200, epsilon 1e-4 floor,
    # ln-sum replayed per bin — cross-engine libm differences sit ~1e-16,
    # far inside the gate's 1e-6 rounding)
    return """
WITH dh AS (
  SELECT (CASE WHEN value > 50 THEN 1 ELSE 0 END
        + CASE WHEN value > 100 THEN 1 ELSE 0 END
        + CASE WHEN value > 200 THEN 1 ELSE 0 END) AS b,
         user_id % 2 AS grp
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
dcounts AS (
  SELECT gs.b,
         coalesce(dc.r, 0) AS r, coalesce(dc.q, 0) AS q
  FROM (SELECT unnest(range(4)) AS b) gs
  LEFT JOIN (SELECT b, count(*) FILTER (WHERE grp = 0) AS r,
                    count(*) FILTER (WHERE grp = 1) AS q
             FROM dh GROUP BY b) dc USING (b)),
dtot AS (SELECT sum(r) AS nr, sum(q) AS nq FROM dcounts),
dpq AS (
  SELECT greatest(CAST(r AS DOUBLE) / nr, 0.0001) AS p,
         greatest(CAST(q AS DOUBLE) / nq, 0.0001) AS q2
  FROM dcounts CROSS JOIN dtot),
drift AS (
  SELECT sum((p - q2) * ln(p / q2)) AS psi,
         sum(0.5 * p * ln(p / (0.5 * (p + q2)))
           + 0.5 * q2 * ln(q2 / (0.5 * (p + q2)))) AS js
  FROM dpq),
prof AS (
  SELECT count(*) AS n,
         count(*) FILTER (WHERE user_id IS NULL) AS nu,
         count(*) FILTER (WHERE value IS NULL) AS nv,
         count(*) FILTER (WHERE event_type IS NULL) AS ne,
         CAST(CAST(min(user_id) AS VARCHAR) AS DOUBLE) AS umin,
         CAST(CAST(max(user_id) AS VARCHAR) AS DOUBLE) AS umax,
         CAST(CAST(min(value) AS VARCHAR) AS DOUBLE) AS vmin,
         CAST(CAST(max(value) AS VARCHAR) AS DOUBLE) AS vmax,
         count(*) FILTER (WHERE value IS NULL OR value < 0 OR value > 100)
           AS viol_range,
         count(*) FILTER (WHERE event_type IS NULL
                          OR NOT regexp_matches(event_type, '^[a-z]+$'))
           AS viol_re
  FROM events)
SELECT event_type AS series_name,
       count(*) AS n_samples,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
FROM events WHERE value IS NOT NULL
GROUP BY event_type
UNION ALL SELECT '~profile:user_id', nu, CAST(nu AS DOUBLE) / n FROM prof
UNION ALL SELECT '~profile:value', nv, CAST(nv AS DOUBLE) / n FROM prof
UNION ALL SELECT '~profile:event_type', ne, CAST(ne AS DOUBLE) / n FROM prof
UNION ALL SELECT '~profile_min:user_id', n, umin FROM prof
UNION ALL SELECT '~profile_max:user_id', n, umax FROM prof
UNION ALL SELECT '~profile_min:value', n, vmin FROM prof
UNION ALL SELECT '~profile_max:value', n, vmax FROM prof
UNION ALL SELECT '~expect:user_id_not_null', nu, CAST(n AS DOUBLE) FROM prof
UNION ALL SELECT '~expect:value_in_0_100', viol_range, CAST(n AS DOUBLE) FROM prof
UNION ALL SELECT '~expect:event_type_lower', viol_re, CAST(n AS DOUBLE) FROM prof
UNION ALL SELECT '~drift:psi:value', (SELECT CAST(nr AS BIGINT) FROM dtot),
          psi FROM drift
UNION ALL SELECT '~drift:js:value', (SELECT CAST(nq AS BIGINT) FROM dtot),
          js FROM drift
ORDER BY series_name
"""


def _twm_fn(s):
    """Time-weighted mean over the window's sample intervals — needs the
    series INDEX, exercising input_type=pd.Series."""
    import numpy as np

    if len(s) < 2:
        return float("nan")
    t = s.index.view("int64").astype("float64")
    dt = np.diff(t)
    return float((s.to_numpy()[:-1] * dt).sum() / dt.sum())


def q_time_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-aware UDF tier (SURVEY §2.10 input_type=pd.Series, reference
    function_wrapper.py:44-143): time-weighted mean per 6h window — the
    function reads the DatetimeIndex, not just values."""
    _utc(spark)
    import pandas as pd

    from tsflex_spark import FuncWrapper

    ev = _events(spark, sf_dir).select("ts", "value")
    fw = FuncWrapper(_twm_fn, output_names="twm", input_type=pd.Series)
    fc = FeatureCollection(
        [
            FeatureDescriptor(fw, "value", "6h", "6h"),
            FeatureDescriptor("count", "value", "6h", "6h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts", approve_sparsity=True)
    twm = F.col("value__twm__w=6h")
    return out.select(
        "ts",
        F.when(~F.isnan(twm), twm).alias("twm"),
        F.col("value__count__w=6h").cast("bigint").alias("cnt_val"),
    )


def _oracle_time_weighted_mean() -> str:
    w = 6 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb),
p AS (SELECT seg.s_start, e.value,
             CAST(epoch_us(e.ts) AS DOUBLE) * 1000 AS tn,
             lead(CAST(epoch_us(e.ts) AS DOUBLE) * 1000)
               OVER (PARTITION BY seg.s_start ORDER BY e.ts) AS tnext
      FROM seg JOIN events e
        ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}),
agg AS (SELECT s_start,
               sum(value * (tnext - tn)) FILTER (tnext IS NOT NULL) AS num,
               sum(tnext - tn) FILTER (tnext IS NOT NULL) AS den,
               count(*) AS cnt
        FROM p GROUP BY s_start),
allseg AS (SELECT seg.s_start, a.num, a.den, coalesce(a.cnt, 0) AS cnt
           FROM seg LEFT JOIN agg a ON a.s_start = seg.s_start)
SELECT make_timestamp(s_start + {w}) AS ts,
       CASE WHEN den > 0 THEN num / den END AS twm,
       cnt AS cnt_val
FROM allseg ORDER BY ts
"""


def _seg_style_mean(X):
    """seglearn-shaped feature: axis-0-vectorized over a (1, n) batch."""
    import numpy as np

    return np.mean(X, axis=1)


def _combiner_quantiles(x, param):
    """tsfresh-combiner-shaped: [(key, value), ...] per parameter dict."""
    import numpy as np

    return [(f"q{p['q']}", float(np.quantile(x, p["q"]))) for p in param]


def q_integration_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third-party wrapper surface (SURVEY §2.10, reference
    integrations.py:15-278) through the gate: a seglearn-shaped
    (1, n)-batch function and a tsfresh-combiner-shaped multi-output
    function, both over 6h windows via the UDF tier."""
    _utc(spark)
    from tsflex_spark.features.integrations import (
        seglearn_wrapper,
        tsfresh_combiner_feature_wrapper,
    )

    ev = _events(spark, sf_dir).select("ts", "value")
    fw1 = seglearn_wrapper(_seg_style_mean, "smean")
    fw2 = tsfresh_combiner_feature_wrapper(
        _combiner_quantiles, param=[{"q": 0.25}, {"q": 0.75}]
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor(fw1, "value", "6h", "6h"),
            FeatureDescriptor(fw2, "value", "6h", "6h"),
        ]
    )
    out = fc.calculate(ev, ts_col="ts")

    def denan(c):
        col = F.col(f"`{c}`")  # names contain dots — backtick-quote
        return F.when(~F.isnan(col), col)

    cols = list(out.columns)
    # wrapper-generated names: resolve robustly against the grammar
    q25 = next(c for c in cols if "0.25" in c)
    q75 = next(c for c in cols if "0.75" in c)
    smean = next(c for c in cols if "smean" in c)
    return out.select(
        "ts",
        denan(smean).alias("seg_mean"),
        denan(q25).alias("q25"),
        denan(q75).alias("q75"),
    )


def _oracle_integration_features() -> str:
    w = 6 * H1
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
k AS (SELECT t0, t1,
             greatest(CAST(floor((t1 - t0 - {w}) / {w}.0) AS BIGINT) + 1, 0) AS nb
      FROM b),
seg AS (SELECT t0 + kk * {w} AS s_start
        FROM k CROSS JOIN generate_series(0, 100000) AS g(kk)
        WHERE kk < nb)
SELECT make_timestamp(s_start + {w}) AS ts,
       avg(e.value) AS seg_mean,
       quantile_cont(e.value, 0.25) AS q25,
       quantile_cont(e.value, 0.75) AS q75
FROM seg LEFT JOIN events e
  ON epoch_us(e.ts) >= s_start AND epoch_us(e.ts) < s_start + {w}
GROUP BY s_start ORDER BY ts
"""


def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving/dashboard gate fusing two bounded-output ops (driver caps
    queries() at 50): M4 visual downsampling (processing/downsample.py —
    per (user, bin) first/last points + min/max values over 16 equal-width
    time bins, ONE codegen groupBy shuffling 8 scalars per bin) LEFT-joined
    with latest_snapshot (relational.py — latest view row per user
    at-or-before a mid-range cutoff; one map-side-combinable max_by
    aggregate, a single keyed exchange carrying one buffered row per key).
    M4's min_ts/max_ts anchors are excluded from the gate: duplicate
    2-decimal values within a bin make the argmin tie engine-specific
    (covered by pytest instead)."""
    _utc(spark)
    from tsflex_spark.processing.downsample import m4
    from tsflex_spark.relational import latest_snapshot

    views = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select("user_id", "ts", "value")
    )
    shape = m4(views, ts_col="ts", value_col="value", n_out=16, key_cols=["user_id"])
    snap = latest_snapshot(
        views, on="ts", by=["user_id"], at="2024-01-15 00:00:00"
    ).select(
        "user_id", F.col("ts").alias("snap_ts"), F.col("value").alias("snap_value")
    )
    out = shape.join(F.broadcast(snap), "user_id", "left")
    mrows = out.select(
        "user_id",
        F.col("bin").cast("long").alias("bin"),
        "first_ts",
        "first_val",
        "last_ts",
        "last_val",
        "min_val",
        "max_val",
        "snap_ts",
        "snap_value",
    )
    # LTTB leg (r10): exact LTTB promoted from pytest to a hash leg via a
    # PLANTED integer series (the dyadic-EWMA precedent, adapted to
    # sequential argmax): 256 points t = doc_id·1e6 µs, v = (doc_id·37)
    # mod 101 — every bucket mean is an exact-integer sum over ≤19 rows
    # divided once, every triangle area a fixed two-product expression
    # tree, so BOTH engines produce bit-identical doubles and the
    # argmax/tie-break (first index) cascade deterministically. The
    # oracle replays the 14 sequential bucket picks as a recursive CTE
    # with the numpy-linspace bucket bounds inlined as literals
    # (data-independent for fixed n=256, n_out=16). Sentinel user_id -1.
    from pyspark.sql import Window as _W

    from tsflex_spark.processing.downsample import lttb

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ser = docs.where(F.col("doc_id") < 256).select(
        F.timestamp_micros((F.col("doc_id") * 1_000_000).cast("long")).alias(
            "ts"
        ),
        ((F.col("doc_id") * 37) % 101).cast("double").alias("value"),
    )
    def _lttb_rows(kept, sentinel: int):
        return kept.select(
            F.lit(sentinel).cast("long").alias("user_id"),
            F.row_number().over(_W.orderBy("ts")).cast("long").alias("bin"),
            F.col("ts").alias("first_ts"),
            F.col("value").alias("first_val"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_val"),
            F.col("value").alias("min_val"),
            F.col("value").alias("max_val"),
            F.lit(None).cast("timestamp").alias("snap_ts"),
            F.lit(None).cast("double").alias("snap_value"),
        )

    lrows = _lttb_rows(lttb(ser, "ts", "value", n_out=16), -1)
    # MinMaxLTTB scale path (ratio=2): the JVM-side min/max preselect
    # keeps exactly 64 survivors on this series (8 distinct values per
    # fine bin — 37 is invertible mod 101, so min_by/max_by never tie),
    # then exact LTTB runs over them; the oracle replays bin assignment,
    # arg_min/arg_max survivor selection, and the 14-step pick cascade.
    # Sentinel user_id -2.
    l2rows = _lttb_rows(lttb(ser, "ts", "value", n_out=16, ratio=2), -2)
    return (
        mrows.unionByName(lrows).unionByName(l2rows).orderBy("user_id", "bin")
    )


def _oracle_m4_downsample() -> str:
    # LTTB leg literals: numpy-linspace bucket bounds for n=256, n_out=16
    # (data-independent; inlining skips replaying linspace's fp in SQL)
    import numpy as np

    n, n_out = 256, 16

    def _bounds_values(num: int) -> str:
        bounds = np.linspace(1, num - 1, n_out - 1).astype(np.int64)
        rows = []
        for i in range(n_out - 2):
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            nlo = int(bounds[i + 1])
            nhi = int(bounds[i + 2]) if i + 2 < len(bounds) else num
            rows.append(f"({i}, {lo}, {hi}, {nlo}, {nhi})")
        return ", ".join(rows)

    vals = _bounds_values(n)
    vals2 = _bounds_values(64)  # MinMaxLTTB survivor count on this series
    return f"""
WITH RECURSIVE
lt AS (SELECT doc_id AS i, CAST(doc_id * 1000000 AS DOUBLE) AS t,
              CAST((doc_id * 37) % 101 AS DOUBLE) AS vv
       FROM documents WHERE doc_id < 256),
ltb(step, lo, hi, nlo, nhi) AS (SELECT * FROM (VALUES {vals})),
ltg AS (SELECT b.step, avg(l.t) AS at, avg(l.vv) AS av
        FROM ltb b JOIN lt l ON l.i >= b.nlo AND l.i < b.nhi GROUP BY b.step),
ltsel(step, a) AS (
  SELECT -1, 0
  UNION ALL
  SELECT p.step + 1,
    (SELECT l.i
     FROM lt l, lt anch, ltb b, ltg g
     WHERE b.step = p.step + 1 AND g.step = p.step + 1
       AND l.i >= b.lo AND l.i < b.hi AND anch.i = p.a
     ORDER BY abs((anch.t - g.at) * (l.vv - anch.vv)
                - (anch.t - l.t) * (g.av - anch.vv)) DESC, l.i ASC
     LIMIT 1)
  FROM ltsel p WHERE p.step < {n_out - 3}),
ltk AS (SELECT DISTINCT a AS i FROM ltsel UNION SELECT {n - 1}),
l2b AS (SELECT i, t, vv,
               least(CAST(floor(t / 255000000.0 * 32.0) AS INT), 31) AS bin
        FROM lt),
l2s AS (SELECT arg_min(i, vv) AS i FROM l2b GROUP BY bin
        UNION SELECT arg_max(i, vv) FROM l2b GROUP BY bin),
l2 AS (SELECT row_number() OVER (ORDER BY l.i) - 1 AS r, l.i, l.t, l.vv
       FROM lt l JOIN l2s USING (i)),
ltb2(step, lo, hi, nlo, nhi) AS (SELECT * FROM (VALUES {vals2})),
l2g AS (SELECT b.step, avg(l.t) AS at, avg(l.vv) AS av
        FROM ltb2 b JOIN l2 l ON l.r >= b.nlo AND l.r < b.nhi GROUP BY b.step),
l2sel(step, a) AS (
  SELECT -1, 0
  UNION ALL
  SELECT p.step + 1,
    (SELECT l.r
     FROM l2 l, l2 anch, ltb2 b, l2g g
     WHERE b.step = p.step + 1 AND g.step = p.step + 1
       AND l.r >= b.lo AND l.r < b.hi AND anch.r = p.a
     ORDER BY abs((anch.t - g.at) * (l.vv - anch.vv)
                - (anch.t - l.t) * (g.av - anch.vv)) DESC, l.r ASC
     LIMIT 1)
  FROM l2sel p WHERE p.step < {n_out - 3}),
l2k AS (SELECT DISTINCT a AS r FROM l2sel UNION SELECT 63),
v AS (SELECT user_id, ts, value, epoch_us(ts) AS tsn
           FROM events WHERE event_type = 'view'),
b AS (SELECT user_id, min(tsn) AS lo, max(tsn) AS hi FROM v GROUP BY user_id),
d AS (SELECT v.*, CASE WHEN b.hi = b.lo THEN 0
                       ELSE least(CAST(floor((v.tsn - b.lo)::DOUBLE
                                 / (b.hi - b.lo)::DOUBLE * 16.0) AS BIGINT), 15)
                  END AS bin
      FROM v JOIN b ON v.user_id = b.user_id),
m AS (SELECT user_id, bin,
             arg_min(ts, tsn)    AS first_ts,
             arg_min(value, tsn) AS first_val,
             arg_max(ts, tsn)    AS last_ts,
             arg_max(value, tsn) AS last_val,
             min(value)          AS min_val,
             max(value)          AS max_val
      FROM d GROUP BY user_id, bin),
s AS (SELECT user_id, arg_max(ts, ts) AS snap_ts, arg_max(value, ts) AS snap_value
      FROM v WHERE ts <= TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id)
SELECT m.*, s.snap_ts, s.snap_value
FROM m LEFT JOIN s ON m.user_id = s.user_id
UNION ALL
SELECT CAST(-1 AS BIGINT) AS user_id,
       CAST(row_number() OVER (ORDER BY k.i) AS BIGINT) AS bin,
       make_timestamp(k.i * 1000000) AS first_ts, l.vv AS first_val,
       make_timestamp(k.i * 1000000) AS last_ts, l.vv AS last_val,
       l.vv AS min_val, l.vv AS max_val,
       CAST(NULL AS TIMESTAMP) AS snap_ts, CAST(NULL AS DOUBLE) AS snap_value
FROM ltk k JOIN lt l ON l.i = k.i
UNION ALL
SELECT CAST(-2 AS BIGINT) AS user_id,
       CAST(row_number() OVER (ORDER BY l.i) AS BIGINT) AS bin,
       make_timestamp(l.i * 1000000) AS first_ts, l.vv AS first_val,
       make_timestamp(l.i * 1000000) AS last_ts, l.vv AS last_val,
       l.vv AS min_val, l.vv AS max_val,
       CAST(NULL AS TIMESTAMP) AS snap_ts, CAST(NULL AS DOUBLE) AS snap_value
FROM l2k k JOIN l2 l ON l.r = k.r
ORDER BY user_id, bin
"""


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly detection (SURVEY §2.8 companion,
    processing/anomaly.py): per-user 1h trailing window excluding the
    current row, NULL below min_points or at zero variance — three
    window aggregates materialized once, pure codegen, one keyed
    exchange.

    Second leg (round 8, kind='dtw'): ``features.dtw.dtw_distance``
    promoted from numpy-parity pytest to a hash oracle — per-user DTW
    between the user's first 16 samples and their REVERSAL (a fixed,
    engine-independent second series), executed through the REAL path
    (vectorized FuncWrapper → UDF tier → keyed SEQUENCE-domain
    calculate with include_final_window). The oracle replays the exact
    dynamic program — cost (a_i−b_j)², cur = cost + min(upleft, up,
    left), sqrt at the end — as a recursive CTE walking the 16×16 grid
    cell-by-cell in row-major order with a 17-cell trailing buffer, all
    users advancing in lockstep. Every float op (subtract, square, add,
    min, sqrt) happens in the same order in both engines, so the
    distances are bit-identical with no tolerance."""
    _utc(spark)
    from pyspark.sql import Window as W

    from tsflex_spark.features.dtw import dtw_distance
    from tsflex_spark.processing.anomaly import anomaly_zscore

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    out = anomaly_zscore(
        ev,
        ts_col="ts",
        value_col="value",
        window="1h",
        key_cols=["user_id"],
        min_points=5,
        threshold=2.0,
        ddof=0,
    )
    # is_anomaly is a NULLABLE bool (NULL = not enough evidence); project
    # it as 0/1 for the hash gate (pandas null-bool object columns encode
    # None vs NaN differently across engines) — the NULL policy itself is
    # verified through mean_w/std_w/zscore
    zleg = out.select(
        F.lit("z").alias("kind"),
        "event_id",
        "user_id",
        "mean_w",
        "std_w",
        "zscore",
        F.when(F.col("is_anomaly"), 1).otherwise(0).cast("long").alias("anom"),
    )
    # dtw leg: users < 30 with >= 16 events; a = first 16 values in
    # (ts, event_id) order, b = the same 16 reversed; one count-16
    # segment per user via the final-window rule on a 0..15 SEQUENCE
    # index — one DTW value per user through the vectorized UDF tier
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sub = (
        ev.where(F.col("user_id") < 30)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 16)
    )
    full = (
        sub.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") == 16)
        .select("user_id")
    )
    sub = sub.join(full, "user_id")
    rev = sub.select(
        "user_id", (17 - F.col("rn")).alias("rn"), F.col("value").alias("b")
    )
    # <=480 rows after the prefix filter: repartition to 4 partitions
    # keyed by user so the gate exercises MULTI-partition DTW execution
    # (the oracle is per-user and each user's 16x16 DP runs entirely
    # inside its own group, so parallelism cannot reorder any float op)
    # while the calculate stages that follow still don't schedule 32
    # near-empty tasks each
    ab = (
        sub.select("user_id", "rn", F.col("value").alias("a"))
        .join(rev, ["user_id", "rn"])
        .withColumn("rn", (F.col("rn") - 1).cast("long"))
        .repartition(4, "user_id")
    )
    fc = FeatureCollection(
        [FeatureDescriptor(dtw_distance(), ("a", "b"), 16, 16)]
    )
    dtw = fc.calculate(
        ab,
        ts_col="rn",
        key_cols=["user_id"],
        include_final_window=True,
    )
    dleg = dtw.select(
        F.lit("dtw").alias("kind"),
        F.col("user_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.lit(None).cast("double").alias("mean_w"),
        F.lit(None).cast("double").alias("std_w"),
        F.col("a|b__dtw__w=16").alias("zscore"),
        F.lit(None).cast("long").alias("anom"),
    )
    return zleg.unionByName(dleg).orderBy("kind", "event_id")


def _oracle_anomaly_zscore() -> str:
    # z leg: identical derivation from the same three window sums
    # (count, Σx, Σx²) so both engines round identical doubles; frame =
    # microsecond range (-3600e6, -1], matching rangeBetween.
    # dtw leg: the exact DTW dynamic program as a recursive CTE — cells
    # in row-major order (k = (i-1)*16 + j), state = the 17 trailing
    # cell values per user (buf[1]=upleft, buf[2]=up, buf[17]=left),
    # boundaries handled by CASE exactly like the engine's INF-padded
    # first row/column; cost, min, add, sqrt in the same order as
    # features/dtw.py _batch_dtw so the doubles are bit-identical.
    return f"""
WITH RECURSIVE w AS (
  SELECT event_id, user_id, value,
         count(value) OVER win AS n,
         sum(value)  OVER win AS s1,
         sum(value * value) OVER win AS s2
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {H1} PRECEDING AND 1 PRECEDING)
),
d AS (
  SELECT event_id, user_id, value, n, s1, s2,
         s1 / n AS mean,
         sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)) AS std
  FROM w
),
du AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 30),
d16 AS (SELECT user_id, rn, value FROM du WHERE rn <= 16),
dful AS (SELECT user_id FROM d16 GROUP BY user_id HAVING count(*) = 16),
dav AS (SELECT d16.user_id, rn, value FROM d16 JOIN dful USING (user_id)),
dc AS (
  SELECT a.user_id, (a.rn - 1) * 16 + (17 - b.rn) AS k,
         (a.value - b.value) * (a.value - b.value) AS c
  FROM dav a JOIN dav b ON b.user_id = a.user_id),
ddp AS (
  SELECT user_id, CAST(0 AS BIGINT) AS k,
         list_transform(range(1, 18), x -> 'infinity'::DOUBLE) AS buf
  FROM dful
  UNION ALL
  SELECT s.user_id, s.k + 1,
         list_concat(list_slice(s.buf, 2, 17), [s.nc])
  FROM (
    SELECT ddp.user_id, ddp.k, ddp.buf,
           dc.c + least(
             CASE WHEN ddp.k // 16 = 0 AND ddp.k % 16 = 0 THEN 0.0
                  WHEN ddp.k // 16 = 0 OR ddp.k % 16 = 0
                  THEN 'infinity'::DOUBLE
                  ELSE ddp.buf[1] END,
             CASE WHEN ddp.k // 16 = 0 THEN 'infinity'::DOUBLE
                  ELSE ddp.buf[2] END,
             CASE WHEN ddp.k % 16 = 0 THEN 'infinity'::DOUBLE
                  ELSE ddp.buf[17] END) AS nc
    FROM ddp JOIN dc ON dc.user_id = ddp.user_id AND dc.k = ddp.k + 1) s),
ddtw AS (SELECT user_id, sqrt(buf[17]) AS dtw FROM ddp WHERE k = 256)
SELECT 'z' AS kind, event_id, user_id,
       CASE WHEN n > 0 THEN mean END AS mean_w,
       CASE WHEN n > 0 THEN std END AS std_w,
       CASE WHEN n >= 5 AND std > 0 THEN (value - mean) / std END AS zscore,
       CASE WHEN n >= 5 AND std > 0 AND abs((value - mean) / std) > 2.0
            THEN 1 ELSE 0 END AS anom
FROM d
UNION ALL
SELECT 'dtw' AS kind, user_id AS event_id, user_id,
       CAST(NULL AS DOUBLE) AS mean_w, CAST(NULL AS DOUBLE) AS std_w,
       dtw AS zscore, CAST(NULL AS BIGINT) AS anom
FROM ddtw
ORDER BY kind, event_id
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: strided-rolling multi-agg
    feature extraction over the events stream."""
    return q_rolling_stats(spark, "/root/testdata/sf0.001")


def query_legs() -> dict[str, dict[str, Callable[[SparkSession, str], DataFrame]]]:
    """Per-gate leg profiles for the heavy multi-leg gates.

    bench.py times each leg ONCE (warm) into BENCH_FULL.json
    ``verification_legs``; ``tools/solo_bench.py gate:leg`` times one
    alone. Every leg is a module-level function that its gate also
    calls, fed by the same input builders (shingle / sketch / token /
    gram-bucket checkpoints), so a leg runs exactly the plan shape the
    gate runs. Each thunk builds its leg's inputs from the documents
    scan and runs synchronously, so a leg's time includes building its
    inputs and legs of one gate repeat shared inputs: leg times are a
    profile, not a partition of the gate time.
    """

    def on_docs(leg: Callable[[DataFrame], DataFrame]):
        return lambda spark, sf_dir: leg(_documents(spark, sf_dir))

    store_dir = os.path.join(tempfile.gettempdir(), "tsflex_store_leg")
    return {
        "sketch_dedup": {
            "sketch": on_docs(lambda d: _sketches(d)[1]),
            "mh_cands": on_docs(lambda d: _minhash_candidates(_sketches(d)[1])),
            "sim_cands": on_docs(lambda d: _simhash_candidates(_sketches(d)[1])),
            "xor": on_docs(lambda d: _sketch_xor(_sketches(d)[1])),
            "store": on_docs(lambda d: _store_rows(d, store_dir)),
            "mh_dedup": on_docs(lambda d: _mh_dedup_rows(d, *_sketches(d))),
        },
        "ngram_jaccard": {
            "consec": on_docs(lambda d: _consecutive_jaccard(d, _corpus_shingles(d))),
            "fuzzy": on_docs(_fuzzy_pairs),
            "edit": on_docs(
                lambda d: _edit_scores(
                    d, _consecutive_jaccard(d, _corpus_shingles(d)), _fuzzy_pairs(d)
                )
            ),
        },
        "dup_clusters": {
            "edges": on_docs(lambda d: _jaccard_edges(d, _corpus_shingles(d))),
            "cc": on_docs(
                lambda d: _edge_components(_jaccard_edges(d, _corpus_shingles(d)))
            ),
            "pagerank": on_docs(
                lambda d: _edge_pagerank(_jaccard_edges(d, _corpus_shingles(d)))
            ),
        },
        "passage_spans": {
            "spans": on_docs(lambda d: _span_rows(d, _span_positions(d, _span_tokens(d)))),
            "top_ngrams": on_docs(lambda d: _top_ngram_rows(d, _span_tokens(d))),
            "hash_embed": on_docs(_hash_embed_rows),
            "despan": on_docs(
                lambda d: _despan_rows(d, _span_positions(d, _span_tokens(d)))
            ),
        },
        "quality_score": {
            "quality": on_docs(_quality_features),
            "langid": on_docs(_language_ids),
            "repetition": on_docs(_repetition_features),
            "dsir": on_docs(lambda d: _dsir_weights(d, _dsir_buckets(d))),
        },
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "rolling_stats": q_rolling_stats,
        "rolling_pop_moments": q_rolling_pop_moments,
        "rolling_quantiles": q_rolling_quantiles,
        "rolling_skew_kurt": q_rolling_skew_kurt,
        "rolling_slope": q_rolling_slope,
        "sequence_rolling": q_sequence_rolling,
        "count_based_rolling": q_count_based_rolling,
        "multi_stride": q_multi_stride,
        "udf_features": q_udf_features,
        "group_by_all": q_group_by_all,
        "group_by_consecutive": q_group_by_consecutive,
        "manual_segments": q_manual_segments,
        "processing_pipeline": q_processing_pipeline,
        "processing_diff": q_processing_diff,
        "streaming_window": q_streaming_window,
        "chunk_islands": q_chunk_islands,
        "tpch_q1": q_tpch_q1,  # carries the Q6 scalar leg (board cap)
        "tpch_q3": q_tpch_q3,
        "passage_spans": q_passage_spans,
        "reduce_features": q_reduce_features,
        "rolling_corr": q_rolling_corr,
        "revenue_per_nation": q_revenue_per_nation,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "quality_score": q_quality_score,
        "fingerprint_dedup": q_fingerprint_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_topk": q_cosine_topk,
        "ann_methods": q_ann_methods,
        "sketch_dedup": q_sketch_dedup,
        "dup_clusters": q_dup_clusters,
        "embedding_neardup": q_embedding_neardup,
        "asof_join": q_asof_join,
        "processing_resample": q_processing_resample,
        "robust_features": q_robust_features,
        "intersample_stats": q_intersample_stats,
        "streaming_stateful": q_streaming_stateful,
        "multimodal_decode": q_multimodal_decode,
        "multi_window": q_multi_window,
        "chunk_features": q_chunk_features,
        "streaming_session": q_streaming_session,
        "categorical_counts": q_categorical_counts,
        "decontaminate": q_decontaminate,
        "sliding_fine_stride": q_sliding_fine_stride,
        "rolling_per_user": q_rolling_per_user,
        "wide_long_roundtrip": q_wide_long_roundtrip,
        "time_weighted_mean": q_time_weighted_mean,
        "integration_features": q_integration_features,
        "m4_downsample": q_m4_downsample,
        "anomaly_zscore": q_anomaly_zscore,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "rolling_stats": _oracle_rolling_stats(),
        "rolling_pop_moments": _oracle_rolling_pop_moments(),
        "rolling_quantiles": _oracle_rolling_quantiles(),
        "rolling_skew_kurt": _oracle_rolling_skew_kurt(),
        "rolling_slope": _oracle_rolling_slope(),
        "sequence_rolling": _oracle_sequence_rolling(),
        "count_based_rolling": _oracle_count_based_rolling(),
        "multi_stride": _oracle_multi_stride(),
        "udf_features": _oracle_udf_features(),
        "group_by_all": _oracle_group_by_all(),
        "group_by_consecutive": _oracle_group_by_consecutive(),
        "manual_segments": _oracle_manual_segments(),
        "processing_pipeline": _oracle_processing_pipeline(),
        "processing_diff": _oracle_processing_diff(),
        "streaming_window": _oracle_streaming_window(),
        "chunk_islands": _oracle_chunk_islands(),
        "tpch_q1": _oracle_tpch_q1(),
        "tpch_q3": _oracle_tpch_q3(),
        "passage_spans": _oracle_passage_spans(),
        "reduce_features": _oracle_reduce_features(),
        "rolling_corr": _oracle_rolling_corr(),
        "revenue_per_nation": _oracle_revenue_per_nation(),
        "dedup_exact": _oracle_dedup_exact(),
        "text_stats": _oracle_text_stats(),
        "quality_score": _oracle_quality_score(),
        "fingerprint_dedup": _oracle_fingerprint_dedup(),
        "ngram_jaccard": _oracle_ngram_jaccard(),
        "cosine_topk": _oracle_cosine_topk(),
        "embedding_neardup": _oracle_embedding_neardup(),
        "asof_join": _oracle_asof_join(),
        "processing_resample": _oracle_processing_resample(),
        "robust_features": _oracle_robust_features(),
        "intersample_stats": _oracle_intersample_stats(),
        "streaming_stateful": _oracle_streaming_stateful(),
        "multimodal_decode": _oracle_multimodal_decode(),
        "multi_window": _oracle_multi_window(),
        "chunk_features": _oracle_chunk_features(),
        "streaming_session": _oracle_streaming_session(),
        "categorical_counts": _oracle_categorical_counts(),
        "decontaminate": _oracle_decontaminate(),
        "sliding_fine_stride": _oracle_sliding_fine_stride(),
        "rolling_per_user": _oracle_rolling_per_user(),
        "wide_long_roundtrip": _oracle_wide_long_roundtrip(),
        "time_weighted_mean": _oracle_time_weighted_mean(),
        "integration_features": _oracle_integration_features(),
        "dup_clusters": _oracle_dup_clusters(),
        # both former rows-only gates now check verifiable invariants:
        # the LSH algorithm replayed in SQL + the IVF partition-
        # completeness property; the sketch candidate-superset contract
        "ann_methods": _oracle_ann_methods(),
        "sketch_dedup": _oracle_sketch_dedup(),
        "m4_downsample": _oracle_m4_downsample(),
        "anomaly_zscore": _oracle_anomaly_zscore(),
    }
