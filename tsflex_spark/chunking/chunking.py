"""chunk_data — gap-aware splitting of series into continuous chunks.

Parity (semantics only): reference tsflex/chunking/chunking.py:15-191 —
a gap is a sample interval ``> max_gap`` (the reference derives
``max_gap = 1.5 / fs`` from a sampling frequency; here the caller passes
either ``fs`` or ``max_gap`` directly); chunks shorter than
``min_chunk_dur`` are dropped; chunks longer than ``max_chunk_dur`` are
split into sub-chunks with ``sub_chunk_overlap/2`` margins on each side
(reference :164-190).

Spark-first design: the reference's out-of-core motivation is obsolete
(partitioning is native) but gap-aware chunking survives as a *semantic*
operator. Classic gaps-and-islands — island detection via the
distributed two-pass primitives (utils/distributed.py: range-partitioned,
never a single-partition window) + one groupBy; scales per ``key_cols``
partition and stays distributed without keys. Returns a small
``(keys..., chunk_id, chunk_start, chunk_end, n_samples)`` table; join it
back to data when per-chunk processing is needed, or use
``chunk_features`` to fuse chunking + aggregation into one pass.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsflex_spark.features.segmenter import TSN, numeric_index
from tsflex_spark.utils.data import DataType, determine_type
from tsflex_spark.utils.distributed import with_global_islands, with_global_row_number
from tsflex_spark.utils.time_args import to_numeric_units


def _chunks(
    data: DataFrame,
    ts_col: str,
    value_col: Optional[str],
    key_cols: Sequence[str],
    fs: Optional[float],
    max_gap: Optional[Union[str, pd.Timedelta, int, float]],
    carry: Sequence[str] = (),
    aggs: Sequence[Column] = (),
) -> Tuple[DataFrame, bool]:
    """The gap-island core of ``chunk_data`` and ``chunk_features``.

    Rows with a non-NULL ``value_col`` (all rows when None) get a per-key
    island id ``__chunk`` (1, 2, ... in time order; a new island starts
    after a sample interval ``> max_gap``), then one ``groupBy(keys,
    __chunk)`` yields the island span ``__cs``/``__ce`` (numeric index),
    ``n_samples`` and ``aggs``. Only ``ts_col``, ``carry`` and the keys
    reach the islands pass. Returns the table and whether the index is
    TIME."""
    assert (fs is None) != (max_gap is None), "pass exactly one of fs / max_gap"
    domain = determine_type(data, ts_col)
    is_time = domain == DataType.TIME
    if value_col is not None:
        data = data.where(F.col(value_col).isNotNull())
    if max_gap is not None:
        gap_n = to_numeric_units(max_gap, is_time)
    else:
        gap_n = (1.5 / float(fs)) * (1_000_000 if is_time else 1)

    d = numeric_index(data.select(ts_col, *carry, *key_cols), ts_col, domain)
    d = with_global_islands(
        d,
        TSN,
        TSN,
        lambda prev: prev.isNull() | ((F.col(TSN) - prev) > F.lit(gap_n)),
        "__chunk",
        key_cols=key_cols,
    )
    chunks = d.groupBy(*key_cols, "__chunk").agg(
        F.min(TSN).alias("__cs"),
        F.max(TSN).alias("__ce"),
        F.count(F.lit(1)).alias("n_samples"),
        *aggs,
    )
    return chunks, is_time


def _span(is_time: bool) -> List[Column]:
    """``__cs``/``__ce`` → the ``chunk_start``/``chunk_end`` output columns."""
    if is_time:
        return [
            F.timestamp_micros(F.col(c).cast("long")).alias(a)
            for c, a in (("__cs", "chunk_start"), ("__ce", "chunk_end"))
        ]
    return [F.col("__cs").alias("chunk_start"), F.col("__ce").alias("chunk_end")]


def chunk_data(
    data: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: Optional[str] = None,
    key_cols: Sequence[str] = (),
    fs: Optional[float] = None,
    max_gap: Optional[Union[str, pd.Timedelta, int, float]] = None,
    min_chunk_dur: Optional[Union[str, pd.Timedelta, int, float]] = None,
    max_chunk_dur: Optional[Union[str, pd.Timedelta, int, float]] = None,
    sub_chunk_overlap: Optional[Union[str, pd.Timedelta, int, float]] = None,
) -> DataFrame:
    """Detect continuous chunks of ``data`` separated by sampling gaps.

    Exactly one of ``fs`` (expected sampling rate, Hz — gap threshold
    becomes ``1.5/fs`` seconds, reference :123-135) or ``max_gap`` must be
    given. Returns ``(keys..., chunk_id, chunk_start, chunk_end, n_samples)``
    where ``chunk_id`` numbers chunks per key in time order and the chunk
    range is the inclusive ``[first_ts, last_ts]`` span of its samples.
    """
    chunks, is_time = _chunks(data, ts_col, value_col, key_cols, fs, max_gap)

    if min_chunk_dur is not None:
        min_n = to_numeric_units(min_chunk_dur, is_time)
        chunks = chunks.where((F.col("__ce") - F.col("__cs")) >= F.lit(min_n))

    if max_chunk_dur is not None:
        max_n = to_numeric_units(max_chunk_dur, is_time)
        margin = (
            to_numeric_units(sub_chunk_overlap, is_time) / 2 if sub_chunk_overlap is not None else 0
        )
        # split [cs, ce] into ceil(span/max_n) sub-chunks with +-margin
        # (reference :164-190) — sequence/explode, fully distributed
        nsub = F.greatest(
            F.ceil((F.col("__ce") - F.col("__cs")) / F.lit(max_n)), F.lit(1).cast("long")
        )
        chunks = chunks.withColumn("__k", F.explode(F.sequence(F.lit(0).cast("long"), nsub - 1)))
        sub_start = F.col("__cs") + F.col("__k") * F.lit(max_n)
        sub_end = F.least(sub_start + F.lit(max_n), F.col("__ce"))
        chunks = chunks.select(
            *key_cols,
            F.greatest(sub_start - F.lit(margin), F.col("__cs")).alias("__cs"),
            F.least(sub_end + F.lit(margin), F.col("__ce")).alias("__ce"),
            F.col("n_samples"),
        )

    if min_chunk_dur is None and max_chunk_dur is None:
        # island ids are already consecutive per key in time order — the
        # chunk id is island-1, no ranking pass needed
        out = chunks.withColumn("chunk_id", (F.col("__chunk") - 1).cast("int"))
    else:
        # filters/splits leave gaps in the island numbering — re-rank
        out = with_global_row_number(
            chunks, "__cs", "chunk_id", key_cols=key_cols, zero_based=True
        ).withColumn("chunk_id", F.col("chunk_id").cast("int"))

    return out.select(*key_cols, "chunk_id", *_span(is_time), "n_samples").orderBy(
        *key_cols, "chunk_id"
    )


def chunk_features(
    data: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    aggs: Sequence[str] = ("sum", "count", "min", "max"),
    key_cols: Sequence[str] = (),
    fs: Optional[float] = None,
    max_gap: Optional[Union[str, pd.Timedelta, int, float]] = None,
) -> DataFrame:
    """Per-chunk feature extraction — the reference's chunk_data →
    calculate-per-chunk workflow (reference tsflex/chunking/chunking.py:213
    + processing/utils.py:16-81) collapsed into ONE distributed pass.

    Instead of materializing a chunk list and scheduling per-chunk jobs
    (the reference's Pool.imap), the island id from gap detection IS the
    aggregation key: detect islands, groupBy(key_cols, island), aggregate.
    Two shuffles total; chunk boundaries and features come out together.
    Output: ``(keys..., chunk_id, chunk_start, chunk_end, n_samples,
    <value>__<agg>__w=chunk ...)``.
    """
    from tsflex_spark.features.catalog import native_agg

    key_cols = list(key_cols)
    feat_cols = [f"{value_col}__{name}__w=chunk" for name in aggs]
    exprs = [
        native_agg(name, F.col(value_col), F.col(TSN)).alias(feat)
        for name, feat in zip(aggs, feat_cols)
    ]
    out, is_time = _chunks(data, ts_col, value_col, key_cols, fs, max_gap, [value_col], exprs)
    return out.select(
        *key_cols,
        (F.col("__chunk") - 1).cast("int").alias("chunk_id"),
        *_span(is_time),
        "n_samples",
        *feat_cols,
    ).orderBy(*key_cols, "chunk_id")
