"""Structured Streaming feature extraction — the additive streaming mode.

The reference has NO streaming runtime (SURVEY §2.9): it positions itself
for "inference on streaming data" via small-batch calls + ``reduce()``.
On Spark the same feature configuration compiles to a genuine streaming
query:

- window/stride strided-rolling ≙ ``F.window(ts, windowDur, slideDur)``
  (sliding) — identical segment arithmetic when the stride divides the
  window and segments align to the epoch grid;
- ``chunk_data``/``group_by_consecutive`` gap logic ≙
  ``F.session_window(ts, gap)``;
- late data ≙ ``withWatermark`` (no reference counterpart — policy knob);
- arbitrary stateful ops ≙ ``applyInPandasWithState`` (not needed for the
  native-tier aggregates).

These helpers take ANY DataFrame — batch or streaming. On a streaming
input the result is a streaming DataFrame ready for ``writeStream``
(append mode requires the watermark).
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import TimestampNTZType

from tsflex_spark.features.catalog import native_agg
from tsflex_spark.utils.time_args import ts_micros


def _ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Streaming event time must be TIMESTAMP — ``withWatermark`` rejects
    the TIMESTAMP_NTZ that Spark 4 parquet sources produce by default
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The cast is instant-preserving
    under the UTC session tz (same rationale as ``ts_micros``)."""
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def rolling_features_stream(
    df: DataFrame,
    aggs: Dict[str, Sequence[str]],
    window: str,
    slide: Optional[str] = None,
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    watermark: Optional[str] = None,
) -> DataFrame:
    """Sliding-window feature extraction as one streaming-safe groupBy.

    ``aggs``: {series_col: [catalog function names]} — native-tier only
    (streaming state must stay JVM-side; Python UDF state would break
    incremental aggregation). Output columns follow the engine naming
    grammar ``<series>__<func>__w=<window>``.
    """
    df = _ensure_event_time(df, ts_col)
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide or window)
    w = window.replace(" ", "")
    exprs = [
        native_agg(name, F.col(series), ts_micros(ts_col)).alias(f"{series}__{name}__w={w}")
        for series, funcs in aggs.items()
        for name in funcs
    ]
    out = df.groupBy(*key_cols, win).agg(*exprs)
    return out.select(
        *key_cols,
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias(ts_col),
        *[c for c in out.columns if "__" in c],
    )


def session_features_stream(
    df: DataFrame,
    gap: str,
    aggs: Dict[str, Sequence[str]],
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    watermark: Optional[str] = None,
) -> DataFrame:
    """Session-window features (gap-based) — streaming analog of
    ``chunk_data``/sessionization."""
    df = _ensure_event_time(df, ts_col)
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = F.session_window(F.col(ts_col), gap)
    exprs = [F.count(F.lit(1)).alias("n_events")] + [
        native_agg(name, F.col(series), ts_micros(ts_col)).alias(f"{series}__{name}__w=session")
        for series, funcs in aggs.items()
        for name in funcs
    ]
    out = df.groupBy(*key_cols, win).agg(*exprs)
    return out.select(
        *key_cols,
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *[c for c in out.columns if c == "n_events" or "__" in c],
    )
