"""Custom stateful streaming operators via ``applyInPandasWithState``.

SURVEY §2.9: the reference's streaming story is "call calculate() on
small batches and keep your own state". This module is the genuine
streaming counterpart: per-key state lives in Spark's state store
(checkpointed, rescalable), each micro-batch updates it with a pandas
function, and the emitted rows are incrementally-correct features.

``running_stats_stream`` keeps O(1) state per key — (n, mean, M2, min,
max) — and merges each Arrow batch with Chan's parallel-variance update,
so a key's full history is never buffered: the state size is constant
whether a key has seen 1e2 or 1e12 events. That is the property that
makes it safe on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _store_doubles(row: dict, names: Sequence[str], outs: Sequence) -> None:
    """A stream's feature outputs into ``row`` as doubles (NaN when a value
    is not numeric)."""
    for n, v in zip(names, outs):
        try:
            row[n] = float(v)
        except (TypeError, ValueError):
            row[n] = float("nan")


def running_stats_stream(
    df: DataFrame,
    value_col: str = "value",
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    watermark: str | None = None,
    exact_decimals: int | None = None,
) -> DataFrame:
    """Per-key running count / mean / population variance / min / max over
    an unbounded stream. Emits one updated row per key per micro-batch
    ("update" semantics) — the row with the highest ``n`` per key is the
    current state.

    ``exact_decimals=d`` switches the state from Chan-merged floating
    moments to exact int64 fixed-point power sums (value·10^d): results
    are then bit-identical regardless of micro-batch boundaries or
    arrival order — the property to reach for when a streaming metric
    must reconcile exactly against a batch backfill.

    Input must be a streaming DataFrame; keys are hash-partitioned by the
    state store, so throughput scales with executors and state survives
    restarts via the checkpoint.
    """
    key_cols = list(key_cols)
    if watermark is not None:
        from tsflex_spark.streaming.rolling import _ensure_event_time

        df = _ensure_event_time(df, ts_col)  # NTZ event time is rejected
        df = df.withWatermark(ts_col, watermark)

    key_fields = [df.schema[k] for k in key_cols]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("n", T.LongType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("var_pop", T.DoubleType()),
            T.StructField("min", T.DoubleType()),
            T.StructField("max", T.DoubleType()),
        ]
    )
    if exact_decimals is None:
        state_schema = T.StructType(
            [
                T.StructField("n", T.LongType()),
                T.StructField("mean", T.DoubleType()),
                T.StructField("m2", T.DoubleType()),
                T.StructField("mn", T.DoubleType()),
                T.StructField("mx", T.DoubleType()),
            ]
        )

        def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
            import numpy as np

            if state.exists:
                n, mean, m2, mn, mx = state.get
            else:
                n, mean, m2, mn, mx = 0, 0.0, 0.0, None, None
            for pdf in pdfs:
                v = pdf[value_col].to_numpy(dtype="float64")
                v = v[~np.isnan(v)]
                bn = int(len(v))
                if bn == 0:
                    continue
                bmean = float(v.mean())
                bm2 = float(((v - bmean) ** 2).sum())
                bmn, bmx = float(v.min()), float(v.max())
                if n == 0:
                    n, mean, m2, mn, mx = bn, bmean, bm2, bmn, bmx
                else:
                    delta = bmean - mean
                    tot = n + bn
                    m2 = m2 + bm2 + delta * delta * n * bn / tot
                    mean = (n * mean + bn * bmean) / tot
                    n = tot
                    mn, mx = min(mn, bmn), max(mx, bmx)
            state.update((n, mean, m2, mn, mx))
            if n > 0:
                yield pd.DataFrame(
                    [dict(zip([k for k in key_cols], key))
                     | {"n": n, "mean": mean, "var_pop": m2 / n, "min": mn, "max": mx}]
                )

    else:
        scale = 10 ** int(exact_decimals)
        state_schema = T.StructType(
            [
                T.StructField("n", T.LongType()),
                T.StructField("s1", T.LongType()),  # sum of value*scale
                T.StructField("s2", T.LongType()),  # sum of (value*scale)^2
                T.StructField("mn", T.DoubleType()),
                T.StructField("mx", T.DoubleType()),
            ]
        )

        def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
            import numpy as np

            if state.exists:
                n, s1, s2, mn, mx = state.get
            else:
                n, s1, s2, mn, mx = 0, 0, 0, None, None
            for pdf in pdfs:
                v = pdf[value_col].to_numpy(dtype="float64")
                v = v[~np.isnan(v)]
                if len(v) == 0:
                    continue
                c = np.rint(v * scale).astype("int64")
                n += int(len(c))
                s1 += int(c.sum())
                s2 += int((c * c).sum())
                bmn, bmx = float(v.min()), float(v.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            state.update((n, s1, s2, mn, mx))
            if n > 0:
                # derive from exact sums the same way a SQL oracle would:
                # mean = (s1/scale)/n ; var = (s2/scale^2)/n - mean^2
                s1d = s1 / scale
                s2d = s2 / (scale * scale)
                mean = s1d / n
                var = max(s2d / n - mean * mean, 0.0)
                yield pd.DataFrame(
                    [dict(zip([k for k in key_cols], key))
                     | {"n": n, "mean": mean, "var_pop": var, "min": mn, "max": mx}]
                )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return df.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def ewma_stream(
    df: DataFrame,
    alpha: float,
    value_col: str = "value",
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key streaming EWMA with O(1) state: two floats per key — the
    ``adjust=True`` numerator/denominator recurrences ``num = x +
    (1-α)·num``, ``den = 1 + (1-α)·den`` — so a key's EWMA is exact
    over its whole history and matches the batch ``processing.ewma``
    (pandas ``ewm(alpha, adjust=True)`` semantics).

    Rows are applied in ``ts_col`` order WITHIN each micro-batch;
    cross-batch order is arrival order (use a watermark + small batches,
    or reconcile against the batch path, when late data matters). Emits
    one row per key per micro-batch with the post-batch ``n``/``ewma``.

    Implementation note: built on ``applyInPandasWithState``. Spark 4's
    successor API (``transformWithStateInPandas``, typed state + timers)
    expresses the same operator, but its Python worker requires
    protobuf at runtime — not assumed present here.
    """
    key_cols = list(key_cols)
    a = float(alpha)
    key_fields = [df.schema[k] for k in key_cols]
    out_schema = T.StructType(
        key_fields
        + [
            T.StructField("n", T.LongType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("num", T.DoubleType()),
            T.StructField("den", T.DoubleType()),
        ]
    )

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, num, den = state.get
        else:
            n, num, den = 0, 0.0, 0.0
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for x in pdf[value_col].astype("float64"):
                if pd.isna(x):
                    continue
                num = x + (1.0 - a) * num
                den = 1.0 + (1.0 - a) * den
                n += 1
        state.update((n, num, den))
        if n > 0:
            yield pd.DataFrame(
                [dict(zip(key_cols, key)) | {"n": n, "ewma": num / den}]
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return df.groupBy(*key_cols).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def windowed_features_stream(
    df: DataFrame,
    fc,
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    watermark: str = "0 seconds",
) -> DataFrame:
    """Arbitrary-Python-function feature extraction on a STREAM — the
    UDF-tier complement to ``FeatureCollection.calculate_streaming``
    (which compiles native catalog aggregates to incremental plans but
    rejects Python feature functions).

    Tumbling or sliding TIME windows (one shared stride <= window; the
    grid is epoch-anchored stride multiples): each row's window
    memberships explode statelessly (ceil(window/stride) per row), rows
    buffer in per-(key, window-start) state; when the event-time
    watermark passes a window's end the group times out, the feature
    functions run ONCE over the completed window buffer (same
    ``FuncWrapper.apply`` contract as the batch UDF tier — np.ndarray or
    index-aware pd.Series inputs, nulls dropped per series), one row is
    appended, and the state is freed. State size per group is the
    window's row count — bounded by window span × rate, not stream
    length; total store size is live-windows × keys.

    Output: ``(keys..., ts = window END, <series>__<feat>__w=<win>)``
    with double feature columns, matching the batch naming grammar —
    ``fc.calculate`` over the same data gives the same rows (parity test
    in tests/test_operators.py). Catalog-string functions are rejected:
    they stream incrementally via ``calculate_streaming`` and need no
    buffer.
    """
    from tsflex_spark.features.feature_collection import _col_name
    from tsflex_spark.streaming.rolling import _ensure_event_time
    from tsflex_spark.utils.time_args import parse_time_arg, to_numeric_units

    descs = list(fc.descriptors)
    if not descs:
        raise ValueError("empty FeatureCollection")
    win_strs = {fd.window_str for fd in descs}
    if len(win_strs) != 1 or "manual" in win_strs:
        raise ValueError(f"one shared time window required, got {sorted(win_strs)}")
    for fd in descs:
        if isinstance(fd.function.func, str):
            raise ValueError(
                f"catalog function {fd.function.func!r} streams incrementally — "
                "use FeatureCollection.calculate_streaming for the native tier"
            )
    stride_args = set()
    for fd in descs:
        strides = fd.stride if fd.stride is not None else [fd.window]
        for s in strides:
            stride_args.add(parse_time_arg(s))
    if len(stride_args) != 1:
        raise ValueError(
            f"one shared stride required across descriptors, got {stride_args}"
        )
    w_us = int(to_numeric_units(parse_time_arg(descs[0].window), True))
    s_us = int(to_numeric_units(next(iter(stride_args)), True))
    if s_us > w_us:
        raise ValueError(
            "stride must be <= window (TUMBLING when equal, SLIDING when "
            f"smaller); got window={w_us}us stride={s_us}us"
        )
    series_cols = fc.get_required_series()
    missing = [s for s in series_cols if s not in df.columns]
    if missing:
        raise ValueError(f"series not in stream: {missing}")

    key_cols = list(key_cols)
    out_fields = [df.schema[k] for k in key_cols] + [
        T.StructField(ts_col, T.TimestampType())
    ]
    out_names: list = []
    specs: list = []
    for fd in descs:
        fw = fd.function
        names = [
            _col_name(fd.series_name, o, fd.window_str) for o in fw.output_names
        ]
        out_names += names
        specs.append((fd.series_name, fw, names))
    out_schema = T.StructType(
        out_fields + [T.StructField(n, T.DoubleType(), True) for n in out_names]
    )
    state_schema = T.StructType(
        [T.StructField("__ts", T.ArrayType(T.LongType()))]
        + [T.StructField(f"__v_{s}", T.ArrayType(T.DoubleType())) for s in series_cols]
    )

    df = _ensure_event_time(df, ts_col)
    df = df.withWatermark(ts_col, watermark)
    from tsflex_spark.features.segmenter import member_sql
    from tsflex_spark.utils.time_args import ts_micros

    # window-start membership on the unbounded epoch-aligned grid: every
    # stride-multiple start with start <= ts < start + window. Tumbling
    # (s == w) gives exactly one start; sliding gives ceil(w/s) — a
    # stateless explode, so the per-(key, start) state machinery below is
    # identical for both.
    starts = member_sql("__t", f"{w_us}L", [f"{s_us}L"], lambda _i: f"__k * {s_us}L")
    d = df.withColumn("__t", ts_micros(ts_col)).withColumn(
        "__ws", F.explode(F.expr(starts))
    ).drop("__t")

    n_series = len(series_cols)

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        import numpy as np

        # key values arrive as numpy scalars; GroupState round-trips
        # through JSON, which rejects np.int64 — normalize to Python int
        ws_val = int(key[-1])
        if state.hasTimedOut:
            stored = state.get
            ts_arr = np.asarray(stored[0], dtype="int64")
            order = np.argsort(ts_arr, kind="stable")
            pdf = pd.DataFrame({"__tsn": ts_arr[order]})
            for i, s in enumerate(series_cols):
                pdf[s] = np.asarray(stored[1 + i], dtype="float64")[order]
            row: dict = dict(zip(key_cols, key[:-1]))
            row[ts_col] = pd.Timestamp((ws_val + w_us) * 1000)
            for series_tuple, fw, names in specs:
                _store_doubles(row, names, fw.apply_segment(series_tuple, pdf, pdf["__tsn"], True))
            state.remove()
            yield pd.DataFrame([row])
            return
        if state.exists:
            stored = state.get
            ts_list = list(stored[0])
            val_lists = [list(stored[1 + i]) for i in range(n_series)]
        else:
            ts_list = []
            val_lists = [[] for _ in range(n_series)]
        for pdf in pdfs:
            t = (
                pd.to_datetime(pdf[ts_col])
                .to_numpy()
                .astype("datetime64[us]")
                .astype("int64")
            )
            ts_list += t.tolist()
            for i, s in enumerate(series_cols):
                val_lists[i] += pdf[s].astype("float64").tolist()
        state.update((ts_list, *val_lists))
        # fire when the watermark passes this window's END (never set a
        # timeout at-or-before the current watermark — the API rejects it)
        end_ms = int((ws_val + w_us) // 1000)
        state.setTimeoutTimestamp(max(end_ms, int(state.getCurrentWatermarkMs()) + 1))
        return

    from pyspark.sql.streaming.state import GroupStateTimeout

    return d.groupBy(*key_cols, "__ws").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def session_features_stream_udf(
    df: DataFrame,
    gap: str,
    funcs,
    *,
    ts_col: str = "ts",
    key_cols: Sequence[str] = (),
    watermark: str = "0 seconds",
) -> DataFrame:
    """Arbitrary Python feature functions over SESSION windows on a
    stream — the UDF-tier complement to ``session_features_stream``
    (which runs native catalog aggregates through ``F.session_window``).

    ``funcs`` is a sequence of ``(series_name, FuncWrapper-or-callable)``
    pairs (``series_name`` may be a tuple for multi-series functions).
    Rows buffer in per-key state; a session is the maximal run of rows
    whose successive gaps are ``< gap`` (Spark ``session_window``
    semantics). A session closes when the event-time watermark passes
    ``last_ts + gap``: closed sessions are emitted eagerly on every
    update (state holds only OPEN sessions — bounded by session span ×
    rate, not stream length) and a state timeout sweeps the final one.

    Output: ``(keys..., session_start, session_end = last_ts + gap,
    n_events, <series>__<out>__w=session ...)`` — the same contract as
    the native session stream, double feature columns.
    """
    import numpy as np

    from tsflex_spark.features.function_wrapper import FuncWrapper
    from tsflex_spark.streaming.rolling import _ensure_event_time
    from tsflex_spark.utils.time_args import parse_time_arg, to_numeric_units, ts_micros

    gap_us = int(to_numeric_units(parse_time_arg(gap), True))
    if gap_us <= 0:
        raise ValueError("gap must be positive")

    specs = []
    series_cols: list = []
    for series_name, fw in funcs:
        if isinstance(fw, str) or (isinstance(fw, FuncWrapper) and isinstance(fw.func, str)):
            raise ValueError(
                "catalog-string functions stream natively — use "
                "session_features_stream for the native tier"
            )
        if not isinstance(fw, FuncWrapper):
            fw = FuncWrapper(fw)
        series_tuple = (series_name,) if isinstance(series_name, str) else tuple(series_name)
        for s in series_tuple:
            if s not in df.columns:
                raise ValueError(f"series {s!r} not in stream")
            if s not in series_cols:
                series_cols.append(s)
        names = [f"{'|'.join(series_tuple)}__{o}__w=session" for o in fw.output_names]
        specs.append((series_tuple, fw, names))
    if not specs:
        raise ValueError("no feature functions given")

    key_cols = list(key_cols)
    grouped_keys = key_cols if key_cols else ["__g"]
    d = _ensure_event_time(df, ts_col)
    if not key_cols:
        d = d.withColumn("__g", F.lit(0))
    d = d.withWatermark(ts_col, watermark)

    out_fields = [d.schema[k] for k in key_cols] + [
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
    out_names: list = []
    for _, _, names in specs:
        out_names += names
    out_schema = T.StructType(
        out_fields + [T.StructField(n, T.DoubleType(), True) for n in out_names]
    )
    state_schema = T.StructType(
        [T.StructField("__ts", T.ArrayType(T.LongType()))]
        + [T.StructField(f"__v_{s}", T.ArrayType(T.DoubleType())) for s in series_cols]
    )
    n_series = len(series_cols)

    def _emit_rows(key, ts_arr, val_arrs, island_slices):
        rows = []
        for lo, hi in island_slices:
            t = ts_arr[lo:hi]
            row: dict = dict(zip(key_cols, key[: len(key_cols)]))
            row["session_start"] = pd.Timestamp(int(t[0]) * 1000)
            row["session_end"] = pd.Timestamp((int(t[-1]) + gap_us) * 1000)
            row["n_events"] = int(hi - lo)
            cols = {s: pd.Series(v[lo:hi]) for s, v in zip(series_cols, val_arrs)}
            for series_tuple, fw, names in specs:
                _store_doubles(row, names, fw.apply_segment(series_tuple, cols, t, True))
            rows.append(row)
        return rows

    def _islands(ts_arr):
        """Sorted session slices: split where the successive gap >= gap_us."""
        if len(ts_arr) == 0:
            return []
        cuts = np.flatnonzero(np.diff(ts_arr) >= gap_us) + 1
        bounds = [0, *cuts.tolist(), len(ts_arr)]
        return list(zip(bounds[:-1], bounds[1:]))

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        # one body for data batches AND timeout sweeps: merge buffer (+ any
        # new rows), split into gap-islands, emit the islands the watermark
        # has closed, keep the rest, and arm the timeout at the EARLIEST
        # open island's close (targeting the last island would let a young
        # session — e.g. a far-future straggler — starve older ones).
        ts_list = list(state.get[0]) if state.exists else []
        val_lists = (
            [list(state.get[1 + i]) for i in range(n_series)]
            if state.exists
            else [[] for _ in range(n_series)]
        )
        if not state.hasTimedOut:
            for pdf in pdfs:
                t = (
                    pd.to_datetime(pdf[ts_col])
                    .to_numpy()
                    .astype("datetime64[us]")
                    .astype("int64")
                )
                ts_list += t.tolist()
                for i, s in enumerate(series_cols):
                    val_lists[i] += pdf[s].astype("float64").tolist()
        ts_arr = np.asarray(ts_list, dtype="int64")
        order = np.argsort(ts_arr, kind="stable")
        ts_arr = ts_arr[order]
        val_arrs = [np.asarray(v, dtype="float64")[order] for v in val_lists]
        wm_ms = int(state.getCurrentWatermarkMs())
        wm_us = wm_ms * 1000
        slices = _islands(ts_arr)
        closed = [sl for sl in slices if int(ts_arr[sl[1] - 1]) + gap_us <= wm_us]
        open_ = [sl for sl in slices if int(ts_arr[sl[1] - 1]) + gap_us > wm_us]
        rows = _emit_rows(key, ts_arr, val_arrs, closed)
        if open_:
            keep = np.concatenate([np.arange(lo, hi) for lo, hi in open_])
            state.update(
                (
                    ts_arr[keep].tolist(),
                    *[v[keep].tolist() for v in val_arrs],
                )
            )
            end_ms = (int(ts_arr[open_[0][1] - 1]) + gap_us) // 1000
            state.setTimeoutTimestamp(max(end_ms, wm_ms + 1))
        elif state.exists:
            state.remove()
        if rows:
            yield pd.DataFrame(rows)

    from pyspark.sql.streaming.state import GroupStateTimeout

    out = d.groupBy(*grouped_keys).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
    return out
