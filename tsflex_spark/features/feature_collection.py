"""FeatureCollection — compiles a set of FeatureDescriptors into one Spark plan.

The registry mirrors the reference's plan dict
``{(series_tuple, window): [FeatureDescriptor]}`` (feature_collection.py:88-93),
but compilation FUSES every descriptor that shares the same numeric
(window, strides) config into one segment assignment and one per-segment
feature step (``_segment_features``), shared by every window path (grid,
count-based, manual, ``group_by_all``, ``group_by_consecutive``):
recognized functions become JVM aggregate expressions in one
``groupBy(segment)`` (native tier), unrecognized Python callables run in
one Arrow ``applyInPandas`` over the same grouping (UDF tier), and the two
merge through ``unionByName`` + ``groupBy`` — no full outer join anywhere.
Count-based configs are the grid path run over per-key sample positions.
The reference runs each function as a separate multiprocess task; Catalyst
fuses ours into a handful of stages. Configs whose functions all decompose
go one step further: every such config of a ``calculate()`` rolls up from
ONE shared bucket table (``features/summary.py``), and all compiled parts
merge through the same ``unionByName`` + ``groupBy``.

Output naming grammar (API — ``reduce()`` parses it back):
``'|'.join(series)__<output>__w=<win_str>`` (reference strided_rolling.py:502-507).
"""

from __future__ import annotations

import warnings
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsflex_spark.features.feature import FeatureDescriptor, MultipleFeatureDescriptors
from tsflex_spark.features import segmenter as seg
from tsflex_spark.features import summary
from tsflex_spark.features.segmenter import (
    CFG,
    END,
    OUT_IDX,
    SEG,
    SEG_END,
    SEG_ID,
    START,
    TSN,
)
from tsflex_spark.utils.data import DataType, determine_type
from tsflex_spark.utils.distributed import (
    with_global_islands,
    with_global_row_number,
)
from tsflex_spark.utils.time_args import to_numeric_units

FeatureInput = Union[
    FeatureDescriptor, MultipleFeatureDescriptors, "FeatureCollection", List
]


def _col_name(series_tuple: Tuple[str, ...], output_name: str, win_str: str) -> str:
    return f"{'|'.join(series_tuple)}__{output_name}__w={win_str}"


def _merge(
    frames: Sequence[DataFrame], group_cols: Sequence[str], outs: Sequence[Tuple[str, str]]
) -> DataFrame:
    """``unionByName`` + one ``groupBy(group_cols)`` with ``max(src) AS
    name`` per ``(name, SQL source)`` output. Every output has exactly one
    non-NULL source row per group, so ``max`` picks it. Unlike a full
    outer join, the groupBy matches NULL keys."""
    union = frames[0]
    for frame in frames[1:]:
        union = union.unionByName(frame, allowMissingColumns=True)
    q = summary._q
    return union.groupBy(*group_cols).agg(
        *[F.expr(f"max({src}) AS {q(name)}") for name, src in outs]
    )


def _materialize_bounds(bounds_plan: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Materialize the per-key (START, END) bounds frame for multi-consumer
    reuse (segment assignment broadcasts it, the spine explodes it — and
    the two subtrees use different exchange kinds, so without
    materialization the full scan behind the aggregate runs once per
    consumer at any scale).

    Unkeyed bounds are AT MOST ONE ROW regardless of data size (a global
    aggregate), so they are collected and rebuilt as a JVM-local Arrow
    literal frame: the materializing job is the same aggregate the eager
    checkpoint ran, but every downstream consumer then reads a
    LocalTableScan — the broadcast build collects driver-locally with no
    task, and the spine explode needs no checkpoint-RDD scan stage
    (measured ~0.2-0.4 s of per-gate build barriers removed at sf0.1).
    Keyed bounds are O(#keys) rows — unbounded at scale, so they keep the
    eager localCheckpoint (EAGER, not eager=False: one consumer broadcasts
    this frame while another shuffles it, so AQE submits both stages
    concurrently — a LAZY checkpoint materializing on the
    broadcast-exchange thread can ABBA-deadlock with the DAG scheduler's
    concurrent stage submission over the RDDCheckpointData$ / per-RDD
    locks; jstack in plans/r10/evidence/. persist() would also be
    lock-free but keeps the full logical plan and registers in the
    session-global CacheManager, whose per-query canonicalized lookups
    get expensive — measured as multi-minute analysis stalls on the deep
    datapipe chains.)"""
    if key_cols:
        from tsflex_spark.utils.data import cut_lineage

        return cut_lineage(bounds_plan)
    from tsflex_spark.utils.data import local_rows_df

    rows = bounds_plan.collect()  # <= 1 row by construction (global agg)
    return local_rows_df(bounds_plan.sparkSession, rows, bounds_plan.schema)


# (daemon thread, "has the frame run" probe) per sparsity observation
# (module-level: FeatureCollection must stay cloudpickle-serializable,
# threads are not)
_SPARSITY_WATCHERS: List[Tuple[Any, Callable[[], bool]]] = []


def join_sparsity_watchers(timeout: float = 30.0) -> None:
    """Wait for the sparsity warnings of every ``calculate()`` frame that
    has run (deterministic tests). A frame that never ran has no warning
    to wait for: its watcher stays pending, unjoined, and still warns if
    the frame runs later."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:  # observations complete from the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    _SPARSITY_WATCHERS[:] = [w for w in _SPARSITY_WATCHERS if w[0].is_alive()]
    for t, ran in list(_SPARSITY_WATCHERS):
        if ran():
            t.join(timeout=timeout)


def _resolve_dtype(dt: Any) -> T.DataType:
    """FuncWrapper ``output_dtypes`` entry → Spark DataType (None → double)."""
    if dt is None:
        return T.DoubleType()
    if isinstance(dt, T.DataType):
        return dt
    return T.DataType.fromDDL(str(dt))


def _probe_series(spark_type: T.DataType, n: int, time_index: bool) -> pd.Series:
    """A tiny dummy series of the pandas dtype matching ``spark_type``
    (probe input for output-dtype inference)."""
    if isinstance(spark_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        np_dt = {
            T.ByteType: np.int8, T.ShortType: np.int16,
            T.IntegerType: np.int32, T.LongType: np.int64,
        }[type(spark_type)]
        vals = np.arange(1, n + 1, dtype=np_dt)
    elif isinstance(spark_type, T.FloatType):
        vals = np.linspace(1.0, 2.0, n, dtype=np.float32)
    elif isinstance(spark_type, T.BooleanType):
        vals = np.resize([True, False], n)
    elif isinstance(spark_type, T.StringType):
        vals = np.array(list("abcd" * (n // 4 + 1))[:n], dtype=object)
    elif isinstance(spark_type, (T.TimestampType, T.TimestampNTZType)):
        vals = pd.date_range("2020-01-01", periods=n, freq="s")
    elif isinstance(spark_type, T.DateType):
        vals = pd.date_range("2020-01-01", periods=n, freq="D").date
    else:
        vals = np.linspace(1.0, 2.0, n, dtype=np.float64)
    idx = pd.date_range("2020-01-01", periods=n, freq="s") if time_index else None
    return pd.Series(vals, index=idx)


def _spark_type_of_value(v: Any) -> T.DataType:
    """Spark type of one probe-returned scalar (reference semantics: the
    feature RETAINS whatever dtype the function returns —
    /root/reference/tests/test_features_feature_collection.py:1965-2089)."""
    import datetime as _dt

    if v is None:
        return T.DoubleType()
    if isinstance(v, (bool, np.bool_)):
        return T.BooleanType()
    if isinstance(v, np.integer):
        return {
            1: T.ByteType(), 2: T.ShortType(), 4: T.IntegerType(), 8: T.LongType()
        }[v.dtype.itemsize]
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, np.float32):
        return T.FloatType()
    if isinstance(v, (float, np.floating)):
        return T.DoubleType()
    if isinstance(v, (pd.Timestamp, np.datetime64, _dt.datetime)):
        return T.TimestampType()
    if isinstance(v, _dt.date):
        return T.DateType()
    if isinstance(v, (pd.Timedelta, np.timedelta64, _dt.timedelta)):
        return T.DayTimeIntervalType()
    if isinstance(v, (str, np.str_)):
        return T.StringType()
    return T.DoubleType()


def _infer_output_dtypes(
    fw: Any, input_types: List[T.DataType], time_index: bool
) -> Optional[List[T.DataType]]:
    """Probe ``fw`` with dummy data of the input series' dtypes and map
    what it returns to Spark types — the reference's input-dtype-
    preservation contract without requiring ``output_dtypes``. Returns
    None (caller falls back to double, the pre-probe behavior) when the
    function can't run on the 8-sample probe."""
    if isinstance(fw.func, str):
        return None
    try:
        outs = fw.apply([_probe_series(t, 8, time_index) for t in input_types])
        if len(outs) != len(fw.output_names):
            return None
        return [_spark_type_of_value(v) for v in outs]
    except Exception:
        return None


def _grouping_columns(gd: Any) -> List[str]:
    """Grouping column names of a ``GroupedData`` (plain-column groupings
    only), recovered through PUBLIC API: ``gd.agg(...)`` returns a
    DataFrame whose leading columns are exactly the grouping columns —
    analysis only, nothing executes. Any failure raises with the
    documented stable alternatives — ``calculate((df, keys))`` or
    ``calculate(df, group_by_all=keys)`` — rather than silently
    miscomputing."""
    try:
        probe = gd.agg(F.count(F.lit(1)).alias("__tsflex_probe__"))
        cols = [c for c in probe.columns if c != "__tsflex_probe__"]
        assert cols
        df_cols = gd._df.columns
    except Exception as e:
        raise TypeError(
            "cannot determine the grouping columns of this GroupedData. "
            "Pass the stable forms instead: fc.calculate((df, keys), ...) "
            "or fc.calculate(df, group_by_all=keys, ...)"
        ) from e
    missing = [c for c in cols if c not in df_cols]
    if missing:
        raise TypeError(
            f"pre-grouped input must group by plain columns; {missing} not "
            f"in {df_cols}. Pass fc.calculate((df, keys), ...) instead."
        )
    return cols


class FeatureCollection:
    def __init__(self, feature_descriptors: Optional[FeatureInput] = None):
        self._feature_desc_dict: Dict[Tuple[Tuple[str, ...], str], List[FeatureDescriptor]] = {}
        if feature_descriptors is not None:
            self.add(feature_descriptors)

    # ------------------------------------------------------------- registry
    def add(self, features: FeatureInput) -> "FeatureCollection":
        if isinstance(features, list):
            for f in features:
                self.add(f)
        elif isinstance(features, MultipleFeatureDescriptors):
            self.add(features.feature_descriptions)
        elif isinstance(features, FeatureCollection):
            self.add([fd for lst in features._feature_desc_dict.values() for fd in lst])
        elif isinstance(features, FeatureDescriptor):
            key = (features.series_name, features.window_str)
            self._feature_desc_dict.setdefault(key, []).append(features)
        else:
            raise TypeError(f"cannot add {type(features)} to FeatureCollection")
        self._check_unique_outputs()
        return self

    @property
    def descriptors(self) -> List[FeatureDescriptor]:
        return [fd for lst in self._feature_desc_dict.values() for fd in lst]

    def get_required_series(self) -> List[str]:
        seen: Dict[str, None] = {}
        for (series_tuple, _), _fds in self._feature_desc_dict.items():
            for s in series_tuple:
                seen.setdefault(s)
        return list(seen)

    def get_nb_output_features(self) -> int:
        return sum(fd.get_nb_output_features() for fd in self.descriptors)

    def output_columns(self) -> List[str]:
        cols = []
        for (series_tuple, win_str), fds in self._feature_desc_dict.items():
            for fd in fds:
                for out in fd.function.output_names:
                    cols.append(_col_name(series_tuple, out, win_str))
        return cols

    def _check_unique_outputs(self) -> None:
        cols = self.output_columns()
        dupes = {c for c in cols if cols.count(c) > 1}
        assert not dupes, f"duplicate output feature columns: {sorted(dupes)}"

    def reduce(self, feat_cols_to_keep: Sequence[str]) -> "FeatureCollection":
        """Prune to the descriptors producing ``feat_cols_to_keep``.

        Plan-level pruning (reference feature_collection.py:1282-1353) —
        parses the naming grammar back out of the column names.
        """
        keep = set(feat_cols_to_keep)
        out = FeatureCollection()
        matched: set = set()
        for (series_tuple, win_str), fds in self._feature_desc_dict.items():
            for fd in fds:
                outs = [
                    o for o in fd.function.output_names
                    if _col_name(series_tuple, o, win_str) in keep
                ]
                matched.update(_col_name(series_tuple, o, win_str) for o in outs)
                if outs:
                    out.add(fd)
        unmatched = keep - matched
        assert not unmatched, f"reduce(): unknown feature columns {sorted(unmatched)}"
        return out

    def serialize(self, path: str) -> None:
        """Persist the descriptor registry (cloudpickle — what PySpark itself
        ships closures with; reference uses dill, feature_collection.py:1264-1280)."""
        from pyspark import cloudpickle

        with open(path, "wb") as fh:
            cloudpickle.dump(self, fh)

    @staticmethod
    def deserialize(path: str) -> "FeatureCollection":
        from pyspark import cloudpickle

        with open(path, "rb") as fh:
            obj = cloudpickle.load(fh)
        assert isinstance(obj, FeatureCollection)
        return obj

    # ---------------------------------------------------------- introspection
    def explain_features(self, is_time: bool = True) -> pd.DataFrame:
        """Driver-side compilation report — which execution tier each
        descriptor hits, BEFORE running anything (no Spark jobs, no data).

        Columns: output, series, window, strides, tier
        (``native``/``native2``/``udf``, or ``count`` for an int window on
        a TIME index — count-based windows run the grid path in
        sample-position space), fanout (row-duplication factor of the
        one-level plan; samples per stride for ``count``), two_level
        (whether the descriptor's config rides the shared bucket summary
        — all functions decomposable, integral window/strides, within
        the grain guard; see features/summary.py). The Spark analog of
        ``df.explain()`` for the feature compiler: a ``udf`` row in the
        hot path is the first thing to look for when a job is slow.
        """
        rows = []
        # group into configs exactly like calculate() does
        cfg_entries: Dict[Tuple, List[Tuple]] = {}
        for (series_tuple, win_str), fds in self._feature_desc_dict.items():
            for fd in fds:
                if fd.window is None or not fd.stride:
                    cfg: Tuple = ("manual",)
                elif is_time and isinstance(fd.window, int) and not isinstance(fd.window, bool):
                    cfg = ("count", int(fd.window), tuple(sorted({int(x) for x in fd.stride})))
                else:
                    window_n = to_numeric_units(fd.window, is_time)
                    strides_n = tuple(
                        sorted({to_numeric_units(x, is_time) for x in fd.stride})
                    )
                    cfg = (window_n, strides_n)
                cfg_entries.setdefault(cfg, []).append((series_tuple, win_str, fd))
        rides = {cfg for _g, members in self._plan_summary(cfg_entries) for _i, cfg, _it in members}
        for cfg, entries in cfg_entries.items():
            if cfg[0] == "manual":
                fanout = None
            elif cfg[0] == "count":
                fanout = float(cfg[1]) / min(cfg[2])
            else:
                fanout = float(cfg[0]) / min(cfg[1])
            for series_tuple, win_str, fd in entries:
                if cfg[0] == "count":
                    tier = "count"
                elif len(series_tuple) == 1:
                    tier = "native" if fd.function.native_spec else "udf"
                elif len(series_tuple) == 2:
                    tier = "native2" if fd.function.native_spec2 else "udf"
                else:
                    tier = "udf"
                for o in fd.function.output_names:
                    rows.append(
                        {
                            "output": _col_name(series_tuple, o, win_str),
                            "series": "|".join(series_tuple),
                            "window": fd.window,
                            "strides": list(fd.stride) if fd.stride else None,
                            "tier": tier,
                            "fanout": fanout,
                            "two_level": cfg in rides,
                        }
                    )
        return pd.DataFrame(
            rows,
            columns=["output", "series", "window", "strides", "tier", "fanout", "two_level"],
        )

    # ------------------------------------------------------------- calculate
    def calculate(
        self,
        data: DataFrame,
        *,
        ts_col: str = "ts",
        key_cols: Sequence[str] = (),
        stride: Optional[Any] = None,
        segment_start_idxs: Optional[Sequence] = None,
        segment_end_idxs: Optional[Sequence] = None,
        return_df: bool = True,
        window_idx: str = "end",
        include_final_window: bool = False,
        include_empty_windows: bool = True,
        bound_method: str = "inner",
        approve_sparsity: bool = False,
        group_by_all: Optional[Union[str, Sequence[str]]] = None,
        group_by_consecutive: Optional[str] = None,
        logging_file_path: Optional[str] = None,
    ) -> Union[DataFrame, List[DataFrame]]:
        """Compute every registered feature over ``data``.

        ``data``: wide DataFrame — ``ts_col`` + one column per series
        (+ optional ``key_cols`` for per-entity extraction, the Spark-scale
        extension the single-entity reference doesn't have).
        Lifecycle parity: reference feature_collection.py:840-1262.
        """
        assert not (group_by_all and group_by_consecutive), "choose one group_by mode"
        from pyspark.sql.group import GroupedData

        if isinstance(data, tuple) and len(data) == 2:
            # (df, keys) — the DOCUMENTED stable form of pre-grouped
            # input (no private GroupedData internals involved)
            gdf, keys = data
            keys = [keys] if isinstance(keys, str) else list(keys)
            assert not (group_by_all or group_by_consecutive), (
                "data is already grouped — don't pass group_by_all/_consecutive"
            )
            missing = [c for c in keys if c not in gdf.columns]
            assert not missing, f"grouping columns not in data: {missing}"
            return self._calculate_group_by_all(gdf, keys, ts_col)
        if isinstance(data, GroupedData):
            # pre-grouped input ≙ the reference accepting a pandas
            # DataFrameGroupBy (feature_collection.py:1095-1170): routes to
            # the group_by_all path keyed on the grouping columns
            assert not (group_by_all or group_by_consecutive), (
                "data is already grouped — don't pass group_by_all/_consecutive"
            )
            return self._calculate_group_by_all(
                data._df, _grouping_columns(data), ts_col
            )
        if group_by_all:
            return self._calculate_group_by_all(data, group_by_all, ts_col)
        if group_by_consecutive:
            return self._calculate_group_by_consecutive(data, group_by_consecutive, ts_col, key_cols)

        domain = determine_type(data, ts_col)
        assert domain != DataType.UNDEFINED, f"unsupported index dtype for {ts_col}"
        is_time = domain == DataType.TIME
        key_cols = list(key_cols)

        required = self.get_required_series()
        missing = [s for s in required if s not in data.columns]
        assert not missing, f"series not in data: {missing}"

        data_n = seg.numeric_index(
            data.select(ts_col, *key_cols, *required), ts_col, domain
        ).drop(ts_col)
        manual = segment_start_idxs is not None or segment_end_idxs is not None

        # group descriptors by numeric (window, strides) config → fusion
        configs: Dict[Tuple, List[Tuple[Tuple[str, ...], str, FeatureDescriptor]]] = {}
        for (series_tuple, win_str), fds in self._feature_desc_dict.items():
            for fd in fds:
                if manual:
                    cfg = ("manual",)
                    if segment_start_idxs is not None and segment_end_idxs is not None:
                        win_str_eff = "manual"
                        window_n = None
                    else:
                        assert fd.window is not None, (
                            "window required when only one of segment_start/end_idxs is given"
                        )
                        win_str_eff = win_str
                        window_n = to_numeric_units(fd.window, is_time)
                    cfg = ("manual", window_n)
                    configs.setdefault(cfg, []).append((series_tuple, win_str_eff, fd))
                    continue
                strides = [stride] if stride is not None else fd.stride
                assert fd.window is not None, f"descriptor {fd} has no window"
                assert strides, (
                    f"descriptor {fd} has no stride and no stride-override/segment idxs given"
                )
                if is_time and isinstance(fd.window, int) and not isinstance(fd.window, bool):
                    # int window on a TIME index = count-based segmentation
                    # (reference TimeIndexSampleStridedRolling,
                    # strided_rolling_factory.py:74-98, strided_rolling.py:627-698)
                    window_c = int(fd.window)
                    strides_c = tuple(sorted({int(s) for s in strides}))
                    configs.setdefault(("count", window_c, strides_c), []).append(
                        (series_tuple, win_str, fd)
                    )
                    continue
                window_n = to_numeric_units(fd.window, is_time)
                strides_n = tuple(sorted({to_numeric_units(s, is_time) for s in strides}))
                configs.setdefault((window_n, strides_n), []).append((series_tuple, win_str, fd))

        check_sparsity = not approve_sparsity and not manual

        # every decomposable time/sequence grid config rides a shared
        # bucket summary (features/summary.py); holistic, UDF, count-based,
        # manual and too-fine configs keep their own paths
        tables = dict(enumerate(self._plan_summary(configs)))
        table_of = {cfg: ti for ti, (_g, ms) in tables.items() for _i, cfg, _it in ms}
        # the summaries' moment shifts ride the bounds' own scan
        shifts = summary.shift_aggs(
            [it for _g, ms in tables.values() for _i, _cfg, items in ms for it in items]
        )
        # bounds are O(#keys) rows but their plan is a full scan; both the
        # segment-assignment and the spine consume them — materialize so the
        # scan never runs twice per config (see _materialize_bounds for the
        # literal-frame vs eager-checkpoint split). DEFERRED (r11): a
        # count-based config computes its own bounds in position space and
        # never reads this one — building it up front paid a full
        # scan+aggregate job per gate for nothing on count-only calls.
        bounds_cell: List[Optional[DataFrame]] = [None]

        def _bounds() -> DataFrame:
            if bounds_cell[0] is None:
                bounds_cell[0] = _materialize_bounds(
                    seg.make_bounds(data_n, required, key_cols, bound_method, shifts),
                    key_cols,
                )
            return bounds_cell[0]

        from tsflex_spark.utils.logging import log_execution

        parts: List[Tuple[DataFrame, Optional[List[Tuple[int, str, str]]]]] = []
        for cfg, entries in configs.items():
            # execution-time logging (reference logs one line per feature
            # function; Spark fuses a config's functions into one job, so
            # the logged unit is the compiled config — SURVEY §2.12; a
            # shared summary's build is logged on its first member)
            funcs = "|".join(sorted({fd.function.func_name for _, _, fd in entries}))
            series = "|".join(sorted({s for st, _, _fd in entries for s in st}))
            # log the FULL output column names (naming grammar), matching
            # what reference logger.py:30-45 records — consumers join the
            # log frame against the result frame's columns
            outs = ",".join(
                sorted(
                    {
                        _col_name(st, o, ws)
                        for st, ws, fd in entries
                        for o in fd.function.output_names
                    }
                )
            )
            if cfg[0] in ("manual", "count"):
                win_lbl = str(cfg[1])
            else:
                # human-readable duration string ("30s"), not raw micros —
                # same rendering the output column names carry
                win_lbl = "|".join(sorted({ws for _, ws, _fd in entries}))
            stride_lbl = str(list(cfg[2]) if cfg[0] == "count" else cfg[1:]).replace(" ", "")
            with log_execution(funcs, series, win_lbl, stride_lbl, outs, logging_file_path):
                if cfg in table_of:
                    table = tables.pop(table_of[cfg], None)
                    if table is not None:
                        parts.append(
                            self._run_summary(
                                data_n, _bounds(), *table, f"__s{table_of[cfg]}_",
                                include_final_window, key_cols, window_idx, domain,
                                check_sparsity, include_empty_windows,
                            )
                        )
                elif cfg[0] == "manual":
                    parts.append((self._run_manual_config(
                        data_n, _bounds(), entries, cfg[1], segment_start_idxs,
                        segment_end_idxs, key_cols, window_idx, domain,
                    ), None))
                elif cfg[0] == "count":
                    parts.append((self._run_count_config(
                        data_n, entries, cfg[1], list(cfg[2]),
                        include_final_window, key_cols, window_idx, bound_method,
                    ), None))
                else:
                    window_n, strides_n = cfg
                    parts.append((self._run_grid_config(
                        data_n, _bounds(), entries, window_n, list(strides_n),
                        include_final_window, key_cols, window_idx, domain,
                        check_sparsity=check_sparsity,
                        include_empty_windows=include_empty_windows,
                    ), None))

        if not return_df:
            return [self._assemble([p], key_cols, ts_col, domain) for p in parts]
        return self._assemble(parts, key_cols, ts_col, domain)

    @staticmethod
    def _assemble(
        parts: List[Tuple[DataFrame, Optional[List[Tuple[int, str, str]]]]],
        key_cols: List[str],
        ts_col: str,
        domain: DataType,
    ) -> DataFrame:
        """Merge compiled parts into the wide result frame.

        Every part carries ``keys, OUT_IDX`` plus either named feature
        columns (one-level, count-based, manual paths) or, for a bucket
        summary, long-format rows tagged with ``summary.CFG`` and the
        ``(config, value column, output name)`` map. One
        ``unionByName`` + ``groupBy(keys, OUT_IDX)`` pivots the summary
        configs into columns and merges the other parts in the same
        aggregation (each output column has exactly one source row per
        group) — no full-outer-join chain. A single named part, or a
        one-config summary, needs no aggregation at all.
        """
        q = summary._q
        # per output: its name, its source inside the merge aggregation,
        # and its column when the part is used as is
        names: List[str] = []
        srcs: List[str] = []
        direct: List[str] = []
        for frame, outs in parts:
            if outs is None:
                for c in frame.columns:
                    if c != OUT_IDX and c not in key_cols:
                        names.append(c)
                        srcs.append(q(c))
                        direct.append(q(c))
            else:
                for cfg_id, col, name in outs:
                    names.append(name)
                    srcs.append(f"IF({summary.CFG} = {cfg_id}, {q(col)}, NULL)")
                    direct.append(q(col))
        if len(parts) == 1 and (
            parts[0][1] is None or len({c for c, _, _ in parts[0][1]}) == 1
        ):
            result, exprs = parts[0][0], direct
        else:
            result = _merge(
                [frame for frame, _outs in parts], [*key_cols, OUT_IDX], list(zip(names, srcs))
            )
            exprs = [q(n) for n in names]
        if domain == DataType.TIME:
            ts = f"timestamp_micros(CAST({OUT_IDX} AS BIGINT)) AS {q(ts_col)}"
        else:
            ts = f"{OUT_IDX} AS {q(ts_col)}"
        order = sorted(range(len(names)), key=names.__getitem__)
        # output names may contain dots (user output_names) — quoted
        return result.selectExpr(
            ts, *[q(k) for k in key_cols], *[f"{exprs[i]} AS {q(names[i])}" for i in order]
        ).orderBy(*key_cols, ts_col)

    def calculate_streaming(
        self,
        data: DataFrame,
        *,
        ts_col: str = "ts",
        key_cols: Sequence[str] = (),
        stride: Optional[Any] = None,
        watermark: Optional[str] = None,
    ) -> Union[DataFrame, List[DataFrame]]:
        """Compile this SAME feature configuration into a Structured
        Streaming plan (readStream in → incremental aggregation →
        writeStream out).

        The reference has no streaming runtime — it suggests re-running
        batch ``calculate`` on small tails for "streaming inference"
        (SURVEY §2.9). On Spark the identical logical config becomes a
        genuine incremental query, with constraints (checked here):

        - TIME-domain duration windows/strides only (count-based and
          manual segments need ordered state → ``streaming/stateful.py``);
        - native-tier functions only (aggregation state must stay
          JVM-side for incremental merge; Python funcs would re-see the
          whole window every trigger);
        - no distinct aggregates (``n_unique`` is not incrementally
          mergeable in streaming);
        - one stride per descriptor (``F.window`` takes one slide).

        Semantics differences vs batch ``calculate`` (documented, not
        hidden): the window grid aligns to the Unix epoch (Spark
        ``F.window``) rather than to the stream's first sample, and empty
        windows emit nothing (a stream has no bounded spine to left-join).

        Returns one DataFrame per distinct (window, stride) config — a
        single DataFrame when there is only one. Multi-config results are
        NOT outer-joined like the batch path: joining two streaming
        aggregations needs matching watermarks and append-mode
        restrictions that belong to the caller's sink topology. Works on
        a batch DataFrame too (same plan, one-shot) — used by the parity
        tests.
        """
        from tsflex_spark.streaming.rolling import _ensure_event_time
        from tsflex_spark.utils.time_args import parse_time_arg
        from tsflex_spark.utils.time_args import ts_micros as _tsm

        key_cols = list(key_cols)
        data = _ensure_event_time(data, ts_col)
        if watermark is not None:
            data = data.withWatermark(ts_col, watermark)
        data = data.withColumn(TSN, _tsm(ts_col))

        def _dur(td: pd.Timedelta) -> str:
            return f"{int(td.value // 1000)} microseconds"

        configs: Dict[Tuple, List[Tuple[Tuple[str, ...], str, FeatureDescriptor]]] = {}
        for (series_tuple, win_str), fds in self._feature_desc_dict.items():
            for fd in fds:
                if fd.window is None or (
                    isinstance(fd.window, int) and not isinstance(fd.window, bool)
                ):
                    raise ValueError(
                        f"descriptor {fd}: manual/count-based segmentation is not "
                        "streamable — use streaming/stateful.py"
                    )
                strides = [stride] if stride is not None else fd.stride
                if not strides:
                    raise ValueError(f"descriptor {fd} has no stride (tumbling = window)")
                if len(strides) > 1:
                    raise ValueError(
                        f"descriptor {fd}: multi-stride start unions are not "
                        "streamable (F.window takes one slide)"
                    )
                wtd = parse_time_arg(fd.window)
                std = parse_time_arg(strides[0])
                configs.setdefault((wtd, std), []).append((series_tuple, win_str, fd))

        outputs: List[DataFrame] = []
        for (wtd, std), entries in configs.items():
            native, udf = self._split_tiers(entries)
            if udf:
                bad = sorted({fd.function.func_name for *_, fd in udf})
                raise ValueError(
                    f"calculate_streaming compiles native catalog functions "
                    f"only; Python-tier funcs in config: {bad} — use "
                    f"streaming.stateful.windowed_features_stream (stateful "
                    f"window buffer) for arbitrary functions on tumbling "
                    f"windows"
                )
            distinct = sorted(
                {fd.function.func_name for *_, fd, _s in native if fd.function.func_name == "n_unique"}
            )
            if distinct:
                raise ValueError(
                    "n_unique (COUNT DISTINCT) is not supported in streaming "
                    "aggregations — use an approx sketch instead"
                )
            exprs = self._native_agg_exprs(native)
            win = F.window(F.col(ts_col), _dur(wtd), _dur(std))
            out = data.groupBy(*key_cols, win).agg(*exprs)
            feat_cols = [c for c in out.columns if "__" in c]
            outputs.append(
                out.select(
                    *key_cols,
                    F.col("window.end").alias(ts_col),
                    *[F.col(f"`{c}`") for c in feat_cols],
                )
            )
        return outputs[0] if len(outputs) == 1 else outputs

    def _attach_sparsity_observer(
        self, out: DataFrame, counts: List[Tuple[str, str]]
    ) -> DataFrame:
        """Non-eager sparsity check (reference strided_rolling.py:230-239
        warns on unequal per-window sample counts, ON by default).

        Instead of an extra eager job per config (which would double every
        ``calculate()``'s cluster work), the per-segment counts ride the
        config's OWN aggregation as hidden count columns and are
        reduced by ``DataFrame.observe`` — metrics Spark collects for free
        while the first real action on the result runs. A daemon thread
        waits on the observation and emits the warning; if the user never
        executes the plan, no work happens and no warning fires (lazy
        engine semantics). ``observe`` forbids DISTINCT aggregates, so
        non-uniformity is detected as ``min(count) != max(count)`` —
        equivalent for "are all window counts equal". ``counts`` pairs
        each series with a SQL count expression over ``out``'s rows;
        empty windows must read 0 (the one-level path coalesces the
        spine join's NULLs, a bucket summary sums 0-count spine rows) and
        rows that are not a window of that config NULL (a summary's
        per-config filter), so gaps vs. empty windows are detected like
        the reference's per-window counts. Several count expressions for
        one series (one per summary config) warn at most once.

        Known Spark 4 (classic) interaction: once ANY Observation has
        been registered in a session — pending or resolved — MLlib's
        RDD-based closures (``BinaryClassificationEvaluator.evaluate``,
        ``model.transform``'s prediction UDF) fail with
        ``NotSerializableException: ObservationManager``. Pass
        ``approve_sparsity=True`` in sessions that must run those, or
        evaluate with ``utils.ml_metrics.binary_auc`` and score with
        codegen expressions (the ``datapipe/classifier.py`` pattern),
        which stay on the DataFrame API.
        """
        import threading

        from pyspark.sql import Observation

        obs = Observation()
        exprs: List[Column] = []
        for i, (_s, c) in enumerate(counts):
            exprs.append(F.expr(f"min({c}) AS mn_{i}"))
            exprs.append(F.expr(f"max({c}) AS mx_{i}"))
        out = out.observe(obs, exprs[0], *exprs[1:])

        series = [s for s, _c in counts]

        def _watch() -> None:
            try:
                m = obs.get  # blocks until the first action on `out` ends
            except Exception:
                return
            gappy = {s for i, s in enumerate(series) if m.get(f"mn_{i}") != m.get(f"mx_{i}")}
            for s in dict.fromkeys(series):
                if s in gappy:
                    warnings.warn(
                        f"There are gaps in the sequence of the {s!r} series!",
                        RuntimeWarning,
                    )

        t = threading.Thread(target=_watch, daemon=True, name="tsflex-sparsity")
        t.start()
        # reap finished watchers so a long-lived session doesn't accumulate
        # one thread object per executed calculate()
        _SPARSITY_WATCHERS[:] = [w for w in _SPARSITY_WATCHERS if w[0].is_alive()]
        _SPARSITY_WATCHERS.append((t, lambda: obs._jo.future().isCompleted()))
        return out

    # ----------------------------------------------------------- internals
    def _split_tiers(
        self, entries: List[Tuple[Tuple[str, ...], str, FeatureDescriptor]]
    ) -> Tuple[List[Tuple], List[Tuple]]:
        """Split (series, win_str, fd) entries into native vs UDF tier."""
        native, udf = [], []
        for series_tuple, win_str, fd in entries:
            if len(series_tuple) == 1:
                spec = fd.function.native_spec
            elif len(series_tuple) == 2:
                spec = fd.function.native_spec2
            else:
                spec = None
            if spec is not None:
                native.append((series_tuple, win_str, fd, spec))
            else:
                udf.append((series_tuple, win_str, fd))
        return native, udf

    def _decomposed(self, entries: List[Tuple]) -> Optional[List[summary.Item]]:
        """Summary items of a config whose functions are all native and
        decomposable (``catalog.decomposition``/``decomposition2``), else
        None — holistic aggregates and the UDF tier keep the one-level
        path."""
        from tsflex_spark.features.catalog import decomposition, decomposition2

        native, udf = self._split_tiers(entries)
        if udf or not native:
            return None
        items: List[summary.Item] = []
        for series_tuple, win_str, fd, spec in native:
            kwargs = fd.function.kwargs
            d = (decomposition2 if getattr(spec, "arity", 1) == 2 else decomposition)(
                spec.name, kwargs
            )
            if d is None:
                return None
            out_name = _col_name(series_tuple, fd.function.output_names[0], win_str)
            items.append((series_tuple, out_name, spec, kwargs, d))
        return items

    def _plan_summary(
        self, configs: Dict[Tuple, List[Tuple]]
    ) -> List[Tuple[int, List[Tuple[int, Tuple, List[summary.Item]]]]]:
        """The bucket tables of ``configs`` (``summary.plan_tables``):
        ``[(grain, [(config id, config, summary items), ...]), ...]``."""
        items = {
            cfg: self._decomposed(entries)
            for cfg, entries in configs.items()
            if cfg[0] not in ("manual", "count")
        }
        grid = [cfg for cfg, it in items.items() if it is not None]
        return [
            (g, [(i, grid[i], items[grid[i]]) for i in idxs])
            for g, idxs in summary.plan_tables(grid)
        ]

    def _run_summary(
        self,
        data_n: DataFrame,
        bounds: DataFrame,
        g: int,
        members: List[Tuple[int, Tuple, List[summary.Item]]],
        prefix: str,
        include_final_window: bool,
        key_cols: List[str],
        window_idx: str,
        domain: DataType,
        check_sparsity: bool,
        include_empty_windows: bool,
    ) -> Tuple[DataFrame, List[Tuple[int, str, str]]]:
        """One bucket summary at grain ``g`` for the decomposable grid
        configs ``members`` (see features/summary.py); returns the
        long-format frame and its ``(config id, value column, output
        name)`` map for ``_assemble``."""
        needed = sorted({s for _i, _cfg, items in members for st, *_r in items for s in st})
        frame, outs, spc = summary.build(
            data_n.select(TSN, *key_cols, *needed), bounds,
            [(i, cfg[0], list(cfg[1]), items) for i, cfg, items in members], g,
            include_final_window, key_cols, window_idx, domain,
            include_empty_windows, prefix, needed if check_sparsity else [],
        )
        if spc:
            frame = self._attach_sparsity_observer(
                frame, [(s, expr) for s, expr, _c in spc]
            ).drop(*dict.fromkeys(c for _s, _e, c in spc))
        return frame, outs

    def _native_agg_exprs(self, native_entries: List[Tuple]) -> List[Column]:
        exprs = []
        for series_tuple, win_str, fd, spec in native_entries:
            out_name = _col_name(series_tuple, fd.function.output_names[0], win_str)
            if getattr(spec, "arity", 1) == 2:
                col = spec.build(
                    F.col(series_tuple[0]), F.col(series_tuple[1]), F.col(TSN),
                    fd.function.kwargs,
                )
            else:
                col = spec.build(F.col(series_tuple[0]), F.col(TSN), fd.function.kwargs)
            exprs.append(col.alias(out_name))
        return exprs

    def _fill_empty(self, out: DataFrame, entries: List[Tuple]) -> DataFrame:
        """Native-tier value of a window no row fed (``NativeSpec.empty``)."""
        native, _udf = self._split_tiers(entries)
        fills = {}
        for series_tuple, win_str, fd, spec in native:
            if spec.empty is not None:
                name = _col_name(series_tuple, fd.function.output_names[0], win_str)
                fills[name] = F.coalesce(F.col(name), F.lit(spec.empty))
        return out.withColumns(fills) if fills else out

    def _segment_features(
        self,
        assigned: DataFrame,
        entries: List[Tuple],
        group_cols: List[str],
        domain: DataType,
        extra: Sequence[Column] = (),
    ) -> DataFrame:
        """The per-segment feature step every window path shares: one
        ``groupBy(group_cols)`` for the native tier plus the ``extra``
        aggregates (hidden sparsity counts, run bounds), one Arrow pass
        for the UDF tier, and — when both run — one ``_merge`` of the two
        on ``group_cols``."""
        native, udf = self._split_tiers(entries)
        parts: List[DataFrame] = []
        if native or extra:
            parts.append(
                assigned.groupBy(*group_cols).agg(*self._native_agg_exprs(native), *extra)
            )
        if udf:
            parts.append(self._udf_apply(assigned, udf, group_cols, domain))
        if len(parts) == 1:
            return parts[0]
        outs = [(c, summary._q(c)) for p in parts for c in p.columns if c not in group_cols]
        return _merge(parts, group_cols, outs)

    def _udf_apply(
        self,
        assigned: DataFrame,
        udf_entries: List[Tuple],
        group_cols: List[str],
        domain: DataType = DataType.SEQUENCE,
    ) -> DataFrame:
        """UDF tier: Arrow ``applyInPandas`` computing every Python feature
        function of this config per segment group.

        Segments are hashed into ``2 × defaultParallelism`` buckets so ONE
        Arrow call processes many segments — per-group Python/Arrow
        overhead dominates when segments are numerous and small (same
        trade measured ~4× in the pandas processing tier). Within a bucket, ``vectorized`` numpy functions
        whose segments are equal-length get the reference's true
        (nb, window) batch (strided_rolling.py:379-453) in ONE call;
        ragged segments fall back to per-segment (1, n) calls.

        ``input_type=pd.Series`` functions receive their series with the
        real index (DatetimeIndex for TIME, numeric for SEQUENCE) —
        reference function_wrapper.py:44-143 index-aware semantics."""
        out_specs: List[Tuple[str, Tuple[str, ...], Any]] = []  # (colname, series, FuncWrapper)
        for series_tuple, win_str, fd in udf_entries:
            out_specs.append((series_tuple, win_str, fd.function))

        is_time = domain == DataType.TIME

        out_fields = [assigned.schema[c] for c in group_cols]
        out_names: List[str] = []
        out_types: List[T.DataType] = []
        # per-spec output meta: (colname, mode) where mode 'raw' preserves
        # the function's value (declared dtype OR probe-inferred non-double
        # — the reference retains whatever dtype the function returns,
        # tests :1965-2089, without requiring a declaration) and 'coerce'
        # is the legacy float path for double outputs
        store_meta: List[List[Tuple[str, str]]] = []  # parallel to out_specs
        for series_tuple, win_str, fw in out_specs:
            inferred = None
            if any(dt is None for dt in fw.output_dtypes):
                input_types = [assigned.schema[s].dataType for s in series_tuple]
                inferred = _infer_output_dtypes(
                    fw, input_types, is_time and fw.input_type is pd.Series
                )
            meta: List[Tuple[str, str]] = []
            for i, (o, dt) in enumerate(zip(fw.output_names, fw.output_dtypes)):
                name = _col_name(series_tuple, o, win_str)
                if dt is not None:
                    t, mode = _resolve_dtype(dt), "raw"
                elif inferred is not None and not isinstance(
                    inferred[i], T.DoubleType
                ):
                    t, mode = inferred[i], "raw"
                else:
                    t, mode = T.DoubleType(), "coerce"
                out_names.append(name)
                out_types.append(t)
                meta.append((name, mode))
            store_meta.append(meta)
        schema = T.StructType(
            out_fields
            + [T.StructField(n, t, True) for n, t in zip(out_names, out_types)]
        )

        def _store(row: Dict[str, Any], spec_idx: int, fw, outs) -> None:
            meta = store_meta[spec_idx]
            for (name, mode), v in zip(meta, outs):
                if mode == "coerce":  # double tier — coerce like before
                    try:
                        row[name] = float(v)
                    except (TypeError, ValueError):
                        row[name] = np.nan
                else:  # preserved dtype — raw value (NaN -> NULL)
                    is_nan = isinstance(v, float) and np.isnan(v)
                    row[name] = None if (v is None or is_nan) else v

        def _fill_one(row: Dict[str, Any], pdf: pd.DataFrame, spec_idx: int) -> None:
            series_tuple, win_str, fw = out_specs[spec_idx]
            _store(row, spec_idx, fw, fw.apply_segment(series_tuple, pdf, pdf[TSN], is_time))

        vec_flags = [
            fw.vectorized and fw.input_type is np.ndarray
            for _st, _ws, fw in out_specs
        ]

        def _fill_vectorized(rows, groups, spec_idx: int) -> None:
            """One (nb, window) call when every segment has equal length."""
            series_tuple, win_str, fw = out_specs[spec_idx]
            n_out = len(fw.output_names)
            arrs = [
                [g[s].dropna().to_numpy() for s in series_tuple] for g in groups
            ]
            sizes = {a.size for seg in arrs for a in seg}
            per_seg = None
            if len(sizes) == 1 and sizes != {0}:
                batches = [
                    np.stack([seg[i] for seg in arrs])
                    for i in range(len(series_tuple))
                ]
                try:
                    out = np.asarray(fw.func(*batches, **fw.kwargs))
                    nb = len(groups)
                    # single output -> (nb,); multi-output funcs return one
                    # array per output -> (n_out, nb), same layout the
                    # (1, n) contract implies
                    if out.ndim == 1 and n_out == 1 and out.size == nb:
                        per_seg = out.reshape(nb, 1)
                    elif out.shape == (n_out, nb):
                        per_seg = out.T
                    elif out.shape == (nb, n_out):
                        per_seg = out
                except Exception:
                    per_seg = None
            if per_seg is None:  # ragged / empty / non-conforming: (1, n) path
                for row, g in zip(rows, groups):
                    _fill_one(row, g, spec_idx)
                return
            for row, vals in zip(rows, per_seg):
                _store(row, spec_idx, fw, list(vals))

        def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            # ONE bucket-wide ts sort; groupby preserves within-group order,
            # so per-group sorts (thousands of tiny ones) are unnecessary
            pdf = pdf.sort_values(TSN)
            groups: List[pd.DataFrame] = []
            rows: List[Dict[str, Any]] = []
            # group keys come from the groupby iterator — per-group scalar
            # .iloc[0] lookups cost more than the feature math at thousands
            # of small segments per bucket
            for key, g in pdf.groupby(list(group_cols), sort=False, dropna=False):
                groups.append(g)
                if not isinstance(key, tuple):
                    key = (key,)
                rows.append(dict(zip(group_cols, key)))
            for spec_idx, is_vec in enumerate(vec_flags):
                if is_vec:
                    _fill_vectorized(rows, groups, spec_idx)
                else:
                    for row, g in zip(rows, groups):
                        _fill_one(row, g, spec_idx)
            if not rows:
                return pd.DataFrame({c: [] for c in [*group_cols, *out_names]})
            return pd.DataFrame(rows, columns=[*group_cols, *out_names])

        n_buckets = assigned.sparkSession.sparkContext.defaultParallelism * 2
        bucket = F.pmod(F.xxhash64(*[F.col(c) for c in group_cols]), F.lit(n_buckets))
        return (
            assigned.withColumn("__ubkt", bucket)
            .groupBy("__ubkt")
            .applyInPandas(run_bucket, schema)
        )

    def _run_grid_config(
        self,
        data_n: DataFrame,
        bounds: DataFrame,
        entries: List[Tuple],
        window_n,
        strides_n: List,
        include_final_window: bool,
        key_cols: List[str],
        window_idx: str,
        domain: DataType,
        check_sparsity: bool = False,
        include_empty_windows: bool = True,
    ) -> DataFrame:
        """One-level plan: explode every row into its segments, one
        ``groupBy(keys, segment)``. Holistic and UDF configs, grid configs
        too fine for a bucket table and count-based configs (in position
        space) take this path."""
        needed = sorted({s for series_tuple, _, _fd in entries for s in series_tuple})
        assigned = seg.assign_segments(
            data_n.select(TSN, *key_cols, *needed),
            bounds, window_n, strides_n, include_final_window, key_cols,
        )
        group_cols = [*key_cols, SEG]

        # hidden per-series segment counts for the non-eager sparsity check
        spc = (
            [F.count(F.col(s)).alias(f"__spc_{i}") for i, s in enumerate(needed)]
            if check_sparsity
            else []
        )
        result = self._segment_features(assigned, entries, group_cols, domain, spc)

        if include_empty_windows:
            spine = seg.segment_spine(
                bounds, [(0, window_n, strides_n)], include_final_window, key_cols
            ).drop(CFG)
            if len(strides_n) > 1:  # coinciding starts count once
                spine = spine.dropDuplicates(group_cols)
            out = spine.join(result, on=group_cols, how="left")
        else:
            # sparse-data scale path: skip the grid spine entirely — with a
            # fine stride over a long sparse span the spine is orders of
            # magnitude larger than the data (#keys x span/stride rows)
            out = result.withColumn(SEG_END, F.col(SEG) + F.lit(window_n))
        out = self._fill_empty(out, entries)
        if spc:
            out = self._attach_sparsity_observer(
                out,
                [(s, f"coalesce(__spc_{i}, 0)") for i, s in enumerate(needed)],
            ).drop(*[f"__spc_{i}" for i in range(len(needed))])
        out = out.withColumn(OUT_IDX, seg.out_idx_expr(window_idx, domain))
        return out.drop(SEG, SEG_END)

    def _run_count_config(
        self,
        data_n: DataFrame,
        entries: List[Tuple],
        window_c: int,
        strides_c: List[int],
        include_final_window: bool,
        key_cols: List[str],
        window_idx: str,
        bound_method: str,
    ) -> DataFrame:
        """Count-based windows on a TIME index: the grid path run in
        sample-position space, with the time index stitched back onto the
        output positions (reference TimeIndexSampleStridedRolling,
        strided_rolling.py:627-698).

        Positions are a per-key ``row_number`` ordered by ts. They are
        dense, so every segment holds the row at its own start position:
        no window is empty and the grid path runs without a spine. Output
        ts = the timestamp AT the output position (begin/middle/end
        sample), exactly the reference's ``series_index[df.index]``
        stitch.
        """
        needed = sorted({s for series_tuple, _, _fd in entries for s in series_tuple})
        # the position numbering feeds THREE consumers (bounds, segment
        # assignment, output-ts stitch); without materialization each
        # consumer re-runs the global-sort row-number pass (no common-
        # subexpression reuse across a DAG in Spark) — one checkpointed
        # pass is the scale-correct trade at any data size. EAGER: a lazy
        # checkpoint can ABBA-deadlock against concurrent AQE stage
        # submission (see _materialize_bounds)
        from tsflex_spark.utils.data import cut_lineage

        pos = cut_lineage(
            with_global_row_number(
                data_n, TSN, "__rn", key_cols=key_cols, zero_based=True
            )
        )
        pos_map = pos.select(*key_cols, F.col("__rn").alias(OUT_IDX), F.col(TSN).alias("__out_tsn"))
        data_ps = pos.drop(TSN).withColumnRenamed("__rn", TSN)
        # SEQUENCE: index-aware UDFs see the sample position, not the
        # stitched time index
        out = self._run_grid_config(
            data_ps, seg.make_bounds(data_ps, needed, key_cols, bound_method),
            entries, window_c, strides_c, include_final_window, key_cols,
            window_idx, DataType.SEQUENCE, include_empty_windows=False,
        )
        # positions are integers; middle floors (numpy int division)
        out = out.withColumn(OUT_IDX, F.floor(OUT_IDX))
        out = out.join(pos_map, on=[*key_cols, OUT_IDX], how="left")
        return out.drop(OUT_IDX).withColumnRenamed("__out_tsn", OUT_IDX)

    def _run_manual_config(
        self,
        data_n: DataFrame,
        bounds: DataFrame,
        entries: List[Tuple],
        window_n,
        segment_start_idxs,
        segment_end_idxs,
        key_cols: List[str],
        window_idx: str,
        domain: DataType,
    ) -> DataFrame:
        """Explicit user segments (reference strided_rolling.py:198-214,
        feature_collection.py:895-927): both arrays ⇒ variable-length
        'manual' windows; one array ⇒ the other derived from ``window``."""
        is_time = domain == DataType.TIME

        def _to_num(arr) -> np.ndarray:
            a = pd.Series(list(arr))
            if is_time:
                return pd.to_datetime(a).astype("int64").to_numpy() // 1000
            return a.to_numpy()

        if segment_start_idxs is not None and segment_end_idxs is not None:
            starts, ends = _to_num(segment_start_idxs), _to_num(segment_end_idxs)
            assert len(starts) == len(ends), "segment start/end arrays must have equal length"
            assert np.all(starts <= ends), "segment_start_idxs must be <= segment_end_idxs"
        elif segment_start_idxs is not None:
            starts = _to_num(segment_start_idxs)
            ends = starts + window_n
        else:
            ends = _to_num(segment_end_idxs)
            starts = ends - window_n

        # reference strided_rolling.py:548-551,604-614: explicit segment
        # indexes outside the data's index range warn. bounds is already
        # localCheckpoint'd — this probe reads a handful of cached rows.
        rng = bounds.agg(F.min(START).alias("lo"), F.max(END).alias("hi")).first()
        if rng is not None and rng["lo"] is not None:
            all_idxs = np.concatenate([starts, ends])
            if ((all_idxs < rng["lo"]) | (all_idxs > rng["hi"])).any():
                warnings.warn(
                    "Some segment indexes are outside the range of the data its index.",
                    RuntimeWarning,
                )

        spark = data_n.sparkSession
        key_rows = data_n.select(*key_cols).distinct() if key_cols else None
        spine = seg.manual_segment_spine(spark, starts, ends, key_rows)

        needed = sorted({s for series_tuple, _, _fd in entries for s in series_tuple})
        max_len = float(np.max(ends - starts)) if len(starts) else 1.0
        assigned = seg.assign_manual_segments(
            data_n.select(TSN, *key_cols, *needed), spine, max_len, key_cols
        )
        group_cols = [*key_cols, SEG_ID]
        result = self._segment_features(
            assigned.drop(SEG, SEG_END), entries, group_cols, domain
        )
        out = self._fill_empty(spine.join(result, on=group_cols, how="left"), entries)
        out = out.withColumn(OUT_IDX, seg.out_idx_expr(window_idx, domain))
        return out.drop(SEG, SEG_END, SEG_ID)

    # ------------------------------------------------------ group-by modes
    def _manual_entries(self) -> List[Tuple]:
        """Descriptor entries relabeled 'manual' for the group-by modes,
        with the reference's <=1-window rule (feature_collection.py:432-448):
        grouping ignores windows, so two windows of the same (series, func)
        would collapse onto one output name — reject with a clear error."""
        entries = [
            (series_tuple, "manual", fd)
            for (series_tuple, _w), fds in self._feature_desc_dict.items()
            for fd in fds
        ]
        names = [
            _col_name(series_tuple, out, "manual")
            for series_tuple, _, fd in entries
            for out in fd.function.output_names
        ]
        dupes = {n for n in names if names.count(n) > 1}
        assert not dupes, (
            "group_by modes ignore windows: use max ONE window per "
            f"(series, function) — duplicate outputs {sorted(dupes)}"
        )
        return entries

    def _calculate_group_by_all(
        self, data: DataFrame, gcols: Union[str, Sequence[str]], ts_col: str
    ) -> DataFrame:
        """SQL-style GROUP BY features (reference feature_collection.py:484-566):
        one output row per distinct key; NULL/NaN keys dropped; window label
        'manual'; strides/windows ignored. Accepts a composite key (list of
        columns) — a Spark-side extension over the reference's single col."""
        gcols = [gcols] if isinstance(gcols, str) else list(gcols)
        domain = determine_type(data, ts_col)
        data_n = seg.numeric_index(data, ts_col, domain)
        entries = self._manual_entries()
        # NULL (and float-NaN) group keys are dropped — Spark groupBy keeps
        # them, the reference drops them with a warning (:509-519)
        cond = F.lit(True)
        for g in gcols:
            c = F.col(g).isNotNull()
            if isinstance(data.schema[g].dataType, (T.FloatType, T.DoubleType)):
                c = c & ~F.isnan(F.col(g))
            cond = cond & c
        result = self._segment_features(data_n.where(cond), entries, gcols, domain)
        feat_cols = sorted(c for c in result.columns if c not in gcols)
        return result.select(*gcols, *[F.col(f"`{c}`") for c in feat_cols]).orderBy(*gcols)

    def _calculate_group_by_consecutive(
        self, data: DataFrame, gcol: str, ts_col: str, key_cols: Sequence[str] = ()
    ) -> DataFrame:
        """Gaps-and-islands grouping (reference feature_collection.py:568-724):
        runs of equal consecutive ``gcol`` values become feature segments;
        internally the reference computes on half-open
        ``[run_start, next_run_start)`` slices (last end bumped +1 day /
        +1, reference :678-688) but REPORTS ``__end`` as the run's LAST
        MEMBER index (``:713-714`` — ``consecutive_grouped_by_df["end"]``
        = groupby last), verified by running the reference directly
        (tests/test_reference_parity.py). Output: ``ts`` (= run start),
        ``gcol``, ``__start``, ``__end`` (last member index) + feature
        columns labeled ``w=manual``.

        Scale note: island numbering needs a running sum ordered by ts —
        per ``key_cols`` partition when keys are given; a single global
        ordering otherwise (matches the single-series reference; pass
        key_cols for distributed runs).
        """
        domain = determine_type(data, ts_col)
        key_cols = list(key_cols)
        data_n = seg.numeric_index(data, ts_col, domain)
        clean = data_n.where(F.col(gcol).isNotNull())

        islands = with_global_islands(
            clean,
            TSN,
            gcol,
            lambda prev: prev.isNull() | (F.col(gcol) != prev),
            "__island",
            key_cols=key_cols,
        )

        run_aggs = [
            F.first(F.col(gcol)).alias(gcol),
            F.min(TSN).alias("__start_n"),
            F.max(TSN).alias("__last_n"),
        ]
        result = self._segment_features(
            islands, self._manual_entries(), [*key_cols, "__island"], domain, run_aggs
        )
        # reported __end = the run's last member index (reference :713-714;
        # the +1day/+1 exclusive bump only feeds the reference's INTERNAL
        # slicing, which island membership already encodes here — so no
        # island+1 self-join is needed at all)
        result = (
            result.withColumn(ts_col, seg.output_index(F.col("__start_n"), domain))
            .withColumn("__start", seg.output_index(F.col("__start_n"), domain))
            .withColumn("__end", seg.output_index(F.col("__last_n"), domain))
        )
        feat_cols = sorted(
            c
            for c in result.columns
            if c not in (ts_col, gcol, "__start", "__end", "__start_n", "__last_n", "__island", *key_cols)
        )
        return result.select(
            ts_col,
            *key_cols,
            F.col(gcol),
            F.col("__start"),
            F.col("__end"),
            *[F.col(f"`{c}`") for c in feat_cols],
        ).orderBy(*key_cols, ts_col)
