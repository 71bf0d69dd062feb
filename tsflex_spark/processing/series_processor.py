"""SeriesProcessor — apply a function to (tuples of) series on a wide DataFrame.

Parity: reference tsflex/processing/series_processor.py:57-237 (N-in/M-out
function application per series-name tuple) with the reference's
output-merge rules (:277-370): an unnamed 1-column result **replaces** the
(single) input series; named outputs **add or replace** columns by name.

Spark-first tiers:
- ``input_type="column"`` (native): ``function(*Columns, **kwargs) -> Column
  | {name: Column}`` — one ``withColumn``, JVM codegen, the 100 TB path.
- ``input_type="pandas"|"numpy"`` (UDF): the function sees each whole series
  ts-sorted (as the reference does — needed for order-dependent transforms
  like interpolation/resampling). Executed per ``key_cols`` group via
  Arrow ``applyInPandas``; without keys the series is one group (matches the
  single-machine reference; pass key_cols to distribute).
- ``halo_rows=(lookback, lookahead)``: an UNKEYED order-dependent-but-local
  function runs per range partition over its rows plus the ``lookback`` /
  ``lookahead`` rows globally before / after them (overlap-stitch) — exact
  for any partition sizes iff the function's row dependence radius is
  <= ``halo_rows``.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql import types as T


def dataframe_func(func: Callable) -> Callable:
    """Mark ``func`` as operating on the whole wide pandas DataFrame
    (reference series_processor.py:19-54 — e.g. row-wise ``dropna``)."""
    func.__dataframe_func__ = True
    return func


def _to_tuple(names: Union[str, Sequence[str]]) -> Tuple[str, ...]:
    return (names,) if isinstance(names, str) else tuple(names)


def _dummy_frame(schema: T.StructType, ts_col: str, n: int = 8) -> pd.DataFrame:
    """A tiny synthetic frame matching ``schema`` (monotone timestamps in
    ``ts_col``) — probe input for schema-only output discovery: the
    processor function runs on it DRIVER-side with no Spark job and no
    dependence on the data."""
    cols: Dict[str, Any] = {}
    for f in schema.fields:
        t = f.dataType
        if f.name == ts_col or isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            cols[f.name] = pd.date_range("2020-01-01", periods=n, freq="s")
        elif isinstance(t, T.DateType):
            cols[f.name] = pd.date_range("2020-01-01", periods=n, freq="D").date
        elif isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            cols[f.name] = np.arange(1, n + 1, dtype=np.int64)
        elif isinstance(t, T.FloatType):
            cols[f.name] = np.linspace(1.0, 2.0, n, dtype=np.float32)
        elif isinstance(t, T.BooleanType):
            cols[f.name] = np.resize([True, False], n)
        elif isinstance(t, T.StringType):
            cols[f.name] = list("abcd" * (n // 4 + 1))[:n]
        else:
            cols[f.name] = np.linspace(1.0, 2.0, n, dtype=np.float64)
    return pd.DataFrame(cols)


def _added_field(name: str, probe_col: pd.Series) -> T.StructField:
    """Spark field for a probe-discovered added column. Numeric outputs
    stay DOUBLE (a dummy-int probe result may be float on real data —
    e.g. diff over ints — so a narrower numeric type would truncate);
    non-numeric outputs take their natural type."""
    dt = probe_col.dtype
    if str(dt).startswith("datetime64"):
        return T.StructField(name, T.TimestampType(), True)
    if str(dt).startswith("timedelta64"):
        return T.StructField(name, T.DayTimeIntervalType(), True)
    if dt == np.bool_:
        return T.StructField(name, T.BooleanType(), True)
    if dt == object and len(probe_col) and isinstance(probe_col.iloc[0], str):
        return T.StructField(name, T.StringType(), True)
    return T.StructField(name, T.DoubleType(), True)


class SeriesProcessor:
    def __init__(
        self,
        function: Callable,
        series_names: Union[str, Sequence[str], List[Sequence[str]]],
        input_type: str = "numpy",
        output_schema: Optional[Union[str, T.StructType, Dict[str, str]]] = None,
        halo_rows: Optional[Tuple[int, int]] = None,
        **kwargs: Any,
    ):
        if isinstance(series_names, str) or (
            isinstance(series_names, tuple) and all(isinstance(s, str) for s in series_names)
        ):
            series_names = [series_names]
        self.series_names: List[Tuple[str, ...]] = [_to_tuple(s) for s in series_names]
        self.function = function
        self.kwargs = kwargs
        assert input_type in ("column", "numpy", "pandas")
        self.input_type = input_type
        self.name = getattr(function, "__name__", str(function))
        # columns the pandas/numpy-tier function ADDS (or replaces with a
        # new dtype), declared as DDL ("d double, flag string"), a
        # StructType, or {name: ddl}. When given, the plan is built without
        # the driver-side sample probe (no job, no data dependence); when
        # omitted, a 100-row probe discovers the added columns.
        if isinstance(output_schema, dict):
            output_schema = ", ".join(f"{k} {v}" for k, v in output_schema.items())
        if isinstance(output_schema, str):
            output_schema = T.StructType.fromDDL(output_schema)
        self.output_schema: Optional[T.StructType] = output_schema
        # (lookback, lookahead) ROW radius of the function's dependence:
        # when set and the input is UNKEYED, the series is range-
        # partitioned in ts order and each partition computes over
        # core + halo rows borrowed from its neighbours, keeping only the
        # core outputs (overlap-stitch) — the 100 TB path for order-
        # dependent-but-LOCAL functions (diff/shift/rolling smooth/
        # bounded-gap interpolate). Exact for any partition sizes iff the
        # true dependence radius is <= halo_rows; None keeps the
        # single-group semantics for genuinely whole-series functions.
        if halo_rows is not None:
            lb, la = halo_rows
            assert lb >= 0 and la >= 0, "halo_rows must be non-negative"
        self.halo_rows = halo_rows

    def get_required_series(self) -> List[str]:
        out: Dict[str, None] = {}
        for tup in self.series_names:
            for s in tup:
                out.setdefault(s)
        return list(out)

    # ------------------------------------------------------------------
    def __call__(self, df: DataFrame, ts_col: str, key_cols: Sequence[str]) -> DataFrame:
        if getattr(self.function, "__dataframe_func__", False):
            return self._apply_pandas_frame(df, ts_col, key_cols, whole_frame=True)
        if self.input_type == "column":
            for tup in self.series_names:
                out = self.function(*[F.col(s) for s in tup], **self.kwargs)
                if isinstance(out, dict):
                    for name, col in out.items():
                        df = df.withColumn(name, col)
                elif isinstance(out, Column):
                    assert len(tup) == 1, (
                        "unnamed single-Column output only replaces a single input series"
                    )
                    df = df.withColumn(tup[0], out)
                else:
                    raise TypeError("column-tier function must return Column or {name: Column}")
            return df
        return self._apply_pandas_frame(df, ts_col, key_cols, whole_frame=False)

    # ------------------------------------------------------------------
    def _apply_pandas_frame(
        self, df: DataFrame, ts_col: str, key_cols: Sequence[str], whole_frame: bool
    ) -> DataFrame:
        key_cols = list(key_cols)
        func, kwargs = self.function, self.kwargs
        series_names, input_type, pname = self.series_names, self.input_type, self.name

        def handle_output(pdf: pd.DataFrame, out: Any, tup: Tuple[str, ...]) -> pd.DataFrame:
            # reference output-merge rules (series_processor.py:277-370).
            # Length-mismatched Series/DataFrame outputs (a function that
            # DROPS samples, e.g. a dataframe_func dropna) align on the TS
            # index — both tiers hand the function ts-indexed series, so
            # the output's index labels are timestamps; dropped samples
            # become NULL in the wide frame (the wide-format no-sample
            # encoding — the reference's series dict instead shrinks that
            # series and outer-merges at the end, the documented
            # data-model boundary).
            def aligned(s: pd.Series) -> Any:
                if len(s) == len(pdf):
                    return s.to_numpy()
                if isinstance(s.index, pd.RangeIndex):
                    # numpy-tier functions see bare arrays, so their
                    # Series outputs carry a positional RangeIndex — ts
                    # labels don't exist to align on; keep positional
                    # alignment against the frame's RangeIndex
                    return s.reindex(pdf.index).to_numpy()
                if s.index.has_duplicates:
                    # duplicate ts labels in the output (duplicate input
                    # timestamps surviving a row-dropper): reindex would
                    # raise on duplicate SOURCE labels — keep the first
                    # value per label, matching keep-first merge rules
                    s = s[~s.index.duplicated(keep="first")]
                return s.reindex(pd.Index(pdf[ts_col])).to_numpy()

            if isinstance(out, np.ndarray):
                assert len(tup) == 1, "ndarray output requires a single input series"
                assert len(out) == len(pdf), "ndarray output must have same length"
                pdf[tup[0]] = out
            elif isinstance(out, pd.Series):
                name = out.name if out.name is not None else (tup[0] if len(tup) == 1 else None)
                assert name is not None, "unnamed Series output requires single input series"
                pdf[name] = aligned(out)
            elif isinstance(out, pd.DataFrame):
                for c in out.columns:
                    pdf[c] = aligned(out[c])
            elif isinstance(out, list) and all(isinstance(s, pd.Series) for s in out):
                for s_out in out:
                    assert s_out.name is not None, "list output Series must be named"
                    pdf[s_out.name] = aligned(s_out)
            else:
                raise TypeError(f"unsupported processor output type {type(out)}")
            return pdf

        def _transform(pdf: pd.DataFrame) -> pd.DataFrame:
            """Run the function over an ALREADY ts-sorted frame; returns
            the frame with outputs merged (no column selection)."""
            if whole_frame:
                return func(pdf.set_index(ts_col), **kwargs).reset_index()
            res = pdf
            for tup in series_names:
                if input_type == "numpy":
                    args = [res[s].to_numpy() for s in tup]
                else:
                    args = [pd.Series(res[s].to_numpy(), index=res[ts_col], name=s) for s in tup]
                out = func(*args, **kwargs)
                res = handle_output(res, out, tup)
            return res

        if self.output_schema is not None:
            # declared added/replaced columns: no probe at all
            declared = {f.name: f for f in self.output_schema.fields}
            fields = [declared.get(c, df.schema[c]) for c in df.columns]
            fields += [f for n, f in declared.items() if n not in df.columns]
        else:
            # discover added columns by probing the function on a tiny
            # SYNTHETIC frame built from the schema — driver-side, no
            # Spark job, no data dependence; a function the dummy data
            # can't satisfy falls back to a 100-row sample probe (one
            # tiny job at plan-build; declare output_schema to skip both)
            try:
                probe = _transform(_dummy_frame(df.schema, ts_col).copy())
            except Exception:
                probe = _transform(
                    df.limit(100).toPandas().sort_values(ts_col).reset_index(drop=True)
                )
            fields = []
            for c in probe.columns:
                if c in df.columns:
                    fields.append(df.schema[c])
                else:
                    fields.append(_added_field(c, probe[c]))
        schema = T.StructType(fields)
        out_cols = [f.name for f in fields]

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            res = _transform(pdf.sort_values(ts_col).reset_index(drop=True))
            for c in out_cols:
                if c not in res.columns:
                    res[c] = np.nan
            return res[out_cols]

        if key_cols:
            # batch keys into hash buckets: one Arrow call processes many
            # keys (per-group Python/Arrow overhead dominates when keys are
            # numerous and small — 1500 one-call groups measured ~4x slower
            # than 64 bucketed calls at sf0.1); per-key semantics preserved
            # by the pandas groupby inside each bucket
            n_buckets = df.sparkSession.sparkContext.defaultParallelism * 2

            def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
                outs = [
                    run(g)
                    for _, g in pdf.groupby(list(key_cols), sort=False, dropna=False)
                ]
                return pd.concat(outs, ignore_index=True)

            bucket = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))
            return (
                df.withColumn("__bucket", bucket)
                .groupBy("__bucket")
                .applyInPandas(run_bucket, schema)
            )
        if self.halo_rows is not None:
            return self._apply_unkeyed_halo(df, ts_col, _transform, schema, out_cols)
        # single group = whole series (matches the single-machine reference;
        # pass key_cols to distribute, or halo_rows for order-dependent-
        # but-local functions). NB: groupBy(lit(1)) resolves as a GROUP BY
        # *ordinal* in Spark 4 — use a named constant column.
        return (
            df.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(run, schema)
        )

    def _apply_unkeyed_halo(
        self,
        df: DataFrame,
        ts_col: str,
        transform: Callable[[pd.DataFrame], pd.DataFrame],
        schema: T.StructType,
        out_cols: List[str],
    ) -> DataFrame:
        """Overlap-stitch execution of an order-dependent-but-local
        function over ONE unkeyed logical series — the scale path that
        replaces the single-Arrow-group funnel.

        Shape: range-partition in ts order (``distributed._ranged``);
        each partition's Arrow group gets its own (core) rows plus the
        edge rows of every earlier and later partition
        (``distributed._neighbours``, the rows ``with_global_shift``
        reads for lag-k), keeps the ``lookback`` rows just before and the
        ``lookahead`` rows just after its core, computes the function
        over halo+core+halo and emits only the output rows inside its
        core ts span. Exact for any partition sizes iff the function's
        dependence radius is <= halo_rows.
        """
        from tsflex_spark.utils.distributed import PID, _neighbours, _ranged

        lookback, lookahead = self.halo_rows
        d = _ranged(df, ts_col)
        rows = d.withColumn("__core", F.lit(True))
        for k, before in ((lookback, True), (lookahead, False)):
            if k:
                halo = _neighbours(d, ts_col, int(k), before=before)
                rows = rows.unionByName(halo.withColumn("__core", F.lit(False)))

        def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
            # range partitions never share a ts, so the core rows are one
            # contiguous run of the ts-sorted group
            pdf = pdf.sort_values(ts_col).reset_index(drop=True)
            core = np.flatnonzero(pdf["__core"].to_numpy())
            if not len(core):
                return pd.DataFrame(columns=out_cols)
            lo, hi = pdf[ts_col].iloc[core[0]], pdf[ts_col].iloc[core[-1]]
            window = pdf.iloc[max(core[0] - lookback, 0) : core[-1] + lookahead + 1]
            res = transform(window.drop(columns=[PID, "__core"]).reset_index(drop=True))
            for c in out_cols:
                if c not in res.columns:
                    res[c] = np.nan
            # core = the core ts span, read on the RESULT frame so
            # row-dropping dataframe_funcs stay aligned
            return res.loc[res[ts_col].between(lo, hi), out_cols]

        return rows.groupBy(PID).applyInPandas(run_group, schema)

    def __repr__(self) -> str:
        return f"SeriesProcessor({self.name}, {self.series_names})"
