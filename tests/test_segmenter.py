"""Segmentation boundary oracle — the reference's off-by-one rules.

Modeled on the reference's exact-expectation strategy
(tests/test_strided_rolling.py:139-210): for a grid of
(window, stride(s), include_final_window, window_idx) combos, assert the
Spark engine produces exactly the segment starts / output indexes /
per-segment values the formula dictates.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import ref_segment_starts
from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper


def _seq_df(spark, n=20):
    pdf = pd.DataFrame({"ts": np.arange(n, dtype=np.int64), "val": np.arange(n, dtype=np.float64)})
    return spark.createDataFrame(pdf), pdf


@pytest.mark.parametrize("window,stride", [(5, 2), (5, 5), (3, 7), (20, 3), (25, 3)])
@pytest.mark.parametrize("include_final", [False, True])
def test_sequence_segment_counts(spark, window, stride, include_final):
    sdf, pdf = _seq_df(spark)
    fc = FeatureCollection(FeatureDescriptor("sum", "val", window, stride))
    out = fc.calculate(
        sdf, ts_col="ts", include_final_window=include_final, window_idx="begin"
    ).toPandas()
    starts = ref_segment_starts(0, 19, window, [stride], include_final)
    assert list(out["ts"]) == list(starts)
    col = f"val__sum__w={window}"
    for st, got in zip(starts, out[col]):
        exp = pdf[(pdf.ts >= st) & (pdf.ts < st + window)]["val"].sum()
        assert got == pytest.approx(exp)


def test_multi_stride_union(spark):
    sdf, _ = _seq_df(spark)
    fc = FeatureCollection(FeatureDescriptor("count", "val", 4, [2, 3]))
    out = fc.calculate(sdf, ts_col="ts", window_idx="begin").toPandas()
    starts = ref_segment_starts(0, 19, 4, [2, 3])
    assert list(out["ts"]) == list(starts)


@pytest.mark.parametrize("window_idx", ["begin", "middle", "end"])
def test_window_idx_positions(spark, window_idx):
    sdf, _ = _seq_df(spark)
    fc = FeatureCollection(FeatureDescriptor("mean", "val", 4, 4))
    out = fc.calculate(sdf, ts_col="ts", window_idx=window_idx).toPandas()
    starts = ref_segment_starts(0, 19, 4, [4])
    shift = {"begin": 0, "middle": 2, "end": 4}[window_idx]
    assert list(out["ts"]) == list(starts + shift)


def test_half_open_boundary(spark):
    # value at ts == seg_end must be excluded ([start, end) slicing)
    pdf = pd.DataFrame({"ts": [0, 1, 2, 3, 4, 5], "val": [1.0, 1, 1, 1, 1, 100]})
    sdf = spark.createDataFrame(pdf)
    fc = FeatureCollection(FeatureDescriptor("sum", "val", 5, 5))
    out = fc.calculate(sdf, ts_col="ts", window_idx="begin").toPandas()
    assert out[f"val__sum__w=5"].iloc[0] == 5.0  # excludes ts=5


def test_time_domain_grid(spark, dummy_sdf, dummy_pdf):
    fc = FeatureCollection(FeatureDescriptor(np.mean, "EDA", "30s", "10s"))
    out = fc.calculate(dummy_sdf, ts_col="ts").toPandas()
    t0, t1 = dummy_pdf.ts.min(), dummy_pdf.ts.max()
    starts = ref_segment_starts(
        int(t0.value // 1000), int(t1.value // 1000), 30_000_000, [10_000_000]
    )
    assert len(out) == len(starts)
    # spot-check a few values against pandas
    col = "EDA__mean__w=30s"
    for i in [0, 5, len(out) - 1]:
        end = out["ts"].iloc[i]
        start = end - pd.Timedelta(seconds=30)
        exp = dummy_pdf[(dummy_pdf.ts >= start) & (dummy_pdf.ts < end)]["EDA"].mean()
        assert out[col].iloc[i] == pytest.approx(exp)


def test_empty_segments_nan_and_zero(spark):
    # gap in the data → empty segments: mean→NaN, sum→0, count→0
    pdf = pd.DataFrame({"ts": [0, 1, 2, 30, 31], "val": [1.0, 2, 3, 4, 5]})
    sdf = spark.createDataFrame(pdf)
    fc = FeatureCollection(
        [
            FeatureDescriptor("mean", "val", 5, 5),
            FeatureDescriptor("sum", "val", 5, 5),
            FeatureDescriptor("count", "val", 5, 5),
        ]
    )
    out = fc.calculate(sdf, ts_col="ts", window_idx="begin").toPandas().set_index("ts")
    assert out.loc[10, "val__count__w=5"] == 0
    assert out.loc[10, "val__sum__w=5"] == 0.0
    assert np.isnan(out.loc[10, "val__mean__w=5"])
    assert out.loc[0, "val__mean__w=5"] == pytest.approx(2.0)


def test_manual_segments(spark):
    sdf, pdf = _seq_df(spark)
    fc = FeatureCollection(FeatureDescriptor("sum", "val", None, None))
    out = fc.calculate(
        sdf,
        ts_col="ts",
        segment_start_idxs=[0, 5, 10],
        segment_end_idxs=[4, 15, 12],
        window_idx="begin",
    ).toPandas()
    assert sorted(out["ts"]) == [0, 5, 10]
    got = out.set_index("ts")["val__sum__w=manual"]
    assert got.loc[0] == sum(range(0, 4))
    assert got.loc[5] == sum(range(5, 15))
    assert got.loc[10] == sum(range(10, 12))


def test_population_std_matches_numpy(spark, dummy_sdf, dummy_pdf):
    fc = FeatureCollection(FeatureDescriptor(np.std, "EDA", "60s", "60s"))
    out = fc.calculate(dummy_sdf, ts_col="ts").toPandas()
    col = "EDA__std__w=1m"
    end = out["ts"].iloc[0]
    window = dummy_pdf[
        (dummy_pdf.ts >= end - pd.Timedelta(seconds=60)) & (dummy_pdf.ts < end)
    ]["EDA"]
    assert out[col].iloc[0] == pytest.approx(np.std(window.to_numpy()))  # ddof=0


def test_udf_tier_arbitrary_callable(spark, dummy_sdf, dummy_pdf):
    def iqr(x: np.ndarray) -> float:
        return float(np.quantile(x, 0.75) - np.quantile(x, 0.25))

    fc = FeatureCollection(FeatureDescriptor(iqr, "EDA", "60s", "60s"))
    out = fc.calculate(dummy_sdf, ts_col="ts").toPandas()
    col = "EDA__iqr__w=1m"
    end = out["ts"].iloc[0]
    w = dummy_pdf[(dummy_pdf.ts >= end - pd.Timedelta(seconds=60)) & (dummy_pdf.ts < end)]["EDA"].to_numpy()
    assert out[col].iloc[0] == pytest.approx(iqr(w))


def test_naming_and_reduce(spark, dummy_sdf):
    fc = FeatureCollection(
        [
            FeatureDescriptor("mean", "EDA", "30s", "30s"),
            FeatureDescriptor("std", "EDA", "30s", "30s"),
            FeatureDescriptor("mean", "TMP", "30s", "30s"),
        ]
    )
    cols = set(fc.output_columns())
    assert cols == {"EDA__mean__w=30s", "EDA__std__w=30s", "TMP__mean__w=30s"}
    red = fc.reduce(["EDA__std__w=30s"])
    assert red.output_columns() == ["EDA__std__w=30s"]
    out = red.calculate(dummy_sdf, ts_col="ts").toPandas()
    assert list(out.columns) == ["ts", "EDA__std__w=30s"]


def test_timezone_invariant_instants(spark):
    """SURVEY hard part (reference strided_rolling.py:585-596): windows are
    computed on instants, so changing the session time zone must not move
    segment boundaries or change values — only the rendering."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    ts = pd.date_range("2024-03-30 22:00:00", periods=360, freq="1min")  # spans DST jump
    pdf = pd.DataFrame({"ts": ts, "v": range(360)})
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "1h", "1h")])

    outs = {}
    for tz in ("UTC", "Europe/Brussels"):
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            df = spark.createDataFrame(pdf)
            out = fc.calculate(df, ts_col="ts")
            outs[tz] = (
                out.select(F.unix_micros("ts").alias("us"), F.col("v__sum__w=1h"))
                .orderBy("us")
                .toPandas()
            )
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    # identical instants and identical values under both session zones
    assert outs["UTC"]["us"].tolist() == outs["Europe/Brussels"]["us"].tolist()
    assert outs["UTC"]["v__sum__w=1h"].tolist() == outs["Europe/Brussels"]["v__sum__w=1h"].tolist()


def test_segment_grid_property(spark):
    """Property test (SURVEY §5 — the reference pins its segmentation with
    a boundary-case table; hypothesis generalizes it): for random
    (span, window, strides, include_final) the engine's output segment
    starts AND per-segment sums must equal the reference rule + a numpy
    slice oracle."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tests.conftest import ref_segment_starts
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n=st.integers(6, 40),
        window=st.integers(1, 12),
        strides=st.lists(
            st.integers(1, 9), min_size=1, max_size=2, unique=True
        ),
        final=st.booleans(),
    )
    def prop(n, window, strides, final):
        vals = np.arange(n, dtype=float)
        df = spark.createDataFrame(
            pd.DataFrame({"ts": np.arange(n), "val": vals})
        )
        fc = FeatureCollection(
            FeatureDescriptor("sum", "val", window, [float(s) for s in strides])
        )
        out = (
            fc.calculate(
                df, ts_col="ts", window_idx="begin",
                include_final_window=final, approve_sparsity=True,
            )
            .toPandas()
            .sort_values("ts")
        )
        exp_starts = ref_segment_starts(0, n - 1, window, strides, final)
        assert list(out["ts"]) == list(exp_starts)
        col = f"val__sum__w={window}"
        for s0, got in zip(out["ts"], out[col]):
            exp = vals[(np.arange(n) >= s0) & (np.arange(n) < s0 + window)].sum()
            assert got == exp, (s0, got, exp)

    prop()


def test_timestamp_ntz_inputs_everywhere(spark):
    """Spark 4 reads tz-naive parquet timestamps as TIMESTAMP_NTZ by
    default — every timestamp→micros site must accept NTZ (the r3 driver
    regression: unix_micros rejects NTZ outright). Exercises the rolling,
    resample, and as-of (keyed + unkeyed + tolerance) paths on an
    explicitly NTZ column, and checks ts_micros is instant-preserving."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tsflex_spark import FeatureCollection, FeatureDescriptor
    from tsflex_spark.processing.resample import resample_interpolate
    from tsflex_spark.relational import asof_join
    from tsflex_spark.utils.time_args import ts_micros

    ts = pd.date_range("2024-01-01", periods=120, freq="1min")
    pdf = pd.DataFrame({"ts": ts, "v": [float(i) for i in range(120)], "k": 1})
    df = spark.createDataFrame(pdf).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"

    # instant preservation under the UTC session tz
    got = df.select(ts_micros("ts").alias("us")).orderBy("us").first()["us"]
    assert got == 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

    fc = FeatureCollection([FeatureDescriptor("sum", "v", "30m", "30m")])
    out = fc.calculate(df, ts_col="ts").toPandas()
    assert len(out) == 3 and out.filter(like="sum").iloc[:, 0].notna().all()

    rs = resample_interpolate(df, ts_col="ts", value_col="v", period="30s")
    assert rs.count() == 239  # 2x density minus the open end

    right = df.select("k", "ts", F.col("v").alias("rv"))
    keyed = asof_join(df, right, on="ts", by=["k"], value_cols=["rv"])
    assert keyed.where(F.col("rv").isNull()).count() == 0
    unkeyed = asof_join(
        df.drop("k"), right.drop("k"), on="ts", value_cols=["rv"], tolerance="90s"
    )
    assert unkeyed.where(F.col("rv").isNull()).count() == 0


# Reference boundary oracle, ported verbatim as expectations (reference
# tests/test_strided_rolling.py:139-210): 5-point sequence index [0..4],
# expected BEGIN indices per (window, stride, include_final_window).
_REF_BOUNDARY_TABLE = [
    (3, 1, False, [0, 1]),
    (3, 2, False, [0]),
    (3, 3, False, [0]),
    (3, 4, False, [0]),
    (3, 5, False, [0]),
    (3, 50, False, [0]),
    (4, 1, False, [0]),
    (5, 1, False, []),
    (5, 2, False, []),
    (6, 1, False, []),
    (6, 2, False, []),
    (3, 1, True, [0, 1, 2]),
    (3, 2, True, [0, 2]),
    (3, 4, True, [0, 4]),
    (3, 5, True, [0]),
    (3, 50, True, [0]),
    (4, 1, True, [0, 1]),
    (5, 1, True, [0]),
    (5, 2, True, [0]),
    (6, 1, True, [0]),
    (6, 2, True, [0]),
]


@pytest.mark.parametrize("window,stride,final,expected", _REF_BOUNDARY_TABLE)
def test_reference_boundary_table(spark, window, stride, final, expected):
    import pandas as pd

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    df = spark.createDataFrame(
        pd.DataFrame({"pos": [0, 1, 2, 3, 4], "v": [0.0, 1.0, 2.0, 3.0, 4.0]})
    )
    fc = FeatureCollection([FeatureDescriptor("count", "v", window, stride)])
    out = fc.calculate(
        df, ts_col="pos", window_idx="begin", include_final_window=final
    )
    got = sorted(r["pos"] for r in out.select("pos").collect())
    assert got == expected, (window, stride, final)


@pytest.mark.parametrize(
    "n_rows,idx_mode,expected_last",
    [
        # reference tests/test_strided_rolling.py:59-91 — window=1000,
        # stride=200 over sequence positions [0, n_rows)
        (2198, "end", 2000),
        (2199, "end", 2000),
        (2200, "end", 2000),
        (2201, "end", 2200),
        (2202, "end", 2200),
        (2198, "begin", 1000),
        (2199, "begin", 1000),
        (2200, "begin", 1000),
        (2201, "begin", 1200),
        (2202, "begin", 1200),
    ],
)
def test_last_full_window_rule(spark, n_rows, idx_mode, expected_last):
    import pandas as pd

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    df = spark.createDataFrame(
        pd.DataFrame({"pos": range(2202), "v": [float(i) for i in range(2202)]})
    ).where(F.col("pos") < n_rows)
    fc = FeatureCollection([FeatureDescriptor("min", "v", 1000, 200)])
    out = fc.calculate(df, ts_col="pos", window_idx=idx_mode)
    last = out.agg(F.max("pos")).first()[0]
    assert last == expected_last


def test_naming_constraint_errors(spark):
    """Reference error paths (feature_collection.py:55-67, :207-229 and
    tests :1704-1750): reserved characters in series names and duplicate
    output columns must be rejected at construction time."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    with pytest.raises(AssertionError):
        FeatureDescriptor("sum", "bad|name", "1h", "1h")
    with pytest.raises(AssertionError):
        FeatureDescriptor("sum", "bad__name", "1h", "1h")
    with pytest.raises(AssertionError):
        FeatureCollection(
            [
                FeatureDescriptor("sum", "v", "1h", "1h"),
                FeatureDescriptor("sum", "v", "1h", "1h"),  # duplicate output
            ]
        )


def test_missing_stride_requires_override(spark):
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    df = spark.createDataFrame(
        pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=4, freq="1h"), "v": 1.0})
    )
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "1h")])
    with pytest.raises(AssertionError):
        fc.calculate(df, ts_col="ts")  # no stride, no override, no segments
    # stride override at calculate() time succeeds
    out = fc.calculate(df, ts_col="ts", stride="1h")
    assert out.count() > 0


def test_time_arg_grammar_roundtrip():
    """Naming grammar is API: sub-day durations round-trip through
    parse_time_arg; day-spanning strings match the reference's exact
    ``$D_$h$m$s.$ms`` format (reduce() matches on string equality, so the
    formatter — not a re-parse — is the contract there)."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from tsflex_spark.utils.time_args import parse_time_arg, timedelta_to_str

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=86_399_999),  # < 1 day, ms units
    )
    def roundtrip_subday(n_ms):
        td = pd.Timedelta(n_ms, unit="ms")
        s = timedelta_to_str(td)
        assert parse_time_arg(s) == td, (n_ms, s)

    roundtrip_subday()

    # reference-format fixtures (tsflex/utils/argument_parsing.py:48-85)
    assert timedelta_to_str(pd.Timedelta("30s")) == "30s"
    assert timedelta_to_str(pd.Timedelta("1D 2h")) == "1D_2h"
    assert timedelta_to_str(pd.Timedelta("90min")) == "1h30m"
    assert timedelta_to_str(pd.Timedelta("1.5s")) == "1.5s"
    assert timedelta_to_str(-pd.Timedelta("30s")) == "NEG_30s"


def test_vectorized_flag_axis1_func(spark):
    """vectorized=True funcs (reference strided_rolling.py:379-453) reduce
    over axis=-1 of a (segments, window) batch — the engine must feed
    (1, n) per segment so axis-1 reductions work unchanged."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper

    def batch_mean(x):
        assert x.ndim == 2
        return np.mean(x, axis=1)

    df = spark.createDataFrame(
        pd.DataFrame({"pos": range(11), "v": [float(i) for i in range(11)]})
    )
    fc = FeatureCollection(
        [FeatureDescriptor(FuncWrapper(batch_mean, output_names="bm", vectorized=True), "v", 5, 5)]
    )
    out = fc.calculate(df, ts_col="pos", window_idx="begin").orderBy("pos").toPandas()
    assert out["v__bm__w=5"].tolist() == [2.0, 7.0]


def _one_level(descs, series, window, strides):
    """The reference side of the summary-vs-one-level parity tests:
    ``descs`` plus a UDF-tier numpy sum on the same (window, strides)
    config. A config holding a Python function never rides the bucket
    summary, so every native function next to it takes the one-level
    explode. The extra output is ``<series>__np_sum__w=<window>``."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper

    def np_sum(x):  # nested: shipped to Python workers by value
        return float(np.sum(x))

    router = FeatureDescriptor(
        FuncWrapper(np_sum, output_names="np_sum"), series, window, strides
    )
    return FeatureCollection([*descs, router])


def _assert_np_sum(np_sum, native_sum):
    """The one-level numpy sum equals the summary's native sum exactly; an
    empty window is NaN on the UDF tier and the native sum's 0 fill."""
    np_sum = np.asarray(np_sum, dtype=float)
    native_sum = np.asarray(native_sum, dtype=float)
    empty = np.isnan(np_sum)
    assert (np_sum[~empty] == native_sum[~empty]).all()
    assert (native_sum[empty] == 0.0).all()


def test_two_level_rewrite_equivalence(spark):
    """The bucket summary must produce exactly the one-level results
    (decimal/integer inputs → bit-exact) on both TIME and SEQUENCE
    domains, single and multi stride, with include_final; the one-level
    side's numpy sum matches the summary sum exactly."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    rng = np.random.default_rng(5)
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.choice(500_000, size=3000, replace=False)), unit="s"
    )
    pdf = pd.DataFrame({"ts": ts, "v": (rng.integers(0, 10000, size=3000) / 100.0)})
    df = spark.createDataFrame(pdf).withColumn("v", F.col("v").cast("decimal(18,2)"))

    descs = [
        FeatureDescriptor("sum", "v", "4h", ["10m", "15m"]),
        FeatureDescriptor("count", "v", "4h", ["10m", "15m"]),
        FeatureDescriptor("min", "v", "4h", ["10m", "15m"]),
        FeatureDescriptor("max", "v", "4h", ["10m", "15m"]),
        FeatureDescriptor("first", "v", "4h", ["10m", "15m"]),
        FeatureDescriptor("last", "v", "4h", ["10m", "15m"]),
    ]
    kw = dict(ts_col="ts", include_final_window=True)
    one = _one_level(descs, "v", "4h", ["10m", "15m"]).calculate(df, **kw).toPandas()
    two = FeatureCollection(descs).calculate(df, **kw).toPandas()
    one = one.sort_values("ts").reset_index(drop=True)
    two = two.sort_values("ts").reset_index(drop=True)
    _assert_np_sum(one.pop("v__np_sum__w=4h"), two["v__sum__w=4h"])
    assert list(one.columns) == list(two.columns)
    for c in one.columns:
        a, b = one[c], two[c]
        same = (a == b) | (a.isna() & b.isna())
        assert same.all(), (c, one[~same].head(), two[~same].head())


def test_summary_grain_guard(spark):
    """Bucket-table grouping rule (features/summary.py): configs share one
    table at the gcd of their windows/strides unless that grain breaks
    ``(w // g) <= 4 * fanout`` for a config — which then gets its own
    table at its own gcd, or keeps the one-level explode when even that
    is too fine. Each table matches the one-level results exactly."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor
    from tsflex_spark.features.summary import plan_tables

    # one shared 30 s table for the 1m/5m/15m x 30s+1m grid
    grid = [(m * 60, (30, 60)) for m in (1, 5, 15)]
    assert plan_tables(grid) == [(30, [0, 1, 2])]
    # 61 / 60 is too fine even alone (grain 1: 61 > 4 * 1.02) and 2.5 / 1.0
    # is not integral: neither buckets nor lowers the shared gcd. The
    # rest share gcd 15, where 3600 // 15 = 240 > 4 * 6: 3600 / 600 gets
    # its own table at 600, the others share one at gcd(90, 45, 180) = 45
    cfgs = [(90, (45,)), (180, (45,)), (3600, (600,)), (61, (60,)), (2.5, (1.0,))]
    assert plan_tables(cfgs) == [(45, [0, 1]), (600, [2])]
    rep = FeatureCollection(
        [FeatureDescriptor("sum", "v", w, list(ss)) for w, ss in cfgs]
    ).explain_features(is_time=False).set_index("output")
    assert rep["two_level"].tolist() == [True, True, True, False, False]

    pos = np.arange(0, 8000, 3)
    df = spark.createDataFrame(pd.DataFrame({"pos": pos, "v": (pos * 7) % 101}))
    descs = [
        FeatureDescriptor(f, "v", w, list(ss))
        for w, ss in cfgs[:4] for f in ("sum", "max", "count")
    ]
    routers = [
        _one_level([], "v", w, list(ss)).descriptors[0] for w, ss in cfgs[:4]
    ]
    kw = dict(ts_col="pos", approve_sparsity=True)
    two = FeatureCollection(descs).calculate(df, **kw).toPandas()
    one = FeatureCollection(descs + routers).calculate(df, **kw).toPandas()
    one = one.drop(columns=[c for c in one.columns if "np_sum" in c])
    assert list(one.columns) == list(two.columns) and len(one) == len(two)
    for c in one.columns:
        a, b = one[c], two[c]
        assert ((a == b) | (a.isna() & b.isna())).all(), c


def _np_moments(pdf, col, out_ts, w, ddof=0):
    """numpy two-pass std/var of ``col`` over each window ``[t - w, t)``."""
    t = pdf["ts"].to_numpy()
    std, var = [], []
    for end in out_ts:
        x = pdf[col][(t >= end - w) & (t < end)].dropna().astype(float).to_numpy()
        ok = len(x) > ddof
        std.append(np.std(x, ddof=ddof) if ok else np.nan)
        var.append(np.var(x, ddof=ddof) if ok else np.nan)
    return np.array(std), np.array(var)


def test_two_level_moments_and_two_series(spark):
    """std (moment) and corr/covar_pop (two-series) decompose through the
    bucket summary: corr/covar use the SAME exact-sum partials as the
    one-level builds (bit-exact on decimal inputs). The moments differ by
    design — Spark's Welford aggregates one-level, sums shifted by each
    key's first sample in the summary — and both stay within 1e-9 of
    numpy's two-pass std/var, also on a series at a 1e6 offset, on
    one-sample windows of decimal input (exactly 0 there) and on a series
    whose first sample is NaN (only the windows holding a NaN read NaN)."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    rng = np.random.default_rng(11)
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.choice(200_000, size=2000, replace=False)), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "v": (rng.integers(0, 10000, size=2000) / 100.0),
            "w": (rng.integers(0, 10000, size=2000) / 100.0),
        }
    )
    df = (
        spark.createDataFrame(pdf)
        .withColumn("v", F.col("v").cast("decimal(12,2)"))
        .withColumn("w", F.col("w").cast("decimal(12,2)"))
    )
    descs = [
        FeatureDescriptor("std", "v", "4h", "10m"),
        FeatureDescriptor("var", "v", "4h", "10m"),
        FeatureDescriptor("corr", ("v", "w"), "4h", "10m"),
        FeatureDescriptor("covar_pop", ("v", "w"), "4h", "10m"),
    ]
    one = _one_level(descs, "v", "4h", "10m").calculate(df, ts_col="ts").toPandas()
    two = FeatureCollection(descs).calculate(df, ts_col="ts").toPandas()
    one = one.sort_values("ts").reset_index(drop=True).drop(columns="v__np_sum__w=4h")
    two = two.sort_values("ts").reset_index(drop=True)
    assert list(one.columns) == list(two.columns)
    # two-series natives: identical exact-sum formula both paths -> bit-exact
    for c in ["v|w__corr__w=4h", "v|w__covar_pop__w=4h"]:
        a, b = one[c], two[c]
        same = (a == b) | (a.isna() & b.isna())
        assert same.all(), (c, one[~same].head(), two[~same].head())
    w4h = pd.Timedelta("4h")
    ref_std, ref_var = _np_moments(pdf, "v", two["ts"], w4h)
    for out in (one, two):
        assert np.allclose(out["v__std__w=4h"], ref_std, rtol=1e-9, atol=1e-9, equal_nan=True)
        assert np.allclose(out["v__var__w=4h"], ref_var, rtol=1e-9, atol=1e-9, equal_nan=True)

    # a 1 Hz N(1e6, 1) series for two hours, then one sample every 15 min
    # (one-sample 10 min windows); ``d`` is decimal(12,2) input; ``n`` is
    # another offset series whose first sample and the one an hour in are
    # NaN (a real NaN, set in Spark: not a NULL)
    dense = pd.date_range("2024-01-01", periods=7200, freq="1s")
    sparse = dense[-1] + pd.to_timedelta(np.arange(1, 9) * 15, unit="min")
    ots = dense.append(sparse)
    opdf = pd.DataFrame(
        {
            "ts": ots,
            "o": rng.normal(1e6, 1.0, size=len(ots)),
            "d": np.round(rng.normal(50.0, 30.0, size=len(ots)), 2),
            "n": rng.normal(1e6, 1.0, size=len(ots)),
            "i": np.arange(len(ots)),
        }
    )
    nan_at = [0, 3600]
    odf = (
        spark.createDataFrame(opdf)
        .withColumn("d", F.col("d").cast("decimal(12,2)"))
        .withColumn("n", F.when(F.col("i").isin(nan_at), F.lit(float("nan"))).otherwise(F.col("n")))
    )
    odescs = [
        FeatureDescriptor(FuncWrapper(f, output_names=f"{f}{ddof}", ddof=ddof), s, "10m", "5m")
        for f in ("std", "var") for s in ("o", "d", "n") for ddof in (0, 1)
    ]
    kw = dict(ts_col="ts", approve_sparsity=True)
    one = _one_level(odescs, "o", "10m", "5m").calculate(odf, **kw).toPandas()
    two = FeatureCollection(odescs).calculate(odf, **kw).toPandas()
    assert list(one["ts"]) == list(two["ts"])
    for s in ("o", "d"):
        for ddof in (0, 1):
            ref_std, ref_var = _np_moments(opdf, s, two["ts"], pd.Timedelta("10m"), ddof)
            for out in (one, two):
                for c, ref in ((f"{s}__std{ddof}__w=10m", ref_std), (f"{s}__var{ddof}__w=10m", ref_var)):
                    got = out[c].to_numpy(dtype=float)
                    assert np.allclose(got, ref, rtol=1e-9, atol=1e-9, equal_nan=True), (c, got, ref)
    # one-sample windows of decimal input: exactly 0 on both paths
    ref_std, _ = _np_moments(opdf, "d", two["ts"], pd.Timedelta("10m"))
    lone = (two["ts"] > dense[-1] + pd.Timedelta("10m")) & (ref_std == 0.0)
    assert lone.sum() > 0
    for out in (one, two):
        assert (out.loc[lone, "d__std0__w=10m"] == 0.0).all()
    # NaN samples: NaN exactly in the windows that hold one, numpy's value
    # everywhere else (the shift is the first finite sample)
    t = opdf["ts"].to_numpy()
    holds = np.array([
        any(end - pd.Timedelta("10m") <= t[j] < end for j in nan_at) for end in two["ts"]
    ])
    assert holds.sum() > 0 and (~holds).sum() > 0
    for ddof in (0, 1):
        ref_std, ref_var = _np_moments(opdf, "n", two["ts"], pd.Timedelta("10m"), ddof)
        for out in (one, two):
            for c, ref in ((f"n__std{ddof}__w=10m", ref_std), (f"n__var{ddof}__w=10m", ref_var)):
                got = out[c].to_numpy(dtype=float)
                assert np.isnan(got[holds]).all(), c
                assert np.allclose(got[~holds], ref[~holds], rtol=1e-9, atol=1e-9, equal_nan=True), c


def test_integral_means_and_moments_do_not_overflow(spark):
    """Means, rms and the moments of integral input stay overflow-free on
    both paths: the sums under them are exact decimals, so a bigint
    window whose sum passes 2⁶³ (epoch nanoseconds) and an int series
    whose squares pass 2³¹ read numpy's values instead of raising."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    n = 120
    ts = pd.date_range("2024-01-01", periods=n, freq="1s")
    rng = np.random.default_rng(5)
    big = [1_700_000_000_000_000_000 + j * 10**12 + int(x) for j, x in enumerate(rng.integers(0, 10**9, n))]
    small = [60000 * (j % 2) for j in range(n)]
    pdf = pd.DataFrame({"ts": ts, "b": np.array(big, dtype=np.int64), "s": np.array(small, dtype=np.int32)})
    df = (
        spark.createDataFrame(pdf)
        .withColumn("b", F.col("b").cast("bigint"))
        .withColumn("s", F.col("s").cast("int"))
    )
    funcs = ("mean", "nanmean", "mean_abs", "rms", "std", "var", "variation_coefficient")
    descs = [FeatureDescriptor(f, c, "10s", "5s") for f in funcs for c in ("b", "s")]
    kw = dict(ts_col="ts", approve_sparsity=True)
    one = _one_level(descs, "b", "10s", "5s").calculate(df, **kw).toPandas()
    two = FeatureCollection(descs).calculate(df, **kw).toPandas()
    assert FeatureCollection(descs).explain_features(is_time=True)["two_level"].all()
    assert list(one["ts"]) == list(two["ts"]) and len(two) > 0
    for c, vals in (("b", big), ("s", small)):
        ref = {f: [] for f in funcs}
        for end in two["ts"]:
            x = [v for t, v in zip(ts, vals) if end - pd.Timedelta("10s") <= t < end]
            mean = sum(x) / len(x)  # exact integer sum, one rounding
            d = np.array([v - x[0] for v in x], dtype=float)  # exact offsets
            ref["mean"].append(mean)
            ref["nanmean"].append(mean)
            ref["mean_abs"].append(sum(abs(v) for v in x) / len(x))
            ref["rms"].append(float(np.sqrt(sum(v * v for v in x) / len(x))))
            ref["std"].append(np.std(d))
            ref["var"].append(np.var(d))
            ref["variation_coefficient"].append(np.std(d) / mean if mean else np.nan)
        for out in (one, two):
            for f in funcs:
                got = out[f"{c}__{f}__w=10s"].to_numpy(dtype=float)
                assert np.allclose(got, ref[f], rtol=1e-8, atol=0, equal_nan=True), (c, f, got, ref[f])


def test_two_level_rewrite_triggers(spark):
    """fanout >= threshold with decomposable aggs must take the bucketed
    plan: the data-side explode disappears (explode only runs on the
    bucket table whose rows are already aggregated)."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    pdf = pd.DataFrame(
        {"ts": pd.date_range("2024-01-01", periods=2000, freq="1min"), "v": 1.0}
    )
    df = spark.createDataFrame(pdf)
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "4h", "10m")])  # fanout 24
    out = fc.calculate(df, ts_col="ts")
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    plan = buf.getvalue()
    # bucket partial aggregation keys on floor(...) bucket expr
    assert "__bkt" in plan or "FLOOR" in plan.upper()
    # correctness spot check: every full 4h window sums 240 minutes
    vals = out.toPandas()["v__sum__w=4h"]
    assert (vals.iloc[2:-2] == 240.0).all()


def test_aligned_time_segment_covers_one_bucket(spark):
    """A TIME segment whose end sits on a bucket edge covers its own bucket
    only: ``[00:00, 06:00)`` at a 6 h grain is one bucket, not two (a
    sub-microsecond epsilon below the end rounds away at epoch-micros
    magnitudes). Fractional ends stop at the bucket of the double just
    below them."""
    from tsflex_spark.features.segmenter import SEG, SEG_END, cover_buckets, manual_segment_spine

    g = 6 * 3600 * 10**6
    starts = (pd.to_datetime(["2024-01-01", "2024-01-02"]).astype("int64") // 1000).to_numpy()
    spine = manual_segment_spine(spark, starts, starts + g)
    got = spine.select(F.size(cover_buckets(spine, SEG, SEG_END, float(g)))).collect()
    assert [r[0] for r in got] == [1, 1]
    # fractional ends: an end on an edge adds no bucket either, an end one
    # ulp past it does (a position can sit on the edge), and an empty
    # segment covers its start's bucket
    past = np.nextafter(6.0, 7.0)
    frac = manual_segment_spine(
        spark, np.array([0.0, 1.0, 3.0, 4.5, 2.0]), np.array([4.0, 2.5, 3.0, past, 12.0])
    )
    got = frac.orderBy(SEG).select(cover_buckets(frac, SEG, SEG_END, 2.0)).collect()
    assert [r[0] for r in got] == [[0, 1], [0, 1], [1, 2, 3, 4, 5], [1], [2, 3]]
    got = frac.orderBy(SEG).select(cover_buckets(frac, SEG, SEG_END, 3.0)).collect()
    assert [r[0] for r in got][4] == [1, 2]


def test_manual_segments_one_array_paths(spark):
    """Only segment_start_idxs ⇒ end = start + window; only
    segment_end_idxs ⇒ start = end − window; window label stays the
    window string (reference strided_rolling.py:198-214 — 'manual' is
    only for BOTH arrays)."""
    df = spark.createDataFrame(
        pd.DataFrame({"ts": range(20), "v": [float(x) for x in range(20)]})
    )
    fc = FeatureCollection([FeatureDescriptor("sum", "v", 5)])
    a = (
        fc.calculate(df, ts_col="ts", segment_start_idxs=[0, 10], window_idx="begin")
        .toPandas()
        .set_index("ts")["v__sum__w=5"]
    )
    assert a.loc[0] == 10.0 and a.loc[10] == 60.0  # [0,5), [10,15)
    b = (
        fc.calculate(df, ts_col="ts", segment_end_idxs=[5, 15], window_idx="end")
        .toPandas()
        .set_index("ts")["v__sum__w=5"]
    )
    assert b.loc[5] == 10.0 and b.loc[15] == 60.0  # [0,5), [10,15)


def test_group_by_all_composite_key(spark):
    """group_by_all accepts a composite key list (Spark-side extension of
    the reference's single-column groupby)."""
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=12, freq="1h"),
            "a": ["x", "y"] * 6,
            "b": ["p", "p", "q", "q"] * 3,
            "v": [float(i) for i in range(12)],
        }
    )
    df = spark.createDataFrame(pdf)
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "1h", "1h")])
    out = fc.calculate(df, ts_col="ts", group_by_all=["a", "b"]).toPandas()
    exp = pdf.groupby(["a", "b"])["v"].sum()
    got = out.set_index(["a", "b"])["v__sum__w=manual"]
    for k in exp.index:
        assert got.loc[k] == exp.loc[k]


def test_pre_grouped_input(spark):
    """Passing df.groupBy(...) as data ≙ the reference accepting a pandas
    DataFrameGroupBy (feature_collection.py:1095-1170): same result as
    group_by_all on the grouping columns."""
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=12, freq="1h"),
            "a": ["x", "y"] * 6,
            "v": [float(i) for i in range(12)],
        }
    )
    df = spark.createDataFrame(pdf)
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "1h", "1h")])
    out = fc.calculate(df.groupBy("a"), ts_col="ts").toPandas()
    exp = pdf.groupby("a")["v"].sum()
    got = out.set_index("a")["v__sum__w=manual"]
    for k in exp.index:
        assert got.loc[k] == exp.loc[k]

    # grouped input + an explicit group_by mode is contradictory
    with pytest.raises(AssertionError, match="already grouped"):
        fc.calculate(df.groupBy("a"), ts_col="ts", group_by_all="a")

    # composite grouping key parses too
    df2 = df.withColumn("b", F.col("v") % 2)
    out2 = fc.calculate(df2.groupBy("a", "b"), ts_col="ts").toPandas()
    exp2 = (
        pdf.assign(b=pdf["v"] % 2).groupby(["a", "b"])["v"].sum()
    )
    got2 = out2.set_index(["a", "b"])["v__sum__w=manual"]
    for k in exp2.index:
        assert got2.loc[k] == exp2.loc[k]

    # the DOCUMENTED stable form — (df, keys) — no GroupedData internals
    out3 = fc.calculate((df2, ["a", "b"]), ts_col="ts").toPandas()
    got3 = out3.set_index(["a", "b"])["v__sum__w=manual"]
    for k in exp2.index:
        assert got3.loc[k] == exp2.loc[k]
    out4 = fc.calculate((df, "a"), ts_col="ts").toPandas()
    got4 = out4.set_index("a")["v__sum__w=manual"]
    for k in exp.index:
        assert got4.loc[k] == exp.loc[k]


def test_manual_segments_out_of_range_warns(spark):
    """Reference strided_rolling.py:548-551,604-614: explicit segment
    indexes outside the data's index range warn (and in-range ones
    don't)."""
    import warnings as _w

    sdf, _pdf = _seq_df(spark)  # index 0..19
    fc = FeatureCollection(FeatureDescriptor("sum", "val", None, None))
    with pytest.warns(RuntimeWarning, match="outside the range"):
        fc.calculate(
            sdf, ts_col="ts",
            segment_start_idxs=[0, 30], segment_end_idxs=[4, 35],
            window_idx="begin",
        )
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        fc.calculate(
            sdf, ts_col="ts",
            segment_start_idxs=[0, 5], segment_end_idxs=[4, 15],
            window_idx="begin",
        )


def test_dotted_output_names_survive_assembly(spark):
    """User output names may contain dots (e.g. q_0.25) — every assembly
    select must backtick-quote feature columns (plain strings parse as
    struct access)."""
    from tsflex_spark import FuncWrapper

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=8, freq="1h"),
            "g": ["a"] * 4 + ["b"] * 4,
            "v": [float(i) for i in range(8)],
        }
    )
    df = spark.createDataFrame(pdf)
    fw = FuncWrapper(lambda x: float(np.quantile(x, 0.25)), output_names="q_0.25")
    fc = FeatureCollection([FeatureDescriptor(fw, "v", "2h", "2h")])
    out = fc.calculate(df, ts_col="ts").toPandas()
    assert "v__q_0.25__w=2h" in out.columns
    out2 = fc.calculate(df, ts_col="ts", group_by_all="g").toPandas()
    assert "v__q_0.25__w=manual" in out2.columns
    out3 = fc.calculate(df, ts_col="ts", group_by_consecutive="g").toPandas()
    assert "v__q_0.25__w=manual" in out3.columns


def test_two_level_rewrite_equivalence_keyed(spark):
    """The bucket summary must also be exact with key_cols — per-key
    bounds anchor each key's bucket lattice independently."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    rng = np.random.default_rng(9)
    rows = 2000
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.choice(300_000, size=rows, replace=False)), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "k": rng.integers(0, 7, size=rows),
            "v": (rng.integers(0, 10000, size=rows) / 100.0),
        }
    )
    df = spark.createDataFrame(pdf).withColumn("v", F.col("v").cast("decimal(18,2)"))
    descs = [
        FeatureDescriptor("sum", "v", "4h", "15m"),
        FeatureDescriptor("count", "v", "4h", "15m"),
        FeatureDescriptor("max", "v", "4h", "15m"),
    ]
    kw = dict(ts_col="ts", key_cols=["k"])
    one = _one_level(descs, "v", "4h", "15m").calculate(df, **kw).toPandas()
    two = FeatureCollection(descs).calculate(df, **kw).toPandas()
    one = one.sort_values(["k", "ts"]).reset_index(drop=True)
    two = two.sort_values(["k", "ts"]).reset_index(drop=True)
    assert len(one) == len(two)
    _assert_np_sum(one.pop("v__np_sum__w=4h"), two["v__sum__w=4h"])
    assert list(one.columns) == list(two.columns)
    for c in one.columns:
        same = (one[c] == two[c]) | (one[c].isna() & two[c].isna())
        assert same.all(), c


_MOMENTS = {"std", "var", "nanstd", "nanvar", "variation_coefficient"}
_PARITY_KWARGS = {
    "count_above": {"t": 50.0}, "count_below": {"t": 50.0}, "frac_above": {"t": 50.0},
    "range_count": {"lo": 20.0, "hi": 60.0}, "crossings": {"t": 50.0},
}


def _parity_descriptors():
    """One descriptor per decomposable catalog function (both arities),
    plus ddof=1 for the moments and threshold kwargs: every name for
    which ``decomposition``/``decomposition2`` returns a definition."""
    from tsflex_spark.features.catalog import (
        decomposition, decomposition2, lookup_native2, native_names,
    )

    descs, moments = [], []
    for name in native_names():
        pair = lookup_native2(name, {}) is not None
        if (decomposition2 if pair else decomposition)(name) is None:
            continue
        series = ("a", "b") if pair else "a"
        variants = [(name, _PARITY_KWARGS.get(name, {}))]
        if name in _MOMENTS:
            variants.append((f"{name}_ddof1", {"ddof": 1}))
        for out, kw in variants:
            descs.append(FeatureDescriptor(FuncWrapper(name, output_names=out, **kw), series, "4h", "1h"))
            if name in _MOMENTS:
                moments.append(f"a__{out}__w=4h")
    return descs, moments


@pytest.mark.parametrize("dtype", ["decimal(12,2)", "double"])
def test_catalog_parity_summary_vs_one_level(spark, dtype):
    """Every decomposable catalog function gives the same dtype on the
    bucket summary and on the one-level path, and the same values:
    bit-identical on decimal input (moments within 1e-9 — Welford vs
    shifted sums), within 1e-12 on double input. Keyed data with NULLs
    in both series and a 12 h gap (empty windows)."""
    rng = np.random.default_rng(13)
    rows = 3000
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.choice(400_000, size=rows, replace=False)), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "k": rng.integers(0, 3, size=rows),
            "a": rng.integers(-2000, 10000, size=rows) / 100.0,
            "b": rng.integers(1, 10000, size=rows) / 100.0,
        }
    )
    gap = (pdf["ts"] > ts[0] + pd.Timedelta("30h")) & (pdf["ts"] < ts[0] + pd.Timedelta("42h"))
    pdf = pdf[~(gap & (pdf["k"] == 1))]
    pdf.loc[rng.random(len(pdf)) < 0.1, "a"] = np.nan
    pdf.loc[rng.random(len(pdf)) < 0.1, "b"] = np.nan
    df = (
        spark.createDataFrame(pdf)
        .withColumn("a", F.expr(f"CAST(nanvl(a, NULL) AS {dtype})"))
        .withColumn("b", F.expr(f"CAST(nanvl(b, NULL) AS {dtype})"))
    )
    descs, moments = _parity_descriptors()
    kw = dict(ts_col="ts", key_cols=["k"], approve_sparsity=True)
    one_df = _one_level(descs, "a", "4h", "1h").calculate(df, **kw).drop("a__np_sum__w=4h")
    two_df = FeatureCollection(descs).calculate(df, **kw)
    assert FeatureCollection(descs).explain_features(is_time=True)["two_level"].all()
    assert one_df.dtypes == two_df.dtypes
    one = one_df.toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    two = two_df.toPandas().sort_values(["k", "ts"]).reset_index(drop=True)
    assert len(one) == len(two) and len(one.columns) > len(descs)
    exact = dtype.startswith("decimal")
    for c in one.columns:
        a, b = one[c], two[c]
        if exact and c not in moments or not pd.api.types.is_float_dtype(a):
            same = (a == b) | (a.isna() & b.isna())
            assert same.all(), (c, one.loc[~same, c].head(), two.loc[~same, c].head())
        else:
            tol = 1e-9 if exact else 1e-12
            assert np.allclose(a.astype(float), b.astype(float), rtol=tol, atol=tol, equal_nan=True), c


def test_native_two_series_corr(spark):
    """Tuple series_name with a recognized name ("corr"/"covar_pop")
    compiles to a native Catalyst aggregate — no Python in the plan — with
    pairwise SQL semantics."""
    import numpy as np
    import pandas as pd

    ts = pd.date_range("2024-01-01", periods=13, freq="1s")
    a = np.arange(13.0)
    b = np.array([2 * x + (1.0 if i % 2 else -1.0) for i, x in enumerate(a)])
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "a": a, "b": b}))
    fc = FeatureCollection(
        [
            FeatureDescriptor("corr", ("a", "b"), "6s", "6s"),
            FeatureDescriptor("covar_pop", ("a", "b"), "6s", "6s"),
        ]
    )
    out = fc.calculate(df, ts_col="ts")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    pdf = out.toPandas().sort_values("ts").reset_index(drop=True)
    assert list(pdf.columns) == ["ts", "a|b__corr__w=6s", "a|b__covar_pop__w=6s"]
    # windows [0,6) and [6,12): numpy pairwise reference (ddof=0)
    for i, sl in enumerate([slice(0, 6), slice(6, 12)]):
        exp_corr = np.corrcoef(a[sl], b[sl])[0, 1]
        exp_cov = np.cov(a[sl], b[sl], ddof=0)[0, 1]
        assert abs(pdf["a|b__corr__w=6s"].iloc[i] - exp_corr) < 1e-12
        assert abs(pdf["a|b__covar_pop__w=6s"].iloc[i] - exp_cov) < 1e-12


def test_include_empty_windows_false_drops_spine(spark):
    """include_empty_windows=False (sparse-data scale path) must return
    exactly the non-empty segments of the default result, same values,
    for both the one-level and the two-level (fine-stride) plans."""
    import numpy as np
    import pandas as pd

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    # sparse series: 3 bursts over a long span -> mostly-empty grid
    ts = (
        list(pd.date_range("2024-01-01 00:00", periods=30, freq="1s"))
        + list(pd.date_range("2024-01-01 04:00", periods=30, freq="1s"))
        + list(pd.date_range("2024-01-01 09:00", periods=30, freq="1s"))
    )
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(90.0)})
    sdf = spark.createDataFrame(pdf)
    for window, stride in (("60s", "30s"), ("64s", "1s")):  # 1-level, 2-level
        fc = FeatureCollection(
            [FeatureDescriptor("sum", "v", window, stride),
             FeatureDescriptor("count", "v", window, stride)]
        )
        full = fc.calculate(sdf, ts_col="ts", approve_sparsity=True).toPandas()
        lean = fc.calculate(
            sdf, ts_col="ts", approve_sparsity=True, include_empty_windows=False
        ).toPandas()
        cnt_col = f"v__count__w={window.replace('60s', '1m').replace('64s', '1m4s')}"
        nonempty = full[full[cnt_col] > 0].reset_index(drop=True)
        assert len(lean) == len(nonempty) and len(lean) < len(full)
        pd.testing.assert_frame_equal(
            lean.sort_values("ts").reset_index(drop=True), nonempty, check_like=True
        )


def test_include_empty_windows_false_count_based(spark):
    import numpy as np
    import pandas as pd

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    ts = pd.date_range("2024-01-01", periods=50, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(50.0)})
    sdf = spark.createDataFrame(pdf)
    fc = FeatureCollection([FeatureDescriptor("sum", "v", 10, 10)])
    full = fc.calculate(sdf, ts_col="ts", approve_sparsity=True).toPandas()
    lean = fc.calculate(
        sdf, ts_col="ts", approve_sparsity=True, include_empty_windows=False
    ).toPandas()
    # dense data: identical results either way
    pd.testing.assert_frame_equal(
        lean.sort_values("ts").reset_index(drop=True),
        full.sort_values("ts").reset_index(drop=True),
        check_like=True,
    )

    # keyed, NULL gaps (bounds start/end on non-NULL samples), two
    # strides, final windows, a UDF: positions are dense per key, so every
    # segment of the reference's grid is non-empty and the default result
    # is the include_empty_windows=False one
    from tests.conftest import ref_segment_starts
    from tsflex_spark import FuncWrapper

    vals = {
        "a": [None, None] + [float(i) for i in range(30)] + [None] * 3,
        "b": [float(i) for i in range(10)] + [None] * 4 + [float(i) for i in range(9)],
    }
    rows = [
        (k, ts[i].to_pydatetime(), v) for k, vs in vals.items() for i, v in enumerate(vs)
    ]
    sdf = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "v", 6, [4, 5]),
            FeatureDescriptor(FuncWrapper(np.ptp, output_names="ptp"), "v", 6, [4, 5]),
        ]
    )
    for window_idx in ("begin", "middle", "end"):
        kw = dict(
            ts_col="ts", key_cols=["k"], approve_sparsity=True,
            include_final_window=True, window_idx=window_idx,
        )
        full = fc.calculate(sdf, **kw).toPandas()
        lean = fc.calculate(sdf, include_empty_windows=False, **kw).toPandas()
        pd.testing.assert_frame_equal(
            lean.sort_values(["k", "ts"]).reset_index(drop=True),
            full.sort_values(["k", "ts"]).reset_index(drop=True),
            check_like=True,
        )
        for k, vs in vals.items():
            v = pd.Series(vs, dtype=float)
            present = np.flatnonzero(v.notna().to_numpy())
            starts = ref_segment_starts(present[0], present[-1], 6, [4, 5], True)
            got = full[full["k"] == k]
            assert len(got) == len(starts)
            assert sorted(got["v__sum__w=6"]) == sorted(v.iloc[st:st + 6].sum() for st in starts)
            assert got["v__ptp__w=6"].notna().all()


def test_group_by_consecutive_null_keys_reference_parity(spark):
    """NULL group keys: the reference DROPS NaN rows first (inplace, so
    the feature computation also never sees them), so equal keys
    separated only by NaNs merge into one consecutive group (tsflex
    feature_collection.py:604-634); the REPORTED __end is the run's
    last member index (:713-714 — the +1day bump at :684-688 only feeds
    internal slicing). Verified against the actual reference run in
    tests/test_reference_parity.py."""
    ev = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=10, freq="1s"),
            "g": ["x", "x", None, None, "y", "y", "x", None, "x", "x"],
            "v": [1.0] * 10,
        }
    )
    fc = FeatureCollection(FeatureDescriptor("sum", "v", "1s", "1s"))
    out = (
        fc.calculate(
            spark.createDataFrame(ev),
            ts_col="ts",
            group_by_consecutive="g",
            approve_sparsity=True,
        )
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert list(out["g"]) == ["x", "y", "x"]
    assert list(out["v__sum__w=manual"]) == [2.0, 2.0, 3.0]  # x merges 6,8,9
    assert str(out.loc[0, "__end"]) == "2024-01-01 00:00:01"  # last member
    assert str(out.loc[1, "__end"]) == "2024-01-01 00:00:05"
    assert str(out.loc[2, "__end"]) == "2024-01-01 00:00:09"


def test_group_by_consecutive_null_key_native_and_udf(spark):
    """A NULL ``key_cols`` value is one key like any other: its runs come
    out once each, with the native and the UDF feature on the same row
    (the merge of the two tiers must match NULL keys, which an equi-join
    never does)."""
    from tsflex_spark import FuncWrapper

    ts = pd.date_range("2024-01-01", periods=5, freq="1s")
    rows = [
        (u, t.to_pydatetime(), g, float(i))
        for u in ("a", None)
        for i, (t, g) in enumerate(zip(ts, ["x", "x", "y", "y", "x"]))
    ]
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "v", "1s", "1s"),
            FeatureDescriptor(FuncWrapper(np.ptp, output_names="ptp"), "v", "1s", "1s"),
        ]
    )
    out = fc.calculate(
        spark.createDataFrame(rows, "user string, ts timestamp, g string, v double"),
        ts_col="ts", key_cols=["user"], group_by_consecutive="g", approve_sparsity=True,
    ).toPandas()
    for user in ("a", None):
        got = out[out["user"].isna()] if user is None else out[out["user"] == user]
        got = got.sort_values("ts").reset_index(drop=True)
        assert list(got["g"]) == ["x", "y", "x"]
        assert list(got["ts"]) == [ts[0], ts[2], ts[4]]
        assert list(got["v__sum__w=manual"]) == [1.0, 5.0, 4.0]
        assert list(got["v__ptp__w=manual"]) == [1.0, 1.0, 0.0]


def test_threshold_count_natives(spark):
    """count_above / count_below / range_count / frac_above natives."""
    from tsflex_spark import FuncWrapper
    # 9 points so end=8 gives exactly two full windows [0,4) and [4,8)
    rows = [(float(i), float(v)) for i, v in enumerate([1, 5, 3, 8, 2, 9, 4, 7, 0])]
    df = spark.createDataFrame(rows, "ts double, val double")
    fc = FeatureCollection(
        [
            FeatureDescriptor(
                FuncWrapper("count_above", output_names="na", t=4.0), "val", 4, 4
            ),
            FeatureDescriptor(
                FuncWrapper("count_below", output_names="nb", t=4.0), "val", 4, 4
            ),
            FeatureDescriptor(
                FuncWrapper("range_count", output_names="nr", lo=2.0, hi=8.0), "val", 4, 4
            ),
            FeatureDescriptor(
                FuncWrapper("frac_above", output_names="fa", t=4.0), "val", 4, 4
            ),
        ]
    )
    out = fc.calculate(df, ts_col="ts").orderBy("ts").collect()
    # windows [0,4): 1,5,3,8  and [4,8): 2,9,4,7
    assert [r["val__na__w=4"] for r in out] == [2, 2]   # >4: {5,8} / {9,7}
    assert [r["val__nb__w=4"] for r in out] == [2, 1]   # <4: {1,3} / {2}
    assert [r["val__nr__w=4"] for r in out] == [2, 3]   # [2,8): {5,3} / {2,4,7}
    assert [r["val__fa__w=4"] for r in out] == [0.5, 0.5]


def test_mode_native_categorical(spark):
    from tsflex_spark import FuncWrapper

    rows = [
        (0.0, "a"), (1.0, "b"), (2.0, "a"), (3.0, "a"),
        (4.0, "c"), (5.0, "c"), (6.0, "c"), (7.0, "b"), (8.0, "x"),
    ]
    df = spark.createDataFrame(rows, "ts double, cat string")
    fc = FeatureCollection(
        FeatureDescriptor(FuncWrapper("mode", output_names="m"), "cat", 4, 4)
    )
    out = fc.calculate(df, ts_col="ts").orderBy("ts").collect()
    # [0,4): a,b,a,a -> 'a'; [4,8): c,c,c,b -> 'c'; dtype retained (string)
    assert [r["cat__m__w=4"] for r in out] == ["a", "c"]


def test_two_level_threshold_counts(spark):
    """count_above/count_below/range_count/frac_above decompose through
    the bucket summary bit-exactly (pure counts); two different
    thresholds on one config get distinct partials."""
    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper

    rng = np.random.default_rng(7)
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.choice(300_000, size=2500, replace=False)), unit="s"
    )
    pdf = pd.DataFrame({"ts": ts, "v": rng.integers(0, 100, size=2500).astype(float)})
    df = spark.createDataFrame(pdf)
    descs = [
        FeatureDescriptor(FuncWrapper("count_above", output_names="a50", t=50.0), "v", "4h", "10m"),
        FeatureDescriptor(FuncWrapper("count_above", output_names="a80", t=80.0), "v", "4h", "10m"),
        FeatureDescriptor(FuncWrapper("count_below", output_names="b20", t=20.0), "v", "4h", "10m"),
        FeatureDescriptor(FuncWrapper("range_count", output_names="r", lo=30.0, hi=60.0), "v", "4h", "10m"),
        FeatureDescriptor(FuncWrapper("frac_above", output_names="f", t=50.0), "v", "4h", "10m"),
    ]
    one = _one_level(descs, "v", "4h", "10m").calculate(df, ts_col="ts").toPandas()
    two = FeatureCollection(descs).calculate(df, ts_col="ts").toPandas()
    one = one.sort_values("ts").reset_index(drop=True).drop(columns="v__np_sum__w=4h")
    two = two.sort_values("ts").reset_index(drop=True)
    assert list(one.columns) == list(two.columns)
    for c in one.columns:
        if c == "ts":
            assert one[c].equals(two[c])
        else:
            a, b = one[c].to_numpy(dtype=float), two[c].to_numpy(dtype=float)
            assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c


def test_native_two_series_diff_features(spark):
    """mean_abs_diff / rmse natives + the shift recipe: with
    b = lag(a) they realize tsfresh's mean_abs_change and lag-1
    autocorrelation (corr) — all native Catalyst aggregates.

    v_lag is NULL on the first row, so the inner bound starts at the
    second timestamp: 26 samples give two full windows [1s,13s), [13s,25s)."""
    import numpy as np
    import pandas as pd

    from tsflex_spark import FeatureCollection, FeatureDescriptor
    from tsflex_spark.utils.distributed import with_global_shift

    rng = np.random.default_rng(9)
    ts = pd.date_range("2024-01-01", periods=26, freq="1s")
    v = rng.normal(10, 2, 26).round(2)
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": v}))
    df = with_global_shift(df, "v", "ts", "v_lag", offset=-1)

    fc = FeatureCollection(
        [
            FeatureDescriptor("mean_abs_diff", ("v", "v_lag"), "12s", "12s"),
            FeatureDescriptor("rmse", ("v", "v_lag"), "12s", "12s"),
            FeatureDescriptor("corr", ("v", "v_lag"), "12s", "12s"),
        ]
    )
    out = fc.calculate(df, ts_col="ts", approve_sparsity=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    pdf = out.toPandas().sort_values("ts").reset_index(drop=True)
    assert len(pdf) == 2
    for i, sl in enumerate([slice(1, 13), slice(13, 25)]):
        pa = v[sl]
        pb = v[sl.start - 1 : sl.stop - 1]  # lag-1
        assert abs(
            pdf["v|v_lag__mean_abs_diff__w=12s"].iloc[i] - np.abs(pa - pb).mean()
        ) < 1e-12
        assert abs(
            pdf["v|v_lag__rmse__w=12s"].iloc[i] - np.sqrt(((pa - pb) ** 2).mean())
        ) < 1e-12
        assert abs(
            pdf["v|v_lag__corr__w=12s"].iloc[i] - np.corrcoef(pa, pb)[0, 1]
        ) < 1e-12


def test_two_level_diff_features_parity(spark):
    """mean_abs_diff / rmse decompose through the bucket summary at a fine
    stride bit-identically to the one-level plan (decimal inputs: the
    partial sums are exact, the final double formula is token-identical)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    rng = np.random.default_rng(4)
    ts = pd.date_range("2024-01-01", periods=600, freq="1s")
    pdf = pd.DataFrame(
        {"ts": ts, "a": rng.normal(5, 1, 600).round(2), "b": rng.normal(5, 1, 600).round(2)}
    )
    sdf = spark.createDataFrame(pdf).withColumns(
        {"a": F.col("a").cast("decimal(10,2)"), "b": F.col("b").cast("decimal(10,2)")}
    )
    descs = lambda stride: [
        FeatureDescriptor("mean_abs_diff", ("a", "b"), "64s", stride),
        FeatureDescriptor("rmse", ("a", "b"), "64s", stride),
    ]
    fine = FeatureCollection(descs("1s")).calculate(
        sdf, ts_col="ts", approve_sparsity=True
    ).toPandas()
    coarse = _one_level(descs("64s"), "a", "64s", "64s").calculate(
        sdf, ts_col="ts", approve_sparsity=True
    ).toPandas()
    m = fine.merge(coarse, on="ts", suffixes=("_2l", "_1l"))
    assert len(m) >= 8
    for base in ("a|b__mean_abs_diff__w=1m4s", "a|b__rmse__w=1m4s"):
        two = m[f"{base}_2l"].to_numpy()
        one = m[f"{base}_1l"].to_numpy()
        assert (two == one).all(), base


def test_argmax_argmin_cv_unique_ratio_natives(spark):
    """argmax/argmin (tsn of FIRST max/min — pandas idxmax semantics),
    variation_coefficient (std_pop/mean) and unique_ratio vs a pandas
    reference; all compile to native aggregates (no Arrow in the plan)."""
    import numpy as np
    import pandas as pd

    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper

    rng = np.random.default_rng(11)
    ts = pd.date_range("2024-01-01", periods=60, freq="1s")
    # integers with repeats → argmax ties + unique_ratio < 1
    v = rng.integers(0, 8, 60).astype(float)
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": v}))
    fc = FeatureCollection(
        [
            FeatureDescriptor("argmax", "v", "20s", "20s"),
            FeatureDescriptor("argmin", "v", "20s", "20s"),
            FeatureDescriptor("variation_coefficient", "v", "20s", "20s"),
            FeatureDescriptor(
                FuncWrapper("variation_coefficient", output_names="cv1", ddof=1),
                "v", "20s", "20s",
            ),
            FeatureDescriptor("unique_ratio", "v", "20s", "20s"),
            FeatureDescriptor("abs_max", "v", "20s", "20s"),
        ]
    )
    out = fc.calculate(df, ts_col="ts", approve_sparsity=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    pdf = out.toPandas().sort_values("ts").reset_index(drop=True)
    assert len(pdf) == 2  # [0,20s), [20s,40s) inner-bounds full windows
    base = ts[0].value // 1000  # micros
    for i, sl in enumerate([slice(0, 20), slice(20, 40)]):
        seg = v[sl]
        exp_argmax = base + (sl.start + int(np.argmax(seg))) * 1_000_000
        exp_argmin = base + (sl.start + int(np.argmin(seg))) * 1_000_000
        assert pdf["v__argmax__w=20s"].iloc[i] == exp_argmax
        assert pdf["v__argmin__w=20s"].iloc[i] == exp_argmin
        assert abs(
            pdf["v__variation_coefficient__w=20s"].iloc[i]
            - seg.std() / seg.mean()
        ) < 1e-12
        assert abs(
            pdf["v__cv1__w=20s"].iloc[i] - seg.std(ddof=1) / seg.mean()
        ) < 1e-12
        assert abs(
            pdf["v__unique_ratio__w=20s"].iloc[i]
            - len(np.unique(seg)) / len(seg)
        ) < 1e-12
        assert pdf["v__abs_max__w=20s"].iloc[i] == np.abs(seg).max()


def test_native_change_features_shift_recipe(spark):
    """mean_diff / cid_ce / crossings natives + the shift recipe realize
    tsfresh's mean_change, cid_ce(normalize=False) and number_crossing_m
    as pure Catalyst aggregates."""
    import numpy as np
    import pandas as pd

    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper
    from tsflex_spark.utils.distributed import with_global_shift

    rng = np.random.default_rng(13)
    ts = pd.date_range("2024-01-01", periods=26, freq="1s")
    v = rng.normal(0, 1, 26).round(2)
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": v}))
    # v_lag[t] = v[t-1]: pairs (v_t, v_{t-1}) realize first differences
    df = with_global_shift(df, "v", "ts", "v_lag", offset=-1)
    fc = FeatureCollection(
        [
            FeatureDescriptor("mean_diff", ("v", "v_lag"), "12s", "12s"),
            FeatureDescriptor("cid_ce", ("v", "v_lag"), "12s", "12s"),
            FeatureDescriptor(
                FuncWrapper("crossings", output_names="x0", t=0.0),
                ("v", "v_lag"), "12s", "12s",
            ),
            FeatureDescriptor("sum_abs_diff", ("v", "v_lag"), "12s", "12s"),
        ]
    )
    out = fc.calculate(df, ts_col="ts", approve_sparsity=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    pdf = out.toPandas().sort_values("ts").reset_index(drop=True)
    assert len(pdf) == 2
    for i, sl in enumerate([slice(1, 13), slice(13, 25)]):
        pa = v[sl]
        pb = v[sl.start - 1 : sl.stop - 1]  # lag-1
        d = pa - pb
        assert abs(pdf["v|v_lag__mean_diff__w=12s"].iloc[i] - d.mean()) < 1e-12
        assert abs(
            pdf["v|v_lag__cid_ce__w=12s"].iloc[i] - np.sqrt((d**2).sum())
        ) < 1e-12
        exp_x = int(((pa > 0) != (pb > 0)).sum())
        assert pdf["v|v_lag__x0__w=12s"].iloc[i] == exp_x
        assert abs(
            pdf["v|v_lag__sum_abs_diff__w=12s"].iloc[i] - np.abs(d).sum()
        ) < 1e-12


def test_two_level_new_natives_parity(spark):
    """argmax/argmin/variation_coefficient + mean_diff/cid_ce/crossings
    decompose through the bucket summary identically to the
    one-level plan (decimal inputs → exact partial sums; argmax partial
    structs replay the one-level ordering)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper
    from tsflex_spark.utils.distributed import with_global_shift

    rng = np.random.default_rng(17)
    ts = pd.date_range("2024-01-01", periods=600, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": rng.integers(-5, 6, 600).astype(float)})
    sdf = spark.createDataFrame(pdf).withColumn(
        "v", F.col("v").cast("decimal(10,2)")
    )
    sdf = with_global_shift(sdf, "v", "ts", "v_lag", offset=-1)
    descs = [
        FeatureDescriptor("argmax", "v", "64s", "64s"),
        FeatureDescriptor("argmin", "v", "64s", "64s"),
        FeatureDescriptor("variation_coefficient", "v", "64s", "64s"),
        FeatureDescriptor("mean_diff", ("v", "v_lag"), "64s", "64s"),
        FeatureDescriptor("cid_ce", ("v", "v_lag"), "64s", "64s"),
        FeatureDescriptor(
            FuncWrapper("crossings", output_names="x", t=0.5),
            ("v", "v_lag"), "64s", "64s",
        ),
        FeatureDescriptor("sum_abs_diff", ("v", "v_lag"), "64s", "64s"),
        FeatureDescriptor("abs_max", "v", "64s", "64s"),
    ]
    kw = dict(ts_col="ts", approve_sparsity=True)
    one = _one_level(descs, "v", "64s", "64s").calculate(sdf, **kw).toPandas()
    two = FeatureCollection(descs).calculate(sdf, **kw).toPandas()
    one = one.sort_values("ts").reset_index(drop=True).drop(columns="v__np_sum__w=1m4s")
    two = two.sort_values("ts").reset_index(drop=True)
    assert len(one) >= 8 and list(one.columns) == list(two.columns)
    for c in one.columns:
        if c == "ts":
            assert one[c].equals(two[c])
            continue
        a, b = one[c].to_numpy(dtype=float), two[c].to_numpy(dtype=float)
        if c == "v__variation_coefficient__w=1m4s":
            # one-level Welford stddev_pop vs the summary's shifted sums:
            # equal within 1e-9, not bit-identical (same as std/var)
            both = ~(np.isnan(a) | np.isnan(b))
            assert (np.isnan(a) == np.isnan(b)).all()
            assert np.allclose(a[both], b[both], rtol=1e-9, atol=1e-9), c
        else:
            assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c


# --------------------------------------------------------------- fuzz
# Hypothesis fuzz of the segmenter against a ~30-line pandas/numpy
# searchsorted reference (reference strided_rolling.py:241-332 rules),
# generalizing the hand-picked boundary table: random IRREGULAR
# timestamps x window x strides x include_final_window x window_idx,
# plus manual (explicit) segments.


def _searchsorted_oracle(ts, vals, starts, ends):
    """Per-segment [start, end) sums + empty flags over sorted ts."""
    lo = np.searchsorted(ts, starts, side="left")
    hi = np.searchsorted(ts, ends, side="left")
    return [float(vals[l:h].sum()) if h > l else 0.0 for l, h in zip(lo, hi)]


def test_segmenter_fuzz_irregular_ts(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tests.conftest import ref_segment_starts
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ts_set=st.sets(st.integers(0, 200), min_size=4, max_size=36),
        window=st.integers(1, 25),
        strides=st.lists(st.integers(1, 11), min_size=1, max_size=2, unique=True),
        final=st.booleans(),
        widx=st.sampled_from(["begin", "middle", "end"]),
    )
    def prop(ts_set, window, strides, final, widx):
        ts = np.array(sorted(ts_set), dtype=np.int64)
        vals = (ts * 3 + 1).astype(float)  # deterministic, ts-derived
        df = spark.createDataFrame(pd.DataFrame({"ts": ts, "val": vals}))
        fc = FeatureCollection(
            FeatureDescriptor("sum", "val", window, [float(s) for s in strides])
        )
        out = (
            fc.calculate(
                df, ts_col="ts", window_idx=widx,
                include_final_window=final, approve_sparsity=True,
            )
            .toPandas()
            .sort_values("ts")
        )
        starts = ref_segment_starts(int(ts[0]), int(ts[-1]), window, strides, final)
        shift = {"begin": 0.0, "middle": window / 2.0, "end": float(window)}[widx]
        exp_idx = starts + shift
        got_idx = out["ts"].to_numpy(dtype=float)
        assert len(got_idx) == len(exp_idx), (got_idx, exp_idx)
        assert np.allclose(got_idx, exp_idx), (got_idx, exp_idx)
        exp_vals = _searchsorted_oracle(ts, vals, starts, starts + window)
        got_vals = out[f"val__sum__w={window}"].to_numpy(dtype=float)
        assert np.allclose(got_vals, exp_vals), (starts, got_vals, exp_vals)

    prop()


def test_segmenter_fuzz_manual_segments(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ts_set=st.sets(st.integers(0, 150), min_size=5, max_size=30),
        seg=st.lists(
            st.tuples(st.integers(0, 140), st.integers(1, 30)),
            min_size=1,
            max_size=6,
        ),
    )
    def prop(ts_set, seg):
        ts = np.array(sorted(ts_set), dtype=np.int64)
        vals = (ts * 2 + 5).astype(float)
        lo, hi = int(ts[0]), int(ts[-1])
        # keep explicit segments inside the data range (out-of-range is a
        # separate warn contract, tested in
        # test_manual_segments_out_of_range_warns)
        starts = sorted({min(max(s, lo), hi) for s, _ in seg})
        ends = [min(s + ln, hi) for s, (_, ln) in zip(starts, seg)]
        keep = [(s, e) for s, e in zip(starts, ends) if e > s]
        if not keep:
            return
        starts = [s for s, _ in keep]
        ends = [e for _, e in keep]
        df = spark.createDataFrame(pd.DataFrame({"ts": ts, "val": vals}))
        fc = FeatureCollection(FeatureDescriptor("sum", "val", None, None))
        out = (
            fc.calculate(
                df, ts_col="ts", segment_start_idxs=starts,
                segment_end_idxs=ends, window_idx="begin",
                approve_sparsity=True,
            )
            .toPandas()
            .sort_values("ts")
        )
        exp = _searchsorted_oracle(
            ts, vals, np.asarray(starts, dtype=float), np.asarray(ends, dtype=float)
        )
        assert list(out["ts"]) == starts, (list(out["ts"]), starts)
        got = out["val__sum__w=manual"].to_numpy(dtype=float)
        assert np.allclose(got, exp), (starts, ends, got, exp)

    prop()


def test_segmenter_fuzz_time_domain(spark):
    """TIME-domain twin of the irregular-ts fuzz: random irregular
    SECOND-grain timestamps, string window/stride args, same searchsorted
    oracle in integer-microsecond space (the engine's exact arithmetic)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tests.conftest import ref_segment_starts
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sec_set=st.sets(st.integers(0, 400), min_size=4, max_size=30),
        window_s=st.integers(1, 60),
        stride_s=st.integers(1, 30),
        final=st.booleans(),
    )
    def prop(sec_set, window_s, stride_s, final):
        secs = np.array(sorted(sec_set), dtype=np.int64)
        ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, unit="s")
        vals = (secs % 7 + 1).astype(float)
        df = spark.createDataFrame(pd.DataFrame({"ts": ts, "val": vals}))
        fc = FeatureCollection(
            FeatureDescriptor("sum", "val", f"{window_s}s", f"{stride_s}s")
        )
        out = (
            fc.calculate(
                df, ts_col="ts", window_idx="begin",
                include_final_window=final, approve_sparsity=True,
            )
            .toPandas()
            .sort_values("ts")
        )
        us = secs * 1_000_000
        w_us, s_us = window_s * 1_000_000, stride_s * 1_000_000
        starts = ref_segment_starts(int(us[0]), int(us[-1]), w_us, [s_us], final)
        got_idx = (
            pd.to_datetime(out["ts"]).astype("int64") // 1000
            - pd.Timestamp("2024-01-01").value // 1000
        ).to_numpy()
        assert list(got_idx) == list(starts), (got_idx, starts)
        exp_vals = _searchsorted_oracle(us, vals, starts, starts + w_us)
        from tsflex_spark.utils.time_args import timedelta_to_str

        wname = timedelta_to_str(pd.Timedelta(seconds=window_s))
        got_vals = out[f"val__sum__w={wname}"].to_numpy(dtype=float)
        assert np.allclose(got_vals, exp_vals), (starts, got_vals, exp_vals)

    prop()


def test_two_level_rewrite_fuzz(spark):
    """Hypothesis twin of the summary equivalence test: RANDOM window /
    stride / function subsets / irregular integer timestamps must produce
    bit-identical results from the bucket summary and the one-level
    explode (exact ops on integer data — no float tolerance needed)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    FUNCS = ["sum", "count", "min", "max", "first", "last"]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ts_set=st.sets(st.integers(0, 500), min_size=8, max_size=60),
        window=st.integers(4, 60),
        strides=st.lists(st.integers(1, 6), min_size=1, max_size=2, unique=True),
        funcs=st.sets(st.sampled_from(FUNCS), min_size=1, max_size=4),
        final=st.booleans(),
    )
    def prop(ts_set, window, strides, funcs, final):
        ts = np.array(sorted(ts_set), dtype=np.int64)
        vals = (ts * 13 % 97).astype(np.int64)
        df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": vals}))
        fstrides = [float(s) for s in strides]
        descs = [FeatureDescriptor(f, "v", window, fstrides) for f in sorted(funcs)]
        kw = dict(
            ts_col="ts", include_final_window=final, approve_sparsity=True
        )
        one = _one_level(descs, "v", window, fstrides).calculate(df, **kw).toPandas()
        two = FeatureCollection(descs).calculate(df, **kw).toPandas()
        one = one.sort_values("ts").reset_index(drop=True)
        two = two.sort_values("ts").reset_index(drop=True)
        np_sum = one.pop(f"v__np_sum__w={window}")
        if "sum" in funcs:
            _assert_np_sum(np_sum, two[f"v__sum__w={window}"])
        assert list(one.columns) == list(two.columns)
        assert len(one) == len(two), (len(one), len(two))
        for c in one.columns:
            a, b = one[c], two[c]
            same = (a == b) | (a.isna() & b.isna())
            assert same.all(), (c, window, strides, one[~same].head(), two[~same].head())

    prop()


def test_count_based_rolling_fuzz(spark):
    """Count-based (sample-position) rolling on IRREGULAR timestamps:
    positions, not durations, define segments; output index is the
    timestamp AT the begin/end sample position. Oracle = direct numpy
    position slicing."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark import FeatureCollection, FeatureDescriptor

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sec_set=st.sets(st.integers(0, 3000), min_size=6, max_size=40),
        window=st.integers(1, 12),
        stride=st.integers(1, 9),
        widx=st.sampled_from(["begin", "end"]),
    )
    def prop(sec_set, window, stride, widx):
        secs = np.array(sorted(sec_set), dtype=np.int64)
        n = len(secs)
        if window > n - 1:
            return
        ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(secs, unit="s")
        vals = (secs % 11 + 1).astype(float)
        df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": vals}))
        fc = FeatureCollection(FeatureDescriptor("sum", "v", window, stride))
        out = (
            fc.calculate(df, ts_col="ts", window_idx=widx, approve_sparsity=True)
            .toPandas()
            .sort_values("ts")
        )
        nb = max((n - 1 - window) // stride + 1, 0)
        starts = np.arange(nb) * stride
        pos_idx = starts if widx == "begin" else starts + window
        exp_idx = ts[pos_idx]
        exp_vals = [float(vals[s: s + window].sum()) for s in starts]
        assert list(pd.to_datetime(out["ts"])) == list(exp_idx), (widx, out["ts"].tolist(), list(exp_idx))
        got = out[f"v__sum__w={window}"].to_numpy(dtype=float)
        assert np.allclose(got, exp_vals), (starts, got, exp_vals)

    prop()
