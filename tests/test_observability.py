"""Tests for execution-time logging, log analytics, and integration wrappers."""

import numpy as np
import pandas as pd
import pytest

from tsflex_spark import FeatureCollection, FeatureDescriptor


def test_log_execution_and_stats(tmp_path):
    from tsflex_spark.utils.logging import (
        get_feature_logs,
        get_function_stats,
        get_series_names_stats,
        log_execution,
    )

    log_file = str(tmp_path / "feat.log")
    with log_execution("mean", "EDA", "10s", "5s", "EDA__mean__w=10s", log_file):
        pass
    with log_execution("std", "TMP", "30s", "5s", "TMP__std__w=30s", log_file):
        pass
    logs = get_feature_logs(log_file)
    assert len(logs) == 2
    assert set(logs["function"]) == {"mean", "std"}
    assert (logs["duration"] >= 0).all()

    stats = get_function_stats(log_file)
    assert len(stats) == 2
    sstats = get_series_names_stats(log_file)
    assert set(sstats["series_names"]) == {"EDA", "TMP"}


def test_log_parser_survives_pipe_joined_labels(tmp_path):
    """Fused multi-function configs and two-series features produce
    '|'-joined labels (``sum|count``, ``va|vb``); the parser must not split
    the message on those pipes (only on the formatter's ``" | "``)."""
    from tsflex_spark.utils.logging import (
        get_feature_logs,
        get_function_stats,
        get_processor_logs,
        log_execution,
    )

    log_file = str(tmp_path / "fused.log")
    with log_execution(
        "count|min|sum", "va|vb", "1h", "30m",
        "va|vb__corr__w=1h,va__sum__w=1h", log_file,
    ):
        pass
    with log_execution("corr", "va|vb", "4h", "2h", "va|vb__corr__w=4h", log_file):
        pass

    logs = get_feature_logs(log_file)
    assert len(logs) == 2
    assert set(logs["function"]) == {"count|min|sum", "corr"}
    assert set(logs["series_names"]) == {"va|vb"}

    stats = get_function_stats(log_file)
    assert len(stats) == 2
    assert set(stats["function"]) == {"count|min|sum", "corr"}
    assert (stats["count"] == 1).all()

    plogs = get_processor_logs(log_file)
    assert len(plogs) == 2
    assert abs(plogs["duration %"].sum() - 100.0) < 0.1


def test_seglearn_wrapper_shape():
    from tsflex_spark.features.integrations import seglearn_wrapper

    def mean_2d(x):
        return np.mean(x, axis=1)

    fw = seglearn_wrapper(mean_2d, "mymean")
    assert fw.output_names == ["mymean"]
    out = fw.apply([pd.Series([1.0, 2.0, 3.0])])
    assert out == [2.0]


def test_tsfresh_combiner_wrapper():
    from tsflex_spark.features.integrations import tsfresh_combiner_feature_wrapper

    def combiner(x, param):
        return [(str(p), float(np.quantile(x, p["q"]))) for p in param]

    fw = tsfresh_combiner_feature_wrapper(combiner, param=[{"q": 0.25}, {"q": 0.75}])
    assert len(fw.output_names) == 2
    out = fw.apply([pd.Series(np.arange(5.0))])
    assert out == [1.0, 3.0]


def test_catch22_wrapper_fake():
    from tsflex_spark.features.integrations import catch22_wrapper

    def fake_catch22_all(x, catch24=False):
        return {"names": ["f1", "f2"], "values": [float(len(x)), float(np.sum(x))]}

    fw = catch22_wrapper(fake_catch22_all)
    assert fw.output_names == ["f1", "f2"]
    assert fw.apply([pd.Series([1.0, 2.0])]) == [2.0, 3.0]


def test_udf_tier_in_collection(spark):
    """A custom Python function flows through the Arrow UDF tier and matches
    the numpy answer per segment."""
    from tsflex_spark import FuncWrapper

    # 101 points at 1s -> span 100s -> nb = (100-50)//50+1 = 2 windows
    ts = pd.date_range("2024-01-01", periods=101, freq="1s")
    vals = np.arange(101.0)
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": vals}))

    def my_range(x):
        return float(np.max(x) - np.min(x))

    fc = FeatureCollection(
        [FeatureDescriptor(FuncWrapper(my_range, output_names="rng"), "v", "50s", "50s")]
    )
    out = fc.calculate(df, ts_col="ts").toPandas().sort_values("ts")
    assert list(out["v__rng__w=50s"]) == [49.0, 49.0]


def test_udf_output_dtypes_preserved(spark):
    """Non-double UDF outputs (reference keeps the function's dtype,
    tests :1965-2046): declared via output_dtypes, values survive
    untouched — a timestamp-valued and a string-valued feature."""
    from tsflex_spark import FuncWrapper

    ts = pd.date_range("2024-01-01", periods=101, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": np.arange(101.0)}))

    def last_sample_ts(s: pd.Series):
        return s.index.max() if len(s) else None

    def bucket(a):
        return "big" if len(a) and float(np.max(a)) >= 50 else "small"

    fc = FeatureCollection(
        [
            FeatureDescriptor(
                FuncWrapper(
                    last_sample_ts, output_names="lts",
                    input_type=pd.Series, output_dtypes="timestamp",
                ),
                "v", "50s", "50s",
            ),
            FeatureDescriptor(
                FuncWrapper(bucket, output_names="b", output_dtypes="string"),
                "v", "50s", "50s",
            ),
        ]
    )
    out = fc.calculate(df, ts_col="ts").toPandas().sort_values("ts")
    assert str(out["v__lts__w=50s"].dtype).startswith("datetime64")
    assert list(out["v__b__w=50s"]) == ["small", "big"]
    assert list(out["v__lts__w=50s"]) == [
        pd.Timestamp("2024-01-01 00:00:49"),
        pd.Timestamp("2024-01-01 00:01:39"),
    ]


def test_udf_dtype_inferred_without_declaration(spark):
    """AUTOMATIC input-dtype preservation (reference retains whatever the
    function returns WITHOUT a declaration — tests :1965-2089): string-,
    int-, bool-, and timestamp-valued features declared with no
    output_dtypes get their natural Spark types via the plan-time probe;
    a plain float function stays double."""
    from tsflex_spark import FuncWrapper

    ts = pd.date_range("2024-01-01", periods=101, freq="1s")
    pdf = pd.DataFrame(
        {"ts": ts, "v": np.arange(101.0), "cat": ["ab"[i % 2] for i in range(101)]}
    )
    df = spark.createDataFrame(pdf)

    def mode_cat(a):  # string in -> string out
        vals, counts = np.unique(a, return_counts=True)
        return str(vals[np.argmax(counts)])

    def n_samples(a):  # int out regardless of input dtype
        return int(len(a))

    def above_mean(a):  # bool out
        return bool(len(a) and float(a[-1]) > float(np.mean(a)))

    def last_ts(s: pd.Series):  # timestamp out (index-aware)
        return s.index.max() if len(s) else None

    def rng(a):  # float out -> stays double
        return float(np.max(a) - np.min(a)) if len(a) else np.nan

    fc = FeatureCollection(
        [
            FeatureDescriptor(FuncWrapper(mode_cat, output_names="m"), "cat", "50s", "50s"),
            FeatureDescriptor(FuncWrapper(n_samples, output_names="n"), "v", "50s", "50s"),
            FeatureDescriptor(FuncWrapper(above_mean, output_names="g"), "v", "50s", "50s"),
            FeatureDescriptor(
                FuncWrapper(last_ts, output_names="lts", input_type=pd.Series),
                "v", "50s", "50s",
            ),
            FeatureDescriptor(FuncWrapper(rng, output_names="r"), "v", "50s", "50s"),
        ]
    )
    res = fc.calculate(df, ts_col="ts")
    types = {f.name: f.dataType.simpleString() for f in res.schema.fields}
    assert types["cat__m__w=50s"] == "string"
    assert types["v__n__w=50s"] == "bigint"
    assert types["v__g__w=50s"] == "boolean"
    assert types["v__lts__w=50s"] == "timestamp"
    assert types["v__r__w=50s"] == "double"
    out = res.toPandas().sort_values("ts")
    assert list(out["cat__m__w=50s"]) == ["a", "a"]
    assert list(out["v__n__w=50s"]) == [50, 50]
    assert list(out["v__r__w=50s"]) == [49.0, 49.0]
    assert list(out["v__lts__w=50s"]) == [
        pd.Timestamp("2024-01-01 00:00:49"),
        pd.Timestamp("2024-01-01 00:01:39"),
    ]


def test_explain_features_tiers():
    """Driver-side compilation report: tier + fanout + bucket-summary
    verdicts per output, no Spark session or data touched."""
    from tsflex_spark import FuncWrapper

    def my_custom(x):
        return float(np.ptp(x)) if len(x) else np.nan

    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "v", "4h", "10m"),   # fanout 24
            FeatureDescriptor("corr", ("a", "b"), "4h", "10m"),
            FeatureDescriptor(
                FuncWrapper(my_custom, output_names="rng"), "v", "1h", "1h"
            ),
            FeatureDescriptor("median", "v", "4h", "10m"),  # holistic: no summary
        ]
    )
    rep = fc.explain_features().set_index("output")
    assert rep.loc["v__sum__w=4h", "tier"] == "native"
    assert rep.loc["a|b__corr__w=4h", "tier"] == "native2"
    assert rep.loc["v__rng__w=1h", "tier"] == "udf"
    assert rep.loc["v__sum__w=4h", "fanout"] == 24.0
    # median is in the same config and holistic -> the whole config stays
    # one-level
    assert not rep.loc["v__sum__w=4h", "two_level"]
    assert not rep.loc["v__rng__w=1h", "two_level"]

    fc2 = FeatureCollection([FeatureDescriptor("sum", "v", "4h", "10m")])
    rep2 = fc2.explain_features().set_index("output")
    assert bool(rep2.loc["v__sum__w=4h", "two_level"])

    # an int window on a TIME index is count-based: its own tier, never
    # the bucket summary; a decomposable fanout-1 config rides the summary
    fc3 = FeatureCollection(
        [
            FeatureDescriptor("sum", "v", 240, 120),
            FeatureDescriptor("max", "v", "1h", "1h"),
        ]
    )
    rep3 = fc3.explain_features().set_index("output")
    assert rep3.loc["v__sum__w=240", "tier"] == "count"
    assert rep3.loc["v__sum__w=240", "fanout"] == 2.0
    assert not rep3.loc["v__sum__w=240", "two_level"]
    assert rep3.loc["v__max__w=1h", "tier"] == "native"
    assert bool(rep3.loc["v__max__w=1h", "two_level"])


def test_vectorized_batched_2d(spark):
    """vectorized=True numpy funcs get the reference's true (nb, window)
    batch (strided_rolling.py:379-453) when segments are equal-length: the
    function only accepts 2-D input and reduces axis=-1 — if the engine
    fed it 1-D per-segment arrays it would raise and yield NaN."""
    from tsflex_spark import FuncWrapper

    ts = pd.date_range("2024-01-01", periods=101, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": np.arange(101.0)}))

    def vmean(x):
        assert x.ndim == 2, "vectorized func must receive an (nb, window) batch"
        return np.mean(x, axis=-1)

    fc = FeatureCollection(
        [
            FeatureDescriptor(
                FuncWrapper(vmean, output_names="vm", vectorized=True),
                "v", "10s", "10s",
            )
        ]
    )
    out = fc.calculate(df, ts_col="ts").toPandas().sort_values("ts")
    got = out["v__vm__w=10s"].to_numpy()
    exp = np.arange(100.0).reshape(10, 10).mean(axis=1)
    assert np.allclose(np.sort(got), np.sort(exp))


def test_vectorized_ragged_falls_back(spark):
    """Unequal segment lengths can't stack — each segment then takes the
    (1, n) reshape path, still 2-D."""
    from tsflex_spark import FuncWrapper

    # 15 points: segments of 10 and 5 samples
    ts = pd.date_range("2024-01-01", periods=15, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": np.arange(15.0)}))

    def vsum(x):
        assert x.ndim == 2
        return np.sum(x, axis=-1)

    fc = FeatureCollection(
        [
            FeatureDescriptor(
                FuncWrapper(vsum, output_names="vs", vectorized=True),
                "v", "10s", "10s",
            )
        ]
    )
    out = fc.calculate(df, ts_col="ts", include_final_window=True).toPandas()
    got = sorted(out["v__vs__w=10s"].dropna())
    assert got == [sum(range(10)), sum(range(10, 15))]


def test_three_series_udf(spark):
    """Tuples beyond arity 2 route to the UDF tier with each series' own
    ragged slice (reference feature.py multi-series semantics)."""
    from tsflex_spark import FuncWrapper

    ts = pd.date_range("2024-01-01", periods=60, freq="1s")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": ts,
                "a": np.arange(60.0),
                "b": np.arange(60.0) * 2,
                "c": [np.nan if i % 2 else float(i) for i in range(60)],
            }
        )
    )

    def spread(a, b, c):
        return float(np.max(b) - np.min(a) + len(c))

    fc = FeatureCollection(
        [
            FeatureDescriptor(
                FuncWrapper(spread, output_names="s3"), ("a", "b", "c"), "30s", "30s"
            )
        ]
    )
    out = fc.calculate(df, ts_col="ts", window_idx="begin").toPandas().sort_values("ts")
    got = list(out["a|b|c__s3__w=30s"])
    # window [0,30): max(b)=58, min(a)=0, len(c non-null)=15 -> 73
    # window [30,60) is only emitted with include_final... nb=(59-30)//30+1=1
    assert got == [58.0 - 0.0 + 15.0]


def test_make_robust_min_samples(spark):
    from tsflex_spark import FuncWrapper
    from tsflex_spark.features.function_wrapper import make_robust

    ts = pd.date_range("2024-01-01", periods=10, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": np.arange(10.0)}))
    robust = make_robust(np.sum, min_nb_samples=20, error_val=-1.0, output_names="rsum")
    fc = FeatureCollection([FeatureDescriptor(robust, "v", "5s", "5s")])
    out = fc.calculate(df, ts_col="ts").toPandas()
    # every 5s window has 5 < 20 samples -> error_val
    assert (out.filter(like="rsum").iloc[:, 0] == -1.0).all()
