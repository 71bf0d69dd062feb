"""SeriesProcessor / SeriesPipeline output-merge rule tests
(reference series_processor.py:277-370 semantics, SURVEY §2.8)."""

import numpy as np
import pandas as pd
import pytest
import warnings
from pyspark.sql import functions as F

from tsflex_spark import (
    FeatureCollection,
    FeatureDescriptor,
    SeriesPipeline,
    SeriesProcessor,
    dataframe_func,
)


@pytest.fixture()
def small_sdf(spark):
    ts = pd.date_range("2024-01-01", periods=20, freq="1s")
    return spark.createDataFrame(
        pd.DataFrame({"ts": ts, "a": np.arange(20.0), "b": np.arange(20.0) * 2})
    )


def test_column_tier_replace(small_sdf):
    def clip(v):
        return F.least(v, F.lit(10.0))

    out = SeriesPipeline([SeriesProcessor(clip, "a", input_type="column")]).process(
        small_sdf, ts_col="ts"
    )
    pdf = out.toPandas()
    assert pdf["a"].max() == 10.0
    assert pdf["b"].max() == 38.0  # untouched


def test_column_tier_add_named(small_sdf):
    def plus(v):
        return {"a_plus_1": v + 1}

    out = SeriesPipeline([SeriesProcessor(plus, "a", input_type="column")]).process(
        small_sdf, ts_col="ts"
    )
    assert "a_plus_1" in out.columns
    assert out.toPandas()["a_plus_1"].iloc[0] == 1.0


def test_numpy_tier_ndarray_replaces(spark, small_sdf):
    def double(v: np.ndarray) -> np.ndarray:
        return v * 2

    out = SeriesPipeline([SeriesProcessor(double, "a", input_type="numpy")]).process(
        small_sdf, ts_col="ts"
    )
    pdf = out.toPandas().sort_values("ts")
    assert list(pdf["a"]) == [x * 2 for x in range(20)]


def test_pandas_tier_named_series_adds(spark, small_sdf):
    def cumsum(v: pd.Series) -> pd.Series:
        out = v.cumsum()
        out.name = "a_cumsum"
        return out

    out = SeriesPipeline([SeriesProcessor(cumsum, "a", input_type="pandas")]).process(
        small_sdf, ts_col="ts"
    )
    pdf = out.toPandas().sort_values("ts")
    assert "a_cumsum" in pdf.columns
    assert pdf["a_cumsum"].iloc[-1] == sum(range(20))


def test_multi_series_input(spark, small_sdf):
    def ratio(a: np.ndarray, b: np.ndarray):
        return pd.Series(np.where(b != 0, a / np.where(b == 0, 1, b), np.nan), name="ab_ratio")

    out = SeriesPipeline(
        [SeriesProcessor(ratio, ("a", "b"), input_type="numpy")]
    ).process(small_sdf, ts_col="ts")
    pdf = out.toPandas().sort_values("ts")
    assert pdf["ab_ratio"].iloc[1] == 0.5


def test_dataframe_func(spark, small_sdf):
    @dataframe_func
    def drop_high(df: pd.DataFrame) -> pd.DataFrame:
        return df[df["a"] < 5]

    out = SeriesPipeline([SeriesProcessor(drop_high, "a")]).process(small_sdf, ts_col="ts")
    assert out.count() == 5


def test_pipeline_sees_prior_outputs(spark, small_sdf):
    def add_c(v):
        return {"c": v + 100}

    def double_c(v):
        return {"c2": v * 2}

    pipe = SeriesPipeline(
        [
            SeriesProcessor(add_c, "a", input_type="column"),
            SeriesProcessor(double_c, "c", input_type="column"),  # uses step-1 output
        ]
    )
    pdf = pipe.process(small_sdf, ts_col="ts").toPandas().sort_values("ts")
    assert pdf["c2"].iloc[0] == 200.0


def test_drop_keys_and_required_only(spark, small_sdf):
    def ident(v):
        return {"a2": v}

    pipe = SeriesPipeline([SeriesProcessor(ident, "a", input_type="column")])
    out = pipe.process(small_sdf, ts_col="ts", return_all_series=False, drop_keys=["a"])
    assert set(out.columns) == {"ts", "a2"}


def test_csv_json_readers_roundtrip(spark, tmp_path):
    """CSV/JSON readers parse timestamp columns and feed calculate()
    directly (explicit-schema path: no inference pass)."""
    from tsflex_spark.sources import read_csv, read_json

    ts = pd.date_range("2024-01-01", periods=24, freq="1h")
    pdf = pd.DataFrame({"ts": ts.strftime("%Y-%m-%d %H:%M:%S"), "v": np.arange(24.0)})
    csv_p, json_p = str(tmp_path / "d.csv"), str(tmp_path / "d.json")
    pdf.to_csv(csv_p, index=False)
    pdf.to_json(json_p, orient="records", lines=True)

    fc = FeatureCollection([FeatureDescriptor("sum", "v", "6h", "6h")])
    for df in (
        read_csv(spark, csv_p, ts_col="ts", schema="ts string, v double"),
        read_json(spark, json_p, ts_col="ts", schema="ts string, v double"),
        read_csv(spark, csv_p, ts_col="ts"),  # inferred-schema fallback
    ):
        assert df.schema["ts"].dataType.typeName().startswith("timestamp")
        out = fc.calculate(df, ts_col="ts").toPandas()
        assert sorted(out["v__sum__w=6h"]) == [15.0, 51.0, 87.0]


def test_empty_inputs_no_crash(spark):
    """Zero-row inputs flow through every major entry point (empty bounds
    -> empty spine -> empty output; manual segments are data-independent
    and emit their fill rows)."""
    from tsflex_spark import asof_join
    from tsflex_spark.processing.resample import resample_interpolate

    df = spark.createDataFrame([], "ts timestamp, v double")
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "1h", "1h")])
    assert fc.calculate(df, ts_col="ts").count() == 0
    r = spark.createDataFrame([], "ts timestamp, rv double")
    assert asof_join(df, r, on="ts", value_cols=["rv"]).count() == 0
    assert (
        resample_interpolate(df, ts_col="ts", value_col="v", period="1h").count() == 0
    )
    manual = fc.calculate(
        df, ts_col="ts",
        segment_start_idxs=[pd.Timestamp("2024-01-01")],
        segment_end_idxs=[pd.Timestamp("2024-01-02")],
    ).toPandas()
    assert len(manual) == 1  # explicit segment exists regardless of data
    assert manual["v__sum__w=manual"].iloc[0] == 0.0  # sum fill on empty


def test_mllib_pipeline_composition(spark):
    """tsflex_spark stages compose with MLlib estimators in ONE
    pyspark.ml.Pipeline: preprocess (SeriesPipeline) -> extract features
    (FeatureCollection) -> VectorAssembler -> KMeans."""
    from pyspark.ml import Pipeline
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    from tsflex_spark.ml import FeatureCollectionTransformer, SeriesPipelineTransformer

    ts = pd.date_range("2024-01-01", periods=600, freq="1s")
    df = spark.createDataFrame(
        pd.DataFrame({"ts": ts, "v": np.sin(np.arange(600) / 20.0)})
    )

    def clipped(v):
        return {"v": F.greatest(F.least(v, F.lit(0.9)), F.lit(-0.9))}

    prep = SeriesPipelineTransformer(
        SeriesPipeline([SeriesProcessor(clipped, "v", input_type="column")])
    )
    feats = FeatureCollectionTransformer(
        FeatureCollection(
            [
                FeatureDescriptor("mean", "v", "60s", "60s"),
                FeatureDescriptor("std", "v", "60s", "60s"),
            ]
        )
    )
    assemble = VectorAssembler(
        inputCols=["v__mean__w=1m", "v__std__w=1m"], outputCol="features",
        handleInvalid="skip",
    )
    km = KMeans(k=2, seed=1, featuresCol="features")
    model = Pipeline(stages=[prep, feats, assemble, km]).fit(df)
    out = model.transform(df)
    assert out.count() > 0 and "prediction" in out.columns


def test_processor_declared_output_schema(spark):
    """output_schema declares the added columns -> plan builds without the
    100-row driver probe; results identical to the probed path."""
    ts = pd.date_range("2024-01-01", periods=50, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": np.arange(50.0)}))

    def diffs(v: pd.Series) -> pd.Series:
        return pd.Series(v.to_numpy(), index=v.index, name="v_diff").diff()

    p_probe = SeriesProcessor(diffs, "v", input_type="pandas")
    p_decl = SeriesProcessor(
        diffs, "v", input_type="pandas", output_schema="v_diff double"
    )
    out1 = SeriesPipeline([p_probe]).process(df, ts_col="ts").toPandas()
    out2 = SeriesPipeline([p_decl]).process(df, ts_col="ts").toPandas()
    pd.testing.assert_frame_equal(
        out1.sort_values("ts").reset_index(drop=True),
        out2.sort_values("ts").reset_index(drop=True),
    )


def test_sparsity_warning_fires_by_default(spark):
    """Reference parity: the gap warning is ON by default
    (approve_sparsity=False). The check is non-eager — counts ride the main
    aggregation via observe() — so the warning lands when the plan is
    actually executed (join the watcher for determinism)."""
    from tsflex_spark.features.feature_collection import join_sparsity_watchers

    # 10 samples, a gap -> windows with unequal counts must warn
    ts = list(pd.date_range("2024-01-01", periods=10, freq="1s")) + list(
        pd.date_range("2024-01-01 00:00:30", periods=10, freq="1s")
    )
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": 1.0}))
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "10s", "10s")])
    with pytest.warns(RuntimeWarning, match="gaps"):
        fc.calculate(df, ts_col="ts").collect()
        join_sparsity_watchers()


def test_sparsity_join_skips_unexecuted_frames(spark):
    """A default-sparsity calculate() whose frame never runs has no
    warning to wait for: joining the watchers returns in seconds, not
    after a per-watcher timeout, and an executed frame still warns."""
    import time

    from tsflex_spark.features.feature_collection import join_sparsity_watchers

    ts = list(pd.date_range("2024-01-01", periods=10, freq="1s")) + list(
        pd.date_range("2024-01-01 00:00:30", periods=10, freq="1s")
    )
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": 1.0}))
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "10s", "10s")])
    fc.calculate(df, ts_col="ts")  # planned, never executed
    t0 = time.perf_counter()
    with pytest.warns(RuntimeWarning, match="gaps"):
        fc.calculate(df, ts_col="ts").collect()
        join_sparsity_watchers()
    assert time.perf_counter() - t0 < 15


def test_sparsity_approved_no_warning(spark):
    import warnings as _w

    from tsflex_spark.features.feature_collection import join_sparsity_watchers

    ts = list(pd.date_range("2024-01-01", periods=10, freq="1s")) + list(
        pd.date_range("2024-01-01 00:00:30", periods=10, freq="1s")
    )
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": 1.0}))
    fc = FeatureCollection([FeatureDescriptor("sum", "v", "10s", "10s")])
    with _w.catch_warnings():
        _w.simplefilter("error", RuntimeWarning)
        fc.calculate(df, ts_col="ts", approve_sparsity=True).collect()
        join_sparsity_watchers()


def test_serialization_roundtrip(spark, small_sdf, tmp_path):
    fc = FeatureCollection([FeatureDescriptor("mean", "a", "5s", "5s")])
    p = str(tmp_path / "fc.pkl")
    fc.serialize(p)
    fc2 = FeatureCollection.deserialize(p)
    out1 = fc.calculate(small_sdf, ts_col="ts").toPandas()
    out2 = fc2.calculate(small_sdf, ts_col="ts").toPandas()
    pd.testing.assert_frame_equal(out1, out2)


def test_reduce_prunes(spark):
    fc = FeatureCollection(
        [
            FeatureDescriptor("mean", "a", "5s", "5s"),
            FeatureDescriptor("sum", "a", "5s", "5s"),
        ]
    )
    red = fc.reduce(["a__mean__w=5s"])
    assert red.output_columns() == ["a__mean__w=5s"]
    with pytest.raises(AssertionError):
        fc.reduce(["a__nope__w=5s"])


# ------------------------------------------------- resample/interpolate
def test_resample_interpolate_linear(spark):
    import pandas as pd

    from tsflex_spark.processing.resample import resample_interpolate

    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:00:10", "2024-01-01 00:00:40"])
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "k": ["a"] * 3, "value": [0.0, 10.0, 40.0]}))
    out = (
        resample_interpolate(df, ts_col="ts", value_col="value", period="5s", key_cols=["k"])
        .orderBy("ts")
        .toPandas()
    )
    # grid 0,5,...,40; exact hits at 0/10/40; linear between
    assert len(out) == 9
    assert out["value"].tolist() == [0.0, 5.0, 10.0, 15.0, 20.0, 25.0, 30.0, 35.0, 40.0]


def test_resample_interpolate_per_key_and_single_sample(spark):
    import pandas as pd

    from tsflex_spark.processing.resample import resample_interpolate

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:00:10", "2024-01-01 00:05:00"]
    )
    df = spark.createDataFrame(
        pd.DataFrame({"ts": ts, "k": ["a", "a", "b"], "value": [1.0, 3.0, 7.0]})
    )
    out = resample_interpolate(
        df, ts_col="ts", value_col="value", period="10s", key_cols=["k"]
    ).toPandas()
    a = out[out["k"] == "a"].sort_values("ts")
    b = out[out["k"] == "b"]
    assert a["value"].tolist() == [1.0, 3.0]  # grid = first..last per key
    assert len(b) == 1 and b["value"].iloc[0] == 7.0  # single sample -> itself


def test_process_chunks_multithreaded(spark):
    """Chunk-wise pipeline execution (reference processing/utils.py:16-81):
    an order-dependent diff step must restart at each chunk boundary."""
    import pandas as pd

    from tsflex_spark.chunking import chunk_data
    from tsflex_spark.processing import process_chunks_multithreaded

    # two continuous runs separated by a >15s gap (1 Hz sampling)
    ts = pd.to_datetime(
        [f"2024-01-01 00:00:{s:02d}" for s in range(5)]
        + [f"2024-01-01 00:01:{s:02d}" for s in range(5)]
    )
    vals = [float(x) for x in [0, 1, 3, 6, 10, 100, 101, 103, 106, 110]]
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "value": vals}))
    chunks = chunk_data(df, ts_col="ts", fs=1.0)
    assert chunks.count() == 2

    def diff(s: pd.Series) -> pd.Series:
        return pd.Series(s.to_numpy(), index=s.index).diff().rename("value_diff")

    pipe = SeriesPipeline([SeriesProcessor(diff, "value", input_type="pandas")])
    out = process_chunks_multithreaded(
        df, chunks, pipe, ts_col="ts"
    ).toPandas().sort_values("ts")
    # each chunk's first diff is NaN — the gap never leaks across chunks
    diffs = out["value_diff"].tolist()
    assert pd.isna(diffs[0]) and pd.isna(diffs[5])
    assert diffs[1:5] == [1.0, 2.0, 3.0, 4.0]
    assert diffs[6:] == [1.0, 2.0, 3.0, 4.0]
    assert set(out["chunk_id"]) == {0, 1}


def test_pipeline_and_calculate_logging(spark, small_sdf, tmp_path):
    """logging_file_path surface (reference logger.py): pipeline steps and
    calculate configs append parseable log lines; stats frames build."""
    import numpy as np

    from tsflex_spark.utils.logging import (
        get_feature_logs,
        get_function_stats,
        get_processor_logs,
    )

    plog = str(tmp_path / "proc.log")

    def double(v: np.ndarray) -> np.ndarray:
        return v * 2

    SeriesPipeline([SeriesProcessor(double, "a", input_type="numpy")]).process(
        small_sdf, ts_col="ts", logging_file_path=plog
    )
    logs = get_processor_logs(plog)
    assert len(logs) == 1
    assert logs["function"].iloc[0] == "double"
    assert logs["series_names"].iloc[0] == "a"
    assert abs(logs["duration %"].sum() - 100.0) < 1e-6

    flog = str(tmp_path / "feat.log")
    fc = FeatureCollection(
        [
            FeatureDescriptor("sum", "a", "5s", "5s"),
            FeatureDescriptor("max", "b", "10s", "5s"),
        ]
    )
    fc.calculate(small_sdf, ts_col="ts", logging_file_path=flog)
    feat_logs = get_feature_logs(flog)
    assert len(feat_logs) == 2  # one line per compiled (window, stride) config
    assert set(feat_logs["function"]) == {"sum", "max"}
    assert len(get_function_stats(flog)) == 2


def test_ewma_keyed_and_unkeyed(spark):
    import numpy as np
    import pandas as pd

    from tsflex_spark.processing.smoothing import ewma

    rng = np.random.default_rng(9)
    ts = pd.date_range("2024-01-01", periods=400, freq="1s")
    pdf = pd.DataFrame(
        {
            "ts": list(ts) * 2,
            "user": ["a"] * 400 + ["b"] * 400,
            "v": rng.normal(size=800),
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(5)
    # keyed: per-key pandas parity
    out = ewma(sdf, "v", 0.2, ts_col="ts", key_cols=["user"]).toPandas()
    for u in ("a", "b"):
        got = out[out["user"] == u].sort_values("ts")["v_ewma"].to_numpy()
        exp = (
            pdf[pdf["user"] == u].sort_values("ts")["v"]
            .ewm(alpha=0.2, adjust=True).mean().to_numpy()
        )
        assert np.max(np.abs(got - exp)) < 1e-12
    # unkeyed: single logical series through the distributed scan
    single = pdf[pdf["user"] == "a"][["ts", "v"]]
    sout = (
        ewma(spark.createDataFrame(single).repartition(4), "v", 0.2, ts_col="ts")
        .orderBy("ts").toPandas()
    )
    exp = single.sort_values("ts")["v"].ewm(alpha=0.2, adjust=True).mean().to_numpy()
    assert np.max(np.abs(sout["v_ewma"].to_numpy() - exp)) < 1e-12


def test_halo_stitch_matches_single_group(spark):
    """Unkeyed order-dependent-but-local funcs via the overlap-stitch
    halo path: bit-identical to the single-group path for a lookback
    func (diff), a lookahead func (lead-diff), and a centered rolling
    mean — and the plan carries no single-partition exchange."""
    from tsflex_spark import SeriesPipeline, SeriesProcessor
    from tsflex_spark.utils.plans import scale_report

    rng = np.random.default_rng(3)
    ts = pd.date_range("2024-01-01", periods=5000, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": rng.normal(size=5000)})
    sdf = spark.createDataFrame(pdf).repartition(8)

    def diff_series(v: pd.Series) -> pd.Series:
        return pd.Series(v.to_numpy(), index=v.index, name="d").diff()

    def lead_diff(v: pd.Series) -> pd.Series:
        a = v.to_numpy()
        return pd.Series(np.append(a[1:] - a[:-1], np.nan), index=v.index, name="ld")

    def center_mean5(v: pd.Series) -> pd.Series:
        s = pd.Series(v.to_numpy(), index=v.index, name="cm")
        return s.rolling(5, center=True, min_periods=1).mean()

    procs = [
        SeriesProcessor(diff_series, "v", input_type="pandas", halo_rows=(1, 0)),
        SeriesProcessor(lead_diff, "v", input_type="pandas", halo_rows=(0, 1)),
        SeriesProcessor(center_mean5, "v", input_type="pandas", halo_rows=(2, 2)),
    ]
    halo = SeriesPipeline(procs).process(sdf, ts_col="ts")
    rep = scale_report(halo)
    assert rep["findings"] == [], rep["findings"]

    single = SeriesPipeline(
        [
            SeriesProcessor(diff_series, "v", input_type="pandas"),
            SeriesProcessor(lead_diff, "v", input_type="pandas"),
            SeriesProcessor(center_mean5, "v", input_type="pandas"),
        ]
    ).process(sdf, ts_col="ts")

    a = halo.orderBy("ts").toPandas()
    b = single.orderBy("ts").toPandas()
    # diffs are exact float subtractions — bit-equal regardless of where
    # the halo chunks start
    for c in ("d", "ld"):
        assert np.array_equal(
            a[c].to_numpy(), b[c].to_numpy(), equal_nan=True
        ), c
    # pandas rolling.mean keeps a sliding-sum accumulator whose roundoff
    # depends on where accumulation STARTED — chunked (halo) and global
    # runs legitimately differ in the last ulps, so the stitch contract
    # for it is value-equality up to float association, not bit equality
    av, bv = a["cm"].to_numpy(), b["cm"].to_numpy()
    assert np.isnan(av).tolist() == np.isnan(bv).tolist()
    assert np.allclose(av, bv, rtol=1e-9, atol=1e-12, equal_nan=True)


def test_halo_stitch_insufficient_radius_detectable(spark):
    """halo_rows is a CONTRACT: a 2-back dependence with halo_rows=(1, 0)
    diverges from the single-group answer near partition edges — the
    caller owns the radius."""
    from tsflex_spark import SeriesPipeline, SeriesProcessor

    ts = pd.date_range("2024-01-01", periods=2000, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(2000.0)})
    sdf = spark.createDataFrame(pdf).repartition(8)

    def diff2(v: pd.Series) -> pd.Series:
        return pd.Series(v.to_numpy(), index=v.index, name="d2").diff(2)

    ok = SeriesPipeline(
        [SeriesProcessor(diff2, "v", input_type="pandas", halo_rows=(2, 0))]
    ).process(sdf, ts_col="ts").orderBy("ts").toPandas()
    exp = pdf["v"].diff(2).to_numpy()
    assert np.array_equal(ok["d2"].to_numpy(), exp, equal_nan=True)


@pytest.mark.parametrize("n", [3, 5, 9, 12])
def test_halo_stitch_exact_on_short_partitions(spark, n):
    """The halo_rows radius holds for any partition sizes: with 8 range
    partitions over a few rows most partitions hold 0-2 rows, so a
    2-row halo must be gathered across SEVERAL earlier/later partitions,
    not copied from the adjacent one only."""
    from tsflex_spark import SeriesPipeline, SeriesProcessor

    ts = pd.date_range("2024-01-01", periods=n, freq="1s")
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(n, dtype="float64") ** 2})
    sdf = spark.createDataFrame(pdf)

    def back2(v: pd.Series) -> pd.Series:
        return pd.Series(v.to_numpy(), index=v.index, name="d").diff(2)

    def ahead2(v: pd.Series) -> pd.Series:
        return pd.Series(v.to_numpy(), index=v.index, name="d").diff(-2)

    for fn, halo in ((back2, (2, 0)), (ahead2, (0, 2))):
        got = (
            SeriesPipeline([SeriesProcessor(fn, "v", input_type="pandas", halo_rows=halo)])
            .process(sdf, ts_col="ts")
            .orderBy("ts")
            .toPandas()
        )
        exp = fn(pdf.set_index("ts")["v"]).to_numpy()
        assert np.array_equal(got["d"].to_numpy(), exp, equal_nan=True), (
            halo, got["d"].tolist(), exp.tolist()
        )


def test_column_tier_pipeline_runs_on_stream(spark, tmp_path):
    """Column-tier SeriesProcessors compile to narrow codegen projections,
    so a SeriesPipeline must run UNCHANGED on a Structured Stream and
    match the batch result row-for-row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tsflex_spark.processing.series_pipeline import SeriesPipeline
    from tsflex_spark.processing.series_processor import SeriesProcessor

    rng = np.random.default_rng(21)
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=200, freq="1s"),
            "v": rng.normal(10, 2, 200).round(3),
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf.iloc[:100]).coalesce(1).write.parquet(src)
    spark.createDataFrame(pdf.iloc[100:]).coalesce(1).write.parquet(src, mode="append")

    pipe = SeriesPipeline(
        [
            SeriesProcessor(lambda c: {"v_abs": F.abs(c)}, "v", input_type="column"),
            SeriesProcessor(
                lambda c: {"v_scaled": c * 2.0 + 1.0}, "v_abs", input_type="column"
            ),
        ]
    )
    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = pipe.process(stream, ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("proc_sink")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.table("proc_sink").toPandas().sort_values("ts").reset_index(drop=True)
    exp = (
        pipe.process(spark.createDataFrame(pdf), ts_col="ts")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(exp.columns)
    for c in exp.columns:
        assert got[c].equals(exp[c]), c


def test_resample_interpolate_fuzz(spark):
    """Hypothesis fuzz: resample_interpolate vs numpy.interp over random
    irregular keyed integer timelines and periods — grid [t0..t1] step
    period (origin-aligned when given), exact at samples, linear between."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsflex_spark.processing.resample import resample_interpolate

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        t_set=st.sets(st.integers(0, 300), min_size=2, max_size=25),
        period=st.integers(1, 17),
        nkeys=st.integers(1, 3),
        origin=st.sampled_from([None, 0, 7]),
    )
    def prop(t_set, period, nkeys, origin):
        ts = np.array(sorted(t_set), dtype=np.int64)
        rows = []
        for k in range(nkeys):
            vals = ((ts * (k + 3)) % 13).astype(float)
            rows.append(pd.DataFrame({"k": k, "ts": ts, "v": vals}))
        pdf = pd.concat(rows, ignore_index=True)
        out = (
            resample_interpolate(
                spark.createDataFrame(pdf),
                ts_col="ts",
                value_col="v",
                period=period,
                key_cols=["k"],
                origin=origin,
            )
            .toPandas()
            .sort_values(["k", "ts"])
            .reset_index(drop=True)
        )
        for k in range(nkeys):
            t0, t1 = ts[0], ts[-1]
            if origin is not None:
                start = origin + int(np.ceil((t0 - origin) / period)) * period
            else:
                start = t0
            grid = np.arange(start, t1 + 1, period)
            vals = ((ts * (k + 3)) % 13).astype(float)
            exp = np.interp(grid, ts, vals)
            got = out[out["k"] == k]
            assert list(got["ts"]) == list(grid), (k, list(got["ts"]), list(grid))
            assert np.allclose(got["v"].to_numpy(), exp), (k, got["v"].tolist(), exp)

    prop()


def test_short_output_alignment_by_tier(spark):
    """Length-mismatched processor outputs align by the right index per
    tier: numpy-tier Series carry a positional RangeIndex (first n-1
    positions fill, the tail is NULL); pandas-tier ts-labeled outputs
    align on timestamps (the DROPPED row's slot is NULL); duplicate ts
    labels surviving a row-dropper keep the first value instead of
    raising inside the Arrow worker."""
    ts = pd.date_range("2024-05-01", periods=6, freq="s")
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(6, dtype="float64")})

    def head_np(v):  # numpy tier: bare array in, RangeIndex Series out
        return pd.Series(v[:-1], name="v_head")

    out = (
        SeriesPipeline([SeriesProcessor(head_np, "v", input_type="numpy")])
        .process(spark.createDataFrame(pdf), ts_col="ts")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert np.allclose(out["v_head"][:5], np.arange(5.0))
    assert np.isnan(out["v_head"].iloc[5])

    def drop_third(v):  # pandas tier: ts-labeled, drops ts[2]
        return v.drop(v.index[2]).rename("v_kept")

    out2 = (
        SeriesPipeline([SeriesProcessor(drop_third, "v", input_type="pandas")])
        .process(spark.createDataFrame(pdf), ts_col="ts")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert np.isnan(out2["v_kept"].iloc[2])
    kept = out2["v_kept"].drop(index=2)
    assert np.allclose(kept, [0.0, 1.0, 3.0, 4.0, 5.0])

    # duplicate input timestamps + a row-dropper: keep-first, no raise
    ts3 = pd.to_datetime(
        ["2024-05-01 00:00:00", "2024-05-01 00:00:00", "2024-05-01 00:00:02"]
    )
    pdf3 = pd.DataFrame({"ts": ts3, "v": [1.0, 2.0, 3.0]})

    def drop_last(v):
        return v.iloc[:-1].rename("v_dup")

    out3 = (
        SeriesPipeline([SeriesProcessor(drop_last, "v", input_type="pandas")])
        .process(spark.createDataFrame(pdf3), ts_col="ts")
        .toPandas()
        .sort_values(["ts", "v"])
        .reset_index(drop=True)
    )
    assert len(out3) == 3
    # both rows at the duplicate instant take the FIRST value kept there
    assert list(out3["v_dup"][:2]) == [1.0, 1.0]
    assert np.isnan(out3["v_dup"].iloc[2])


def test_resample_origin_start_past_span(spark):
    """Origin-aligned grid start beyond the key's last sample: the key's
    grid is legitimately empty — must yield zero rows, not a Spark
    sequence() error (hypothesis-found: period 3, origin 0, span [1,2])."""
    from tsflex_spark.processing.resample import resample_interpolate

    pdf = pd.DataFrame({"k": [0, 0], "ts": [1, 2], "v": [1.0, 2.0]})
    out = resample_interpolate(
        spark.createDataFrame(pdf), ts_col="ts", value_col="v",
        period=3, key_cols=["k"], origin=0,
    ).toPandas()
    assert len(out) == 0
    # mixed spans: one key empty, one key populated
    pdf2 = pd.DataFrame(
        {"k": [0, 0, 1, 1], "ts": [1, 2, 0, 6], "v": [1.0, 2.0, 0.0, 6.0]}
    )
    out2 = resample_interpolate(
        spark.createDataFrame(pdf2), ts_col="ts", value_col="v",
        period=3, key_cols=["k"], origin=0,
    ).toPandas().sort_values("ts")
    assert list(out2["k"]) == [1, 1, 1]
    assert list(out2["ts"]) == [0, 3, 6]
    assert list(out2["v"]) == [0.0, 3.0, 6.0]
