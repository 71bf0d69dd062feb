"""Physical-plan shape guards — the 100 TB story as regression tests.

These assert the *plan*, not the result: filters reach the parquet scan,
small dimensions broadcast, top-k never global-sorts, global-order ops
range-partition instead of collapsing to one partition, and duplicated
subtrees reuse one exchange. A refactor that silently breaks one of
these still returns correct rows at test scale — and falls over at
cluster scale; this file is what catches it.
"""

import contextlib
import io

import pandas as pd
import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    """TPC-H Q6-style predicates must land in PushedFilters of the scan."""
    import __spark_entry__ as E

    # the Q6 leg rides inside the fused tpch_q1 gate (50-entry board cap)
    plan = plan_of(E.q_tpch_q6(spark, SF_DIR))
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert any("l_shipdate" in ln for ln in pushed), pushed
    # column pruning: the scan must not read all 16 lineitem columns
    schema = [ln for ln in plan.splitlines() if "ReadSchema:" in ln]
    assert schema and "l_comment" not in schema[0]


def test_small_dims_broadcast(spark):
    """Star join: every dimension side must hash-broadcast, the fact table
    must not be globally sorted for a SortMergeJoin."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["revenue_per_nation"](spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan


def test_topk_never_global_sorts(spark):
    """cosine_topk compiles to TakeOrderedAndProject (per-partition heap +
    driver merge), not Sort + Limit over the whole corpus — and carries NO
    interpreted higher-order-function lambda (the brute/pca legs ride the
    knn_join BLAS kernel; HOF zip_with/aggregate measured ~20x slower)."""
    import __spark_entry__ as E

    from tsflex_spark.utils.plans import scale_report

    df = E.queries()["cosine_topk"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "TakeOrderedAndProject" in plan
    rep = scale_report(df)
    assert not any("higher-order" in w for w in rep["warnings"]), rep["warnings"]
    assert rep["findings"] == [], rep["findings"]


def test_global_order_ops_range_partition(spark):
    """Unkeyed gaps-and-islands must range-partition (distributed two-pass
    scheme), never an empty-partition-spec window that drains to one task."""
    from tsflex_spark.chunking import chunk_data

    ts = pd.date_range("2024-01-01", periods=64, freq="1s")
    df = spark.createDataFrame(pd.DataFrame({"ts": ts, "v": 1.0}))
    out = chunk_data(df, ts_col="ts", max_gap="10s")
    plan = plan_of(out, "simple").lower()
    # the range exchange sits BEHIND the eager consumer-stable pid
    # checkpoint (distributed._ranged): the visible plan scans the ONE
    # materialized range-partitioned RDD, every window is keyed on the
    # frozen __gpid (never an empty partition spec that would drain to a
    # single task), and no consumer re-range-partitions on its own
    # (the only rangepartitioning left in the visible plan is the final
    # orderBy(chunk_id) on the tiny result — the heavy per-row windows
    # all run keyed on the frozen pid)
    assert "existingrdd" in plan or "rangepartitioning" in plan, plan
    w_lines = [ln for ln in plan.splitlines() if "window" in ln]
    assert w_lines and all("__gpid" in ln for ln in w_lines), plan
    assert out.count() == 1  # 1s cadence, 10s max_gap -> one island


def test_rolling_native_tier_stays_in_codegen(spark):
    """Native-tier rolling aggregation: whole-stage codegen spans exist and
    no Python evaluation node appears anywhere in the plan."""
    import __spark_entry__ as E

    df = E.queries()["rolling_stats"](spark, SF_DIR)
    df.collect()  # AQE: codegen spans only render in the final plan
    plan = plan_of(df, "simple")
    assert "*(" in plan  # WholeStageCodegen spans render as *(n) in simple mode
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, marker


def test_streaming_plan_is_incremental(spark):
    """The streaming helper must produce an unresolved *streaming* plan on
    a readStream source (watermark + stateful aggregate), proving the same
    declaration runs incrementally."""
    from tsflex_spark.streaming.rolling import rolling_features_stream

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .select(F.col("timestamp").alias("ts"), F.col("value").cast("double").alias("value"))
    )
    out = rolling_features_stream(src, {"value": ["sum"]}, window="1 minute", watermark="2 minutes")
    assert out.isStreaming


def test_partitioned_sink_prunes_on_read(spark, tmp_path):
    """write_partitioned + a ds filter on read-back must prune partitions
    at the scan (PartitionFilters), not post-filter rows."""
    import pandas as pd

    from tsflex_spark.sources.io import write_partitioned

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=96, freq="1h"),
            "feat": range(96),
        }
    )
    path = str(tmp_path / "features")
    write_partitioned(spark.createDataFrame(pdf), path)
    back = spark.read.parquet(path).where(F.col("ds") == "2024-01-02")
    plan = plan_of(back)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "2024-01-02" in pf[0], plan
    assert back.count() == 24


def test_input_dtype_preservation(spark):
    """Reference matrix 'input datatype preservation': min/max/first/last
    keep the input column type (int stays int, float32 stays float32)."""
    import pandas as pd

    import __spark_entry__  # noqa: F401  (env check only)
    from tsflex_spark import FeatureCollection, FeatureDescriptor

    df = spark.createDataFrame(
        pd.DataFrame({"pos": range(10), "iv": range(10)})
    ).select("pos", F.col("iv").cast("int").alias("iv"), F.col("iv").cast("float").alias("fv"))
    fc = FeatureCollection(
        [
            FeatureDescriptor("min", "iv", 5, 5),
            FeatureDescriptor("max", "fv", 5, 5),
        ]
    )
    out = fc.calculate(df, ts_col="pos")
    types = dict(out.dtypes)
    assert types["iv__min__w=5"] == "int"
    assert types["fv__max__w=5"] == "float"


def test_udf_tier_single_arrow_pass_per_config(spark):
    """Two UDF-tier descriptors sharing one (window, stride) config must
    compile to exactly ONE grouped Arrow pass (the reference runs one
    process per function; here all of a config's functions share a pass)."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["udf_features"](spark, SF_DIR), "simple")
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_fine_stride_takes_two_level_plan(spark):
    """sliding_fine_stride (fan-out 24) must compile through the bucket
    summary — the __bkt partial-aggregate key appears in the plan and the
    raw data is never exploded per segment."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["sliding_fine_stride"](spark, SF_DIR), "simple")
    assert "__bkt" in plan, plan[:2000]


def test_multi_config_calculate_one_bucket_summary(spark):
    """A keyed calculate over windows 1m/5m/15m x strides 30s+1m plus a
    count window plans ONE ``__bkt`` partial aggregation for all three
    time configs (one scan, one shuffle of bucket partials), merges the
    count config by union + one groupBy — never a FullOuter join chain —
    and stays at <= 30 exchanges (58 when every config scanned and
    shuffled on its own)."""
    import numpy as np

    from tsflex_spark import FeatureCollection, FeatureDescriptor, MultipleFeatureDescriptors
    from tsflex_spark.utils.plans import scale_report

    rng = np.random.default_rng(3)
    n = 2 * 3600
    pdf = pd.DataFrame(
        {
            "rec": np.repeat([0, 1], n // 2),
            "ts": np.tile(pd.date_range("2024-01-01", periods=n // 2, freq="1s"), 2),
            "acc": rng.normal(0, 1, n),
            "hr": rng.normal(70, 5, n),
        }
    )
    fc = FeatureCollection(
        [
            MultipleFeatureDescriptors(
                ["mean", "std", "min", "max", "sum", "count"], ["acc", "hr"],
                ["1m", "5m", "15m"], ["30s", "1m"],
            ),
            FeatureDescriptor("sum", "hr", 240, 120),
        ]
    )
    out = fc.calculate(spark.createDataFrame(pdf), ts_col="ts", key_cols=["rec"],
                       approve_sparsity=True)
    plan = plan_of(out, "simple")
    bucket_partials = [
        ln for ln in plan.splitlines()
        if "HashAggregate" in ln and "__bkt" in ln and "partial_" in ln
    ]
    assert len(bucket_partials) == 1, bucket_partials
    assert "FullOuter" not in plan
    stats = dict(x.split("=", 1) for x in scale_report(out)["stats"])
    assert int(stats["exchanges"]) <= 30, stats
    assert len(out.columns) == 2 + 6 * 2 * 3 + 1


def test_window_paths_merge_tiers_without_full_outer_join(spark):
    """Every window path computes its segment features in one shared
    step: a native and a UDF function plan one native groupBy and ONE
    Arrow pass, merged by union + groupBy — never a FullOuter join. A
    count window runs the grid path in position space without a spine
    (no ``__blk`` explode)."""
    import numpy as np

    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper

    ts = pd.date_range("2024-01-01", periods=40, freq="1s")
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": np.repeat([0, 1], 20),
                "ts": np.tile(ts[:20], 2),
                "g": np.tile(["x", "x", "y", "y"], 10),
                "v": np.arange(40.0),
            }
        )
    )

    def fc(window, stride):
        # median: holistic, so the grid config takes the one-level path
        return FeatureCollection(
            [
                FeatureDescriptor("median", "v", window, stride),
                FeatureDescriptor(FuncWrapper(np.ptp, output_names="ptp"), "v", window, stride),
            ]
        )

    kw = dict(key_cols=["k"], approve_sparsity=True)
    outs = {
        "grid": fc("6s", "3s").calculate(df, **kw),
        "count": fc(6, 3).calculate(df, **kw),
        "manual": fc("6s", "3s").calculate(
            df, segment_start_idxs=ts[:20:5], segment_end_idxs=ts[4:20:5], **kw
        ),
        "group_by_all": fc("6s", "3s").calculate(df, group_by_all="k"),
        "group_by_consecutive": fc("6s", "3s").calculate(
            df, group_by_consecutive="g", **kw
        ),
    }
    for path, out in outs.items():
        plan = plan_of(out, "simple")
        assert "FullOuter" not in plan, (path, plan)
        assert plan.count("FlatMapGroupsInPandas") == 1, (path, plan)
        assert out.count() > 0, path
    assert "__blk" not in plan_of(outs["count"], "simple")


def test_manual_segments_bucketed_equi_join(spark):
    """User-supplied segments must join via bucketed hash equi-joins —
    never a BroadcastNestedLoopJoin on the raw range predicate."""
    import __spark_entry__ as E

    plan = plan_of(E.queries()["manual_segments"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables written with write_bucketed on the join key must
    sort-merge join with NO Exchange on either side — the co-located-join
    layout the 100 TB design prescribes for repeated fact-fact joins."""
    import numpy as np

    from tsflex_spark.sources.io import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        a = spark.createDataFrame(
            pd.DataFrame({"k": np.arange(1000) % 97, "va": np.arange(1000.0)})
        )
        b = spark.createDataFrame(
            pd.DataFrame({"k": np.arange(500) % 97, "vb": np.arange(500.0)})
        )
        write_bucketed(a, "t_bkt_a", ["k"], n_buckets=8, sort_cols=["k"])
        write_bucketed(b, "t_bkt_b", ["k"], n_buckets=8, sort_cols=["k"])
        ta, tb = spark.table("t_bkt_a"), spark.table("t_bkt_b")
        joined = ta.join(tb, on="k")
        plan = plan_of(joined, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # bucket layout satisfies both sides
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_unkeyed_asof_range_partitions(spark):
    """The unkeyed as-of join must range-partition (distributed carry),
    not collapse into an empty-partition-spec window."""
    import pandas as pd

    from tsflex_spark.relational import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=64, freq="1s"), "l": 1})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=32, freq="2s"), "rv": 1.0})
    )
    out = asof_join(left, right, on="ts", value_cols=["rv"])
    plan = plan_of(out, "simple").lower()
    # the range exchange itself now sits BEHIND the consumer-stable pid
    # materialization (utils/distributed._ranged: lazy persist freezing
    # spark_partition_id across plan branches), so the visible plan is a
    # cache scan + a window partitioned by the frozen pid — assert
    # the window is keyed on __gpid (never an empty partition spec) and
    # the input is the materialized range-partitioned frame
    assert "scan existingrdd" in plan or "inmemorytablescan" in plan, plan
    assert "__gpid" in plan, plan
    w_lines = [ln for ln in plan.splitlines() if "window" in ln]
    assert w_lines and all("__gpid" in ln for ln in w_lines), plan
    assert out.count() == 64


def test_knn_join_corpus_never_shuffles(spark):
    """knn_join's corpus side must be a map-only scan: no Exchange between
    the corpus relation and the MapInPandas partial top-k; the only
    exchange is the tiny per-query partial reduction."""
    from tsflex_spark.datapipe.similarity import knn_join

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    plan = plan_of(knn_join(emb.where(F.col("vec_id") > 2), queries, k=3))
    # the MapInPandas node consumes the scan directly (project/filter in
    # between are fine; an exchange is not)
    lines = plan.splitlines()
    map_idx = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    scan_idx = [i for i, ln in enumerate(lines) if "Scan parquet" in ln]
    assert map_idx and scan_idx
    between = "\n".join(lines[min(map_idx): max(scan_idx) + 1])
    assert "Exchange" not in between, between


def test_repetition_stats_partial_aggregates(spark):
    """The gram count must partial-aggregate map-side (HashAggregate
    partial before the exchange) and shuffle hashed keys, not gram
    strings."""
    from tsflex_spark.datapipe.text import repetition_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(repetition_stats(docs, "text", "doc_id"), "extended")
    assert "xxhash64" in plan  # hashed shuffle key
    phys = plan.split("== Physical Plan ==")[-1]
    assert "partial_count" in phys or "partial" in phys, phys[:2000]


def test_connected_components_no_cartesian(spark):
    """Every CC round is groupBy/join on edge endpoints — no
    BroadcastNestedLoopJoin / CartesianProduct may appear."""
    from tsflex_spark.datapipe.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    out = connected_components(pairs, max_iter=8, driver_threshold=None)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_all_gates_no_single_partition_exchange(spark):
    """Sweep EVERY gate query's physical plan: no Exchange SinglePartition
    anywhere (the one-task scale-killer), and CartesianProduct never
    appears. BroadcastNestedLoopJoin is permitted ONLY because every
    instance in this codebase is a crossJoin against a one-row bounds/
    query aggregate (verified in review); new unbounded BNLJs should be
    caught by the per-operator tests above."""
    import __spark_entry__ as E

    offenders = {}
    for name, fn in E.queries().items():
        df = fn(spark, SF_DIR)
        plan = plan_of(df)
        flags = []
        if "Exchange SinglePartition" in plan:
            flags.append("single-partition exchange")
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_semantic_pairs_one_shuffle(spark):
    """semantic_pairs is one hash shuffle on the cell key feeding one
    Arrow stage — no join, no cartesian, no second exchange (the within-
    cell GEMM is the only quadratic work, bounded by cell size)."""
    from tsflex_spark.datapipe.dedup import semantic_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "cell", F.col("label")
    )
    plan = plan_of(semantic_pairs(emb, 0.9, cell_col="cell"), mode="simple")
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(c" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan


def test_classifier_scorer_stays_in_codegen(spark):
    """score_quality's corpus path: no Python UDF anywhere — the weight
    lookup is element_at on a literal array, the reduction one hash
    aggregate."""
    from tsflex_spark.datapipe.classifier import QualityClassifier, score_quality

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    clf = QualityClassifier(weights=[0.1] * 64, intercept=0.0, dim=64, ngram=3)
    plan = plan_of(score_quality(docs, clf, "text", "doc_id"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_salted_join_joins_on_salt(spark):
    """The physical join keys must include the salt column (that IS the
    skew split) and the plan must stay an equi-join (no BNLJ)."""
    from tsflex_spark.utils.skew import salted_join

    big = spark.range(1000).select((F.col("id") % 5).alias("k"), "id")
    small = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    plan = plan_of(salted_join(big, small, on=["k"], buckets=8))
    assert "__salt" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_m4_single_aggregate_no_window(spark):
    """M4 is one groupBy — never a WindowExec (which would re-sort per
    bin) and never a second scan-join to recover anchor partners."""
    from tsflex_spark.processing.downsample import m4
    from tsflex_spark.sources.io import read_events

    ev = read_events(spark, SF_DIR).select("ts", "value")
    plan = plan_of(m4(ev, "ts", "value", 100))
    assert "Window" not in plan
    # bounds broadcast + one agg; exactly one hash shuffle for the groupBy
    assert plan.count("hashpartitioning(") <= 2  # partial+final agg exchange args


def test_minmax_preselect_bounds_arrow_group(spark):
    """MinMaxLTTB: the Arrow LTTB stage consumes the PRESELECTED frame
    (FlatMapGroupsInPandas sits above the min/max aggregate, not above
    the raw scan)."""
    from tsflex_spark.processing.downsample import lttb
    from tsflex_spark.sources.io import read_events

    ev = read_events(spark, SF_DIR).select("ts", "value")
    plan = plan_of(lttb(ev, "ts", "value", 100, ratio=4), "extended")
    # logical plan ordering: the pandas group must reference the
    # aggregated (preselect) subtree
    i_arrow = plan.find("FlatMapGroupsInPandas")
    i_agg = plan.find("Aggregate")
    assert i_arrow != -1 and i_agg != -1


def test_anomaly_zscore_single_window_exchange(spark):
    from tsflex_spark.processing.anomaly import anomaly_zscore
    from tsflex_spark.sources.io import read_events

    ev = read_events(spark, SF_DIR).select("ts", "user_id", "value")
    plan = plan_of(anomaly_zscore(ev, "ts", "value", "5 minutes", ["user_id"]))
    # all three aggregates share ONE window frame → one Window node,
    # one exchange (formatted mode lists nodes as "(n) Name")
    assert plan.count(") Window") == 1
    assert plan.count(") Exchange") == 1


def test_feature_drift_rows_never_shuffle(spark):
    """Drift histograms are global aggregates: partial_ aggregation on
    the scan side, exchange carries one row per partition."""
    from tsflex_spark.sources.io import read_events

    ev = read_events(spark, SF_DIR).select("value")
    # reproduce the internal histogram agg shape
    aggs = [F.sum(F.when(F.col("value") > i, 1).otherwise(0)).alias(f"b{i}") for i in range(10)]
    plan = plan_of(ev.agg(*aggs))
    assert "SinglePartition" in plan  # final combine of the partials
    assert "partial" in plan.lower()  # map-side combine happened


def test_dedup_store_membership_is_equi_join(spark, tmp_path):
    from tsflex_spark.datapipe.dedup import dedup_against_store

    docs = spark.createDataFrame(
        [(1, "some document text for the store layout plan test " * 3)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    dedup_against_store(docs, store, "text", "doc_id")
    nxt = spark.createDataFrame(
        [(2, "another document entirely different content here " * 3)],
        "doc_id long, text string",
    )
    out = dedup_against_store(nxt, store, "text", "doc_id", update_store=False)
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_cusum_single_window_exchange(spark):
    """Both CUSUM sides (4 frame aggregates over one cumulative frame)
    must share one Window exchange — no per-derived-column re-windows."""
    from tsflex_spark.processing.anomaly import cusum
    from tsflex_spark.sources.io import read_events

    ev = read_events(spark, SF_DIR).select("ts", "user_id", "value")
    plan = plan_of(cusum(ev, "ts", "value", ["user_id"], target=0.0, sigma=1.0))
    assert plan.count(") Exchange") == 1
    assert plan.count(") Window") <= 2  # sums, then mins/maxs over them


def test_temperature_mix_corpus_never_shuffles(spark):
    """The corpus side of temperature_mix joins a broadcast fraction table:
    no exchange may sit above the corpus scan."""
    from tsflex_spark.datapipe.curation import temperature_mix

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(temperature_mix(docs, "source", "doc_id", alpha=0.5), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_filter_lines_is_narrow(spark):
    """Line filtering is split→filter→array_join: one row in, one row out,
    zero exchanges."""
    from tsflex_spark.datapipe.text import filter_lines

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(filter_lines(docs, "text", min_chars=3, dropped_col="nd"), "simple")
    assert "Exchange" not in plan


def test_domain_filter_broadcast_anti_join(spark):
    """A DataFrame blocklist must plan as a broadcast anti join — the
    corpus never shuffles for a million-domain list."""
    from tsflex_spark.datapipe.text import domain_filter

    urls = spark.createDataFrame(
        [(i, f"https://site{i % 7}.com/x") for i in range(100)], "id long, url string"
    )
    bl = spark.createDataFrame([("site1.com",), ("site2.com",)], "domain string")
    plan = plan_of(domain_filter(urls, "url", blocklist=bl), "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_corpus_range_partitions(spark):
    """The epoch shuffle is a range-partitioned sort (parallel), never a
    single-partition collapse."""
    from tsflex_spark.datapipe.curation import shuffle_corpus
    from tsflex_spark.utils.plans import scale_report

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = shuffle_corpus(docs, "doc_id", seed=3)
    plan = plan_of(out, "simple")
    assert "rangepartitioning" in plan.lower(), plan
    rep = scale_report(out)
    assert not rep.get("single_partition_exchange"), rep


def test_interval_join_no_bnlj(spark):
    """Interval-overlap join plans as a granule-bucketed equi-join, never
    BroadcastNestedLoop/cartesian."""
    from tsflex_spark.relational import interval_join

    l = spark.range(1000).select(
        F.lit("k").alias("k"), F.col("id").alias("lid"),
        (F.col("id") * 10).alias("start"), (F.col("id") * 10 + 25).alias("end"),
    )
    r = spark.range(1000).select(
        F.lit("k").alias("k"), F.col("id").alias("rid"),
        (F.col("id") * 10 + 5).alias("start"), (F.col("id") * 10 + 20).alias("end"),
    )
    plan = plan_of(interval_join(l, r, by=["k"], granule=25), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_new_text_ops_plan_shapes(spark):
    """Session additions hold the plan contracts: html_to_text is a pure
    narrow chain (zero exchanges), top_ngrams partial-aggregates before
    its single hash exchange + TakeOrdered (no global sort), and
    materialize_packed is one bin-keyed exchange."""
    from tsflex_spark.datapipe.text import (
        html_to_text,
        materialize_packed,
        top_ngrams,
    )

    docs = spark.createDataFrame(
        [(i, f"some words repeated words {i}") for i in range(50)],
        "doc_id long, text string",
    )
    p = plan_of(html_to_text(docs.withColumnRenamed("text", "page"), "page"))
    assert "Exchange" not in p and "BatchEvalPython" not in p

    p = plan_of(top_ngrams(docs, n=2, k=5, id_col="doc_id"))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert "partial" in p  # map-side combine before the shuffle
    assert "TakeOrdered" in p  # top-k heap, never a global Sort

    packed = spark.createDataFrame(
        [(1, 0, [1, 2]), (2, 0, [3]), (3, 1, [4, 5])],
        "doc_id long, bin_id long, ids array<int>",
    )
    p = plan_of(materialize_packed(packed, "ids", seq_len=8, eos_id=9))
    assert p.count("Exchange") <= 2 and "CartesianProduct" not in p


def test_leakage_safe_split_and_kn_no_hazards(spark):
    """leakage_safe_split joins the corpus against the bounded label
    table (equi-join only); KN scoring is left-joins + one aggregate —
    no cartesian, no row-at-a-time Python anywhere."""
    from tsflex_spark.datapipe.curation import leakage_safe_split
    from tsflex_spark.datapipe.lm import score_perplexity_kn, train_kn_lm

    docs = spark.createDataFrame(
        [(i, "w%d x y z the end of line %d" % (i % 7, i)) for i in range(60)],
        "doc_id long, text string",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1)], "node long, component long"
    )
    p = plan_of(
        leakage_safe_split(docs, "doc_id", [0.8, 0.2], names=("a", "b"),
                           cluster_labels=labels)
    )
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p

    model = train_kn_lm(docs, "text", order=3)
    p = plan_of(score_perplexity_kn(docs, model, "text", broadcast_model=True))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    # broadcast_model hints every model join
    assert "BroadcastHashJoin" in p


def test_vectorized_tier_single_bucket_exchange(spark):
    """A pure vectorized-UDF config (spectral + DTW + shape over one
    series) compiles to ONE bucket-hash exchange feeding ONE Arrow
    FlatMapGroupsInPandas — no per-feature stages, no extra shuffles,
    no BroadcastNestedLoop."""
    import numpy as np
    import pandas as pd

    from tsflex_spark import FeatureCollection, FeatureDescriptor
    from tsflex_spark.features.dtw import dtw_to_template
    from tsflex_spark.features.shape import number_peaks
    from tsflex_spark.features.spectral import spectral_stats

    ts = pd.date_range("2024-01-01", periods=256, freq="1s")
    df = spark.createDataFrame(
        pd.DataFrame({"ts": ts, "v": np.sin(np.arange(256) * 0.1)})
    )
    fc = FeatureCollection(
        [
            FeatureDescriptor(spectral_stats(fs=1.0), "v", "32s", "16s"),
            FeatureDescriptor(dtw_to_template(np.sin(np.linspace(0, 6, 16))), "v", "32s", "16s"),
            FeatureDescriptor(number_peaks(2), "v", "32s", "16s"),
        ]
    )
    out = fc.calculate(df, ts_col="ts", approve_sparsity=True)
    plan = plan_of(out, "simple")
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    # the only nested-loop join allowed is the benign ONE-ROW bounds
    # broadcast (__start/__end attach) — anything else is a hazard
    for ln in plan.splitlines():
        if "BroadcastNestedLoop" in ln:
            assert "Cross" in ln or "BuildRight" in ln, ln
    assert "__start" in plan and "__end" in plan
    # exchanges: one for the bucket groupBy; the segment spine join adds
    # broadcast-style small-side plumbing but must not reshuffle the data
    # side more than once per side
    assert plan.count("hashpartitioning(__ubkt") == 1, plan
    assert out.count() > 0


def test_point_in_time_join_plan_shape(spark):
    """K-table PIT assembly must stay K keyed window passes — no
    BroadcastNestedLoop/cartesian, no single-partition exchange."""
    import pandas as pd

    from tsflex_spark.relational import point_in_time_join
    from tsflex_spark.utils.plans import scale_report

    ts = pd.date_range("2024-01-01", periods=50, freq="1min")
    lab = spark.createDataFrame(pd.DataFrame({"k": [1, 2] * 25, "ts": ts, "y": 1.0}))
    f1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2] * 10, "ts": ts[:20], "a": 2.0}))
    f2 = spark.createDataFrame(pd.DataFrame({"k": [1, 2] * 5, "ts": ts[:10], "b": 3.0}))
    out = point_in_time_join(lab, {"f1": f1, "f2": f2}, on="ts", by=["k"], strict=True)
    rep = scale_report(out)
    assert rep["findings"] == [], rep["findings"]


def test_char_grams_split_once_per_document(spark):
    """Every char-gram site splits the text into characters once per
    document: the ``split`` sits BELOW the Generate, never in the
    per-gram projection above it."""
    from tsflex_spark.datapipe.classifier import QualityClassifier, score_quality
    from tsflex_spark.datapipe.dedup import shingle_rows
    from tsflex_spark.datapipe.text import hash_embed

    docs = spark.createDataFrame(
        [(1, "Crème brûlée"), (2, "plain ascii text"), (3, None)],
        "doc_id long, text string",
    )
    clf = QualityClassifier(weights=[0.1] * 16, intercept=0.0, dim=16, ngram=3)
    for df in (
        shingle_rows(docs, "text", "doc_id", 3),
        hash_embed(docs, "text", "doc_id", dim=16, ngram=3),
        score_quality(docs, clf, "text", "doc_id"),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        above, sep, below = plan.partition("Generate explode(sequence(1, ")
        assert sep, plan
        assert "split(" not in above and "substr" not in above, plan
        assert "split(lower(regexp_replace(" in below, plan
