"""keyed_fan_out — the shared keyed input fan-out (the shingle_rows
pattern, extracted r11 and reused by repetition_stats and the DSIR
gram pass).

Contract: hash-repartition by the key so a downstream explode +
groupBy(key, ...) chain needs no second exchange over the exploded
table; pin the partition count to the scan's split count when the scan
has MORE splits than defaultParallelism (no task ever amplifies more
than one input split), otherwise leave the bare REPARTITION_BY_COL
form so AQE may coalesce. Values must be partitioning-independent.
"""

from pyspark.sql import functions as F

from tsflex_spark.utils.data import fan_out, keyed_fan_out


def test_pins_to_input_splits_when_wider_than_parallelism(spark):
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(10_000).repartition(par + 8).withColumn("k", F.col("id") % 50)
    out = keyed_fan_out(wide, "k")
    assert out.rdd.getNumPartitions() == par + 8


def test_small_input_uses_bare_keyed_repartition(spark):
    small = spark.range(100).coalesce(1).withColumn("k", F.col("id") % 5)
    out = keyed_fan_out(small, "k")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # bare repartition(col) — AQE-coalescable keyed exchange
    assert "RepartitionByExpression" in plan or "REPARTITION_BY_COL" in plan


def test_values_identical_under_keyed_fan_out(spark):
    # a repetition_stats-shaped chain: explode per key, count per
    # (key, gram), stats per key — must be bit-identical with and
    # without the keyed fan-out
    base = spark.range(200).select(
        F.col("id").alias("k"),
        F.array(
            (F.col("id") % 7).cast("string"),
            (F.col("id") % 3).cast("string"),
            (F.col("id") % 7).cast("string"),
        ).alias("toks"),
    )

    def chain(df):
        g = df.select("k", F.explode("toks").alias("g"))
        per = g.groupBy("k", "g").agg(F.count(F.lit(1)).alias("c"))
        return (
            per.groupBy("k")
            .agg(F.sum("c").alias("tot"), F.max("c").alias("mx"))
            .orderBy("k")
        )

    plain = chain(base).collect()
    fanned = chain(keyed_fan_out(base, "k")).collect()
    assert plain == fanned


def test_repetition_stats_values_unchanged_by_partitioning(spark):
    # the operator this round rekeyed: same rows from a 1-partition and
    # a pre-partitioned input
    from tsflex_spark.datapipe.text import repetition_stats

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("aa bb aa bb line\nrepeat line\nrepeat line\ndoc "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    one = repetition_stats(docs.coalesce(1), "text", "doc_id").orderBy("doc_id").collect()
    many = repetition_stats(docs.repartition(8), "text", "doc_id").orderBy("doc_id").collect()
    assert one == many


def _jobs_launched(spark, group, fn):
    """Run ``fn`` under a fresh job group; the ids of the jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_exchange_input_is_not_probed(spark):
    # an aggregate output: probing its partition count would run the
    # aggregate's shuffle stage at plan-build time under AQE
    agg = (
        spark.range(1000)
        .withColumn("k", F.col("id") % 13)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    par = spark.sparkContext.defaultParallelism
    jobs = _jobs_launched(
        spark,
        "fan_out_exchange_probe",
        lambda: (keyed_fan_out(agg, "k"), fan_out(agg)),
    )
    assert list(jobs) == []
    keyed = keyed_fan_out(agg, "k")._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in keyed
    planned = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert fan_out(agg).rdd.getNumPartitions() == max(par, planned)
    assert sorted(map(tuple, keyed_fan_out(agg, "k").collect())) == sorted(
        map(tuple, agg.collect())
    )


def test_one_split_scan_still_fans_out(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    spark.range(500).withColumn("k", F.col("id") % 7).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    par = spark.sparkContext.defaultParallelism
    jobs = _jobs_launched(
        spark,
        "fan_out_scan_probe",
        lambda: (keyed_fan_out(scan, "k"), fan_out(scan)),
    )
    assert list(jobs) == []
    assert fan_out(scan).rdd.getNumPartitions() == par
    plan = keyed_fan_out(scan, "k")._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan


def test_wide_exchange_input_keeps_its_planned_width(spark):
    # a join output planned wider than defaultParallelism is re-split to
    # its planned width, never narrowed to one partition per core
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(par + 5))
    try:
        left = spark.range(2000).withColumn("k", F.col("id") % 97)
        right = spark.range(97).withColumnRenamed("id", "k")
        joined = left.join(right.hint("shuffle_hash"), "k")
        jobs = _jobs_launched(spark, "fan_out_wide_join", lambda: fan_out(joined))
        assert list(jobs) == []
        assert fan_out(joined).rdd.getNumPartitions() == par + 5
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_force_applied_aqe_scan_is_still_probed(spark):
    # under spark.sql.adaptive.forceApply AQE wraps a plain scan too; the
    # scan has no exchange, so keyed_fan_out still pins to its splits
    par = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.adaptive.forceApply", "true")
    try:
        scan = spark.range(0, 4000, 1, par + 3).withColumn("k", F.col("id") % 7)
        assert scan._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan"
        jobs = _jobs_launched(spark, "fan_out_forced_aqe", lambda: keyed_fan_out(scan, "k"))
        assert list(jobs) == []
        assert keyed_fan_out(scan, "k").rdd.getNumPartitions() == par + 3
    finally:
        spark.conf.unset("spark.sql.adaptive.forceApply")
