"""Data-model utilities: TIME/SEQUENCE domain detection and wide⇄long converters.

Engine-native layout is **wide**: one DataFrame with an index column (``ts``)
plus one column per series. Wide is parquet-columnar-friendly (required-series
pruning == Catalyst column pruning) and lets one groupBy compute every
(series × function) aggregate in a single fused plan. ``NULL`` in a series
column means "this series has no sample at this ts" — exactly the NaN-padding
of the reference's outer-merged wide frame (reference: tsflex/utils/data.py:16-71).

Long format ``(ts, series_name, value)`` is supported at the boundary via the
converters below (reference doc model: docs/pdoc_include/root_documentation.md:56-104).
"""

from __future__ import annotations

from enum import IntEnum
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class DataType(IntEnum):
    """Index-domain of a dataset (reference: tsflex/utils/attribute_parsing.py:14-20)."""

    UNDEFINED = 0
    SEQUENCE = 1
    TIME = 2


def determine_type(df: DataFrame, ts_col: str) -> DataType:
    """Dispatch on the Spark type of the index column.

    TimestampType/DateType → TIME; integral/fractional → SEQUENCE
    (reference dtype-regex dispatch: tsflex/utils/attribute_parsing.py:28-57).
    """
    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return DataType.TIME
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType)):
        return DataType.SEQUENCE
    return DataType.UNDEFINED


def wide_to_long(
    df: DataFrame,
    ts_col: str = "ts",
    series_cols: Sequence[str] | None = None,
    name_col: str = "series_name",
    value_col: str = "value",
) -> DataFrame:
    """Wide → long. Narrow transform (per-row explode), no shuffle.

    NULL cells are dropped — a NULL in wide format means "no sample".
    """
    if series_cols is None:
        series_cols = [c for c in df.columns if c != ts_col]
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias(name_col), F.col(c).cast("double").alias(value_col))
            for c in series_cols
        ]
    )
    out = df.select(F.col(ts_col), F.explode(pairs).alias("_kv")).select(
        ts_col, f"_kv.{name_col}", f"_kv.{value_col}"
    )
    return out.where(F.col(value_col).isNotNull())


def long_to_wide(
    df: DataFrame,
    ts_col: str = "ts",
    name_col: str = "series_name",
    value_col: str = "value",
    series_names: Sequence[str] | None = None,
) -> DataFrame:
    """Long → wide via groupBy(ts).pivot — one shuffle on ts.

    Pass ``series_names`` to skip the distinct-values discovery job
    (a full extra scan at 100 TB).
    """
    g = df.groupBy(ts_col)
    piv = g.pivot(name_col, list(series_names)) if series_names else g.pivot(name_col)
    return piv.agg(F.first(value_col))


def _plans_exchange(plan) -> bool:
    """True when the physical ``plan`` holds an exchange or a subquery;
    executing such a plan runs a job before its first task."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        # AQE wraps plans with an exchange or a subquery, and every plan
        # under spark.sql.adaptive.forceApply: look at its current plan,
        # exchanges included (wrapped in query stages once it has run)
        plan = plan.executedPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        if "QueryStage" in node.nodeName():
            stack.append(node.plan())
            continue
        if "Exchange" in node.nodeName() or not node.subqueries().isEmpty():
            return True
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return False


def _known_partitions(df: DataFrame) -> int | None:
    """``df``'s partition count when it is known without running a job,
    else None.

    An input that plans no exchange (a scan, a checkpoint, a narrow chain
    over them) is probed through the RDD of its own physical plan, which
    runs nothing. An output of ``repartition(n)`` keeps ``n`` (AQE never
    changes a user-fixed count), read from the plan. Any other exchange
    — a join or aggregate output — gives None: probing it would run every
    upstream shuffle stage at plan-build time under AQE, and the real
    action would then run them again.
    """
    qe = df._jdf.queryExecution()
    if not _plans_exchange(qe.executedPlan()):
        return qe.toRdd().getNumPartitions()
    node = qe.optimizedPlan()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    if node.nodeName() == "Repartition" and node.shuffle():
        return node.numPartitions()
    if node.nodeName() == "RepartitionByExpression" and node.optNumPartitions().isDefined():
        return node.optNumPartitions().get()
    return None


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a narrow input before compute-amplifying ops.

    A small parquet file (one row group) scans as ONE partition, so an
    explode/regex-heavy operator downstream runs on one core no matter how
    many the cluster has. When the scan has fewer partitions than
    ``sc.defaultParallelism``, round-robin repartition — the shuffle
    moves only the narrow input (cheap), the amplified work then spreads
    across every core. A 100 TB scan already has thousands of splits and
    passes through untouched.

    An input whose count is unknown without a job (a join or aggregate
    output, see :func:`_known_partitions`) is repartitioned unprobed, to
    at least ``spark.sql.shuffle.partitions`` — the width its own
    exchange plans — so a wide join output is never narrowed to one
    partition per core. That costs one shuffle of the input; probing
    instead would run every upstream shuffle stage at plan-build time
    and again in the real action.
    """
    if df.isStreaming:
        # streams have no static partition count to probe (df.rdd throws);
        # micro-batch sizing is the source's job — pass through untouched
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    n = _known_partitions(df)
    if n is None:
        planned = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return df.repartition(max(target, planned))
    if n < target:
        return df.repartition(target)
    return df


def keyed_fan_out(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition by ``key_col`` before a compute-amplifying,
    KEY-LOCAL chain (explode → aggregate/window keyed by ``key_col``).

    Where :func:`fan_out` round-robins and the downstream aggregation
    then pays its own exchange over the EXPLODED table,
    ``HashPartitioning(key)`` below the explode satisfies every
    clustered distribution whose keys include ``key_col`` — Spark
    inserts NO further exchange for ``groupBy(key, ...)`` /
    ``Window.partitionBy(key)`` chains, so the only shuffle moves the
    narrow whole-row input once (guide §2.3/§2.4; the shingle_rows
    pattern, measured −4.2 GB on the sketch gate's 100× probe).

    Scale-adaptive count, same rule as ``shingle_rows``: when the scan
    has more splits than ``defaultParallelism`` keep the scan's
    granularity (no task explodes more than one input split's worth of
    rows); small inputs keep the bare ``REPARTITION_BY_COL`` form so
    AQE may still coalesce. Skew note: one key = one partition's worth
    of work is the explode's inherent granularity either way. An input
    whose count is unknown without a job (see :func:`_known_partitions`)
    takes the bare form.
    """
    if df.isStreaming:
        return df.repartition(F.col(key_col))
    in_parts = _known_partitions(df)
    if in_parts is not None and in_parts > df.sparkSession.sparkContext.defaultParallelism:
        return df.repartition(in_parts, F.col(key_col))
    return df.repartition(F.col(key_col))


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a multi-consumer frame and truncate its lineage.

    Default: ``localCheckpoint`` — blocks live on executors, fast, but
    NOT fault-tolerant (an executor loss loses the blocks and fails the
    job instead of recomputing lineage). That is the right local/batch
    trade; on long 100 TB runs over preemptible nodes set BOTH::

        spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")
        spark.conf.set("spark.tsflex.reliableCheckpoint", "true")

    and every engine lineage cut becomes a RELIABLE ``checkpoint()`` to
    the checkpoint dir — slower (a write + read-back per cut) but
    recoverable after executor loss. The flag is read per call, so one
    session can mix modes (e.g. enable it only around a multi-hour
    stage). Eager by default for the same ABBA-deadlock reason every
    call site documents: a lazy cut materializing on a broadcast
    exchange thread can deadlock against concurrent AQE stage
    submission.
    """
    spark = df.sparkSession
    if str(
        spark.conf.get("spark.tsflex.reliableCheckpoint", "false")
    ).lower() == "true":
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isDefined():
            return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def local_rows_df(spark, rows, schema):
    """Tiny driver-side row list → a JVM-local DataFrame.

    ``spark.createDataFrame(list, schema)`` builds a Python-RDD with
    ``defaultParallelism`` partitions: EVERY consumption of the frame
    pays one Python-worker round trip per partition — measured 16–19 s
    for four 3-row legs unioned under ``coalesce(1)`` at sf0.1 (~130
    sequential ~0.13 s round trips), and ~23 s of parallel executor
    overhead even unsorted. Routing through pandas + Arrow instead
    serializes the rows to JVM-resident Arrow batches ONCE at creation
    (same values, same schema, one partition): the same union measured
    0.12 s. Use for every literal/metadata frame on a query path.
    """
    import pandas as pd

    if isinstance(schema, str):
        # parse the DDL properly — a naive split(",") yields garbage names
        # for comma-bearing types (decimal(10,2), map<string,int>, ...)
        from pyspark.sql.types import StructType, _parse_datatype_string

        parsed = _parse_datatype_string(schema)
        assert isinstance(parsed, StructType), f"not a struct schema: {schema!r}"
        names = [f.name for f in parsed.fields]
    else:  # StructType
        names = [f.name for f in schema.fields]
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=names, dtype=object)
    return spark.createDataFrame(pdf, schema)
