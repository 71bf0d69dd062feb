"""As-of (nearest-predecessor) join — a relational op the reference lacks
(SURVEY §2.3: "As-of join: absent in reference") but that time-series
pipelines need constantly (sensor enrichment, trade/quote alignment).

Spark-first strategy: the classic *union-and-carry* plan instead of a
non-equi range join. Tag right rows 0 and left rows 1, union them, and
run one per-key window pass where ``last(right_value, ignorenulls)``
carries the most recent right-hand value forward onto each left row.
One shuffle (the window's hash partition on ``by``), no O(n·m)
BroadcastNestedLoop, skew-bounded by the key with AQE. Equal timestamps:
the right row sorts before the left row (tag order), so a right update
AT t is visible to a left row AT t — same as DuckDB/pandas
``ASOF JOIN ... ON r.ts <= l.ts`` inclusive semantics.
"""

from __future__ import annotations

from collections.abc import Mapping as _AbcMapping
from typing import Mapping, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    FloatType,
    TimestampNTZType,
    TimestampType,
)

from tsflex_spark.features.segmenter import bucket, cover_buckets
from tsflex_spark.utils.time_args import to_numeric_units, ts_micros


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "ts",
    by: Sequence[str] = (),
    value_cols: Optional[Sequence[str]] = None,
    direction: str = "backward",
    tolerance: Optional[Union[str, pd.Timedelta, int, float]] = None,
    suffix: str = "_r",
) -> DataFrame:
    """For every left row, attach the right row's ``value_cols`` from the
    nearest right timestamp at-or-before (``backward``) / at-or-after
    (``forward``) the left timestamp, matching within ``by`` groups.

    ``tolerance`` (duration string / Timedelta for TIME, number for
    SEQUENCE) nulls matches further than the given distance. Left rows
    with no match keep NULLs (left-join semantics). Without ``by`` the
    window is a global order — pass keys for distributed execution.
    """
    assert direction in ("backward", "forward")
    by = list(by)
    if value_cols is None:
        value_cols = [c for c in right.columns if c != on and c not in by]
    out_names = {c: (c + suffix if c in left.columns else c) for c in value_cols}

    l_tag = left.withColumn("__tag", F.lit(1))
    for c in value_cols:
        l_tag = l_tag.withColumn(f"__rv_{c}", F.lit(None).cast(right.schema[c].dataType))
    l_tag = l_tag.withColumn("__rts", F.lit(None).cast(right.schema[on].dataType))

    r_tag = right.select(
        *by,
        F.col(on),
        F.lit(0).alias("__tag"),
        *[F.col(c).alias(f"__rv_{c}") for c in value_cols],
        F.col(on).alias("__rts"),
    )
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    u = l_tag.unionByName(r_tag)

    carry_cols = ["__rts"] + [f"__rv_{c}" for c in value_cols]
    if by:
        ts_ord = F.col(on).asc() if direction == "backward" else F.col(on).desc()
        w = W.partitionBy(*by).orderBy(ts_ord, F.col("__tag").asc())
        frame = w.rowsBetween(W.unboundedPreceding, 0)
        pick = lambda c: F.last(c, ignorenulls=True).over(frame)  # noqa: E731
        carried = u.select(
            *[F.col(c) for c in left.columns],
            F.col("__tag"),
            pick("__rts").alias("__mts"),
            *[pick(f"__rv_{c}").alias(f"__m_{c}") for c in value_cols],
        ).where(F.col("__tag") == 1)
    else:
        # unkeyed: distributed carry (range partition + boundary patch) —
        # never an empty-partition-spec window (utils/distributed.py)
        from tsflex_spark.utils.distributed import with_global_carry

        is_time_on = str(left.schema[on].dataType).startswith("Timestamp")
        ordn = ts_micros(on) if is_time_on else F.col(on).cast("double")
        if direction == "forward":
            ordn = -ordn
        u = u.withColumn("__ord", ordn)
        carried = with_global_carry(u, carry_cols, ["__ord", "__tag"], out_prefix="__m_")
        carried = (
            carried.where(F.col("__tag") == 1)
            .withColumnRenamed("__m___rts", "__mts")
            .drop("__ord", *carry_cols)
        )
        for c in value_cols:
            carried = carried.withColumnRenamed(f"__m___rv_{c}", f"__m_{c}")

    if tolerance is not None:
        is_time = str(left.schema[on].dataType).startswith("Timestamp")
        tol_n = to_numeric_units(tolerance, is_time)
        if is_time:
            dist = F.abs(ts_micros(on) - ts_micros("__mts"))
        else:
            dist = F.abs(F.col(on) - F.col("__mts"))
        in_tol = F.col("__mts").isNotNull() & (dist <= F.lit(tol_n))
    else:
        in_tol = F.col("__mts").isNotNull()

    out = carried
    for c in value_cols:
        out = out.withColumn(out_names[c], F.when(in_tol, F.col(f"__m_{c}")))
    out = out.withColumn(f"{on}{suffix}", F.when(in_tol, F.col("__mts")))
    drop = ["__tag", "__mts"] + [f"__m_{c}" for c in value_cols]
    return out.drop(*drop)


def _num(df: DataFrame, c: str) -> Column:
    """``c`` on the number line the range joins bucket and compare on:
    timestamps in integer microseconds, fractional columns (float,
    double, decimal) as their own values, anything else as ``long``."""
    dt = df.schema[c].dataType
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return ts_micros(c)
    if isinstance(dt, (FloatType, DoubleType, DecimalType)):
        return F.col(c)
    return F.col(c).cast("long")


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_on: str = "ts",
    right_start: str = "start",
    right_end: str = "end",
    by: Sequence[str] = (),
    how: str = "inner",
    granule: Optional[int] = None,
) -> DataFrame:
    """Event-to-interval join: every left row matched to the right
    interval rows with ``start <= left_on < end`` (half-open, the
    engine's segment convention) — WITHOUT a BroadcastNestedLoopJoin.

    Naive Spark writes this as a non-equi join (range predicate only) and
    gets a BNLJ — O(n·m) and a single-broadcast bottleneck. This plan
    uses the same granule-bucketing trick as manual segments
    (``segmenter``): pick ``granule`` = max interval length (computed in
    one tiny aggregate when not given), explode each interval to the
    granule buckets it covers (≤ len/granule + 1 rows), bucket the left
    side by ``floor(t / granule)``, and hash-join on (by, bucket) before
    re-checking the exact range predicate. Fan-out is bounded by the
    SKEWIEST interval, the join is an equi-join (AQE-skew-splittable),
    and both sides keep their scan pruning.

    ``how='inner'`` keeps matched rows; ``'left'`` keeps unmatched left
    rows with NULL interval columns. Timestamp/NTZ columns are compared
    in integer microseconds, fractional columns by their own values.
    """
    assert how in ("inner", "left"), how
    by = list(by)
    l_n = left.withColumn("__t", _num(left, left_on))
    r_n = right.withColumn("__s", _num(right, right_start)).withColumn(
        "__e", _num(right, right_end)
    )
    if granule is None:
        row = r_n.agg(F.max(F.col("__e") - F.col("__s")).alias("m")).first()
        granule = max(int(row["m"] or 1), 1)
    g = int(granule)
    r_n = r_n.where(F.col("__e") > F.col("__s"))  # empty intervals match nothing
    r_b = r_n.withColumn("__b", F.explode(cover_buckets(r_n, "__s", "__e", g)))
    l_b = l_n.withColumn("__b", bucket(F.col("__t"), g))
    cond = [l_b["__b"] == r_b["__b"]] + [l_b[c] == r_b[c] for c in by]
    matched = (
        l_b.join(r_b, cond, "inner")
        .where((r_b["__s"] <= l_b["__t"]) & (l_b["__t"] < r_b["__e"]))
        .drop(r_b["__b"])
        .drop(*[r_b[c] for c in by])
    )
    matched = matched.drop("__b", "__t", "__s", "__e")
    if how == "inner":
        return matched
    # left join: anti-matched left rows with NULL right columns
    r_cols = [c for c in right.columns if c not in by]
    hit = matched.select(*(by + [left_on])).distinct()
    miss = left.join(hit, on=by + [left_on], how="left_anti")
    for c in r_cols:
        miss = miss.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    return matched.unionByName(miss)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "start",
    right_end: str = "end",
    by: Sequence[str] = (),
    granule: Optional[int] = None,
    right_suffix: str = "_r",
) -> DataFrame:
    """Interval-OVERLAP join: every (left, right) interval pair with
    ``l_start < r_end AND r_start < l_end`` (half-open on both sides) —
    without a BroadcastNestedLoopJoin.

    Same granule-bucketing strategy as :func:`range_join`, applied to
    BOTH sides: each interval explodes to the granule buckets it covers,
    the pair hash-joins on (by, bucket), and the exact overlap predicate
    re-checks. A pair sharing several buckets is emitted ONCE — the join
    additionally requires the matched bucket to be the FIRST bucket the
    two intervals share (``greatest(floor(ls/g), floor(rs/g))``), so no
    post-join ``distinct`` shuffle is needed. Fan-out per row is bounded
    by ``len/granule + 1``; ``granule`` defaults to the max interval
    length across both sides (one tiny aggregate each).

    Right-side columns that collide with left names (outside ``by``)
    get ``right_suffix``. Timestamps compare in integer microseconds,
    fractional columns by their own values.
    """
    by = list(by)
    l_n = (
        left.withColumn("__ls", _num(left, left_start))
        .withColumn("__le", _num(left, left_end))
        .where(F.col("__le") > F.col("__ls"))
    )
    # rename colliding right columns BEFORE the join
    collide = (set(left.columns) & set(right.columns)) - set(by)
    r = right
    for c in collide:
        r = r.withColumnRenamed(c, c + right_suffix)
    rs_c = right_start + right_suffix if right_start in collide else right_start
    re_c = right_end + right_suffix if right_end in collide else right_end
    r_n = (
        r.withColumn("__rs", _num(r, rs_c))
        .withColumn("__re", _num(r, re_c))
        .where(F.col("__re") > F.col("__rs"))
    )
    if granule is None:
        gl = l_n.agg(F.max(F.col("__le") - F.col("__ls")).alias("m")).first()["m"]
        gr = r_n.agg(F.max(F.col("__re") - F.col("__rs")).alias("m")).first()["m"]
        granule = max(int(gl or 1), int(gr or 1), 1)
    g = int(granule)
    l_b = l_n.withColumn("__b", F.explode(cover_buckets(l_n, "__ls", "__le", g)))
    r_b = r_n.withColumn("__b", F.explode(cover_buckets(r_n, "__rs", "__re", g)))
    cond = [l_b["__b"] == r_b["__b"]] + [l_b[c] == r_b[c] for c in by]
    first_shared = F.greatest(bucket(l_b["__ls"], g), bucket(r_b["__rs"], g))
    out = (
        l_b.join(r_b, cond, "inner")
        .where(
            (l_b["__ls"] < r_b["__re"])
            & (r_b["__rs"] < l_b["__le"])
            & (l_b["__b"] == first_shared)
        )
        .drop(r_b["__b"])
        .drop(*[r_b[c] for c in by])
    )
    return out.drop("__b", "__ls", "__le", "__rs", "__re")


def point_in_time_join(
    labels: DataFrame,
    features: "Mapping[str, DataFrame]",
    *,
    on: str = "ts",
    by: Sequence[str] = (),
    tolerance: Optional[Union[str, pd.Timedelta, int, float, dict]] = None,
    strict: bool = False,
) -> DataFrame:
    """Point-in-time-correct training-set assembly (the feature-store
    join): for every label row, attach each feature table's latest row
    at-or-before (``strict=False``) / strictly-before (``strict=True``)
    the label timestamp, per ``by`` entity — the op that builds a
    leakage-free supervised dataset from event-time feature tables.

    ``features`` maps a table name to its DataFrame; every non-key,
    non-timestamp column comes back prefixed ``{name}__`` so sources
    never collide. ``tolerance`` is global, or a per-table dict
    (``{"txn": "7d"}``) — a feature older than the tolerance at label
    time stays NULL (treat stale features as missing, don't leak a
    months-old value into training).

    ``strict=True`` excludes features stamped exactly AT the label
    instant — the conservative convention when feature rows aggregate a
    window ENDING at their timestamp (an exact-time row already contains
    the label instant). Implemented by shifting the label's join key back
    one microsecond (TIME domain) or one unit (SEQUENCE domain) — so with
    strict mode a SEQUENCE index should be integer-grained.

    Scale shape: one ``asof_join`` per feature table — each is a
    union-and-carry window pass (single keyed exchange per side, no
    range join, no BroadcastNestedLoop); K feature tables = K keyed
    window passes over labels+features, never a fan-out join.
    """
    from pyspark.sql import types as T

    out = labels
    is_time = isinstance(labels.schema[on].dataType, (T.TimestampType, T.TimestampNTZType))
    if strict:
        shift = F.expr(f"`{on}` - INTERVAL 1 MICROSECOND") if is_time else F.col(on) - F.lit(1)
        out = out.withColumn("__pit_ts", shift)
    join_on = "__pit_ts" if strict else on
    for name, fdf in features.items():
        val_cols = [c for c in fdf.columns if c != on and c not in by]
        renamed = fdf.select(
            *by,
            F.col(on).alias(join_on),
            *[F.col(c).alias(f"{name}__{c}") for c in val_cols],
        )
        tol = tolerance.get(name) if isinstance(tolerance, _AbcMapping) else tolerance
        out = asof_join(
            out,
            renamed,
            on=join_on,
            by=by,
            value_cols=[f"{name}__{c}" for c in val_cols],
            direction="backward",
            tolerance=tol,
        )
        # asof_join emits the matched right timestamp as {join_on}_r —
        # per-table feature freshness; rename before the next table's
        # join overwrites it
        out = out.withColumnRenamed(f"{join_on}_r", f"{name}__{on}_matched")
    if strict:
        out = out.drop("__pit_ts")
    return out


def latest_snapshot(
    features: DataFrame,
    *,
    on: str = "ts",
    by: Sequence[str] = (),
    at: Optional[Union[str, pd.Timestamp, int, float]] = None,
) -> DataFrame:
    """One row per entity: the feature table's latest row at-or-before
    ``at`` (or the overall latest when ``at`` is None) — the ONLINE
    companion to ``point_in_time_join``: compact an event-time feature
    table into a serving snapshot, then broadcast-join it to a stream or
    request batch (stream-static equality joins are supported by
    Structured Streaming; per-event-time as-of against a static table is
    not, so the snapshot is the streaming-safe shape).

    Scale shape: one map-side-combinable ``max_by(struct(...), ts)``
    aggregate — a single keyed exchange carrying one buffered row per
    key per partition; no window, no sort.
    """
    by = list(by)
    out_cols = [c for c in features.columns if c not in by]
    d = features
    if at is not None:
        is_time = str(features.schema[on].dataType).startswith("Timestamp")
        cut = F.lit(pd.Timestamp(at)) if is_time else F.lit(at)
        d = d.where(F.col(on) <= cut)
    picked = F.max_by(F.struct(*[F.col(c) for c in out_cols]), F.col(on)).alias("__r")
    agg = d.groupBy(*by).agg(picked) if by else d.agg(picked)
    return agg.select(*by, *[F.col(f"__r.{c}").alias(c) for c in out_cols])
