"""Distributed global-order primitives (row_number / shift / islands).

The reference's single-series ops (count-based windows,
``group_by_consecutive`` runs, ``chunk_data`` gap islands — reference
tsflex/features/feature_collection.py:568-724,
tsflex/chunking/chunking.py:123-150) need a *total order* over one
logical series. The naive Spark translation is
``Window.orderBy(ts)`` with no partition spec, which moves every row to
ONE partition — correct on 60k rows, fatal on 100 TB.

These helpers keep the same semantics with a scalable plan:

1. ``repartitionByRange(order_col)`` — one shuffle; partition *i* holds a
   contiguous, ordered slice of the key space (RangePartitioning is
   index-ordered, equal keys co-located).
2. partition-local window (sort within partition only — no data motion).
3. a per-partition aggregate (counts / sums / boundary values) — a few
   hundred rows — combined into exclusive prefix offsets with a window
   over ``lit(0)`` (tiny by construction: ≤ shuffle.partitions rows),
   then **broadcast**-joined back on partition id. Rows a partition
   needs from its global neighbours (lag-k, the processing halo) come
   from the other partitions' edge rows the same way (``_neighbours``).

The per-partition aggregate branch and the row branch both read the same
range exchange, so Catalyst's ReuseExchange executes the shuffle once.
Net cost vs the single-partition plan: one broadcast of ~N_partitions
rows — and every executor stays busy.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tsflex_spark.utils.data import cut_lineage

PID = "__gpid"

__all__ = [
    "with_global_row_number",
    "with_global_shift",
    "with_global_islands",
    "with_global_carry",
    "with_global_ewma",
    "order_statistics",
    "exact_quantiles",
    "quantile_filter",
]


def _n_range_parts(df: DataFrame) -> int:
    """Explicit partition count for these helpers' range exchanges.

    The count MUST be user-specified: AQE coalesces each CONSUMER of a
    reused exchange independently (AQEShuffleRead is per-reader), so a
    ``spark_partition_id()`` stamped after an implicit-count range
    exchange can disagree between the row branch and the per-partition
    aggregate branch of the same helper — the boundary patch then joins
    on misaligned pids (observed as off-by-one islands / wrong shift
    values at partition edges when the coalesce floor changed). A
    user-specified count is exempt from AQE coalescing, making the pid
    consumer-stable."""
    v = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return max(int(v), 1)
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def _ranged(df: DataFrame, *order_cols: str) -> DataFrame:
    """Range-partition by ``order_cols`` and stamp the post-shuffle
    partition id, then MATERIALIZE (eager localCheckpoint — eager because
    a lazy checkpoint materializing on an AQE broadcast-exchange thread
    can ABBA-deadlock against concurrent stage submission; see
    feature_collection's bounds comment). Every unkeyed operator in this
    module starts here.

    The checkpoint is load-bearing for correctness, not a perf knob:
    every helper reads this frame from >= 2 plan branches (rows + a
    per-partition boundary/offset aggregate), and the branches must see
    IDENTICAL partition ids. Without materialization that only holds if
    Catalyst reuses one exchange for both — which AQE breaks two ways:
    per-consumer AQEShuffleRead can coalesce the same shuffle output
    differently per branch, and when the exchange is re-planned per
    branch the RangePartitioner re-SAMPLES boundaries with a different
    seed (observed live: the boundary aggregate saw different partition
    contents than the row branch — wrong shift values at every edge).
    Freezing the pid into materialized blocks makes it consumer-stable
    by construction. Explicit count: user-specified counts are exempt
    from AQE repartition rewrites (see ``_n_range_parts``)."""
    return cut_lineage(_range_split(df, *order_cols))


def _range_split(df: DataFrame, *order_cols: str) -> DataFrame:
    """:func:`_ranged` before its cut: a partition-local step that every
    branch must read (EWMA's scan) goes between the two, so it runs once."""
    d = df.repartitionByRange(_n_range_parts(df), *[F.col(c) for c in order_cols])
    return d.withColumn(PID, F.spark_partition_id())


def _prefix(
    tiny: DataFrame,
    cols: Dict[str, str],
    *,
    how: str = "sum",
    reverse: bool = False,
    ignorenulls: bool = False,
) -> DataFrame:
    """Exclusive prefix over a per-partition table (one row per ``PID``,
    ≤ shuffle.partitions rows): a broadcast self-join over ``pid' < pid``
    instead of an unpartitioned window (which Catalyst would constant-fold
    into a single-partition WindowExec). O(P²) on P ≈ hundreds of rows.

    Returns ``tiny`` plus one column per ``{val_col: out_col}`` entry.
    ``how='sum'``: exclusive running sum. ``how='edge'``: value from the
    nearest earlier (``reverse=False``) / later (``reverse=True``)
    partition — that partition's value even when it is NULL, or with
    ``ignorenulls`` the nearest non-NULL value."""
    bp = F.col("__bp")
    b = tiny.select(F.col(PID).alias("__bp"), *[F.col(v).alias(f"__b{v}") for v in cols])
    j = tiny.join(F.broadcast(b), bp > F.col(PID) if reverse else bp < F.col(PID), "left")
    aggs = []
    for v, out in cols.items():
        bv = F.col(f"__b{v}")
        if how == "sum":
            aggs.append(F.coalesce(F.sum(bv), F.lit(0)).alias(out))
        else:  # "edge"
            pick = F.min_by if reverse else F.max_by
            aggs.append(pick(bv, F.when(bv.isNotNull(), bp) if ignorenulls else bp).alias(out))
    keep = [F.first(c).alias(c) for c in tiny.columns if c != PID]
    return j.groupBy(PID).agg(*keep, *aggs)


def _offsets(d: DataFrame) -> DataFrame:
    """Per-partition row count ``__cnt`` and exclusive global row offset
    ``__off`` of a :func:`_ranged` frame (one row per non-empty partition)."""
    counts = d.groupBy(PID).agg(F.count(F.lit(1)).alias("__cnt"))
    return _prefix(counts, {"__cnt": "__off"})


def _lag1(d: DataFrame, col: str, order_col: str, out_col: str, *, lead: bool = False) -> DataFrame:
    """Global ``lag(col)`` (``lead`` when ``lead=True``) by ``order_col``
    over a :func:`_ranged` frame: partition-local lag/lead, and each
    partition's edge row patched with the last (first) value of the
    nearest earlier (later) non-empty partition — a per-partition
    ``max_by``/``min_by`` hash aggregate through :func:`_prefix`. The
    value is taken as is, NULL included."""
    o = F.col(order_col)
    wloc = W.partitionBy(PID).orderBy(o)
    pick = F.min_by if lead else F.max_by
    edges = d.groupBy(PID).agg(pick(F.col(col), o).alias("__edge"))
    bnd = _prefix(edges, {"__edge": "__bnd"}, how="edge", reverse=lead).select(PID, "__bnd")
    if lead:
        local = F.lead(F.col(col)).over(wloc)
        at_edge = F.row_number().over(W.partitionBy(PID).orderBy(o.desc())) == 1
    else:
        local = F.lag(F.col(col)).over(wloc)
        at_edge = F.row_number().over(wloc) == 1
    out = d.join(F.broadcast(bnd), on=PID, how="left")
    return out.withColumn(out_col, F.when(at_edge, F.col("__bnd")).otherwise(local)).drop("__bnd")


def _neighbours(d: DataFrame, order_col: str, k: int, *, before: bool) -> DataFrame:
    """Rows of a :func:`_ranged` frame from the other partitions that
    include, for each partition, the ``k`` rows globally nearest to it on
    one side (``before``: earlier partitions, else later ones), keyed by
    the partition they serve in ``PID``. Every partition offers its own
    ``k`` edge rows to each partition past it — an explode over the
    known range of partition ids, so short or empty partitions in between
    never starve a target. At most k·P rows per target (P = the
    range-partition count); the caller keeps the ``k`` nearest (shift-k
    indexes its sorted array from the near end, the halo slices its
    sorted Arrow group). No nested-loop join, and the only exchange of
    the edge rows is the one the per-partition ``row_number`` needs."""
    near = F.col(order_col).desc() if before else F.col(order_col).asc()
    rank = F.row_number().over(W.partitionBy(PID).orderBy(near))
    edges = d.withColumn("__r", rank).where(F.col("__r") <= k)
    last = _n_range_parts(d) - 1
    if before:
        edges = edges.where(F.col(PID) < last)
        targets = F.sequence(F.col(PID) + 1, F.lit(last))
    else:
        edges = edges.where(F.col(PID) > 0)
        targets = F.sequence(F.lit(0), F.col(PID) - 1)
    return edges.select(F.explode(targets).alias(PID), *[c for c in d.columns if c != PID])


def with_global_row_number(
    df: DataFrame,
    order_col: str,
    out_col: str = "__rn",
    *,
    key_cols: Sequence[str] = (),
    zero_based: bool = False,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order_col)`` without a
    single-partition sort. With ``key_cols`` it degrades to a plain
    per-key window (already distributed)."""
    key_cols = list(key_cols)
    if key_cols:
        w = W.partitionBy(*key_cols).orderBy(order_col)
        rn = F.row_number().over(w) - (1 if zero_based else 0)
        return df.withColumn(out_col, rn)

    d = _ranged(df, order_col)
    offs = _offsets(d).select(PID, "__off")
    local = F.row_number().over(W.partitionBy(PID).orderBy(order_col))
    out = d.join(F.broadcast(offs), on=PID, how="left").withColumn(
        out_col, F.col("__off") + local - (1 if zero_based else 0)
    )
    return out.drop(PID, "__off")


def with_global_shift(
    df: DataFrame,
    col: Union[str, Sequence[str]],
    order_col: str,
    out_col: Union[str, Sequence[str]],
    *,
    offset: int = -1,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Global ``lag`` (``offset=-1``) / ``lead`` (``offset=+1``) of ``col``
    ordered by ``order_col``. Partition-local shift + a boundary value
    carried over from the neighbouring partition (broadcast). Assumes
    ``col`` is non-null (true for the engine's internal numeric index /
    cleaned group keys).

    ``col``/``out_col`` may be matching sequences: every column shifts
    through ONE struct payload — one range exchange regardless of how
    many lag features ride it (the tsfresh shift-recipe frames want
    several).

    Any ``|offset| = k`` is supported in one pass: the k boundary rows
    each partition needs from its global neighbours (:func:`_neighbours`)
    travel as a tiny per-partition array, broadcast back — lag-k
    costs the same single range exchange as lag-1, never k composed
    shuffles. ``order_col`` is assumed strictly increasing (ties make
    any global shift ambiguous)."""
    assert isinstance(offset, int) and offset != 0, offset
    key_cols = list(key_cols)
    if not isinstance(col, str):
        assert not isinstance(out_col, str), (
            "col is a sequence — out_col must be a matching sequence, not a string"
        )
        cols, outs = list(col), list(out_col)
        assert len(cols) == len(outs) and cols, (cols, outs)
        pack = "__shift_pack"
        d = df.withColumn(
            pack, F.struct(*[F.col(c).alias(f"f{i}") for i, c in enumerate(cols)])
        )
        d = with_global_shift(
            d, pack, order_col, "__shift_prev", offset=offset, key_cols=key_cols
        )
        for i, o in enumerate(outs):
            d = d.withColumn(o, F.col("__shift_prev")[f"f{i}"])
        return d.drop(pack, "__shift_prev")
    if key_cols:
        w = W.partitionBy(*key_cols).orderBy(order_col)
        fn = F.lag if offset < 0 else F.lead
        return df.withColumn(out_col, fn(F.col(col), abs(offset)).over(w))

    d = _ranged(df, order_col)
    if abs(offset) == 1:
        return _lag1(d, col, order_col, out_col, lead=offset > 0).drop(PID)
    return _shift_k(d, col, order_col, out_col, offset)


def _shift_k(
    d: DataFrame, col: str, order_col: str, out_col: str, offset: int
) -> DataFrame:
    """|offset| = k > 1 global shift over a :func:`_ranged` frame:
    partition-local ``lag(k)``/``lead(k)`` plus, for each partition's
    first/last k rows, the value plucked from a per-partition ascending
    array of GLOBAL neighbour values (:func:`_neighbours`, broadcast
    back; indexed from its near end, where the k nearest sit) — the
    data itself shuffles exactly once (the range partition), same as
    lag-1."""
    k = abs(offset)
    lagging = offset < 0
    e = d.select(PID, F.col(order_col).alias("__eo"), F.col(col).alias("__ev"))
    pred = _neighbours(e, "__eo", k, before=lagging).groupBy(PID).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("__eo"), F.col("__ev")))),
            lambda s: s["__ev"],
        ).alias("__nbr")
    )

    out = d.join(F.broadcast(pred), on=PID, how="left")
    wloc = W.partitionBy(PID).orderBy(F.col(order_col))
    m = F.size(F.coalesce(F.col("__nbr"), F.array()))
    if lagging:
        rn = F.row_number().over(wloc)
        local = F.lag(F.col(col), k).over(wloc)
        # row rn needs the (k - rn + 1)-th newest predecessor: ascending
        # array index m - (k - rn + 1); F.get -> NULL when out of range
        fallback = F.get(F.col("__nbr"), m - (F.lit(k) - rn + 1))
    else:
        rn = F.row_number().over(W.partitionBy(PID).orderBy(F.col(order_col).desc()))
        local = F.lead(F.col(col), k).over(wloc)
        # (k - rn + 1)-th nearest successor: ascending array index k - rn
        fallback = F.get(F.col("__nbr"), F.lit(k) - rn)
    out = out.withColumn(out_col, F.when(rn > k, local).otherwise(fallback))
    return out.drop(PID, "__nbr")


def with_global_islands(
    df: DataFrame,
    order_col: str,
    lag_of: str,
    change_when: Callable[[Column], Column],
    out_col: str = "__island",
    *,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Gaps-and-islands id: ``sum(change) OVER (ORDER BY order_col)``
    where ``change = change_when(lag(lag_of))`` — the core of
    ``group_by_consecutive`` and ``chunk_data``. One range shuffle; the
    lag boundary and the cumulative-sum offset both come from tiny
    per-partition aggregates broadcast back (ReuseExchange dedups the
    scans). ``change_when(prev)`` must yield true when ``prev`` is null
    at the true start of the data."""
    key_cols = list(key_cols)
    if key_cols:
        w = W.partitionBy(*key_cols).orderBy(order_col)
        chg = F.when(change_when(F.lag(F.col(lag_of)).over(w)), 1).otherwise(0)
        return df.withColumn(out_col, F.sum(chg).over(w))

    # true previous value (the shared lag-1 edge step), then the global
    # running sum of __chg = local running sum + exclusive prefix of
    # per-partition sums
    d = _lag1(_ranged(df, order_col), lag_of, order_col, "__prev")
    d = d.withColumn("__chg", F.when(change_when(F.col("__prev")), 1).otherwise(0))
    sums = d.groupBy(PID).agg(F.sum("__chg").alias("__s"))
    offs = _prefix(sums, {"__s": "__off"}).select(PID, "__off")
    wrun = W.partitionBy(PID).orderBy(order_col).rowsBetween(W.unboundedPreceding, 0)
    out = d.join(F.broadcast(offs), on=PID, how="left").withColumn(
        out_col, F.sum("__chg").over(wrun) + F.col("__off")
    )
    return out.drop(PID, "__prev", "__chg", "__off")


def with_global_carry(
    df: DataFrame,
    cols: Sequence[str],
    order_cols: Sequence[str],
    out_prefix: str = "__carry_",
) -> DataFrame:
    """``last(col, ignorenulls) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)`` for several columns at once, without a single-partition
    window — the carry-forward primitive behind the unkeyed as-of join.

    Scheme: range-partition on the order prefix, partition-local carry,
    then patch local nulls with the latest non-null value from any
    earlier partition (per-partition ``max_by`` edges, tiny broadcast
    self-join). ``order_cols`` must be non-null and totally ordered
    ascending (negate a numeric column for descending carries).
    """
    cols = list(cols)
    order_cols = list(order_cols)
    d = _ranged(df, *order_cols)
    wloc = (
        W.partitionBy(PID)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ostruct = F.struct(*[F.col(c) for c in order_cols])
    edges = d.groupBy(PID).agg(
        *[
            F.max_by(F.col(c), F.when(F.col(c).isNotNull(), ostruct)).alias(f"__e_{c}")
            for c in cols
        ]
    )
    bnd = _prefix(
        edges, {f"__e_{c}": f"__bnd_{c}" for c in cols}, how="edge", ignorenulls=True
    ).select(PID, *[f"__bnd_{c}" for c in cols])
    out = d.join(F.broadcast(bnd), on=PID, how="left")
    for c in cols:
        local = F.last(F.col(c), ignorenulls=True).over(wloc)
        out = out.withColumn(out_prefix + c, F.coalesce(local, F.col(f"__bnd_{c}")))
    return out.drop(PID, *[f"__bnd_{c}" for c in cols])


def _values_at_ranks(d: DataFrame, col: str, ranks_tiny: DataFrame, offs: DataFrame) -> DataFrame:
    """Exact global order statistics without a single-partition sort.

    ``d`` is a :func:`_ranged` frame over the non-null ``col`` and
    ``offs`` its :func:`_offsets`; ``ranks_tiny`` is a small DataFrame
    with one ``__rank`` column (1-based global ranks over ``col``
    ascending). Each requested rank maps to exactly one partition and a
    LOCAL rank; a partition-local ``row_number`` window (fully parallel)
    picks the value. Returns (``__rank``, ``__v``) — at most
    ``len(ranks)`` rows. Ranks beyond the row count yield no row (caller
    decides the semantics).
    """
    loc = (
        offs.join(
            F.broadcast(ranks_tiny),
            (F.col("__rank") > F.col("__off"))
            & (F.col("__rank") <= F.col("__off") + F.col("__cnt")),
        )
        .select(PID, "__rank", (F.col("__rank") - F.col("__off")).alias("__lr"))
    )
    wloc = W.partitionBy(PID).orderBy(col)
    return (
        d.withColumn("__rn", F.row_number().over(wloc))
        .join(F.broadcast(loc), on=PID)
        .where(F.col("__rn") == F.col("__lr"))
        .select("__rank", F.col(col).alias("__v"))
    )


def order_statistics(df: DataFrame, col: str, ranks: Sequence[int]) -> DataFrame:
    """Exact k-th smallest values of ``col`` (1-based ``ranks``) as a
    tiny (rank, value) DataFrame — a distributed selection, never a
    global sort. Nulls are excluded from the ranking."""
    spark = df.sparkSession
    rdf = spark.createDataFrame([(int(r),) for r in ranks], "__rank long").distinct()
    d = _ranged(df.select(col).where(F.col(col).isNotNull()), col)
    out = _values_at_ranks(d, col, rdf, _offsets(d))
    return out.select(F.col("__rank").alias("rank"), F.col("__v").alias("value"))


def exact_quantiles(df: DataFrame, col: str, qs: Sequence[float]) -> DataFrame:
    """EXACT linearly-interpolated quantiles (DuckDB ``quantile_cont`` /
    ``numpy.percentile`` semantics: pos = (n-1)·q, v = v_lo·(1-frac) +
    v_hi·frac) as a tiny (q, value) DataFrame.

    Fully declarative — n is computed in-plan (no ``collect``), the rank
    table derives from it, and the two order statistics per quantile come
    from :func:`_values_at_ranks`. Cost: the one range shuffle + tiny
    broadcasts. ``percentile``'s exact built-in buffers every value
    through a single merge — this keeps all heavy stages parallel.

    The single-column input is materialized ONCE, by the range exchange
    the selection needs anyway (``_ranged``): selection is a multi-pass
    algorithm (count + ranked pick), and without a materialization every
    pass re-executes the caller's upstream plan — measured as ~6
    redundant full scans when the input is itself a join. (r10 shipped a
    separate eager checkpoint of the raw slice FOLLOWED by the ranged
    checkpoint — two serialized materialization passes of the same
    column; r11 folds them: n comes from the ranged frame's
    per-partition counts, saving one full pass per call.) The cached
    slice is one column, so the footprint is 8-16 B/row.
    """
    d = _ranged(df.select(col).where(F.col(col).isNotNull()), col)
    offs = _offsets(d)
    n_df = offs.agg(F.sum("__cnt").cast("long").alias("__n"))
    n_df = n_df.select(F.coalesce(F.col("__n"), F.lit(0)).alias("__n"))
    qdf = n_df.select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"), "__n"
    )
    pos = (F.col("__n") - 1).cast("double") * F.col("q")
    qdf = qdf.select(
        "q",
        "__n",
        (F.floor(pos) + 1).cast("long").alias("__lo"),
        (F.ceil(pos) + 1).cast("long").alias("__hi"),
        (pos - F.floor(pos)).alias("__frac"),
    )
    ranks = (
        qdf.select(F.explode(F.array("__lo", "__hi")).alias("__rank"))
        .where(F.col("__rank") >= 1)
        .distinct()
    )
    vals = _values_at_ranks(d, col, ranks, offs)
    lo = vals.select(F.col("__rank").alias("__lo"), F.col("__v").alias("__vlo"))
    hi = vals.select(F.col("__rank").alias("__hi"), F.col("__v").alias("__vhi"))
    out = qdf.join(F.broadcast(lo), on="__lo", how="left").join(
        F.broadcast(hi), on="__hi", how="left"
    )
    vlo = F.col("__vlo").cast("double")
    vhi = F.coalesce(F.col("__vhi"), F.col("__vlo")).cast("double")
    return out.select(
        "q", (vlo + (vhi - vlo) * F.col("__frac")).alias("value")
    )


def _band_cuts(
    df: DataFrame, col: str, q_lo: float, q_hi: float, lo_col: str, hi_col: str
) -> DataFrame:
    """One-row frame of the EXACT ``q_lo`` and ``q_hi`` quantiles of
    ``col`` as columns ``lo_col`` and ``hi_col`` — the cutoffs of a
    quantile band, ready to broadcast-join."""
    q_lo, q_hi = float(q_lo), float(q_hi)
    return exact_quantiles(df, col, [q_lo, q_hi]).agg(
        F.min(F.when(F.col("q") == q_lo, F.col("value"))).alias(lo_col),
        F.max(F.when(F.col("q") == q_hi, F.col("value"))).alias(hi_col),
    )


def quantile_filter(
    df: DataFrame, col: str, q_low: float = 0.0, q_high: float = 1.0
) -> DataFrame:
    """Keep rows whose ``col`` lies within the EXACT global
    [q_low, q_high] quantile band — the standard "trim the length/quality
    outliers" curation step. Two passes over ``col`` (count + ranked
    selection), then one broadcast of a single cutoff row; the full table
    is scanned exactly once more with a codegen filter."""
    cuts = _band_cuts(df, col, q_low, q_high, "__qlo", "__qhi")
    out = df.join(F.broadcast(cuts))
    return out.where(
        (F.col(col).cast("double") >= F.col("__qlo"))
        & (F.col(col).cast("double") <= F.col("__qhi"))
    ).drop("__qlo", "__qhi")


def with_global_ewma(
    df: DataFrame,
    col: str,
    alpha: float,
    order_cols: Sequence[str],
    out_col: Optional[str] = None,
) -> DataFrame:
    """Exponentially-weighted moving average over ONE logical series in
    global ``order_cols`` order — ``pandas ewm(alpha, adjust=True).mean()``
    semantics — without a single-partition window.

    EWMA is a linear recurrence (y_t = x_t + r·y_{t-1}, r = 1-α), so the
    usual "prefix offsets" trick generalizes: partition-local scans
    produce N_t = Σ_{j≤t} x_j r^{t-j} and D_t = Σ_{j≤t} r^{t-j}; the
    carry-in from earlier partitions is a GEOMETRIC prefix —
    N_in(p) = Σ_{q<p} N_end(q) · r^{rows between q and p} — computed on
    the tiny per-partition edge table (≤ shuffle.partitions rows,
    broadcast self-join, ``pow(r, δ)`` underflows harmlessly to 0 for
    distant partitions since r < 1). Each row then patches with
    r^{t+1}·carry and the mean is N/D.

    The local scan runs in ``mapInPandas`` over range-partitioned,
    partition-sorted batches (generator state carries across a
    partition's batches), using blocked cumsum scans — block size chosen
    so r^{-block} cannot overflow. Input must be non-null.
    """
    import numpy as np
    import pandas as pd

    out_col = out_col or f"{col}_ewma"
    r = 1.0 - float(alpha)
    assert 0.0 < alpha <= 1.0, "alpha must be in (0, 1]"
    order_cols = list(order_cols)

    d = _range_split(df, *order_cols).sortWithinPartitions(*order_cols)
    from pyspark.sql import types as T

    # build a FRESH StructType — StructType.add mutates (and DataFrame
    # caches) the schema object, corrupting the input frame's column list
    schema = T.StructType(
        list(d.schema.fields)
        + [
            T.StructField("__N", T.DoubleType()),
            T.StructField("__D", T.DoubleType()),
            T.StructField("__pos", T.LongType()),
        ]
    )

    # block size: r^{-m} must stay finite (ln 1e300 ≈ 690)
    m_block = 4096 if r == 0.0 else max(1, min(4096, int(300.0 / max(-np.log(r), 1e-9))))

    def scan(batches):
        N = 0.0
        D = 0.0
        pos = 0
        for pdf in batches:
            x = pdf[col].to_numpy(dtype="float64")
            n = len(x)
            Ns = np.empty(n)
            Ds = np.empty(n)
            i = 0
            while i < n:
                j = min(i + m_block, n)
                m = j - i
                t = np.arange(m, dtype="float64")
                rpos = r**t  # r^t, t in [0, m)
                if r > 0:
                    # N_t = r^t * cumsum(x_t r^{-t}) + r^{t+1} * carry
                    Ns[i:j] = rpos * np.cumsum(x[i:j] / rpos) + rpos * r * N
                    Ds[i:j] = rpos * np.cumsum(1.0 / rpos) + rpos * r * D
                else:  # alpha == 1: y = x
                    Ns[i:j] = x[i:j]
                    Ds[i:j] = 1.0
                N = Ns[j - 1]
                D = Ds[j - 1]
                i = j
            pdf = pdf.copy()
            pdf["__N"] = Ns
            pdf["__D"] = Ds
            pdf["__pos"] = np.arange(pos, pos + n, dtype="int64")
            pos += n
            yield pdf

    # the scan runs before the range cut: the row branch, the edge table
    # and the carry joins all read its materialized output
    local = cut_lineage(d.mapInPandas(scan, schema))

    edges = local.groupBy(PID).agg(
        F.max_by("__N", "__pos").alias("__ne"),
        F.max_by("__D", "__pos").alias("__de"),
        (F.max("__pos") + 1).alias("__n"),
    )
    # exclusive cumulative row count per partition
    cum = _prefix(edges, {"__n": "__off"})
    # carry-in per partition: geometric-decayed sum of earlier edge values
    pairs = cum.alias("p").join(
        F.broadcast(cum.alias("q")), F.col(f"q.{PID}") < F.col(f"p.{PID}"), "left"
    )
    delta = F.col("p.__off") - (F.col("q.__off") + F.col("q.__n"))
    carry = pairs.groupBy(f"p.{PID}").agg(
        F.coalesce(
            F.sum(F.col("q.__ne") * F.pow(F.lit(r), delta)), F.lit(0.0)
        ).alias("__nin"),
        F.coalesce(
            F.sum(F.col("q.__de") * F.pow(F.lit(r), delta)), F.lit(0.0)
        ).alias("__din"),
    )
    out = local.join(F.broadcast(carry), on=PID, how="left")
    rp = F.pow(F.lit(r), F.col("__pos") + 1)
    num = F.col("__N") + rp * F.coalesce("__nin", F.lit(0.0))
    den = F.col("__D") + rp * F.coalesce("__din", F.lit(0.0))
    return out.withColumn(out_col, num / den).drop(
        PID, "__N", "__D", "__pos", "__nin", "__din"
    )
