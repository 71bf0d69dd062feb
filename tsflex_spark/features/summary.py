"""Shared bucket summary: one table answers every decomposable window config.

Per-bucket summaries answer many window queries at once (PAPERS.md:
*Constructing Compact Time Series Index for Efficient Window Query
Processing*, ICDE 2022; *Odyssey*, VLDB 2023). ``calculate()`` sends every
time/sequence grid config whose functions all decompose
(``catalog.decomposition`` / ``decomposition2``) and whose window and
strides are integral through ONE such table:

1. **bucket table** — rows are bucketed at ``g = gcd`` of every member
   config's window and strides, aligned to the per-key START: one
   broadcast-bounds join and one ``groupBy(keys, bucket)`` computing the
   union of every member's partial aggregates (map-side combined, no row
   duplication);
2. **explode in bucket space** — each bucket row becomes the
   ``(config, output index)`` pairs of every member config at once (``g``
   divides every window and stride, so buckets nest exactly in
   segments); the per-key spine rows (NULL partials) are unioned in, so
   empty windows come out of the same aggregation;
3. **one keyed aggregation** per ``(keys, output index, config)`` merges
   each partial kind by its own rule (``catalog.merge_partial``) and
   applies the function's final — the same final its one-level build
   applies to one segment's partials. The caller's assembly then pivots
   the configs into columns in the same ``groupBy`` that merges the
   other paths.

**Grain guard.** A config never buckets finer than
``(w // g) <= 4 · fanout`` allows (``fanout = w / min(strides)``; a tiny
grain makes buckets ~rows and the table buys nothing). A config that
breaks the guard at the shared grain gets its own table at
``gcd(w, *strides)``; one that breaks it even there (window 61 s, stride
60 s: grain 1 s) keeps the one-level explode.

Which windows a bucket falls in, and every window of a key's grid, come
from the segmenter's two rule functions (``segmenter.member_sql`` over bucket
indices in grain units, ``segmenter.segment_spine``) — the same rule the
one-level path and the stateful stream use. Structural expressions are
SQL strings parsed JVM-side; only the catalog's partial/final aggregates
are ``Column`` objects, each built once and shared by every member
config.

Sums, counts, extrema and first/last are exact, and with decimal or
integer input every non-moment output is bit-identical to the one-level
plan. Double sums reassociate across buckets, so derived doubles
(mean/rms/...) can differ from the one-level plan in rounding. The
moments (std/var/variation_coefficient) are the one real difference:
the one-level plan runs Spark's Welford aggregates, the summary a
final over sums shifted by each key's first finite sample
(``shift_aggs``); the two agree to about 1e-9 relative or better, not
to the last bit.
"""

from __future__ import annotations

from math import gcd
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tsflex_spark.features.segmenter import (
    CFG,
    END,
    OUT_IDX,
    SEG,
    SEG_END,
    START,
    TSN,
    _q,
    member_sql,
    nb_sql,
    out_sql,
    segment_spine,
    sql_lit,
)
from tsflex_spark.utils.data import DataType

BKT = "__bkt"  # bucket index column of the bucket table

# (series_tuple, output column name, NativeSpec, kwargs, (partial kinds, final builder))
Item = Tuple[Tuple[str, ...], str, Any, dict, Tuple[Tuple[str, ...], Any]]


def _integral(x: Any) -> Optional[int]:
    if isinstance(x, bool):
        return None
    if isinstance(x, int):
        return x
    if isinstance(x, float) and x.is_integer():
        return int(x)
    return None


def shift_col(series: str) -> str:
    """Bounds column holding ``series``' moment shift (``shift_aggs``)."""
    return f"__shift_{series}"


def shift_aggs(items: Sequence[Item]) -> List[Column]:
    """Per-key aggregates of the moment shifts ``items`` read, for the
    bounds' own scan (``segmenter.make_bounds(extra=...)``): each such
    series' first finite sample, so a large offset does not cancel in the
    moment finals. NaN and ±Inf never become the shift (they would turn
    every window of the key into NaN); a key with no finite sample gets
    0, and its NaN windows stay NaN."""
    from tsflex_spark.features.catalog import SHIFTED

    series = sorted({
        st[0] for st, _o, spec, _kw, (kinds, _f) in items
        if getattr(spec, "arity", 1) == 1 and SHIFTED & set(kinds)
    })
    # NaN compares above +Inf in Spark SQL, so one comparison keeps both out
    finite = [F.abs(F.col(_q(s)).cast("double")) < F.lit(float("inf")) for s in series]
    return [
        F.coalesce(F.min_by(F.col(_q(s)), F.when(ok, F.col(TSN))), F.lit(0)).alias(shift_col(s))
        for s, ok in zip(series, finite)
    ]


def _fits(w: int, ss: Sequence[int], g: int) -> bool:
    """The grain guard: buckets of ``g`` are coarse enough for this config."""
    return g > 0 and (w // g) <= 4 * (w / min(ss))


def plan_tables(cfgs: Sequence[Tuple[Any, Sequence[Any]]]) -> List[Tuple[int, List[int]]]:
    """Group decomposable ``(window, strides)`` configs into bucket tables.

    Returns ``[(grain, [config index, ...]), ...]``: first the shared table
    (every config that passes the grain guard at the gcd of all bucketable
    configs, bucketed at the gcd of its members), then one table per
    config that only passes at its own gcd. Configs in no table (not
    integral, or too fine even alone) keep the one-level explode.
    """
    # a config too fine even at its own gcd fits no coarser-or-equal
    # grain either: it never buckets, and must not drag the shared gcd down
    ints: Dict[int, List[int]] = {}
    for i, (w, ss) in enumerate(cfgs):
        nums = [_integral(x) for x in (w, *ss)]
        if all(n is not None and n > 0 for n in nums) and _fits(nums[0], nums[1:], gcd(*nums)):
            ints[i] = nums
    if not ints:
        return []
    g_all = gcd(*(n for nums in ints.values() for n in nums))
    shared = [i for i, nums in ints.items() if _fits(nums[0], nums[1:], g_all)]
    tables: List[Tuple[int, List[int]]] = []
    if shared:
        tables.append((gcd(*(n for i in shared for n in ints[i])), shared))
    for i, nums in ints.items():
        if i not in shared:
            tables.append((gcd(*nums), [i]))
    return tables


def _out(seg: str, w: str, window_idx: str, domain: DataType) -> str:
    """``segmenter.out_sql`` over the segment starting at SQL ``seg`` with
    window ``w``."""
    return out_sql(f"({seg})", f"(({seg}) + {w})", window_idx, domain)


def build(
    data_sel: DataFrame,
    bounds: DataFrame,
    members: List[Tuple[int, Any, List[Any], List[Item]]],
    g: int,
    include_final_window: bool,
    key_cols: List[str],
    window_idx: str,
    domain: DataType,
    include_empty_windows: bool,
    prefix: str,
    spc_series: Sequence[str] = (),
) -> Tuple[DataFrame, List[Tuple[int, str, str]], List[Tuple[str, str, str]]]:
    """One bucket table + one final aggregation for ``members``
    (``(config id, window, strides, items)``).

    ``bounds`` carries the ``shift_aggs`` columns of the members' items.
    Returns ``(frame, outs, spc)``: ``frame`` is long-format — ``keys,
    OUT_IDX, CFG`` plus one value column per distinct final aggregate
    (``prefix`` + index); ``outs`` maps ``(config id, value column,
    output name)``; ``spc`` lists the hidden per-(config, series)
    sample-count columns for the sparsity observer as
    ``(series, config-filtered count expression, column)``.
    """
    from tsflex_spark.features.catalog import (
        SHIFTED,
        merge_partial,
        pair_partial_builder,
        partial_builder,
    )

    cols: Dict[str, Column] = {}

    def col(name: str) -> Column:
        if name not in cols:
            cols[name] = F.col(_q(name))
        return cols[name]

    # 1. bucket table: union of every member's partials, built once each
    if key_cols:
        joined = data_sel.join(F.broadcast(bounds), on=list(key_cols), how="inner")
    else:
        joined = data_sel.crossJoin(F.broadcast(bounds))
    joined = joined.where(F.expr(f"{TSN} >= {START} AND {TSN} <= {END}"))

    aliases: Dict[Tuple[str, str], str] = {}
    aggs: List[Column] = []

    def partial(kind: str, series_tuple: Tuple[str, ...], pair: bool) -> str:
        key = (kind, "|".join(series_tuple))
        if key not in aliases:
            aliases[key] = f"__p{len(aliases)}"
            if pair:
                expr = pair_partial_builder(kind)(col(series_tuple[0]), col(series_tuple[1]))
            else:
                s = series_tuple[0]
                k = col(shift_col(s)) if kind in SHIFTED else None
                expr = partial_builder(kind)(col(s), col(TSN), k)
            aggs.append(expr.alias(aliases[key]))
        return aliases[key]

    # distinct finals: one per (series, function, kwargs) over all members
    finals: Dict[Tuple, str] = {}
    final_exprs: List[Column] = []
    fills: Dict[float, Column] = {}
    outs: List[Tuple[int, str, str]] = []
    for cfg_id, _w, _ss, items in members:
        for series_tuple, out_name, spec, kwargs, (kinds, fin) in items:
            pair = getattr(spec, "arity", 1) == 2
            fkey = (series_tuple, spec.name, kinds, repr(sorted(kwargs.items())))
            if fkey not in finals:
                p = {k: col(partial(k, series_tuple, pair)) for k in kinds}
                expr = fin({k: merge_partial(k, p) for k in kinds})
                if spec.empty is not None:
                    if spec.empty not in fills:
                        fills[spec.empty] = F.lit(spec.empty)
                    expr = F.coalesce(expr, fills[spec.empty])
                finals[fkey] = f"{prefix}{len(finals)}"
                final_exprs.append(expr.alias(finals[fkey]))
            outs.append((cfg_id, finals[fkey], out_name))
    # sparsity counts decompose exactly (per-window count = sum of bucket
    # counts); spine rows count 0, so empty windows read 0 and a config
    # without a window at this output index reads NULL
    spc: List[Tuple[str, str, str]] = []
    spc_exprs: List[Column] = []
    for i, s in enumerate(spc_series):
        name = f"{prefix}spc{i}"
        p = partial("cnt", (s,), False)
        spc_exprs.append(F.expr(f"sum(coalesce({p}, 0L)) AS {name}"))
        spc.extend((s, f"IF({CFG} = {cfg_id}, {name}, NULL)", name) for cfg_id, *_ in members)

    bkt = F.expr(f"floor(({TSN} - {START}) / {g})")
    partials = joined.withColumn(BKT, bkt).groupBy(*key_cols, START, END, BKT).agg(*aggs)

    # 2. explode every bucket into its (config, output index) pairs
    arrays = []
    for cfg_id, w, ss, _items in members:
        S = [str(_integral(s) // g) for s in ss]
        arrays.append(member_sql(
            BKT, str(_integral(w) // g), S,
            lambda i: f"named_struct('{CFG}', {cfg_id}, '{OUT_IDX}', "
            f"{_out(f'{START} + __k * {sql_lit(ss[i])}', sql_lit(w), window_idx, domain)})",
            nbs=[nb_sql(sql_lit(w), sql_lit(s), include_final_window) for s in ss],
        ))
    arr = arrays[0] if len(arrays) == 1 else f"concat({', '.join(arrays)})"
    keys_q = [_q(k) for k in key_cols]
    rows = partials.selectExpr(*keys_q, *aliases.values(), f"inline({arr})")

    if include_empty_windows:
        # per-key spine: every (config, window) with NULL partials; a
        # multi-stride config's coinciding starts repeat harmlessly (NULL
        # partials add nothing to any aggregate)
        spine = segment_spine(
            bounds, [(cfg_id, w, ss) for cfg_id, w, ss, _items in members],
            include_final_window, key_cols,
        ).selectExpr(*keys_q, CFG, f"{out_sql(SEG, SEG_END, window_idx, domain)} AS {OUT_IDX}")
        rows = rows.unionByName(spine, allowMissingColumns=True)

    # 3. one final aggregation for every member config
    frame = rows.groupBy(*key_cols, OUT_IDX, CFG).agg(*final_exprs, *spc_exprs)
    return frame, outs, spc
