"""Strided-rolling segmentation on Spark DataFrames — the engine core.

Replicates the reference's segmentation rules bit-exactly
(strided_rolling.py:241-332; oracle tests tests/test_strided_rolling.py:139-210):

- segment count per stride ``nb = max((end - start - window) // stride + 1, 0)``,
  plus one trailing (possibly incomplete) window when ``include_final_window``
  and ``start + stride*nb <= end``;
- multi-stride start-index union (dedup + sort);
- half-open slicing ``[seg_start, seg_start + window)``;
- output index position ``window_idx`` ∈ {begin, middle, end}.

Scale design (SURVEY §4.2): instead of a naive non-equi range join
(O(n·m) BroadcastNestedLoop), segment membership is computed **on the data
side**: for a start-grid ``start0 + k*stride`` a row at ``t`` belongs to
segments ``k ∈ [floor((t-w-start0)/s)+1, floor((t-start0)/s)]`` — a bounded
``sequence``/``explode`` (fan-out ≤ ceil(window/stride)+1 per stride), then one
``groupBy(seg_start)``. Exactly one shuffle; no join against the data at all
(bounds are a one-row-per-key broadcast). Empty segments are restored by a
left join from the independently generated segment spine — on a time or
sequence grid only: count-based windows segment dense per-key sample
positions, where every segment holds the row at its own start. Manual
(user-supplied) segments use a bucketed equi-join instead (granule = max
segment length), which AQE/Catalyst executes as a hash join, never a
nested-loop.

The rule is written once, as two functions every strided path calls:

- ``member_sql`` — which segments contain a position: the one-level path
  (``assign_segments``, positions ``TSN`` from each key's ``START``), the
  bucket summary (``features/summary.py``, bucket indices in grain
  units) and the stateful stream (``streaming/stateful.py``, unbounded
  epoch-aligned grid);
- ``segment_spine`` — every segment of a key's grid: the one-level
  path's empty-window spine and the bucket summary's.

``nb_sql`` (segments per stride) and ``out_sql`` (output index) are the
count and output-index rules both share. Structural expressions are
SQL strings parsed JVM-side: each ``Column`` operator built from Python
costs py4j round trips.

All index arithmetic is integer microseconds for TIME domain (exact), raw
numerics for SEQUENCE.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence, Tuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, IntegralType

from tsflex_spark.utils.data import DataType
from tsflex_spark.utils.time_args import ts_micros

TSN = "__tsn"  # numeric index column
SEG = "__seg_start"
SEG_END = "__seg_end"
SEG_ID = "__seg_id"
OUT_IDX = "__out_idx"
CFG = "__cfg"  # config id column of a multi-config spine or summary
START = "__start"
END = "__end"

_BLOCK = 1 << 16  # max elements per generated array (bounds row explosion)

Num = Union[int, float]


def numeric_index(df: DataFrame, ts_col: str, domain: DataType) -> DataFrame:
    """Add the engine's numeric index column (``unix_micros`` for TIME)."""
    if domain == DataType.TIME:
        return df.withColumn(TSN, ts_micros(ts_col))
    return df.withColumn(TSN, F.col(ts_col))


def output_index(col: Column, domain: DataType) -> Column:
    """Numeric index → user-facing index value."""
    if domain == DataType.TIME:
        return F.timestamp_micros(col.cast("long"))
    return col


def make_bounds(
    data: DataFrame,
    series_cols: Sequence[str],
    key_cols: Sequence[str],
    bound_method: str = "inner",
    extra: Sequence[Column] = (),
) -> DataFrame:
    """Per-key ``(START, END)`` bounds over the required series, plus the
    ``extra`` per-key aggregates (aliased) computed in the same scan and
    kept as bounds columns — the bucket summary's moment shifts
    (``summary.shift_aggs``); ``assign_segments`` drops them.

    inner = max(firsts)..min(lasts); inner-outer = max..max; outer = min..max
    (reference tsflex/features/utils.py:59-99). One tiny aggregate — O(#keys)
    rows regardless of data size.
    """
    mins = [F.min(F.when(F.col(s).isNotNull(), F.col(TSN))).alias(f"__mn_{i}") for i, s in enumerate(series_cols)]
    maxs = [F.max(F.when(F.col(s).isNotNull(), F.col(TSN))).alias(f"__mx_{i}") for i, s in enumerate(series_cols)]
    aggs = [*mins, *maxs, *extra]
    agg = data.groupBy(*key_cols).agg(*aggs) if key_cols else data.agg(*aggs)
    mn_cols = [F.col(f"__mn_{i}") for i in range(len(series_cols))]
    mx_cols = [F.col(f"__mx_{i}") for i in range(len(series_cols))]

    def _g(cols: List[Column]) -> Column:
        return cols[0] if len(cols) == 1 else F.greatest(*cols)

    def _l(cols: List[Column]) -> Column:
        return cols[0] if len(cols) == 1 else F.least(*cols)

    if bound_method == "inner":
        start, end = _g(mn_cols), _l(mx_cols)
    elif bound_method == "inner-outer":
        start, end = _g(mn_cols), _g(mx_cols)
    elif bound_method == "outer":
        start, end = _l(mn_cols), _g(mx_cols)
    else:
        raise ValueError(f"invalid bound_method {bound_method!r}")
    extra_cols = agg.columns[len(key_cols) + 2 * len(series_cols):] if extra else []
    out = agg.select(*key_cols, start.alias(START), end.alias(END), *[F.col(_q(c)) for c in extra_cols])
    return out.where(F.col(START).isNotNull() & F.col(END).isNotNull())


def _q(name: str) -> str:
    """Backtick-quote an identifier for a SQL expression string."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(x: Num) -> str:
    """SQL literal keeping the Python numeric type (int -> BIGINT,
    float -> DOUBLE), so window arithmetic types match ``F.lit`` math."""
    return f"{int(x)}L" if isinstance(x, int) else f"{float(x)!r}D"


def nb_sql(window: str, stride: str, include_final: bool) -> str:
    """Segment count for one stride (reference strided_rolling.py:241-250)
    as a SQL expression over START/END; ``window``/``stride`` are SQL
    literals or column references. Parsed JVM-side: built from ``Column``
    operators it took ~1.1k py4j round trips per ``calculate()`` over
    three multi-stride configs."""
    nb0 = f"greatest(floor(({END} - {START} - {window}) / {stride}) + 1, 0L)"
    if not include_final:
        return nb0
    return f"({nb0} + IF({START} + {nb0} * {stride} <= {END}, 1L, 0L))"


def member_sql(
    pos: str,
    window: str,
    strides: Sequence[str],
    item: Callable[[int], str],
    nbs: Optional[Sequence[str]] = None,
    origin: Optional[str] = None,
) -> str:
    """The membership rule: SQL array of ``item(i)`` — an expression over
    the segment index ``__k`` of stride ``i`` — for every segment of
    every stride that contains position ``pos``.

    Segment ``k`` of stride ``s`` covers ``[origin + k*s, origin + k*s +
    window)``, so ``pos`` lies in ``k ∈ [floor((pos - window - origin)/s)
    + 1, floor((pos - origin)/s)]`` (fan-out ≤ ceil(window/s) per
    stride). With ``nbs`` (stride ``i`` has ``nbs[i]`` segments, see
    ``nb_sql``) the range is clamped to ``[0, nbs[i] - 1]``; without, the
    grid is unbounded both ways (the stream's epoch-aligned grid). A
    range that comes out empty gives an empty array, never a descending
    sequence. Several strides: union of their items, deduplicated."""
    shift = f" - {origin}" if origin else ""
    arrays = []
    for i, s in enumerate(strides):
        lo = f"floor(({pos} - {window}{shift}) / {s}) + 1"
        hi = f"floor(({pos}{shift}) / {s})"
        if nbs is not None:
            lo, hi = f"greatest({lo}, 0L)", f"least({hi}, {nbs[i]} - 1)"
        arrays.append(f"IF({hi} >= {lo}, transform(sequence({lo}, {hi}), __k -> {item(i)}), array())")
    return arrays[0] if len(arrays) == 1 else f"array_distinct(concat({', '.join(arrays)}))"


def segment_spine(
    bounds: DataFrame,
    configs: Sequence[Tuple[int, Num, Sequence[Num]]],
    include_final_window: bool,
    key_cols: Sequence[str],
) -> DataFrame:
    """The spine rule: every segment of every ``(config id, window,
    strides)`` config over each key's ``[START, END]``, as rows ``(keys...,
    CFG, SEG, SEG_END)``. Fully distributed: the per-key bounds rows
    explode in blocks of ``_BLOCK`` indices, so no row ever builds one
    giant array. A multi-stride config's coinciding starts repeat."""
    keys_q = [_q(k) for k in key_cols]
    cs = ", ".join(
        f"named_struct('__c', {c}, '__n', {nb_sql(sql_lit(w), sql_lit(s), include_final_window)}, "
        f"'__s', {sql_lit(s)}, '__w', {sql_lit(w)})"
        for c, w, ss in configs
        for s in ss
    )
    return (
        bounds.selectExpr(*keys_q, START, f"inline(array({cs}))")
        .where("__n > 0")
        .selectExpr(
            *keys_q, START, "__c", "__n", "__s", "__w",
            f"explode(sequence(0L, floor((__n - 1) / {_BLOCK}))) AS __blk",
        )
        .selectExpr(
            *keys_q, START, "__c", "__s", "__w",
            f"explode(sequence(__blk * {_BLOCK}, least(__n - 1, (__blk + 1) * {_BLOCK} - 1))) AS __k",
        )
        .selectExpr(
            *keys_q, f"__c AS {CFG}",
            f"{START} + __k * __s AS {SEG}", f"{START} + __k * __s + __w AS {SEG_END}",
        )
    )


def assign_segments(
    data: DataFrame,
    bounds: DataFrame,
    window: Num,
    strides: Sequence[Num],
    include_final_window: bool,
    key_cols: Sequence[str],
) -> DataFrame:
    """Tag every data row with each segment start it falls into.

    Data-side membership computation — the scale-critical path (module
    docstring). Returns ``data`` columns + ``SEG`` (the bounds' own
    columns are dropped); rows in no segment are dropped, rows in many
    segments are duplicated (fan-out ≤ ceil(window/stride)+1 per stride).
    """
    if key_cols:
        joined = data.join(F.broadcast(bounds), on=list(key_cols), how="inner")
    else:
        joined = data.crossJoin(F.broadcast(bounds))
    # reference slices data to [start, end] inclusive before segmenting
    # (feature_collection.py:1230-1238; pandas .loc[start:end])
    joined = joined.where((F.col(TSN) >= F.col(START)) & (F.col(TSN) <= F.col(END)))
    ss = [sql_lit(s) for s in strides]
    cands = member_sql(
        TSN, sql_lit(window), ss, lambda i: f"{START} + __k * {ss[i]}",
        nbs=[nb_sql(sql_lit(window), s, include_final_window) for s in ss], origin=START,
    )
    bounds_only = [c for c in bounds.columns if c not in key_cols]
    return joined.withColumn(SEG, F.explode(F.expr(cands))).drop(*bounds_only)


def manual_segment_spine(
    spark: SparkSession,
    seg_starts: np.ndarray,
    seg_ends: np.ndarray,
    key_rows: Optional[DataFrame] = None,
) -> DataFrame:
    """User-supplied segment arrays → spine ``(SEG_ID, SEG, SEG_END)``.

    Variable-length segments allowed (reference strided_rolling.py:198-214).
    When ``key_rows`` (distinct keys DataFrame) is given, the same segments
    are replicated per key (cross join — spine is small, keys broadcast).
    """
    pdf = pd.DataFrame(
        {
            SEG_ID: np.arange(len(seg_starts), dtype=np.int64),
            SEG: np.asarray(seg_starts),
            SEG_END: np.asarray(seg_ends),
        }
    )
    spine = spark.createDataFrame(pdf)
    if key_rows is not None:
        spine = key_rows.crossJoin(F.broadcast(spine))
    return spine


def bucket(c: Column, g: Num) -> Column:
    """Granule bucket ``floor(c / g)`` of a position."""
    return F.floor(c.cast("double") / g)


def cover_buckets(df: DataFrame, s: str, e: str, g: Num) -> Column:
    """The grain-``g`` buckets that ``df``'s half-open ``[s, e)`` covers —
    the bucketed equi-join rule of manual segments and of the range joins
    (``relational``): from ``s``'s bucket to the bucket of the largest
    position below ``e``. With an integral end and grain that is
    ``e - 1``; with a floating end ``e - |e|·2⁻⁵³``, which rounds to the
    double just below a positive ``e`` (to ``e`` itself at worst, never
    lower). So no position below ``e`` lies past the last bucket, and an
    end on a bucket edge adds no bucket. Any other end (decimal: the
    position below it may have no double of its own) stops at ``e``'s
    own bucket, one too many when ``e / g`` is whole; the exact
    predicate drops what it adds. An empty range covers its start's
    bucket."""
    first = bucket(F.col(s), g)
    t = df.schema[e].dataType
    if isinstance(t, IntegralType) and float(g).is_integer():
        below = F.col(e) - 1
    elif isinstance(t, (DoubleType, FloatType)):
        below = F.col(e) - F.abs(F.col(e)) * 2.0**-53
    else:
        below = F.col(e)
    last = bucket(below, g)
    return F.sequence(first, F.greatest(first, last))


def assign_manual_segments(
    data: DataFrame,
    spine: DataFrame,
    max_seg_len: Num,
    key_cols: Sequence[str],
) -> DataFrame:
    """Bucketed equi-join segment assignment for arbitrary segments.

    Granule = max segment length ⇒ every segment spans ≤ 2 buckets; the join
    is an equi-join on (keys, bucket) — hash-joinable, AQE-skew-splittable —
    with the exact half-open range predicate as a post-filter
    (SURVEY §4.2 "bucketize" strategy).
    """
    g = max(float(max_seg_len), 1.0)
    seg_b = spine.withColumn("__bkt", F.explode(cover_buckets(spine, SEG, SEG_END, g)))
    data_b = data.withColumn("__bkt", bucket(F.col(TSN), g))
    cond = (F.col(TSN) >= F.col(SEG)) & (F.col(TSN) < F.col(SEG_END))
    joined = data_b.join(F.broadcast(seg_b), on=list(key_cols) + ["__bkt"], how="inner").where(cond)
    return joined.drop("__bkt")


def out_sql(seg: str, end: str, window_idx: str, domain: DataType) -> str:
    """Output index per ``window_idx`` (reference strided_rolling.py:276-293)
    as SQL over segment-start and segment-end expressions, each a column
    or parenthesized. The one
    definition: the grid, count and manual paths parse it over
    ``SEG``/``SEG_END`` (``out_idx_expr``), a bucket summary over its
    exploded starts — token-identical arithmetic, so every path's output
    index is bit-identical."""
    if window_idx == "end":
        return end
    if window_idx == "begin":
        return seg
    if window_idx == "middle":
        half = f"({end} - {seg}) / 2"
        if domain == DataType.TIME:
            half = f"floor({half})"
        return f"{seg} + {half}"
    raise ValueError(f"window_idx {window_idx!r} must be one of begin/middle/end")


def out_idx_expr(window_idx: str, domain: DataType) -> Column:
    """Output index of every ``SEG``/``SEG_END`` row (``out_sql``)."""
    return F.expr(out_sql(SEG, SEG_END, window_idx, domain))
