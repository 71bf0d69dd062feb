"""The segmentation rule's two functions against a Python brute force.

``segmenter.member_sql`` (which segments contain a position) and
``segmenter.segment_spine`` (every segment of a key's grid) are the one
definition the one-level path, the bucket summary and the stateful
stream share. Here each is checked directly: a position ``p`` belongs to
exactly the grid starts with ``start <= p < start + window``, over every
start the reference's count rule generates (bounded grid) or over every
stride multiple (the stream's unbounded epoch-aligned grid). Float
cases use dyadic values, so the brute force is exact.
"""

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import ref_segment_starts
from tsflex_spark.features.segmenter import (
    CFG,
    END,
    SEG,
    SEG_END,
    START,
    TSN,
    member_sql,
    nb_sql,
    segment_spine,
    sql_lit,
)

# (positions, window, stride, second stride)
GRIDS = {
    "int": (list(range(3, 41)) + [17, 29], 6, 4, 5),
    "float": ([1.25 + 0.25 * i for i in range(44)], 2.5, 0.75, 1.25),
}


def _strides(kind, window, s, s2):
    return {"w": [window], "s": [s], "s1s2": [s, s2]}[kind]


@pytest.mark.parametrize("pos_kind", ["int", "float"])
@pytest.mark.parametrize("stride_kind", ["w", "s", "s1s2"])
@pytest.mark.parametrize("final", [False, True])
def test_bounded_grid_matches_brute_force(spark, pos_kind, stride_kind, final):
    pos, window, s, s2 = GRIDS[pos_kind]
    strides = _strides(stride_kind, window, s, s2)
    start, end = min(pos), max(pos)
    starts = ref_segment_starts(start, end, window, strides, final)

    bounds = spark.createDataFrame(pd.DataFrame({"key": [7], START: [start], END: [end]}))
    data = spark.createDataFrame(pd.DataFrame({"key": 7, TSN: pos}))
    ss = [sql_lit(x) for x in strides]
    arr = member_sql(
        TSN, sql_lit(window), ss, lambda i: f"{START} + __k * {ss[i]}",
        nbs=[nb_sql(sql_lit(window), x, final) for x in ss], origin=START,
    )
    got = data.join(bounds, "key").selectExpr(TSN, f"array_sort({arr}) AS m").collect()
    assert len(got) == len(pos)
    for r in got:
        p = r[TSN]
        exp = sorted(st for st in starts if st <= p < st + window)
        assert list(r["m"]) == exp, (p, list(r["m"]), exp)

    spine = segment_spine(bounds, [(3, window, strides)], final, ["key"]).toPandas()
    per_stride = [ref_segment_starts(start, end, window, [x], final) for x in strides]
    assert sorted(spine[SEG]) == sorted(np.concatenate(per_stride))
    assert set(spine[SEG]) == set(starts)
    assert (spine[SEG_END] == spine[SEG] + window).all()
    assert (spine[CFG] == 3).all() and (spine["key"] == 7).all()


@pytest.mark.parametrize(
    "pos,window,stride",
    [
        (list(range(-30, 31)), 7, 3),  # sliding
        (list(range(-30, 31)), 5, 5),  # tumbling
        ([-4.0 + 0.25 * i for i in range(40)], 1.5, 0.5),
    ],
)
def test_unbounded_epoch_grid_matches_brute_force(spark, pos, window, stride):
    """No segment count: every stride multiple ``k * stride`` is a start,
    before and after the epoch, as in the stateful stream."""
    arr = member_sql("p", sql_lit(window), [sql_lit(stride)], lambda _i: f"__k * {sql_lit(stride)}")
    got = spark.createDataFrame(pd.DataFrame({"p": pos})).selectExpr("p", f"{arr} AS m").collect()
    ks = range(math.floor(min(pos) / stride) - math.ceil(window / stride) - 2,
               math.floor(max(pos) / stride) + 3)
    for r in got:
        p = r["p"]
        exp = [k * stride for k in ks if k * stride <= p < k * stride + window]
        assert list(r["m"]) == exp, (p, list(r["m"]), exp)
