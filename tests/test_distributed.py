"""Unit tests for utils/distributed.py — the two-pass global-order
primitives are load-bearing (count-based windows, consecutive runs, gap
chunking all sit on them), so they get direct ground-truth checks against
pandas on adversarial shapes: many partitions, duplicate order values,
empty inputs, and single rows.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsflex_spark.utils.distributed import (
    with_global_islands,
    with_global_row_number,
    with_global_shift,
)


def _mk(spark, n, seed=0, dups=False):
    rng = np.random.default_rng(seed)
    order = rng.permutation(n) * (1 if not dups else 1)
    if dups:
        order = order // 3  # heavy duplicate order keys
    pdf = pd.DataFrame({"o": order.astype("int64"), "x": rng.normal(size=n)})
    # many input partitions so range repartition really redistributes
    return pdf, spark.createDataFrame(pdf).repartition(13)


def test_global_row_number_matches_rank(spark):
    pdf, df = _mk(spark, 5000, seed=1)
    out = with_global_row_number(df, "o", "rn", zero_based=True).toPandas()
    out = out.sort_values("o").reset_index(drop=True)
    assert out["rn"].tolist() == list(range(5000))


def test_global_shift_lag_lead_match_pandas(spark):
    pdf, df = _mk(spark, 3000, seed=2)
    ref = pdf.sort_values("o").reset_index(drop=True)
    lag = with_global_shift(df, "o", "o", "prev", offset=-1).toPandas()
    lag = lag.sort_values("o").reset_index(drop=True)
    expect = ref["o"].shift(1)
    assert ((lag["prev"] == expect) | (lag["prev"].isna() & expect.isna())).all()
    lead = with_global_shift(df, "o", "o", "nxt", offset=1).toPandas()
    lead = lead.sort_values("o").reset_index(drop=True)
    expect = ref["o"].shift(-1)
    assert ((lead["nxt"] == expect) | (lead["nxt"].isna() & expect.isna())).all()


def test_global_shift_consumer_stable_pids_on_parquet(spark):
    """Regression: the helpers read the ranged frame from >=2 plan
    branches, and AQE can coalesce/replan the range exchange differently
    PER CONSUMER — without the materialization in `_ranged` the boundary
    aggregate saw different partition contents than the row branch and
    every partition-edge row got a wrong shift value. Synthetic
    createDataFrame inputs did not trigger the divergence; the real
    parquet scan shape did, so this test runs on the driver fixture."""
    from tsflex_spark.sources.io import read_events
    from tsflex_spark.utils.time_args import ts_micros

    ev = (
        read_events(spark, "/root/testdata/sf0.01")
        .select("ts")
        .withColumn("o", ts_micros("ts"))
        .select("o")
    )
    out = (
        with_global_shift(ev, "o", "o", "prev", offset=-1)
        .toPandas()
        .sort_values("o")
        .reset_index(drop=True)
    )
    expect = out["o"].shift(1)
    bad = ~((out["prev"] == expect) | (out["prev"].isna() & expect.isna()))
    assert bad.sum() == 0, out[bad].head()


def test_global_islands_match_pandas(spark):
    rng = np.random.default_rng(3)
    # ts with occasional big gaps
    steps = rng.choice([1, 1, 1, 100], size=4000)
    ts = np.cumsum(steps).astype("int64")
    pdf = pd.DataFrame({"o": ts})
    df = spark.createDataFrame(pdf).repartition(17)
    out = with_global_islands(
        df, "o", "o", lambda prev: prev.isNull() | ((F.col("o") - prev) > 10), "isl"
    ).toPandas().sort_values("o").reset_index(drop=True)
    ref = pdf.sort_values("o").reset_index(drop=True)
    expect = ((ref["o"] - ref["o"].shift(1)).fillna(1e9) > 10).cumsum()
    assert out["isl"].tolist() == expect.tolist()


def test_helpers_on_tiny_and_empty(spark):
    one = spark.createDataFrame(pd.DataFrame({"o": [7]}))
    assert with_global_row_number(one, "o", "rn").first()["rn"] == 1
    assert with_global_shift(one, "o", "o", "p").first()["p"] is None
    empty = spark.createDataFrame([], "o long")
    assert with_global_row_number(empty, "o", "rn").count() == 0


def test_keyed_paths_equal_plain_windows(spark):
    rng = np.random.default_rng(4)
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 5, 2000),
            "o": rng.permutation(2000).astype("int64"),
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    out = with_global_row_number(df, "o", "rn", key_cols=["k"], zero_based=True).toPandas()
    ref = pdf.sort_values(["k", "o"]).groupby("k").cumcount()
    got = out.sort_values(["k", "o"]).reset_index(drop=True)["rn"]
    assert got.tolist() == ref.tolist()


def test_global_ewma_matches_pandas(spark):
    """Distributed EWMA (range-partitioned scans + geometric prefix
    stitch) must match pandas ewm(adjust=True).mean() to float precision
    across partition boundaries and alphas."""
    import numpy as np
    import pandas as pd

    from tsflex_spark.utils.distributed import with_global_ewma

    rng = np.random.default_rng(3)
    n = 3000
    pdf = pd.DataFrame({"i": np.arange(n), "v": rng.normal(size=n)})
    sdf = spark.createDataFrame(pdf).repartition(7)
    for alpha in (0.9, 0.3, 0.05, 1.0):
        out = with_global_ewma(sdf, "v", alpha, ["i"]).orderBy("i").toPandas()
        exp = pdf["v"].ewm(alpha=alpha, adjust=True).mean().to_numpy()
        assert np.max(np.abs(out["v_ewma"].to_numpy() - exp)) < 1e-12


def test_global_ewma_plan_range_partitions(spark):
    """The EWMA must range-partition the data (never one task) and keep
    contiguous key ranges per partition. The range exchange now sits
    inside the load-bearing localCheckpoint (consumer-stable pids), so
    the property is asserted on the materialized layout, not plan text:
    >1 partition with DISJOINT per-partition key ranges is exactly what
    a single-partition window cannot produce."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tsflex_spark.utils.distributed import PID, _n_range_parts, with_global_ewma

    pdf = pd.DataFrame({"i": np.arange(5000), "v": np.ones(5000)})
    sdf = spark.createDataFrame(pdf).repartition(7)
    assert _n_range_parts(sdf) > 1  # the explicit count AQE cannot rewrite
    out = with_global_ewma(sdf, "v", 0.5, ["i"])
    # behavioral: the result matches pandas ewm (already covered
    # elsewhere); here assert the layout via the ranged internals
    from tsflex_spark.utils.distributed import _ranged

    d = _ranged(sdf, "i")
    spans = (
        d.groupBy(PID).agg(F.min("i").alias("mn"), F.max("i").alias("mx"))
        .orderBy("mn")
        .collect()
    )
    assert len(spans) > 1, "data collapsed to one partition"
    for a, b in zip(spans, spans[1:]):
        assert a["mx"] < b["mn"], "partition key ranges overlap"


def test_order_statistics_exact(spark):
    from tsflex_spark.utils.distributed import order_statistics

    pdf, sdf = _mk(spark, 5000, seed=3, dups=True)
    got = {
        r["rank"]: r["value"]
        for r in order_statistics(sdf, "o", [1, 17, 2500, 5000]).collect()
    }
    srt = np.sort(pdf["o"].to_numpy())
    for k in (1, 17, 2500, 5000):
        assert got[k] == srt[k - 1]
    # rank past the end yields no row, not a wrong value
    assert order_statistics(sdf, "o", [5001]).count() == 0


def test_exact_quantiles_match_numpy(spark):
    from tsflex_spark.utils.distributed import exact_quantiles

    rng = np.random.default_rng(11)
    vals = rng.integers(0, 10_000, size=3001).astype("int64")
    sdf = spark.createDataFrame(pd.DataFrame({"v": vals})).repartition(13)
    qs = [0.0, 0.05, 0.5, 0.95, 1.0, 0.333]
    got = {r["q"]: r["value"] for r in exact_quantiles(sdf, "v", qs).collect()}
    for q in qs:
        assert got[q] == pytest.approx(np.percentile(vals, q * 100), abs=0, rel=0)


def test_quantile_filter_band(spark):
    from tsflex_spark.utils.distributed import quantile_filter

    rng = np.random.default_rng(4)
    vals = rng.normal(size=2000)
    sdf = spark.createDataFrame(pd.DataFrame({"v": vals, "id": np.arange(2000)}))
    kept = quantile_filter(sdf, "v", 0.05, 0.95).toPandas()
    lo, hi = np.percentile(vals, [5, 95])
    exp = ((vals >= lo) & (vals <= hi)).sum()
    assert len(kept) == exp
    assert kept["v"].min() >= lo and kept["v"].max() <= hi
    assert set(kept.columns) == {"v", "id"}


def test_exact_quantiles_plan_no_global_sort(spark):
    """Quantile selection must range-partition + broadcast tiny rank
    tables — the data-sized stages all stay parallel."""
    import contextlib, io

    from tsflex_spark.utils.distributed import exact_quantiles

    sdf = spark.createDataFrame(
        pd.DataFrame({"v": np.arange(1000, dtype="int64")})
    ).repartition(7)
    out = exact_quantiles(sdf, "v", [0.25, 0.75])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the range exchange sits inside the helpers' load-bearing
    # localCheckpoint (consumer-stable pids) and no longer shows in this
    # plan text; what must still hold here: the tiny rank tables come
    # back via broadcast, and no GLOBAL sort runs over the data
    assert "BroadcastExchange" in plan
    for ln in plan.splitlines():
        if "Sort [" in ln:
            assert "global=false" in ln or "__rank" in ln or "q" in ln
    # layout property (replaces the plan-text rangepartitioning check)
    from pyspark.sql import functions as F

    from tsflex_spark.utils.distributed import PID, _ranged

    d = _ranged(sdf, "v")
    spans = (
        d.groupBy(PID).agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("mn")
        .collect()
    )
    assert len(spans) > 1
    for a, b in zip(spans, spans[1:]):
        assert a["mx"] < b["mn"]


def test_multi_column_global_shift(spark):
    """Sequence col/out_col: every column shifts through ONE struct
    payload (one range exchange); values match per-column shifts."""
    import numpy as np
    import pandas as pd

    from tsflex_spark.utils.distributed import with_global_shift

    rng = np.random.default_rng(5)
    n = 500
    pdf = pd.DataFrame(
        {"o": np.arange(n), "a": rng.normal(size=n), "b": rng.integers(0, 9, n)}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    out = (
        with_global_shift(df, ["a", "b"], "o", ["a_lag", "b_lag"], offset=-1)
        .toPandas()
        .sort_values("o")
        .reset_index(drop=True)
    )
    assert out["a_lag"].iloc[0] is None or pd.isna(out["a_lag"].iloc[0])
    assert np.allclose(out["a_lag"].iloc[1:].to_numpy(), pdf["a"].iloc[:-1].to_numpy())
    assert (out["b_lag"].iloc[1:].to_numpy() == pdf["b"].iloc[:-1].to_numpy()).all()
    # lead direction: the same single struct payload — the consumers all
    # read ONE materialized range exchange (an eager localCheckpoint's
    # LogicalRDD scan, or a cached InMemoryRelation). What must NEVER
    # appear is a rangepartitioning exchange a CONSUMER inserted to meet
    # its requirements (ENSURE_REQUIREMENTS) — that would mean a branch
    # re-partitioned (and re-sampled) on its own, breaking
    # consumer-stable pids.
    sdf = with_global_shift(df, ["a", "b"], "o", ["a_lag", "b_lag"], offset=1)
    plan = sdf._jdf.queryExecution().executedPlan().toString().lower()
    assert plan.count("__shift_pack") >= 1
    assert "existingrdd" in plan or "inmemorytablescan" in plan, plan
    for ln in plan.splitlines():
        if "rangepartitioning" in ln:
            assert "ensure_requirements" not in ln, ln
    got = sdf.toPandas().sort_values("o").reset_index(drop=True)
    assert np.allclose(got["a_lag"].iloc[:-1].to_numpy(), pdf["a"].iloc[1:].to_numpy())


def test_lag_k_global_shift(spark):
    """|offset| = k > 1 in ONE pass: parity with pandas shift(k) in both
    directions, across partition boundaries, including k larger than a
    partition's row count and k >= total rows (all-NULL)."""
    import numpy as np
    import pandas as pd

    from tsflex_spark.utils.distributed import with_global_shift

    rng = np.random.default_rng(61)
    n = 203
    pdf = pd.DataFrame({"o": np.arange(n), "a": rng.normal(size=n).round(3)})
    # many tiny range partitions → k=5 spans several partition boundaries
    # (the session's 32 shuffle partitions on 203 rows give ~7-row ranges)
    df = spark.createDataFrame(pdf).repartition(16)
    for k in (2, 5, 40):
        lag = (
            with_global_shift(df, "a", "o", "p", offset=-k)
            .toPandas().sort_values("o").reset_index(drop=True)
        )
        exp = pdf["a"].shift(k)
        assert lag["p"].isna().equals(exp.isna()), k
        both = ~exp.isna()
        assert np.allclose(lag["p"][both], exp[both]), k
        lead = (
            with_global_shift(df, "a", "o", "nx", offset=k)
            .toPandas().sort_values("o").reset_index(drop=True)
        )
        exp = pdf["a"].shift(-k)
        assert lead["nx"].isna().equals(exp.isna()), k
        both = ~exp.isna()
        assert np.allclose(lead["nx"][both], exp[both]), k
    # k >= n: everything NULL
    allnull = with_global_shift(df, "a", "o", "p", offset=-(n + 3)).toPandas()
    assert allnull["p"].isna().all()
    # multi-column + k composes through the struct path
    df2 = spark.createDataFrame(pdf.assign(b=np.arange(n) * 2.0))
    got = (
        with_global_shift(df2, ["a", "b"], "o", ["a3", "b3"], offset=-3)
        .toPandas().sort_values("o").reset_index(drop=True)
    )
    expb = pdf.assign(b=np.arange(n) * 2.0)["b"].shift(3)
    both = ~expb.isna()
    assert np.allclose(got["b3"][both], expb[both])


def test_multi_column_keyed_lag_k(spark):
    """key_cols + column lists + |offset| > 1 compose: per-key pandas
    shift(k) parity through the keyed window path."""
    import numpy as np
    import pandas as pd

    from tsflex_spark.utils.distributed import with_global_shift

    rng = np.random.default_rng(67)
    n = 400
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 4, n),
            "o": np.arange(n),
            "a": rng.normal(size=n).round(3),
            "b": rng.integers(0, 99, n),
        }
    )
    df = spark.createDataFrame(pdf).repartition(9)
    out = (
        with_global_shift(df, ["a", "b"], "o", ["a2", "b2"], offset=-2, key_cols=["k"])
        .toPandas()
        .sort_values(["k", "o"])
        .reset_index(drop=True)
    )
    ref = pdf.sort_values(["k", "o"]).reset_index(drop=True)
    for src, dst in (("a", "a2"), ("b", "b2")):
        exp = ref.groupby("k")[src].shift(2)
        assert out[dst].isna().equals(exp.isna()), dst
        both = ~exp.isna()
        assert np.allclose(out[dst][both].astype(float), exp[both].astype(float)), dst


def test_global_ewma_scan_runs_once(spark):
    """The EWMA's Python scan feeds four consumers (the row branch, the
    per-partition edge table and both sides of the carry self-joins).
    It runs once, inside the range cut, so the executed plan of the
    result re-runs no ``MapInPandas`` scan."""
    import numpy as np
    import pandas as pd

    from tsflex_spark.utils.distributed import with_global_ewma

    pdf = pd.DataFrame({"i": np.arange(200), "v": np.linspace(0.0, 1.0, 200)})
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        out = with_global_ewma(spark.createDataFrame(pdf), "v", 0.3, ["i"])
        got = out.orderBy("i").toPandas()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert plan.count("MapInPandas") == 0, plan
    exp = pdf["v"].ewm(alpha=0.3, adjust=True).mean().to_numpy()
    assert np.max(np.abs(got["v_ewma"].to_numpy() - exp)) < 1e-12
