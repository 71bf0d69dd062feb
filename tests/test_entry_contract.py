"""Guards on the driver contract in __spark_entry__.py: the query map is
capped at 50 entries, every oracle key has a query, the module stays
importable without a SparkSession, and every profiled leg is code its
gate runs."""

import inspect
import sys
import types

import pytest
from pyspark.sql import DataFrame

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod

LEGS = entry_mod.query_legs()


def test_query_count_at_cap():
    q = entry_mod.queries()
    assert len(q) == 50, f"driver caps at 50; have {len(q)}"
    assert all(callable(f) for f in q.values())


def test_oracles_subset_of_queries():
    q = set(entry_mod.queries())
    o = entry_mod.oracle_sql()
    assert set(o) <= q, set(o) - q
    # every oracle is a non-trivial SQL string
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in o.values())
    # every query is oracle-checked (no rows-only escapes)
    rows_only = q - set(o)
    assert rows_only == set(), rows_only


def test_entry_callable_defined():
    assert callable(entry_mod.entry)


def test_query_legs_contract():
    """query_legs() gates must exist in queries(); every leg is callable.
    bench.py times these into BENCH_FULL.json verification_legs."""
    legs = entry_mod.query_legs()
    q = set(entry_mod.queries())
    assert set(legs) <= q, set(legs) - q
    for gate, m in legs.items():
        assert m and all(callable(f) for f in m.values()), gate


def _names(fn) -> tuple[set, set]:
    """(global/attribute names in ``fn``'s own code, names of the
    __spark_entry__ module-level functions it refers to). Looks into
    nested code objects (lambdas, inner defs) and into closure cells
    holding non-module functions (the thunk wrappers)."""
    names, entry_fns, funcs = set(), set(), [fn]
    while funcs:
        f = funcs.pop()
        codes = [f.__code__]
        while codes:
            code = codes.pop()
            names.update(code.co_names)
            codes.extend(c for c in code.co_consts if isinstance(c, types.CodeType))
        for cell in f.__closure__ or ():
            v = cell.cell_contents
            if inspect.isfunction(v):
                if getattr(entry_mod, v.__name__, None) is v:
                    entry_fns.add(v.__name__)
                else:
                    funcs.append(v)
    entry_fns |= {n for n in names if inspect.isfunction(getattr(entry_mod, n, None))}
    return names, entry_fns


def test_legs_are_the_gates_own_functions():
    """Every leg thunk only composes module-level functions that its gate
    calls too — no DataFrame is built inside query_legs(), so a leg can
    not drift from the plan its gate runs."""
    assert {g: sorted(m) for g, m in LEGS.items()} == {
        "sketch_dedup": sorted(
            ["sketch", "mh_cands", "sim_cands", "xor", "store", "mh_dedup"]
        ),
        "ngram_jaccard": sorted(["consec", "fuzzy", "edit"]),
        "dup_clusters": sorted(["edges", "cc", "pagerank"]),
        "passage_spans": sorted(["spans", "top_ngrams", "hash_embed", "despan"]),
        "quality_score": sorted(["quality", "langid", "repetition", "dsir"]),
    }
    queries = entry_mod.queries()
    df_methods = {m for m in dir(DataFrame) if not m.startswith("_")}
    for gate, legs in LEGS.items():
        gate_calls = _names(queries[gate])[1]
        for leg, thunk in legs.items():
            names, calls = _names(thunk)
            calls -= {"_documents"}
            assert calls, (gate, leg)
            assert calls <= gate_calls, (gate, leg, calls - gate_calls)
            assert not names & df_methods, (gate, leg, names & df_methods)


@pytest.mark.parametrize(
    "gate,leg", [(g, leg) for g, m in LEGS.items() for leg in m]
)
def test_every_leg_runs(spark, sf_dir, gate, leg):
    LEGS[gate][leg](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_stateful_gate_rejects_directory_source(spark, tmp_path):
    """A Spark-written (directory) events.parquet would match no file
    under the gate's pathGlobFilter: it must fail, not return 0 rows."""
    (tmp_path / "events.parquet").mkdir()
    with pytest.raises(FileNotFoundError):
        entry_mod.q_streaming_stateful(spark, str(tmp_path))


def test_ann_gate_rejects_missing_query_row(spark, tmp_path):
    """Without vec_id 0 the folded head fetch would silently take the
    smallest base vector as the query: the gate must fail instead."""
    rows = [(i, [float((i * 7 + j) % 11) for j in range(64)]) for i in range(1, 40)]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    with pytest.raises(ValueError, match="vec_id 0"):
        entry_mod.q_ann_methods(spark, str(tmp_path))
