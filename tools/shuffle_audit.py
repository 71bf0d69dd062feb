"""Shuffle-volume audit: run gate queries with the Spark UI's REST API
on and report per-query shuffle write/read and scan input bytes.

"Minimize shuffles" is this repo's #1 scale rule; this tool turns it
into a measured number instead of a plan-reading claim. A query whose
shuffle write is a large multiple of its scan input is moving data it
did not need to move (fan-out explosion, missing partial aggregation,
un-broadcast join) — the thing that kills a 100 TB run long before
local wall-time shows it.

Usage: python tools/shuffle_audit.py [sf_dir] [query ...]
Prints one JSON line per query:
  {"query": ..., "input_mb": ..., "shuffle_write_mb": ...,
   "shuffle_read_mb": ..., "ratio_write_over_input": ...}
and a final TOTAL line.

Caveat: per-stage ``inputBytes`` counts storage AND cache/localCheckpoint
reads (the multi-pass dedup queries re-read their checkpointed shingle
table, so their "input" is far above file size); absolute shuffle-write
MB per query is the robust signal.

Findings recorded from the 2026-08 run (sf0.1, all 50 gates): total
shuffle write 198 MB across 50 queries over ~16 MB of source parquet —
dominated by ops whose OUTPUT is inherently large-and-keyed (resample's
1.05M-row interpolated grid, quality_score's per-doc n-gram stats).
Top writer processing_resample (38.3 MB) was then fused to one
union-window exchange → 27.2 MB. Every TPC-H/rolling/dedup gate writes
< 14 MB; no query shuffles an intermediate that dwarfs its own output.

Round-5 re-run (same sf, gates now 50/50 oracle-checked): total 193 MB.
New top writer sketch_dedup 38.2 MB — expected: the gate gained the
full candidate-superset contract (128-hash signatures ≈ 1 KB/doc
through the groupBy, banded joins for two sketches, and an exact
shingle-join verify over ~75% of the docs). Write scales linearly with
corpus size (no quadratic pair blow-up: candidates stay ~2k of 12.5M
possible pairs), so the constant is fine at cluster scale. Next:
processing_resample 27.2, dup_clusters 13.4, quality_score 13.2.

Round-6 re-run after the sketch fusion + BLAS cosine legs: sketch_dedup
shuffle unchanged at 38.0 MB (the fused aggregate carries both sketch
buffers through ONE doc-keyed exchange — bytes ≈ the former two
exchanges combined; the 11.7→7.1 s win is the removed second shingle
scan + aggregate pass, not shuffle volume). cosine_topk shuffle is now
~0 MB (map-only BLAS partials; the HOF-lambda plan's exchange is gone).
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

os.environ.setdefault("SPARK_GRAFT_UI", "true")

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession

from tsflex_spark.session import get_spark


def _rest(spark: SparkSession, path: str):
    base = spark.sparkContext.uiWebUrl  # e.g. http://host:4040
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}{path}") as r:
        return json.loads(r.read())


def _stage_totals(spark: SparkSession) -> dict:
    tot = {"input": 0, "sw": 0, "sr": 0, "max_id": -1}
    for st in _rest(spark, "/stages?status=complete"):
        tot["input"] += st.get("inputBytes", 0)
        tot["sw"] += st.get("shuffleWriteBytes", 0)
        tot["sr"] += st.get("shuffleReadBytes", 0)
        tot["max_id"] = max(tot["max_id"], st.get("stageId", -1))
    return tot


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as entry_mod

    spark = get_spark("shuffle_audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    if len(sys.argv) > 2:
        only = set(sys.argv[2:])
        queries = {k: v for k, v in queries.items() if k in only}

    mb = 1024 * 1024
    grand = {"input": 0, "sw": 0, "sr": 0}
    for name, fn in queries.items():
        before = _stage_totals(spark)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        after = _stage_totals(spark)
        d = {k: after[k] - before[k] for k in ("input", "sw", "sr")}
        for k in grand:
            grand[k] += d[k]
        print(
            json.dumps(
                {
                    "query": name,
                    "input_mb": round(d["input"] / mb, 2),
                    "shuffle_write_mb": round(d["sw"] / mb, 2),
                    "shuffle_read_mb": round(d["sr"] / mb, 2),
                    "ratio_write_over_input": (
                        round(d["sw"] / d["input"], 3) if d["input"] else None
                    ),
                }
            )
        )
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "query": "TOTAL",
                "input_mb": round(grand["input"] / mb, 2),
                "shuffle_write_mb": round(grand["sw"] / mb, 2),
                "shuffle_read_mb": round(grand["sr"] / mb, 2),
                "ratio_write_over_input": (
                    round(grand["sw"] / grand["input"], 3) if grand["input"] else None
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
