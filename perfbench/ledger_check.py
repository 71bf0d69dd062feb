"""Check the ledger's ``features.python_rows`` against a known row count.

    python3 perfbench/ledger_check.py

Run it from the repository root. No workload runs the Python feature
tier, so this script does: one recording, a Python ``FuncWrapper``
(``np.ptp``) and the native ``count`` over the same tumbling 1-minute
windows, in a Spark session with the event log on. Every sample inside
a window enters the Python node exactly once, so ``python_rows`` must
equal the sum of the count column. Exits 0 when it does.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def child(scratch: str) -> None:
    import numpy as np
    from tsflex_spark import FeatureCollection, FeatureDescriptor, FuncWrapper
    from tsflex_spark.session import get_spark

    from gen import make_recordings
    from spans import Spans
    from workloads import _utc, _write

    spark = get_spark("perfbench-ledger-check")
    rec = make_recordings(seed=0, n_rec=1, hours=0.5, fs_hz=4.0).frame.drop(columns=["rec"])
    df = spark.read.parquet(_write(_utc(rec), os.path.join(scratch, "one.parquet")))
    fc = FeatureCollection(
        [
            FeatureDescriptor(FuncWrapper(np.ptp, output_names="ptp"), "hr", "1m", "1m"),
            FeatureDescriptor("count", "hr", "1m", "1m"),
        ]
    )
    spans = Spans()
    spans.iteration = 0
    begin_ms = time.time() * 1000.0
    with spans.span("features", "build"):
        out = fc.calculate(df, ts_col="ts", approve_sparsity=True)
    with spans.span("features", "exec"):
        pdf = out.toPandas()
    spans.records.append(("pass", "pass", begin_ms, time.time() * 1000.0, 0))
    report = {
        "app_id": spark.sparkContext.applicationId,
        "spans": spans.measured(),
        "session_start_s": 0.0,
        "exchanges": None,
        "want_rows": int(pdf["hr__count__w=1m"].sum()),
    }
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    with open(os.path.join(scratch, "report.json"), "w") as fh:
        json.dump(report, fh)


def main() -> int:
    from ledger import layer_metrics
    from run import host_env, run_group

    scratch = os.path.join(os.getcwd(), ".perfbench", f"check-{os.getpid()}")
    events = os.path.join(scratch, "events")
    os.makedirs(events)
    try:
        env = host_env(scratch, events)
        code = run_group([sys.executable, __file__, "--child", scratch], env, timeout=170.0)
        if code != 0:
            print(f"child exited with {code}", file=sys.stderr)
            return 1
        with open(os.path.join(scratch, "report.json")) as fh:
            rep = json.load(fh)
        (rep["event_log"],) = glob.glob(os.path.join(events, rep["app_id"] + "*"))
        rep["env"] = {"SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"]}
        got = layer_metrics(rep, "features")["features.python_rows"]["value"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:  # a benchmark run is using it
            pass
    print(json.dumps({"python_rows": got, "want_rows": rep["want_rows"]}))
    return 0 if got == rep["want_rows"] else 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        child(sys.argv[2])
    else:
        sys.exit(main())
