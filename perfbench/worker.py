"""One Spark session running one workload; started by ``run.py``.

Sets up (session, inputs, references, warm-up passes), then runs
passes of the workload back to back until ``--seconds`` have been
measured, checks every pass's outputs, and writes a JSON report to
``--out``. Spark's own stdout/stderr noise stays out of the report.

    python3 perfbench/worker.py --workload NAME --seed N --seconds S \
        --data DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PASSES = 2


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _exchanges(df) -> int:
    from tsflex_spark.utils.plans import scale_report

    stats = dict(s.split("=", 1) for s in scale_report(df)["stats"])
    return int(stats["exchanges"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    t_setup = time.perf_counter()
    import tsflex_spark
    from tsflex_spark.session import get_spark

    if not os.path.abspath(tsflex_spark.__file__).startswith(ROOT + os.sep):
        print(f"tsflex_spark imported from outside {ROOT}", file=sys.stderr)
        return 2
    from spans import Spans
    from workloads import WORKLOADS, Op

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    spans = Spans()
    wl = WORKLOADS[a.workload](spark, a.data, a.seed, spans)
    inputs = wl.setup()
    op = Op()  # warm-up calls count as operations too
    for _ in range(wl.WARMUP_PASSES):
        wl.run_once(op)
        spark.catalog.clearCache()
    setup_s = time.perf_counter() - t_setup

    results, walls = [], []
    t_run = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - t_run < a.seconds:
        spans.iteration = len(walls)
        t = time.perf_counter()
        begin_ms = time.time() * 1000.0
        results.append(wl.run_once(op))
        walls.append(time.perf_counter() - t)
        spans.records.append(("pass", "pass", begin_ms, time.time() * 1000.0, spans.iteration))
        spark.catalog.clearCache()

    # read from the plan string after the timed region; starts no job
    exchanges = _exchanges(wl.last_df) if wl.last_df is not None else None
    for res in results:
        try:
            wl.check(res, op)
        except Exception as e:  # malformed output fails its check
            op.note(False, f"check raised {type(e).__name__}: {e}"[:300])

    peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    app_id = sc.applicationId
    proc = sc._gateway.proc
    spark.stop()
    # the gateway JVM exits when its stdin closes; wait for it
    proc.stdin.close()
    proc.wait(timeout=60)

    report = {
        "workload": a.workload,
        "seed": a.seed,
        "inputs": inputs,
        "app_id": app_id,
        "session_start_s": session_start_s,
        "setup_s": setup_s,
        "walls": walls,
        "peak_rss_mb": peak_rss_mb,
        "attempted": op.attempted,
        "failed": op.failed,
        "errors": op.errors,
        "spans": spans.measured(),
        "exchanges": exchanges,
    }
    with open(a.out, "w") as fh:
        json.dump(report, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
