"""Benchmark launcher: host-derived Spark environment, one worker process
per session, and the result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the workload twice, untraced then with
Spark's event log on, and prints the per-layer ledger plus the tracing
overhead. The last stdout line is the JSON result; anything else goes to
stderr. Scratch files live under ``.perfbench/`` in the working
directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from ledger import layer_metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# a whole run, traced or not, ends within three minutes; its workers
# share this budget
RUN_BUDGET_S = 170.0


def host_env(scratch: str, event_dir: str | None) -> dict:
    """Environment for a worker: cores and driver heap from this host,
    Spark scratch and temp files under ``scratch``, the checkout on the
    Python workers' path, console progress off, and the event log when
    ``event_dir`` is given."""
    # one core stays free for the driver JVM's JIT and GC threads, the
    # Python driver and the OS: with every core running tasks, passes
    # spread more between runs
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    heap_mb = max(1024, min(mem_kb // 1024 // 4, 8192))
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        # no hsperfdata file: the JVM writes it to /tmp whatever tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYSPARK_SUBMIT_ARGS": submit + " pyspark-shell",
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    return env


def run_group(cmd: list, env: dict, timeout: float) -> int:
    """Run ``cmd`` in its own process group (worker, Spark JVM, Python
    workers) and return its exit code; whatever happens, every process
    of the group is stopped and gone before this returns."""
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(timeout, 1.0))
    finally:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if _signal_and_wait(proc, sig, grace_s=10.0):
                break
        proc.wait()


def _signal_and_wait(proc: subprocess.Popen, sig: int, grace_s: float) -> bool:
    """Send ``sig`` to ``proc``'s group; True once the group is empty."""
    deadline = time.monotonic() + grace_s
    try:
        os.killpg(proc.pid, sig)
        while time.monotonic() < deadline:
            proc.poll()  # reap the leader, or the group never empties
            os.killpg(proc.pid, 0)
            time.sleep(0.1)
    except ProcessLookupError:
        return True
    return False


def run_worker(args, scratch: str, traced: bool, deadline: float) -> dict:
    tag = "traced" if traced else "plain"
    data = os.path.join(scratch, f"data-{tag}")
    os.makedirs(data, exist_ok=True)
    event_dir = os.path.join(scratch, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
    out = os.path.join(scratch, f"report-{tag}.json")
    env = host_env(scratch, event_dir)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--data", data, "--out", out,
    ]
    code = run_group(cmd, env, deadline - time.monotonic())
    if code != 0:
        raise SystemExit(f"worker exited with {code}")
    with open(out) as fh:
        rep = json.load(fh)
    rep["env"] = {k: env[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS", "PYTHONPATH",
        "PYSPARK_SUBMIT_ARGS",
    )}
    if traced:
        logs = glob.glob(os.path.join(event_dir, rep["app_id"] + "*"))
        if len(logs) != 1:
            raise SystemExit(f"expected one event log for {rep['app_id']}, found {logs}")
        rep["event_log"] = logs[0]
    shutil.rmtree(data, ignore_errors=True)
    return rep


def end_to_end(rep: dict) -> dict:
    wall = statistics.median(rep["walls"])
    return {
        "setup_s": {"value": rep["setup_s"], "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "rows_per_s": {"value": rep["inputs"]["rows"] / wall, "unit": "rows/s"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated launcher still cleans up its worker and scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    deadline = time.monotonic() + RUN_BUDGET_S
    scratch = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        plain = run_worker(args, scratch, traced=False, deadline=deadline)
        reps = [plain]
        if args.trace:
            traced = run_worker(args, scratch, traced=True, deadline=deadline)
            reps.append(traced)
            metrics = layer_metrics(traced, WORKLOADS[args.workload].PLAN_LAYER)
            overhead = statistics.median(traced["walls"]) - statistics.median(plain["walls"])
            metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        else:
            metrics = end_to_end(plain)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:  # another run is using it
            pass

    attempted = sum(r["attempted"] for r in reps)
    failed = sum(r["failed"] for r in reps)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": plain["inputs"],
        "passes": [len(r["walls"]) for r in reps],
        "walls_s": plain["walls"],
        "peak_rss_mb": plain["peak_rss_mb"],
        "fail_ratio": failed / attempted,
        "errors": [e for r in reps for e in r["errors"]],
        "env": plain["env"],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
