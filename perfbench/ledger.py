"""Layer ledger: per-layer metrics from a traced worker report.

Reads Spark's uncompressed event log (one JSON object per line) with the
stdlib and the spans the worker recorded around public calls. A job
belongs to the span it was *submitted* in: a job submitted inside a
public call is build work of that layer, one submitted inside the
call's action is exec work. Every metric is computed per measured pass
and reported as the median over passes.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

MB = 1024.0 * 1024.0
LAYERS = ("processing", "chunking", "features", "datapipe")
_SQL = "org.apache.spark.sql.execution.ui."


def metric_names() -> list:
    """(name, unit) of every per-layer metric, in report order."""
    out = [("session.start_s", "s")]
    for layer in LAYERS:
        out += [(f"{layer}.build_s", "s"), (f"{layer}.build_jobs", "count")]
        if layer != "processing":
            out.append((f"{layer}.exec_s", "s"))
        if layer in ("features", "datapipe"):
            out.append((f"{layer}.exchanges", "count"))
    out += [("features.shuffle_write_mb", "MB"), ("features.python_rows", "rows")]
    out += [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.executor_busy_s", "s"), ("spark.driver_only_s", "s"),
        ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
        ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
        ("spark.spill_mb", "MB"), ("spark.failed_tasks", "count"),
        ("spark.core_util", "ratio"),
        ("trace.overhead_s", "s"),
    ]
    return out


def _is_python(node: str) -> bool:
    return any(k in node for k in ("Python", "Pandas", "InArrow"))


def _python_input_accums(plan: dict, out: set) -> None:
    """Accumulator ids counting the rows that flow INTO each Python node:
    the first row counter below it on its single-child chain."""
    if _is_python(plan["nodeName"]) and plan["children"]:
        node = plan["children"][0]
        while node is not None:
            ids = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
            acc = ids.get("number of output rows", ids.get("records read"))
            if acc is not None:
                out.add(acc)
                break
            node = node["children"][0] if len(node["children"]) == 1 else None
    for ch in plan["children"]:
        _python_input_accums(ch, out)


class EventLog:
    def __init__(self, path: str) -> None:
        self.jobs: dict = {}  # job id -> [submit_ms, end_ms, stage ids]
        self.stage_submit: dict = {}  # stage id -> submission ms
        self.tasks: list = []  # (stage id, metrics dict, accumulables, failed)
        self.py_accums: set = set()
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = [e["Submission Time"], None, e["Stage IDs"]]
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]][1] = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    self.stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    failed = e["Task End Reason"]["Reason"] != "Success"
                    self.tasks.append(
                        (e["Stage ID"], e.get("Task Metrics") or {},
                         e["Task Info"].get("Accumulables", []), failed)
                    )
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _python_input_accums(e["sparkPlanInfo"], self.py_accums)
        # a stage belongs to the latest job listing it that was submitted
        # no later than the stage itself (reused stages run only once)
        self.stage_job: dict = {}
        for jid, (sub, _end, stages) in sorted(self.jobs.items(), key=lambda kv: kv[1][0]):
            for s in stages:
                if sub <= self.stage_submit.get(s, float("inf")) + 1:
                    self.stage_job[s] = jid


def _union_s(intervals: list, lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def layer_metrics(rep: dict, plan_layer: str) -> dict:
    """Per-layer metrics of a traced worker report (see ``metric_names``)."""
    log = EventLog(rep["event_log"])
    cores = int(rep["env"]["SPARK_GRAFT_CPUS"])
    spans = rep["spans"]
    passes = {it: (a, b) for layer, _k, a, b, it in spans if layer == "pass"}
    calls = [(layer, kind, a, b, it) for layer, kind, a, b, it in spans if layer != "pass"]

    def owner(ms: float, table: list):
        for rec in table:
            if rec[2] <= ms <= rec[3]:
                return rec
        return None

    job_call = {jid: owner(j[0], calls) for jid, j in log.jobs.items()}
    job_pass = {jid: next((it for it, (a, b) in passes.items() if a <= j[0] <= b), None)
                for jid, j in log.jobs.items()}

    per_pass: dict = defaultdict(lambda: defaultdict(float))
    for layer, kind, a, b, it in calls:
        per_pass[it][f"{layer}.{kind}_s"] += (b - a) / 1000.0
    for jid, call in job_call.items():
        if call is not None and call[1] == "build":
            per_pass[call[4]][f"{call[0]}.build_jobs"] += 1
    for jid, it in job_pass.items():
        if it is not None:
            per_pass[it]["spark.jobs"] += 1
    stages_run: dict = defaultdict(set)
    for stage, m, accums, failed in log.tasks:
        jid = log.stage_job.get(stage)
        it = job_pass.get(jid)
        if it is None:
            continue
        p = per_pass[it]
        stages_run[it].add(stage)
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
        p["spark.tasks"] += 1
        p["spark.failed_tasks"] += failed
        p["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        p["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        p["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        p["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
        p["spark.shuffle_write_mb"] += sw
        p["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        call = job_call.get(jid)
        if call is not None and call[0] == "features":
            p["features.shuffle_write_mb"] += sw
            p["features.python_rows"] += sum(
                int(a.get("Update", 0)) for a in accums if a.get("ID") in log.py_accums
            )
    for it, (a, b) in passes.items():
        p = per_pass[it]
        p["spark.stages"] = len(stages_run[it])
        jobs = [(j[0], j[1] or b) for jid, j in log.jobs.items() if job_pass[jid] == it]
        busy = _union_s(jobs, a, b)
        p["spark.executor_busy_s"] = busy
        p["spark.driver_only_s"] = (b - a) / 1000.0 - busy
        p["spark.core_util"] = p["spark.task_run_s"] / (busy * cores) if busy else 0.0

    out = {}
    fixed = {
        "session.start_s": rep["session_start_s"],
        f"{plan_layer}.exchanges": rep["exchanges"] or 0,
    }
    for name, unit in metric_names():
        if name == "trace.overhead_s":
            continue
        if name in fixed:
            v = fixed[name]
        else:
            v = statistics.median(per_pass[it].get(name, 0.0) for it in passes)
        out[name] = {"value": v, "unit": unit}
    return out
