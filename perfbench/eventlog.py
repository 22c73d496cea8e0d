"""Reader for Spark's JSON event log (``spark.eventLog.compress=false``).

``summarize`` folds the log into the ``spark.*`` and ``python.*``
per-layer metrics for the jobs submitted inside a time window, and maps
each job to a benchmark operation: by the job group the benchmark set
for that operation, or else by the operation span whose interval holds
the job's submission time (jobs of a streaming query run on the
stream's own thread, which carries no job group).
"""

from __future__ import annotations

import json
import os

from spans import union_length

_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_ROWS = "number of output rows"


def find_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _python_row_accums(plan: dict, out: set) -> None:
    """Accumulator ids of the row count feeding each Python/Arrow node:
    the first ``number of output rows`` metric below the node."""
    names = {m["name"] for m in plan.get("metrics", [])}
    if _PY_SENT in names:
        for child in plan.get("children", [])[:1]:
            acc = _first_rows_metric(child)
            if acc is not None:
                out.add(acc)
    for child in plan.get("children", []):
        _python_row_accums(child, out)


def _first_rows_metric(plan: dict):
    for m in plan.get("metrics", []):
        if m["name"] == _ROWS:
            return m["accumulatorId"]
    for child in plan.get("children", []):
        acc = _first_rows_metric(child)
        if acc is not None:
            return acc
    return None


def summarize(events: list[dict], window: tuple[float, float], cores: int,
              ops: list[dict] | None = None) -> dict:
    """Per-layer Spark metrics for jobs submitted in ``window`` (epoch s).

    ``ops``: operation spans ({"id", "group", "start", "end", ...}); the
    result's ``"op_jobs"`` maps each op id to its job count."""
    lo, hi = window
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if lo <= t <= hi:
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "start": t,
                    "end": t,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0

    row_accums: set = set()
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _python_row_accums(e.get("sparkPlanInfo") or {}, row_accums)

    out = {
        "spark.jobs": len(jobs),
        "spark.stages": 0,
        "spark.tasks": 0,
        "spark.task_run_s": 0.0,
        "spark.task_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.input_bytes": 0,
        "spark.output_bytes": 0,
        "spark.shuffle_read_bytes": 0,
        "spark.shuffle_write_bytes": 0,
        "spark.spill_bytes": 0,
        "python.rows_to_worker": 0,
        "python.bytes_to_worker": 0,
        "python.bytes_from_worker": 0,
        "python.exec_s": 0.0,
    }
    stages_seen = set()
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_job:
            continue
        stages_seen.add(e["Stage ID"])
        out["spark.tasks"] += 1
        m = e.get("Task Metrics") or {}
        out["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out["spark.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            upd = acc.get("Update")
            if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                continue
            upd = int(upd)
            name = acc.get("Name")
            if name == _PY_SENT:
                out["python.bytes_to_worker"] += upd
            elif name == _PY_BACK:
                out["python.bytes_from_worker"] += upd
            elif name == _PY_RUN:
                out["python.exec_s"] += upd / 1e3
            elif acc.get("ID") in row_accums:
                out["python.rows_to_worker"] += upd
    out["spark.stages"] = len(stages_seen)
    job_s = union_length((j["start"], j["end"]) for j in jobs.values())
    out["spark.job_s"] = job_s
    out["spark.util"] = out["spark.task_run_s"] / (job_s * cores) if job_s else 0.0

    op_jobs: dict = {}
    if ops:
        by_group = {o["group"]: o["id"] for o in ops if o.get("group")}
        for j in jobs.values():
            oid = by_group.get(j["group"])
            if oid is None:
                oid = next(
                    (o["id"] for o in ops if o["start"] <= j["start"] <= o["end"]),
                    None,
                )
            if oid is not None:
                op_jobs[oid] = op_jobs.get(oid, 0) + 1
    out["op_jobs"] = op_jobs
    return out
