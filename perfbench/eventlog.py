"""Stdlib parser for the Spark JSON event log, and attribution of Spark
jobs to benchmark operations.

An operation (op) is a dict with ``start`` and ``end`` (epoch seconds,
the clock the event log also uses) and optionally ``group``: the job
group the benchmark set around it. Jobs are attributed to an op by
group when the op has one, else by the time window
``[start, end)`` their submission falls in (crawl rounds run jobs from
several driver threads, where a thread-local job group does not reach).
"""

from __future__ import annotations

import json
import re
import statistics
from pathlib import Path

#: SQL metric that every Python-evaluating node (MapInPandas,
#: ArrowEvalPython, FlatMapGroupsInPandas, ...) reports per task, in ms
PYTHON_RUN_METRIC = "time to run Python workers"

_MB = float(1 << 20)


def _number(v) -> float:
    """An accumulator update: a JSON number, or a number written as a string."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_events(log_dir: str | Path) -> list[dict]:
    """All events under ``log_dir``: a plain event-log file or the
    rolling ``eventlog_v2_*/events_<n>_*`` parts, in part order."""
    files = [
        p for p in Path(log_dir).rglob("*")
        if p.is_file() and not p.name.startswith(".")
        and not p.name.startswith("appstatus")
    ]

    def part_no(p: Path) -> tuple[int, str]:
        m = re.match(r"events_(\d+)_", p.name)
        return (int(m.group(1)) if m else 0, str(p))

    events = []
    for p in sorted(files, key=part_no):
        with p.open() as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def summarize(events: list[dict]) -> dict:
    """Fold the events into ``{"jobs": {...}, "stages": {...}}``.

    job: submit/end (s), group, stage ids. stage: submit/complete (s)
    of completed stages only (skipped stages never run), plus per-task
    run ms, cpu ns, gc ms, python ms, shuffle-write and spill bytes."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {"tasks": [], "submit": None, "complete": None})

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "stage_ids": list(e.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Submission Time") is None:
                continue
            s = stage(info["Stage ID"])
            s["submit"] = info["Submission Time"] / 1000.0
            s["complete"] = info.get("Completion Time", info["Submission Time"]) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            py_ms = sum(
                _number(a.get("Update"))
                for a in info.get("Accumulables", [])
                if a.get("Name") == PYTHON_RUN_METRIC
            )
            stage(e["Stage ID"])["tasks"].append({
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "python_ms": py_ms,
                "shuffle_write_b": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill_b": m.get("Disk Bytes Spilled", 0),
            })
    return {"jobs": jobs, "stages": stages}


def assign_jobs(jobs: dict[int, dict], ops: list[dict]) -> dict[int, list[int]]:
    """op index -> attributed job ids. A job goes to the op whose group
    it carries; a job without a matching group goes to the op whose
    ``[start, end)`` window holds its submission. Jobs outside every op
    (set-up, the check) are left out."""
    by_group = {op["group"]: i for i, op in enumerate(ops) if op.get("group")}
    out: dict[int, list[int]] = {i: [] for i in range(len(ops))}
    for jid, job in sorted(jobs.items()):
        i = by_group.get(job["group"])
        if i is None:
            i = next(
                (k for k, op in enumerate(ops)
                 if not op.get("group") and op["start"] <= job["submit"] < op["end"]),
                None,
            )
        if i is not None:
            out[i].append(jid)
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_metrics(log: dict, op: dict, job_ids: list[int]) -> dict:
    """Spark runtime numbers of one op: jobs, stages, tasks, time inside
    stages vs the driver-side gap (op wall not covered by any running
    stage: planning, codegen, scheduling, Python-side work), task run /
    CPU / GC / Python-worker time, shuffle write and spill, and the
    worst stage's max/median task-time ratio."""
    sids = sorted({
        sid for j in job_ids for sid in log["jobs"][j]["stage_ids"]
        if log["stages"].get(sid, {}).get("submit") is not None
    })
    stages = [log["stages"][s] for s in sids]
    tasks = [t for s in stages for t in s["tasks"]]
    wall = op["end"] - op["start"]
    in_stage = _covered([(s["submit"], s["complete"]) for s in stages], op["start"], op["end"])
    skews = []
    for s in stages:
        runs = [t["run_ms"] for t in s["tasks"]]
        med = statistics.median(runs) if len(runs) > 1 else 0
        if med > 0:
            skews.append(max(runs) / med)
    return {
        "wall_s": wall,
        "jobs": len(job_ids),
        "stages": len(stages),
        "tasks": len(tasks),
        "in_stage_s": in_stage,
        "driver_gap_s": wall - in_stage,
        "task_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "python_udf_s": sum(t["python_ms"] for t in tasks) / 1e3,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / _MB,
        "spill_mb": sum(t["spill_b"] for t in tasks) / _MB,
        "task_skew": max(skews, default=1.0),
    }


def per_op(log_dir: str | Path, ops: list[dict]) -> list[dict]:
    """op_metrics for every op, from the event log under ``log_dir``."""
    log = summarize(read_events(log_dir))
    assigned = assign_jobs(log["jobs"], ops)
    return [op_metrics(log, op, assigned[i]) for i, op in enumerate(ops)]
