"""Per-op Spark figures from an uncompressed, non-rolling event log.

The traced run turns on ``spark.eventLog.enabled`` and, after the
session stops, attributes every job to the op whose window saw the job
submitted (the load is one closed-loop client, so no two ops overlap).
Stages and tasks follow their job.
"""

from __future__ import annotations

import glob
import json
import os

from .trace import clip, union_length


def _read(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def parse(log_dir: str) -> dict:
    """Jobs (submit/end seconds, stage ids), executed stages and task
    metrics summed per stage, from every log file in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[int] = set()
    per_stage: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        for ev in _read(path):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = per_stage.setdefault(ev["Stage ID"], {
                    "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0})
                acc["tasks"] += 1
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                acc["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stage_job": stage_job, "stages_done": stages_done,
            "per_stage": per_stage}


def job_intervals(log: dict, lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals of the jobs submitted inside ``[lo, hi]``, clipped to it."""
    ivs = [(j["start"], j["end"] if j["end"] is not None else hi)
           for j in log["jobs"].values() if lo <= j["start"] <= hi]
    return clip(ivs, lo, hi)


def op_figures(log: dict, lo: float, hi: float) -> dict[str, float]:
    """Spark work of one op window: jobs, executed stages, tasks, job
    busy time (union), driver idle time (wall − busy) and task metrics."""
    job_ids = {jid for jid, j in log["jobs"].items() if lo <= j["start"] <= hi}
    stage_ids = [sid for sid, jid in log["stage_job"].items() if jid in job_ids]
    busy = union_length(job_intervals(log, lo, hi))
    out = {"jobs": len(job_ids),
           "stages": sum(1 for s in stage_ids if s in log["stages_done"]),
           "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0,
           "job_busy_s": busy, "driver_idle_s": (hi - lo) - busy}
    for sid in stage_ids:
        acc = log["per_stage"].get(sid)
        if acc is None:
            continue
        out["tasks"] += acc["tasks"]
        out["executor_cpu_s"] += acc["cpu_s"]
        out["gc_s"] += acc["gc_s"]
        out["shuffle_write_bytes"] += acc["shuffle_write_bytes"]
        out["spill_bytes"] += acc["spill_bytes"]
    return out
