"""Fold a Spark event log into per-job, per-stage task totals.

Pure functions over the JSON events, so a tiny synthetic log in the tests
pins the folding. The traced run enables the log from outside the program
(``spark.eventLog.enabled``; ``compress=false`` because the zstd codec's
Python module is not installed) and folds it after ``spark.stop()``.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# Spark's Python-boundary SQL metrics, by their display names.
PYTHON_METRICS = {
    "time to start Python workers": "worker_start",
    "time to initialize Python workers": "worker_init",
    "time to run Python workers": "worker_run",
    "data sent to Python workers": "to_worker",
    "data returned from Python workers": "from_worker",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # metric unit -> seconds


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    deser_s: float = 0.0
    sched_delay_s: float = 0.0
    busy_s: float = 0.0  # sum of task wall durations (launch -> finish)
    input_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    output_b: int = 0
    python: dict = field(default_factory=dict)  # key -> seconds or bytes


@dataclass
class JobInfo:
    group: str | None
    submit_s: float
    end_s: float | None
    stages: list[int]


@dataclass
class Fold:
    jobs: dict[int, JobInfo] = field(default_factory=dict)
    stages: dict[int, StageTotals] = field(default_factory=dict)


def read_events(log_dir: str):
    """Events of the one application logged under ``log_dir`` (plain or
    rolling ``eventlog_v2_*`` layout), in order."""
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]

    def part(p):  # rolling files are events_<n>_<app>: order by n
        base = os.path.basename(p)
        bits = base.split("_")
        return (os.path.dirname(p), int(bits[1]) if base.startswith("events_") else 0)

    for p in sorted(paths, key=part):
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", []):
        _plan_metric_types(child, out)


def fold(events) -> Fold:
    out = Fold()
    metric_types: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if "sparkPlanInfo" in ev:
            _plan_metric_types(ev["sparkPlanInfo"], metric_types)
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            out.jobs[ev["Job ID"]] = JobInfo(
                props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3,
                None, list(ev["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            job = out.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                continue
            _add_task(out.stages.setdefault(ev["Stage ID"], StageTotals()), ev, metric_types)
    return out


def _add_task(st: StageTotals, ev: dict, metric_types: dict[int, str]) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    wall_ms = info["Finish Time"] - info["Launch Time"]
    st.tasks += 1
    st.run_s += run_ms / 1e3
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    st.deser_s += deser_ms / 1e3
    st.busy_s += wall_ms / 1e3
    # the Spark UI's scheduler delay: task wall time not spent running,
    # deserialising, serialising the result or fetching it
    st.sched_delay_s += max(
        0, wall_ms - run_ms - deser_ms - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0),
    ) / 1e3
    st.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill_b += m.get("Disk Bytes Spilled", 0)
    st.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is None or acc.get("Update") is None:
            continue
        val = float(acc["Update"])
        if key.startswith("worker_"):
            val *= _TIME_SCALE.get(metric_types.get(acc.get("ID")), 1e-3)
        st.python[key] = st.python.get(key, 0.0) + val


def totals(f: Fold, job_ids) -> dict:
    """Summed task totals over the distinct stages of ``job_ids``."""
    stages = sorted({s for j in job_ids if j in f.jobs for s in f.jobs[j].stages})
    ran = [f.stages[s] for s in stages if s in f.stages]
    py = {k: sum(st.python.get(k, 0.0) for st in ran) for k in PYTHON_METRICS.values()}
    return {
        "jobs": len([j for j in job_ids if j in f.jobs]),
        "stages": len(ran),
        "tasks": sum(st.tasks for st in ran),
        "run_s": sum(st.run_s for st in ran),
        "cpu_s": sum(st.cpu_s for st in ran),
        "gc_s": sum(st.gc_s for st in ran),
        "deser_s": sum(st.deser_s for st in ran),
        "sched_delay_s": sum(st.sched_delay_s for st in ran),
        "busy_s": sum(st.busy_s for st in ran),
        "input_b": sum(st.input_b for st in ran),
        "shuffle_read_b": sum(st.shuffle_read_b for st in ran),
        "shuffle_write_b": sum(st.shuffle_write_b for st in ran),
        "spill_b": sum(st.spill_b for st in ran),
        "output_b": sum(st.output_b for st in ran),
        "python": py,
    }
