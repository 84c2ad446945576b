"""The traced run: per-op Spark job attribution, lineage-cut timing, spans
and the per-layer metrics.

Jobs are attributed to ops by job group (``o<i>.construct`` /
``o<i>.action``) where the op runs on the benchmark's thread, and by the
window of new ungrouped job ids where it runs on an HTTP-server thread.
After each op the job, stage and completed-task counts are read from
Spark's ``statusTracker``; after ``spark.stop()`` the event log is folded
and its task counts must equal those.
"""

from __future__ import annotations

import statistics
import sys
import time

import eventlog

LINEAGE_FUNCS = ("cut_lineage", "cut_lineage_observed")


class LineageProbe:
    """Counts and times the public ``jobx_spark.lineage`` cut calls by
    wrapping them in every loaded ``jobx_spark`` module that bound them."""

    def __init__(self):
        self.calls: list[tuple[str, float, float]] = []  # (name, start, end) epoch s
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import jobx_spark.lineage as lineage

        for name in LINEAGE_FUNCS:
            orig = getattr(lineage, name)
            wrapper = self._wrap(name, orig)
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith("jobx_spark") and getattr(mod, name, None) is orig:
                    setattr(mod, name, wrapper)
                    self._patched.append((mod, name, orig))

    def _wrap(self, name, orig):
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                self.calls.append((name, t0, time.time()))

        return timed

    def uninstall(self) -> None:
        for mod, name, orig in self._patched:
            setattr(mod, name, orig)
        self._patched.clear()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.lineage = LineageProbe()
        self.lineage.install()
        self.bookkeeping_s = 0.0  # benchmark-side tracing work in the timed phase
        self._ungrouped = set(self.status.getJobIdsForGroup(None))

    def group(self, name: str | None) -> None:
        t = time.perf_counter()
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)
        self.bookkeeping_s += time.perf_counter() - t

    def op_jobs(self, index: int, grouped: bool) -> dict:
        """Job ids of op ``index`` by phase, and statusTracker's completed
        task count over their distinct stages."""
        t = time.perf_counter()
        ungrouped = set(self.status.getJobIdsForGroup(None))
        new, self._ungrouped = sorted(ungrouped - self._ungrouped), ungrouped
        if grouped:
            jobs = {
                phase: sorted(self.status.getJobIdsForGroup(f"o{index}.{phase}"))
                for phase in ("construct", "action")
            }
            jobs["other"] = new  # jobs some other thread started meanwhile
        else:
            jobs = {"construct": [], "action": new, "other": []}
        stages = set()
        for j in jobs["construct"] + jobs["action"]:
            info = self.status.getJobInfo(j)
            stages.update(info.stageIds if info else [])
        tasks = 0
        for s in stages:
            info = self.status.getStageInfo(s)
            tasks += info.numCompletedTasks if info else 0
        self.bookkeeping_s += time.perf_counter() - t
        return {"jobs": jobs, "status_tasks": tasks}

    def lineage_between(self, start: float, end: float) -> list[tuple[str, float, float]]:
        return [c for c in self.lineage.calls if start <= c[1] and c[2] <= end]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def per_op_layers(op: dict, fold: eventlog.Fold, slots: int, mr: bool) -> dict:
    """The per-layer numbers of one traced op record."""
    jobs = op["trace"]["jobs"]
    all_jobs = jobs["construct"] + jobs["action"]
    t = eventlog.totals(fold, all_jobs)
    ph = op.get("phases", {})
    job_spans = [
        (fold.jobs[j].submit_s, fold.jobs[j].end_s)
        for j in all_jobs if j in fold.jobs and fold.jobs[j].end_s is not None
    ]
    mb = 1e6
    out = {
        "queries.construct_s": 0.0 if mr else ph["construct_s"],
        "queries.eager_jobs": float(len(jobs["construct"])),
        "spark.execute_s": _union_s(job_spans) if mr else ph["action_s"],
        "spark.jobs": float(t["jobs"]),
        "spark.stages": float(t["stages"]),
        "spark.tasks": float(t["tasks"]),
        "spark.idle_frac": max(0.0, 1.0 - t["busy_s"] / (slots * op["latency_s"])),
        "spark.sched_delay_s": t["sched_delay_s"],
        "spark.task_run_s": t["run_s"],
        "spark.task_cpu_s": t["cpu_s"],
        "spark.task_gc_s": t["gc_s"],
        "spark.task_deser_s": t["deser_s"],
        "spark.input_mb": t["input_b"] / mb,
        "spark.shuffle_read_mb": t["shuffle_read_b"] / mb,
        "spark.shuffle_write_mb": t["shuffle_write_b"] / mb,
        "spark.spill_mb": t["spill_b"] / mb,
        "spark.output_mb": t["output_b"] / mb,
        "python.worker_start_s": t["python"]["worker_start"],
        "python.worker_init_s": t["python"]["worker_init"],
        "python.worker_run_s": t["python"]["worker_run"],
        "python.to_worker_mb": t["python"]["to_worker"] / mb,
        "python.from_worker_mb": t["python"]["from_worker"] / mb,
        "lineage.cuts": float(len(op["trace"]["lineage"])),
        "lineage.cut_s": sum(e - s for _, s, e in op["trace"]["lineage"]),
        "engine.request_s": ph.get("request_s", 0.0),
        "engine.jobs": float(t["jobs"]) if mr else 0.0,
        "engine.trace_events": float(ph.get("trace_events", 0)),
        "engine.invocations": float(ph.get("invocations", 0)),
        "http.overhead_s": op["latency_s"] - ph["request_s"] if mr else 0.0,
    }
    return out


def spans(op: dict, fold: eventlog.Fold, mr: bool) -> list[dict]:
    """op -> construct/action (query) or http -> engine request (MR), each
    with its Spark jobs and lineage cuts as children."""
    oid = f"op{op['index']}"
    ph = op.get("phases", {})
    out = [{"id": oid, "parent": None, "name": f"op:{op['cls']}",
            "start": op["start"], "end": op["start"] + op["latency_s"]}]
    jobs = op["trace"]["jobs"]
    if mr:
        out[0]["name"] = "http:POST /job/bench/fanout"
        out.append({"id": f"{oid}.engine", "parent": oid, "name": "engine.request",
                    "start": ph["request_start"], "end": ph["request_start"] + ph["request_s"]})
        job_parent = {j: f"{oid}.engine" for j in jobs["action"]}
    else:
        a0 = ph["action_start"]
        out.append({"id": f"{oid}.construct", "parent": oid, "name": "construct",
                    "start": op["start"], "end": a0})
        out.append({"id": f"{oid}.action", "parent": oid, "name": "action",
                    "start": a0, "end": a0 + ph["action_s"]})
        job_parent = {j: f"{oid}.{p}" for p in ("construct", "action") for j in jobs[p]}
    for j, parent in job_parent.items():
        info = fold.jobs.get(j)
        if info is not None:
            out.append({"id": f"job{j}", "parent": parent, "name": f"spark.job {j}",
                        "start": info.submit_s, "end": info.end_s})
    for n, (name, s, e) in enumerate(op["trace"]["lineage"]):
        out.append({"id": f"{oid}.cut{n}", "parent": f"{oid}.construct" if not mr else oid,
                    "name": f"lineage.{name}", "start": s, "end": e})
    return out


def round_medians(rows: list[tuple[int, dict]]) -> dict:
    """Per-op numbers -> the median over rounds of each round's mean op.
    A round holds one op of every class, so a layer that only some classes
    use (lineage cuts in one of three) still shows, at its per-op share."""
    rounds: dict[int, list[dict]] = {}
    for r, row in rows:
        rounds.setdefault(r, []).append(row)
    means = [{k: statistics.fmean(x[k] for x in ops) for k in ops[0]} for ops in rounds.values()]
    return {k: statistics.median(m[k] for m in means) for k in means[0]} if means else {}
