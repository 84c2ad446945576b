"""Run one benchmark workload once, in this fresh process, and print its
result as the last line of stdout.

    python3 perfbench/run.py --workload sql_reports --seed 1 --seconds 14 --trace 0

Closed loop, one client thread, at most one HTTP connection, ``local[2]``
with a 2g driver heap. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` enables Spark's event log and prints the per-layer metrics.
A run record (every op, the invariants, the box probes) and, when traced,
the spans go to ``perfbench/_work/records/``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SF = 0.1
SLOTS = 2
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ops_per_s": "1/s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from workloads import BENCHMARKED, WORKLOADS

    units = {"session.start_s": "s", "setup.warmup_s": "s",
             "queries.construct_s": "s", "queries.eager_jobs": "count",
             "spark.execute_s": "s"}
    units.update({f"spark.{k}": "count" for k in ("jobs", "stages", "tasks")})
    units["spark.idle_frac"] = "fraction"
    units.update({f"spark.{k}_s": "s" for k in (
        "sched_delay", "task_run", "task_cpu", "task_gc", "task_deser")})
    units.update({f"spark.{k}_mb": "MB" for k in (
        "input", "shuffle_read", "shuffle_write", "spill", "output")})
    units.update({f"python.worker_{k}_s": "s" for k in ("start", "init", "run")})
    units.update({"python.to_worker_mb": "MB", "python.from_worker_mb": "MB",
                  "lineage.cuts": "count", "lineage.cut_s": "s",
                  "engine.request_s": "s", "engine.jobs": "count",
                  "engine.trace_events": "count", "engine.invocations": "count",
                  "http.overhead_s": "s"})
    for w in BENCHMARKED:
        units.update({f"op.{c}.p50_s": "s" for c in WORKLOADS[w].classes})
    units.update({"box.canary_start_s": "s", "box.canary_end_s": "s",
                  "trace.overhead_frac": "fraction"})
    return units


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal length of the timed phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _hermetic_env(run_dir: str, trace: bool) -> dict[str, str]:
    """Everything Spark, the workers and the program write goes under
    ``run_dir``; the workers import the checkout's ``jobx_spark``."""
    d = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "ckpt", "eventlog", "warehouse")}
    for path in d.values():
        os.makedirs(path)
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--conf", f"spark.sql.warehouse.dir={d['warehouse']}",
              "--driver-java-options", f"-Djava.io.tmpdir={d['tmp']}"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir={d['eventlog']}",
                   "--conf", "spark.eventLog.compress=false"]
    pythonpath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM the run starts (spark-submit's launcher too) would otherwise
    # write its hsperfdata file under /tmp, whatever java.io.tmpdir says
    java_opts = " ".join(p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    return {
        "JAVA_TOOL_OPTIONS": java_opts,
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": d["local"],
        "JOBX_CHECKPOINT_DIR": d["ckpt"],
        "TMPDIR": d["tmp"],
        "PYTHONPATH": pythonpath,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }


def _stop_spark(spark, tree: list[int]) -> None:
    """Stop Spark, close the JVM gateway, and wait until every process this
    run started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = [p for p in tree if p != os.getpid()]
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, data_dir: str, run_dir: str) -> dict:
    import measure
    import workloads

    trace = bool(args.trace)
    os.environ.update(_hermetic_env(run_dir, trace))
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)
    spec = workloads.WORKLOADS[args.workload]
    plan = workloads.make_plan(args.workload, args.seed, args.seconds)
    rec: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": trace, "sf": SF, "slots": SLOTS, "driver_heap": DRIVER_MEM,
                 "loadavg_start": measure.loadavg()}
    t = time.perf_counter()
    rec["canary_start_s"] = measure.canary()
    off_setup = time.perf_counter() - t

    t = time.perf_counter()
    from jobx_spark.lineage import checkpoint_root
    from jobx_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    rec["session_start_s"] = time.perf_counter() - t
    rec["checkpoint_root"] = checkpoint_root()
    rec["checkpoint_fs"] = measure.filesystem_type(rec["checkpoint_root"])
    runner = tracer = None
    tree: list[int] = []
    ops: list[dict] = []
    try:
        runner = workloads.runner_for(args.workload)(spark, data_dir, spec)
        if trace:
            from tracing import Tracer

            tracer = runner.tracer = Tracer(spark)  # MR requests never read it
        t = time.perf_counter()
        runner.setup()
        rec["prereq_s"] = time.perf_counter() - t

        def execute(op):
            try:
                res = runner.run(op)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                res = workloads.OpResult(0.0, False, f"{type(e).__name__}: {e}", time.time())
                traceback.print_exc()
            row = {"index": op.index, "round": op.round, "cls": op.cls, "timed": op.timed,
                   "ok": res.ok,
                   "error": res.error, "latency_s": res.latency_s, "start": res.start,
                   "phases": res.phases}
            if tracer is not None:
                row["trace"] = tracer.op_jobs(op.index, args.workload != "mr_requests")
                row["trace"]["lineage"] = tracer.lineage_between(
                    res.start, res.start + res.latency_s)
            ops.append(row)

        t = time.perf_counter()
        for op in plan:
            if not op.timed:
                execute(op)
        rec["warmup_s"] = time.perf_counter() - t
        rec["setup_s"] = time.perf_counter() - T_START - off_setup - args.build_s
        bookkeeping0 = tracer.bookkeeping_s if tracer else 0.0
        jiffies0 = measure.cpu_jiffies()
        t = time.perf_counter()
        for op in plan:
            if op.timed:
                execute(op)
        rec["timed_wall_s"] = time.perf_counter() - t
        rec["steal_frac_timed"] = measure.steal_frac(jiffies0, measure.cpu_jiffies())
        if tracer:
            rec["trace_bookkeeping_s"] = tracer.bookkeeping_s - bookkeeping0
        tree = measure.process_tree()
        rec["peak_rss_mb"] = measure.peak_rss_mb(tree)
        rec["rss_by_process"] = measure.rss_by_process(tree)
        rec["processes"] = len(tree)
        rec["canary_end_s"] = measure.canary()
        rec["loadavg_end"] = measure.loadavg()
    finally:
        if runner is not None:
            runner.close()
        if tracer is not None:
            tracer.lineage.uninstall()
        _stop_spark(spark, tree or measure.process_tree())
    rec["ops"] = ops
    rec["planned"] = [op.cls for op in plan if op.timed]
    return rec


def summarize(rec: dict, run_dir: str) -> tuple[dict, bool]:
    """End-to-end (untraced) or per-layer (traced) metrics, plus whether
    every check and invariant held."""
    import measure
    import tracing
    from workloads import BENCHMARKED, WORKLOADS

    timed = [o for o in rec["ops"] if o["timed"]]
    good = [o for o in timed if o["ok"]]
    lat = [o["latency_s"] for o in good]
    summary = measure.latency_summary(lat)
    trend = measure.warmup_trend([o["cls"] for o in good], lat)
    inv = measure.invariants(rec["planned"], [o["cls"] for o in timed], summary, trend)
    rec.update(latency=summary, warmup_trend=trend, invariants=inv)
    # A trend is flagged in the record, not failed: it says the machine or
    # the warm-up drifted during the run, not that an output was wrong.
    correct = all(o["ok"] for o in rec["ops"]) and inv["tail_ge_p50"] and inv["multiset_matches_plan"]
    if not rec["trace"]:
        return {
            "setup_s": rec["setup_s"],
            "op_p50_s": summary["p50_s"],
            "op_tail_s": summary["tail_s"],
            "ops_per_s": len(good) / rec["timed_wall_s"],
            "peak_rss_mb": rec["peak_rss_mb"],
        }, correct

    from eventlog import fold, read_events, totals

    mr = rec["workload"] == "mr_requests"
    f = fold(read_events(os.path.join(run_dir, "eventlog")))
    rows, spans, mismatched = [], [], []
    for o in rec["ops"]:
        jobs = o["trace"]["jobs"]
        log_tasks = totals(f, jobs["construct"] + jobs["action"])["tasks"]
        if log_tasks != o["trace"]["status_tasks"]:
            mismatched.append((o["index"], log_tasks, o["trace"]["status_tasks"]))
        if o["ok"]:
            spans += tracing.spans(o, f, mr)
            if o["timed"]:
                rows.append((o["round"], tracing.per_op_layers(o, f, SLOTS, mr)))
    rec["task_count_mismatches"] = mismatched
    rec["spans"] = spans
    metrics = tracing.round_medians(rows)
    metrics["session.start_s"] = rec["session_start_s"]
    metrics["setup.warmup_s"] = rec["warmup_s"]
    for w in BENCHMARKED:
        for c in WORKLOADS[w].classes:
            xs = [o["latency_s"] for o in good if o["cls"] == c]
            metrics[f"op.{c}.p50_s"] = statistics.median(xs) if xs else 0.0
    metrics["box.canary_start_s"] = rec["canary_start_s"]
    metrics["box.canary_end_s"] = rec["canary_end_s"]
    metrics["trace.overhead_frac"] = rec["trace_bookkeeping_s"] / rec["timed_wall_s"]
    return metrics, correct and not mismatched


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jobx_spark", "__init__.py")):
        print(f"perfbench: no jobx_spark package in {ROOT}; run it from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import datagen

    t = time.perf_counter()
    data_dir = datagen.ensure(os.path.join(WORK, "data"), SF)
    args.build_s = time.perf_counter() - t
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", name)
    try:
        rec = run(args, data_dir, run_dir)
        metrics, correct = summarize(rec, run_dir)
    finally:
        os.chdir(HERE)
        shutil.rmtree(run_dir, ignore_errors=True)
    rec["build_s"] = args.build_s
    units = END_TO_END if not args.trace else per_layer_units()
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    attempted = len(rec["ops"])
    failed = sum(not o["ok"] for o in rec["ops"])
    rec["metrics"] = metrics
    rec["correct"] = correct
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{name}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    lat = rec["latency"]
    print(f"perfbench {name}: {attempted} ops, {failed} failed, invariants "
          f"{rec['invariants']}, p50 {lat['p50_s']:.3f}s p{lat['tail_percentile']} "
          f"{lat['tail_s']:.3f}s over {lat['n']} timed ops, setup {rec['setup_s']:.2f}s, "
          f"canary {rec['canary_start_s']:.3f}/{rec['canary_end_s']:.3f}s, "
          f"steal {rec['steal_frac_timed']:.1%}, "
          f"checkpoint fs {rec['checkpoint_fs']}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
