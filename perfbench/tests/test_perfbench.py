"""Unit tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import random
import statistics
from collections import Counter

import pytest

import datagen
import eventlog
import measure
import mr_handlers
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------ percentiles

@pytest.mark.parametrize("n,p,beyond", [
    (100, 90, 10), (200, 95, 10), (40, 75, 10), (20, 75, 5), (9, 77, 2), (7, 85, 1), (4, 75, 1),
])
def test_tail_rule(n, p, beyond):
    assert measure.tail_rule(n) == (p, beyond)


def test_tail_rule_is_the_highest_qualifying_percentile():
    for n in range(4, 300):
        p, beyond = measure.tail_rule(n)
        need = min(10, n // 4)
        assert beyond >= need
        assert p == 99 or n - -(-(p + 1) * n // 100) < need


def test_tail_rule_rejects_tiny_samples():
    with pytest.raises(ValueError):
        measure.tail_rule(3)


def test_tail_never_below_p50_in_one_sample():
    rng = random.Random(7)
    for _ in range(2000):
        xs = [rng.lognormvariate(0, rng.choice((0.1, 1.0))) for _ in range(rng.randint(4, 80))]
        s = measure.latency_summary(xs)
        assert s["tail_s"] >= s["p50_s"]
        assert s["p50_s"] == statistics.median(xs)
        assert sum(x > s["tail_s"] for x in xs) >= s["tail_ops_beyond"] or len(set(xs)) < len(xs)


def test_invariants_flag_each_violation():
    ok = {"p50_s": 1.0, "tail_s": 1.2}
    assert all(measure.invariants(["a", "b"], ["b", "a"], ok, 0.0).values())
    inv = measure.invariants(["a", "b"], ["a", "a"], {"p50_s": 1.0, "tail_s": 0.9}, 0.5)
    assert inv == {"tail_ge_p50": False, "multiset_matches_plan": False, "no_warmup_trend": False}


def test_warmup_trend_ignores_class_mix_but_sees_drift():
    classes = ["fast", "slow", "mid"] * 4
    base = {"fast": 1.0, "slow": 3.0, "mid": 2.0}
    flat = [base[c] for c in classes]
    assert measure.warmup_trend(classes, flat) == pytest.approx(0.0)
    ramp = [base[c] * (1.4 - 0.05 * i) for i, c in enumerate(classes)]
    assert measure.warmup_trend(classes, ramp) > measure.TREND_BOUND


# ---------------------------------------------------------- event log fold

def _task(stage, launch, finish, run_ms, reason="Success", accs=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0,
                      "Accumulables": [{"ID": i, "Name": n, "Update": str(u)} for i, n, u in accs]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor Deserialize Time": 5,
            "Executor CPU Time": run_ms * 500_000, "JVM GC Time": 1,
            "Result Serialization Time": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 1000},
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


def _write_log(tmp_path):
    plan = {"metrics": [], "children": [{"metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
        {"name": "time to start Python workers", "accumulatorId": 8, "metricType": "nsTiming"},
        {"name": "data sent to Python workers", "accumulatorId": 9, "metricType": "size"},
    ], "children": []}]}
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "o3.action"}},
        _task(0, 1000, 1100, 80, accs=[(7, "time to run Python workers", 40),
                                        (8, "time to start Python workers", 2_000_000),
                                        (9, "data sent to Python workers", 4096)]),
        _task(0, 1000, 1150, 100),
        _task(0, 1150, 1300, 120, reason="ExceptionFailure"),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        # job 1 re-lists stage 1 (skipped there) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [1, 2], "Properties": {}},
        _task(2, 1500, 1520, 10),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    half = len(events) // 2
    for i, chunk in ((1, events[:half]), (2, events[half:])):
        (d / f"events_{i}_local-1").write_text("\n".join(json.dumps(e) for e in chunk) + "\n")
    return tmp_path


def test_eventlog_fold_attributes_tasks_to_jobs(tmp_path):
    f = eventlog.fold(eventlog.read_events(str(_write_log(tmp_path))))
    assert f.jobs[0].group == "o3.action" and f.jobs[1].group is None
    assert (f.jobs[0].submit_s, f.jobs[0].end_s) == (1.0, 1.4)
    t0 = eventlog.totals(f, [0])
    assert (t0["jobs"], t0["stages"], t0["tasks"]) == (1, 1, 2)  # failed task dropped
    assert t0["run_s"] == pytest.approx(0.18)
    assert t0["busy_s"] == pytest.approx(0.25)
    assert t0["sched_delay_s"] == pytest.approx((100 - 80 - 5 + 150 - 100 - 5) / 1e3)
    assert t0["shuffle_read_b"] == 60 and t0["shuffle_write_b"] == 600
    assert t0["python"]["worker_run"] == pytest.approx(0.040)  # timing: ms
    assert t0["python"]["worker_start"] == pytest.approx(0.002)  # nsTiming: ns
    assert t0["python"]["to_worker"] == 4096
    both = eventlog.totals(f, [0, 1])
    assert (both["jobs"], both["stages"], both["tasks"]) == (2, 2, 3)
    assert eventlog.totals(f, [5])["tasks"] == 0


# ------------------------------------------------------ seeds and inputs

@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_plan_is_a_function_of_the_seed(workload):
    a = workloads.make_plan(workload, 3, 20)
    assert a == workloads.make_plan(workload, 3, 20)
    b = workloads.make_plan(workload, 4, 20)
    spec = workloads.WORKLOADS[workload]
    assert len(spec.classes) % 2 == 1
    for plan in (a, b):
        timed = Counter(op.cls for op in plan if op.timed)
        assert len(set(timed.values())) == 1 and set(timed) == set(spec.classes)
        assert Counter(op.cls for op in plan if not op.timed) == Counter(
            {c: spec.warmup_rounds for c in spec.classes})
    assert Counter(op.cls for op in a) == Counter(op.cls for op in b)
    if workload == "mr_requests":
        assert all(len(op.arguments) == workloads.MR_ARGUMENTS for op in a)
        assert [op.arguments for op in a] != [op.arguments for op in b]
    else:
        assert [op.cls for op in a] != [op.cls for op in b] or len(spec.classes) == 1


def test_generated_tables_are_deterministic():
    a, b = datagen.build_tables(0.0005), datagen.build_tables(0.0005)
    assert list(a) == list(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 3000 and a["embeddings"].num_rows == 20


def test_generated_tables_match_the_registry_loaders():
    from jobx_spark.sources import TABLES

    assert tuple(datagen.TABLES) == tuple(TABLES)


def _simulate_engine(arguments: dict) -> list[list[int]]:
    """The workflow's semantics run directly on the handlers: each root pair
    becomes a leaf invocation; leaf output is combined then reduced; the root
    reducer folds the children's reduced pairs."""
    items = list(arguments.items())
    gen = mr_handlers.fan(None, items)
    assert next(gen).next_step_name == "leaf"
    children = []
    for pair in gen:
        leaf = mr_handlers.chunk(None, [pair])
        next(leaf)  # MrConfigureToReturn
        combined = list(mr_handlers.presum(None, list(leaf)))
        children += list(mr_handlers.total(None, combined))
    grouped: dict = {}
    for k, v in children:
        grouped.setdefault(k, []).append(v)
    return [[k, v] for k, v in mr_handlers.total(None, sorted(grouped.items()))]


def test_mr_fold_matches_the_handlers():
    rng = random.Random(11)
    for _ in range(5):
        args = workloads.mr_arguments(rng)
        assert mr_handlers.expected_pairs(args) == _simulate_engine(args)


# ------------------------------------------------- BENCHMARK.json in step

def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    p50 = next(m for m in bench["end_to_end"] if m["name"] == "op_p50_s")
    assert measure.TREND_BOUND == p50["bound"]
