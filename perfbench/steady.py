"""Steadiness tool: run workloads K times in fresh processes and report
each metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py --workload mr_requests corpus_index --runs 10
    python3 perfbench/steady.py --workload corpus_index --runs 10 --sets 2
    python3 perfbench/steady.py --workload corpus_index --runs 10 --sets 2 --b-root ../parent

Workloads alternate order from round to round (A B, B A, ...), and with
``--sets 2`` the two sets alternate which runs first, so slow drift of the
machine lands on both sides. The stderr of every run is checked for a
flagged warm-up trend, and the count is reported. Spread is ``(q3 - q1) / median`` with
``statistics.quantiles(values, n=4)``; with two sets, ``shift`` is how much
worse set B's median is than set A's, as a share of A's. Set B runs
``--b-root``'s copy of the benchmark when given (an A/B of two checkouts),
otherwise this one with fresh seeds. Bounds come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(root: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["trend_flagged"] = "'no_warmup_trend': False" in proc.stderr
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(workload: str, sets: list[list[dict]], bounds: dict) -> list[str]:
    out = []
    names = list(sets[0][0]["metrics"])
    for name in names:
        b = bounds.get(name, {})
        row = [f"{workload:<13} {name:<24}"]
        meds = []
        for runs in sets:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            meds.append(med)
            row.append(f"med {med:10.4f} q1 {q1:10.4f} q3 {q3:10.4f} spread {sp:6.1%}")
        if "bound" in b:
            row.append(f"bound {b['bound']:.0%} (a third: {b['bound'] / 3:.1%})")
        if len(meds) == 2 and meds[0]:
            worse = (meds[1] - meds[0]) / meds[0]
            if b.get("better") == "higher":
                worse = -worse
            row.append(f"shift {worse:+.1%}")
        out.append("  ".join(row))
    walls = [r["wall_s"] for runs in sets for r in runs]
    out.append(f"{workload:<13} run wall s: median {statistics.median(walls):.1f} "
               f"max {max(walls):.1f}; failed ops "
               f"{sum(r['failed'] for runs in sets for r in runs)}; all correct "
               f"{all(r['correct'] for runs in sets for r in runs)}; warm-up trend flagged in "
               f"{sum(r['trend_flagged'] for runs in sets for r in runs)} runs")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", nargs="+", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--b-root", default=None, help="checkout whose benchmark set B runs")
    ap.add_argument("--out", default=None, help="write every run's result here (JSON)")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    seconds = bench["run_seconds"]
    roots = [ROOT, os.path.abspath(args.b_root) if args.b_root else ROOT][: args.sets]
    results = {w: [[] for _ in roots] for w in args.workload}
    for r in range(args.runs):
        order = args.workload if r % 2 == 0 else args.workload[::-1]
        for w in order:
            sides = list(range(len(roots)))
            if r % 2:
                sides.reverse()
            for s in sides:
                # two checkouts run the same seeds; one checkout twice, fresh ones
                seed = args.seed0 + r + (0 if args.b_root else s * args.runs)
                res = run_once(roots[s], w, seed, seconds, args.trace)
                results[w][s].append(res)
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in list(res["metrics"].items())[:5])
                print(f"[{r + 1}/{args.runs}] {w} set {'AB'[s]} seed {seed}: "
                      f"{res['wall_s']:.1f}s correct={res['correct']} failed={res['failed']} {vals}",
                      flush=True)
    for w in args.workload:
        print("\n".join(report(w, results[w], bounds)))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
