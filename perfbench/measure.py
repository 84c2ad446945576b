"""Run statistics, run-record invariants and box probes.

Pure functions, so ``tests/`` can pin them without a Spark session.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import Counter

# Largest tolerated gap between the normalised op latencies of the first
# and the last third of the timed phase. Equal to op_p50_s's bound in
# BENCHMARK.json (tests/test_perfbench.py keeps the two in step).
TREND_BOUND = 0.25
# The tail is the highest percentile with this many ops beyond it.
TAIL_BEYOND = 10


def tail_rule(n: int, beyond: int = TAIL_BEYOND) -> tuple[int, int]:
    """``(percentile, ops_beyond)`` for the tail of an ``n``-op sample.

    The tail is the highest whole percentile (nearest-rank) with at least
    ``beyond`` ops above it. A run with fewer than ``4 * beyond`` ops
    requires only ``n // 4`` ops beyond, which keeps the tail in the upper
    quartile of the same sample, so never below its median.
    """
    need = min(beyond, n // 4)
    if need < 1:
        raise ValueError(f"a tail needs at least 4 ops, got {n}")
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= need:
            return p, n - rank
    raise AssertionError("unreachable: p=1 always qualifies")


def nearest_rank(sorted_values: list[float], p: int) -> float:
    return sorted_values[max(1, math.ceil(p * len(sorted_values) / 100)) - 1]


def latency_summary(latencies: list[float]) -> dict:
    """p50 and tail of ONE sample, with the tail's percentile and counts."""
    xs = sorted(latencies)
    p, beyond = tail_rule(len(xs))
    return {
        "n": len(xs),
        "p50_s": statistics.median(xs),
        "tail_s": nearest_rank(xs, p),
        "tail_percentile": p,
        "tail_ops_beyond": beyond,
    }


def warmup_trend(classes: list[str], latencies: list[float]) -> float:
    """Relative gap between the first and last third of the timed phase.

    Each latency is divided by its class median first, so a pooled
    sample of unequal classes in a seeded order shows only drift over
    time, not which classes happened to land early.
    """
    by_class: dict[str, list[float]] = {}
    for c, x in zip(classes, latencies):
        by_class.setdefault(c, []).append(x)
    med = {c: statistics.median(v) for c, v in by_class.items()}
    norm = [x / med[c] for c, x in zip(classes, latencies)]
    third = max(1, len(norm) // 3)
    first = statistics.median(norm[:third])
    last = statistics.median(norm[-third:])
    return first / last - 1.0


def invariants(planned: list[str], executed: list[str], summary: dict,
               trend: float) -> dict[str, bool]:
    return {
        "tail_ge_p50": summary["tail_s"] >= summary["p50_s"],
        "multiset_matches_plan": Counter(planned) == Counter(executed),
        "no_warmup_trend": abs(trend) <= TREND_BOUND,
    }


# ----------------------------------------------------------- box probes

def canary(n: int = 2_000_000) -> float:
    """Seconds for a fixed single-thread pure-Python loop: a probe of how
    busy the machine is, recorded at the start and end of every run."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat; steal is
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants (Linux /proc)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) over ``pids``: the
    benchmark's Python, the JVM and the Python workers."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def rss_by_process(pids: list[int]) -> list[tuple[int, str, float]]:
    """(pid, command, VmHWM MB) of each process, for the run record."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out.append((pid, comm, peak_rss_mb([pid])))
    return out


def filesystem_type(path: str) -> str:
    """Type of the filesystem holding ``path`` (e.g. ``tmpfs``, ``ext4``)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/self/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1].replace("\\040", " ")
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype
