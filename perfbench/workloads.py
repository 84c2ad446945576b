"""The three workloads: op classes, the seeded plan, and how one op runs
and is checked.

Every op goes through a public entry point of the program:
``queries()[name](spark, sf_dir)`` for the registry classes, and
``POST /job/<wf>/<job>?blocking=true`` on an in-process ``JobxHttpServer``
for the MR class. Latency covers construction plus the result fetch (or
the HTTP round trip); checking and hashing happen after the clock stops.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import pickle
import random
import time
from dataclasses import dataclass, field

MR_CLASS = "mr_request"
MR_ARGUMENTS = 500  # pairs per request
_DUCKDB_THREADS = 2


@dataclass(frozen=True)
class Spec:
    classes: tuple[str, ...]  # an odd number, run in equal counts
    warmup_rounds: int  # rounds before the clock; they count in setup_s
    round_s: float  # nominal warm cost of one round: sets rounds per --seconds
    setup_queries: tuple[str, ...] = ()  # prerequisites built in setup


WORKLOADS = {
    # Spark-SQL-only relational reports over 600k lineitem rows, small
    # results: no Python worker, engine or artifact on the path.
    "sql_reports": Spec(
        classes=("q01_pricing_summary", "q03_shipping_priority", "q09_rollup",
                 "q16_sessionize", "q22_window_frames"),
        warmup_rounds=2, round_s=6.5,
    ),
    # JobX's defining path: HTTP -> engine -> handlers, many tiny jobs.
    "mr_requests": Spec(classes=(MR_CLASS,), warmup_rounds=7, round_s=2.3),
    # Persisted-index reads beside writes (the IVF index is built in setup),
    # the Arrow boundary of the index's nearest-centroid pandas UDF, eager
    # construction jobs and a lineage cut. text_domain_signature stands in
    # for text_trigram_lang_eval as the lineage-cut class: the trigram
    # row's fetch time is bimodal (0.9 or 1.8 s) from op to op.
    "corpus_index": Spec(
        classes=("text_domain_signature", "ann_index_serve", "ann_index_append"),
        warmup_rounds=2, round_s=5.5, setup_queries=("ann_index_build",),
    ),
}


# The workloads BENCHMARK.json names. sql_reports stays runnable by hand as
# the bypass for the Python, engine and artifact layers; three workloads
# do not fit a full measurement (4 + 22 x W runs) into 3420 s.
BENCHMARKED = ("mr_requests", "corpus_index")


@dataclass
class Op:
    index: int
    cls: str
    timed: bool
    arguments: dict | None = None
    round: int = 0


def make_plan(workload: str, seed: int, seconds: float) -> list[Op]:
    """Warm-up then timed ops: whole rounds of every class, each round in
    an order drawn from ``seed``. The same (workload, seed, seconds) gives
    the same plan; the multiset of classes depends only on ``seconds``."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}/{seed}")
    # at least 4 timed ops, the fewest a tail can be taken from
    rounds = max(-(-4 // len(spec.classes)), round(seconds / spec.round_s))
    ops: list[Op] = []
    for r in range(spec.warmup_rounds + rounds):
        order = list(spec.classes)
        rng.shuffle(order)
        for cls in order:
            args = mr_arguments(rng) if cls == MR_CLASS else None
            ops.append(Op(len(ops), cls, r >= spec.warmup_rounds, args, r))
    return ops


def mr_arguments(rng: random.Random) -> dict:
    return {f"a{i:03d}": rng.randint(1, 1000) for i in range(MR_ARGUMENTS)}


@dataclass
class OpResult:
    latency_s: float
    ok: bool
    error: str | None = None
    start: float = 0.0  # epoch seconds, for spans
    phases: dict = field(default_factory=dict)  # construct_s/action_s or engine numbers


def canonical_hash(pdf) -> str:
    """``jobx_spark.oracle.result_hash``'s canonical form, applied to an
    already fetched pandas frame (Spark's or DuckDB's), so hashing stays
    outside the timed interval."""
    from jobx_spark.oracle import _norm_cell, _pandas_rows, _sort_key

    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        (tuple(_norm_cell(r[i]) for i in order) for r in _pandas_rows(pdf)),
        key=_sort_key,
    )
    h = hashlib.sha256()
    h.update(repr(sorted(cols)).encode())
    for row in norm:
        h.update(repr(row).encode())
    return h.hexdigest()


class _Fetched:
    """A result already fetched by the timed action, handed to
    ``oracle.compare`` (which only calls ``toPandas()``) so the oracle
    check neither re-executes the query nor runs inside the clock."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method compare() calls
        return self._pdf


class _Oracle:
    """Stands in for the DuckDB connection ``oracle.compare`` executes the
    oracle SQL on: it returns the oracle's result frame from a cache kept
    beside the generated inputs, filled by DuckDB the first time. The cache
    key covers the SQL text, the inputs' directory (which names the
    generator's version) and the DuckDB version, so a changed oracle or
    input is always recomputed; a warm cache keeps DuckDB out of set-up."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.con = None
        self._frame = None

    def execute(self, sql: str):
        import duckdb

        key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()[:16]
        path = os.path.join(self.sf_dir, "oracle-cache", f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                self._frame = pickle.load(f)  # written below by this benchmark
            return self
        if self.con is None:
            from jobx_spark.oracle import duck_connect

            self.con = duck_connect(self.sf_dir)
            self.con.execute(f"SET threads = {_DUCKDB_THREADS}")
        self._frame = self.con.execute(sql).df()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(self._frame, f)
        os.replace(tmp, path)
        return self

    def df(self):
        return self._frame

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


class QueryRunner:
    """Registry classes. The first op of each class (always a warm-up op)
    is checked against its DuckDB oracle's result with ``oracle.compare``;
    its
    canonical hash then becomes the class's verified hash, and every later
    op's fetched result must hash to it."""

    def __init__(self, spark, sf_dir: str, spec: Spec):
        from __spark_entry__ import oracle_sql, queries

        self.spark, self.sf_dir, self.spec = spark, sf_dir, spec
        self.tracer = None  # set by the traced run
        self.fns, self.oracles = queries(), oracle_sql()
        self.con = _Oracle(sf_dir)
        self.verified: dict[str, str] = {}

    def setup(self) -> None:
        for name in self.spec.setup_queries:
            self.fns[name](self.spark, self.sf_dir).toPandas()

    def run(self, op: Op) -> OpResult:
        from jobx_spark.oracle import compare

        tr, fn = self.tracer, self.fns[op.cls]
        start = time.time()
        t0 = time.perf_counter()
        if tr:
            tr.group(f"o{op.index}.construct")
        df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        if tr:
            tr.group(f"o{op.index}.action")
        pdf = df.toPandas()
        t2 = time.perf_counter()
        if tr:
            tr.group(None)
        res = OpResult(t2 - t0, True, None, start,
                       {"construct_s": t1 - t0, "action_s": t2 - t1, "action_start": start + t1 - t0})
        digest = canonical_hash(pdf)
        if op.cls not in self.verified:
            check = compare(op.cls, _Fetched(pdf), self.con, self.oracles[op.cls])
            if not check.ok:
                res.ok, res.error = False, f"oracle mismatch: {check}"
                return res
            self.verified[op.cls] = digest
        elif digest != self.verified[op.cls]:
            res.ok, res.error = False, "result hash differs from the verified result"
        return res

    def close(self) -> None:
        self.con.close()


class MrRunner:
    """``POST /job/bench/fanout?blocking=true`` with the op's arguments over
    one HTTP connection at a time; the response must equal the Python fold,
    then ``DELETE /request/...`` keeps the engine registry from growing."""

    def __init__(self, spark, sf_dir: str, spec: Spec):
        import mr_handlers
        from jobx_spark.engine import Engine
        from jobx_spark.http_api import JobxHttpServer

        self.expected_pairs = mr_handlers.expected_pairs
        self.engine = Engine(spark)
        mr_handlers.register(self.engine)
        self.server = JobxHttpServer(self.engine).start()

    def setup(self) -> None:
        pass

    def _call(self, method: str, path: str, body: bytes | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.server.port, timeout=150)
        try:
            conn.request(method, path, body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, resp.getheader("X-MR-REQUEST-ID"), resp.read()
        finally:
            conn.close()

    def run(self, op: Op) -> OpResult:
        body = json.dumps({"arguments": op.arguments}).encode()
        start = time.time()
        t0 = time.perf_counter()
        status, rid, data = self._call("POST", "/job/bench/fanout?blocking=true", body)
        latency = time.perf_counter() - t0
        if status != 200:
            return OpResult(latency, False, f"POST status {status}: {data[:200]!r}", start)
        pairs = json.loads(data)["result"]["pairs"]
        req = self.engine.get_request(rid)
        phases = {
            "request_s": req.finished_at - req.created_at,
            "request_start": req.created_at,
            "trace_events": len(req.trace.events),
            "invocations": len(req.trace.invocations),
        }
        if pairs != self.expected_pairs(op.arguments):
            return OpResult(latency, False, "result differs from the Python fold", start, phases)
        status, _, data = self._call("DELETE", f"/request/bench/{rid}")
        if status != 200:
            return OpResult(latency, False, f"DELETE status {status}", start, phases)
        return OpResult(latency, True, None, start, phases)

    def close(self) -> None:
        self.server.stop()


def runner_for(workload: str):
    return MrRunner if workload == "mr_requests" else QueryRunner
