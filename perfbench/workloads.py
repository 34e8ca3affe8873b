"""The benchmark's workloads.

serve_resident  open loop at RESIDENT_RATES (Poisson arrivals, a pool of
                `nproc` threads) against the engine the serving transports
                build: `configure_interactive`, `enable_interactive`.
upsert_mixed    closed loop, one client: one `upsert_documents` batch, then
                READS_PER_UPSERT `hybrid_search` reads, one of which looks for
                a token only that batch contains.

Each workload calls `StdioServer.handle` in-process (upserts call the
engine), times each call from outside, and checks outputs after the timed
window. In a traced run the engine is handed to the server through
`trace.TracedEngine` and each call runs in its own Spark job group.
"""

from __future__ import annotations

import json
import random
import resource
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from . import gen, stats
from .trace import SparkProbe, TracedEngine, Tracer, attach_jobs, clock

# (offered requests per second, share of the window). The contract reports
# the calls of the first rate; the others locate the knee.
RESIDENT_RATES = ((6, 0.8), (12, 0.1), (24, 0.1))
HYBRID_LIMIT_MS = 150.0        # the reference's hybrid_search p95 target
CHECK_SAMPLE = 3               # requests replayed on the other serving path
WARM_SEED = 1_000_003          # warm-up requests are the same in every run
WARM_ROUNDS = 20               # x 6 tools, on serve_resident
# then plain hybrid_search calls: resident latency still fell by a third
# across the first timed seconds without them (JIT compilation of the
# query planning each call runs)
WARM_HYBRID = 240
WARM_READS = 20                # hybrid_search reads, on upsert_mixed
# Pause between warm-up and timing: the JVM's JIT compiler threads are
# still busy for a moment after the warm-up, which slowed a host probe
# taken right after it up to fourfold.
QUIESCE_S = 2.0
UPSERT_SAMPLE = 2              # the contract reports the first two upserts
TOOLS = tuple(t for t, _ in gen.TOOL_MIX)


def rows_of(resp: dict) -> list | None:
    """Result rows of a tools/call response; None for an error."""
    res = resp.get("result") if resp else None
    if not res or res.get("isError"):
        return None
    return json.loads(res["content"][0]["text"])


def _canon(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in sorted(v.items())}
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def same_rows(a: list | None, b: list | None) -> bool:
    return a is not None and b is not None and _canon(a) == _canon(b)


class Run:
    """One run of one workload: the session, the timed operations, the
    checks and, when traced, the spans."""

    def __init__(self, spark, probe: SparkProbe, corpus_dir: str,
                 corpus: dict, seed: int, seconds: float, traced: bool,
                 t_start: float, workers: int, log_path: str) -> None:
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.corpus = corpus
        self.seed = seed
        self.seconds = seconds
        self.t_start = t_start
        self.workers = workers
        self.log_path = log_path
        self.probe = probe
        self.tracer = Tracer() if traced else None
        self.ops: list[dict] = []          # timed operations
        self.contract_ops: list[dict] | None = None  # None: all of ops
        self.bad: list[str] = []           # failed or wrong operations
        self.upserts: list[dict] = []
        self.roots: dict[int, int] = {}    # traced rid -> handle span id
        self.overhead_ms: list[float] = []
        self.report: dict = {}
        self.setup_s = 0.0
        self.enable_s = 0.0
        self._lock = threading.Lock()

    # -- set-up -------------------------------------------------------------

    def engine(self):
        """The engine the serving transports build over the corpus."""
        from hadith_vector_search_spark.api import (
            HybridEngine,
            configure_interactive,
        )
        from hadith_vector_search_spark.sources import load_table

        configure_interactive(self.spark)
        docs = load_table(self.spark, self.corpus_dir, "documents")
        engine = HybridEngine(self.spark, docs)
        t0 = clock()
        if not engine.enable_interactive():
            raise RuntimeError("enable_interactive refused the corpus")
        self.enable_s = clock() - t0
        return engine

    def server(self, engine):
        from hadith_vector_search_spark.serving.stdio import StdioServer

        if self.tracer is not None:
            engine = TracedEngine(engine, self.tracer)
        return StdioServer(engine)

    def warm(self, server, tools: tuple[str, ...] = TOOLS, rounds: int = 1,
             plain_hybrid: int = 0,
             pool: ThreadPoolExecutor | None = None) -> None:
        """Untimed requests of each tool from a fixed stream, so lazy set-up
        (index build, first compiles) is paid before timing. Through
        `pool`, so that every worker thread has opened its py4j
        connection before the first timed request."""
        g = self.request_gen(WARM_SEED)
        reqs = [g.request(t) for _ in range(rounds) for t in tools]
        reqs += [g.request("hybrid_search", g.hybrid_args(False))
                 for _ in range(plain_hybrid)]

        def one(req):
            self.probe.set_group("warm", "warm-up")
            return rows_of(server.handle(req))

        for req, rows in zip(reqs, (pool.map(one, reqs) if pool
                                    else map(one, reqs))):
            if rows is None:
                raise RuntimeError(f"warm-up {req['params']['name']} failed")

    def request_gen(self, seed: int) -> gen.RequestGen:
        return gen.RequestGen(seed, gen.token_ranking(self.corpus["text"]),
                              self.corpus["doc_id"])

    def start_timing(self) -> None:
        time.sleep(QUIESCE_S)
        self.setup_s = clock() - self.t_start
        self.report["host_pre"] = self.sentinels()
        self.gc0 = self.probe.gc_ms()
        self.cg0 = self.probe.codegen()

    def end_timing(self) -> None:
        self.report["window_s"] = clock() - self.t_start - self.setup_s
        self.report["host_post"] = self.sentinels()
        self.gc1 = self.probe.gc_ms()
        self.cg1 = self.probe.codegen()
        self.pinned = self.probe.pinned()
        self.heap_mb = self.probe.heap_mb()

    def sentinels(self) -> dict:
        """Host health probes, recorded beside the run; they replace no
        timing. select1 is one trivial Spark job, matmul a 512x512 numpy
        product."""
        import numpy as np

        a = np.random.default_rng(0).standard_normal((512, 512))
        t0 = clock()
        a @ a
        t1 = clock()
        self.probe.set_group("host", "sentinel")
        self.spark.range(1).collect()
        t2 = clock()
        return {"matmul_ms": (t1 - t0) * 1e3, "select1_ms": (t2 - t1) * 1e3}

    # -- timed calls --------------------------------------------------------

    def call(self, server, req: dict, due: float | None = None) -> dict:
        """One timed StdioServer.handle call; latency runs from `due` when
        given (open loop), else from the call's start."""
        tool = req["params"]["name"]
        tr = self.tracer
        if tr is not None:
            o0 = clock()
            rid, root = tr.new_id(), tr.new_id()
            tr.enter(rid, root)
            self.probe.set_group(f"pb-{rid}", tool)
            o1 = clock()
        t0 = clock()
        resp = server.handle(req)
        t1 = clock()
        if tr is not None:
            o2 = clock()
            tr.add("handle", t0, t1, None, rid, sid=root, tool=tool,
                   bytes=len(json.dumps(resp, ensure_ascii=False)))
            tr.leave()
            with self._lock:
                self.roots[rid] = root
                self.overhead_ms.append((o1 - o0 + clock() - o2) * 1e3)
        op = {"kind": "call", "tool": tool, "req": req, "resp": resp,
              "ms": (t1 - (t0 if due is None else due)) * 1e3,
              "service_ms": (t1 - t0) * 1e3, "at": t0,
              "ok": rows_of(resp) is not None}
        with self._lock:
            self.ops.append(op)
            if not op["ok"]:
                self.bad.append(f"{tool} #{req['id']} errored")
        return op

    def upsert(self, engine, batch: gen.UpsertBatch) -> dict:
        """One timed upsert_documents call."""
        schema = engine.docs.schema
        incoming = self.spark.createDataFrame(batch.rows, schema)
        removed = (self.spark.createDataFrame(
            [(i,) for i in batch.removed], f"{schema[0].name} long")
            if batch.removed else None)
        tr = self.tracer
        if tr is not None:
            rid, root = tr.new_id(), tr.new_id()
            self.probe.set_group(f"pb-{rid}", "upsert_documents")
        t0 = clock()
        try:
            got = engine.upsert_documents(incoming, removed_ids=removed)
        except Exception as exc:  # noqa: BLE001 -- a failed upsert is counted
            got = {"error": f"{type(exc).__name__}: {exc}"}
        t1 = clock()
        if tr is not None:
            tr.add("upsert_documents", t0, t1, None, rid, sid=root,
                   docs=len(batch.rows) + len(batch.removed))
            self.roots[rid] = root
        rdds, mb = self.probe.pinned()
        e = batch.expect
        op = {"kind": "upsert", "tool": "upsert_documents", "ms": (t1 - t0) * 1e3,
              "ok": got == e, "got": got, "expect": e,
              "changed_docs": e["inserted"] + e["updated"] + e["removed"],
              "pinned_rdds": rdds, "pinned_mb": mb}
        self.ops.append(op)
        self.upserts.append(op)
        if not op["ok"]:
            self.bad.append(f"upsert {batch.step} returned {got}, "
                            f"expected {e}")
        return op

    # -- results ------------------------------------------------------------

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak RSS (MB) of this Python process and of the JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{self.probe.jvm_pid()}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f
                          if line.startswith("VmHWM:"))
        return py_kb * 1024 / 1e6, jvm_kb * 1024 / 1e6

    def latencies(self, kind: str = "call", tool: str | None = None,
                  ops: list[dict] | None = None) -> list[float]:
        return [o["ms"] for o in (self.ops if ops is None else ops)
                if o["kind"] == kind and (tool is None or o["tool"] == tool)]

    def check_replay(self, server, label: str) -> None:
        """Replay a seeded sample of the timed requests (batch calls
        excluded: one costs seconds on the Spark path) on `server`, the
        other serving path, and require identical rows."""
        rng = random.Random(self.seed + 17)
        pool = [o for o in self.ops if o["kind"] == "call" and o["ok"]
                and o["tool"] != "hybrid_search_batch"]
        self.probe.set_group("check", "output check")
        sample = rng.sample(pool, min(CHECK_SAMPLE, len(pool)))
        for o in sample:
            again = rows_of(server.handle(o["req"]))
            if not same_rows(rows_of(o["resp"]), again):
                self.bad.append(f"{o['tool']} #{o['req']['id']} differs on "
                                f"the {label} path")
        self.report["checked"] = len(sample)

    def finish(self) -> dict:
        """Contract metrics, the full report's end-to-end metrics, and
        the counts of attempted and failed operations."""
        calls = self.latencies("call")
        hybrid = self.latencies("call", "hybrid_search")
        ups = self.latencies("upsert")
        ref = self.contract_ops
        attempted = len(self.ops)
        failed = min(attempted, len(self.bad))
        py_mb, jvm_mb = self.peak_rss_mb()
        rss = py_mb + jvm_mb
        contract = {
            "setup_s": (self.setup_s, "s"),
            "op_mean90_ms": (stats.trimmed_mean(
                ups[:UPSERT_SAMPLE] or self.latencies("call", ops=ref)), "ms"),
            "python_rss_mb": (py_mb, "MB"),
        }
        full: dict[str, dict] = {}

        def put(name, value, unit, **extra):
            full[name] = {"value": value, "unit": unit, **extra}

        def timing(prefix, xs):
            t = stats.tail(xs)
            put(f"{prefix}_p50_ms", stats.median(xs), "ms", n=len(xs))
            put(f"{prefix}_tail_ms", t and t["value"], "ms",
                p=t and t["p"], n=len(xs))

        put("setup_s", self.setup_s, "s")
        if calls and not ups:
            timing("call", calls)
        timing("hybrid", hybrid)
        if "max_rate_rps" in self.report:
            put("max_rate_rps", self.report["max_rate_rps"], "req/s",
                limit_ms=HYBRID_LIMIT_MS)
        if ups:
            timing("upsert", ups)
            q = max(1, len(ups) // 4)
            put("upsert_slope", stats.median(ups[-q:]) / stats.median(ups[:q]),
                "ratio")
            put("docs_per_s", sum(o["changed_docs"] for o in self.upserts)
                / (sum(ups) / 1e3), "docs/s")
        put("error_rate", failed / attempted if attempted else 1.0,
            "fraction", failed=failed, attempted=attempted)
        put("peak_rss_mb", rss, "MB", python_mb=py_mb, jvm_mb=jvm_mb)
        r = self.report
        r["per_tool"] = {t: stats.summary(self.latencies("call", t))
                         for t in TOOLS}
        if ups:
            r["per_upsert"] = [
                {k: o[k] for k in ("ms", "changed_docs", "pinned_rdds",
                                   "pinned_mb", "ok")} for o in self.upserts]
        r["failures"] = self.bad[:20]
        r["ops"] = [{k: o.get(k) for k in ("kind", "tool", "ms", "service_ms",
                                           "at", "ok")} for o in self.ops]
        r["enable_s"] = self.enable_s
        return {"contract": contract, "metrics": full,
                "attempted": attempted, "failed": failed}

    # -- traced-run layer metrics -------------------------------------------

    def layers(self) -> dict:
        """Per-layer metrics of a traced run (see README.md for the map to
        end-to-end metrics)."""
        tr = self.tracer
        jobs = self.probe.jobs("pb-")
        by_rid: dict[int, list] = {}
        for s in tr.spans:
            by_rid.setdefault(s.rid, []).append(s)
        for rid, root in self.roots.items():
            attach_jobs(tr, rid, root, jobs.get(f"pb-{rid}", []),
                        by_rid.get(rid, []))
        selfs = tr.self_times()
        kids = tr.children()
        roots = [s for s in tr.spans if s.parent is None]
        job_recs = {(g, j["id"]): j for g, js in jobs.items() for j in js}

        def jobs_under(span) -> list[dict]:
            out = []
            for c in kids.get(span.id, []):
                if c.name == "job":
                    out.append(job_recs[(f"pb-{c.rid}", c.attrs["job"])])
                else:
                    out.extend(jobs_under(c))
            return out

        def med(xs):
            return stats.median(xs) or 0.0

        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        handles = [s for s in roots if s.name == "handle"]
        engine_calls = [c for h in handles for c in kids.get(h.id, [])
                        if c.name.startswith("HybridEngine.")]
        plans = [s for s in tr.spans if s.name == "plan"]
        execs = [s for s in tr.spans if s.name == "execute"]
        ups = [s for s in roots if s.name == "upsert_documents"]
        m: dict[str, tuple[float, str]] = {}
        m["serving.self_ms"] = (med([selfs[h.id] * 1e3 for h in handles]), "ms")
        m["serving.response_bytes"] = (med([h.attrs["bytes"] for h in handles]),
                                       "bytes")
        for t in TOOLS:
            hs = [h for h in handles if h.attrs["tool"] == t]
            m[f"api.call_ms.{t}"] = (
                med([(h.end - h.start - selfs[h.id]) * 1e3 for h in hs]), "ms")
            m[f"api.jobs_per_call.{t}"] = (
                mean([len(jobs_under(h)) for h in hs]), "count")
        m["api.spark_fallbacks"] = (
            mean([1.0 if jobs_under(h) else 0.0 for h in handles]), "fraction")
        m["api.enable_s"] = (self.enable_s, "s")
        up_ms = [(u.end - u.start) * 1e3 for u in ups]
        q = max(1, len(up_ms) // 4)
        m["api.upsert_ms"] = (med(up_ms), "ms")
        m["api.upsert_jobs"] = (med([len(jobs_under(u)) for u in ups]), "count")
        m["api.upsert_slope"] = (
            med(up_ms[-q:]) / med(up_ms[:q]) if up_ms else 0.0, "ratio")
        build_jobs = [[job_recs[(f"pb-{c.rid}", c.attrs["job"])]
                       for c in kids.get(e.id, []) if c.name == "job"]
                      for e in engine_calls]
        m["plans.build_ms"] = (med([(e.end - e.start) * 1e3
                                    for e in engine_calls]), "ms")
        m["plans.build_jobs"] = (mean([len(b) for b in build_jobs]), "count")
        m["plans.schema_jobs"] = (mean([
            sum(1 for j in b if j["name"].startswith("parquet at"))
            for b in build_jobs]), "count")
        m["catalyst.plan_ms"] = (med([(p.end - p.start) * 1e3 for p in plans]),
                                 "ms")
        m["exec.ms"] = (med([(e.end - e.start) * 1e3 for e in execs]), "ms")
        ops_jobs = [jobs_under(r) for r in roots]
        m["exec.jobs"] = (mean([len(js) for js in ops_jobs]), "count")
        for k, unit in (("stages", "count"), ("tasks", "count"),
                        ("run_ms", "ms"), ("cpu_ms", "ms"),
                        ("input_bytes", "bytes"),
                        ("shuffle_read_bytes", "bytes"),
                        ("shuffle_write_bytes", "bytes"),
                        ("spill_bytes", "bytes")):
            m[f"exec.{k}"] = (mean([sum(j[k] for j in js) for js in ops_jobs]),
                              unit)
        m["codegen.compiles"] = (float(self.cg1[0] - self.cg0[0]), "count")
        m["codegen.compile_ms"] = (self.cg1[1] - self.cg0[1], "ms")
        m["codegen.fallbacks"] = (float(self.codegen_fallbacks()), "count")
        m["session.pinned_rdds"] = (float(self.pinned[0]), "count")
        m["session.pinned_mb"] = (self.pinned[1], "MB")
        m["jvm.gc_ms"] = (self.gc1 - self.gc0, "ms")
        m["jvm.heap_mb"] = (self.heap_mb, "MB")
        lag = self.report.get("lag_ms", [])
        lag_tail = stats.tail(lag)
        m["loadgen.lag_ms"] = (lag_tail["value"] if lag_tail
                               else max(lag, default=0.0), "ms")
        m["host.matmul_ms"] = (self.report["host_pre"]["matmul_ms"], "ms")
        m["host.select1_ms"] = (self.report["host_pre"]["select1_ms"], "ms")
        m["trace.overhead_ms"] = (med(self.overhead_ms), "ms")

        # Self time by layer: over all operations it sums to their wall.
        layer_of = {"handle": "serving", "plan": "catalyst",
                    "execute": "exec", "job": "spark_jobs",
                    "upsert_documents": "api"}
        by_layer: dict[str, float] = {}
        for s in tr.spans:
            lay = layer_of.get(s.name, "plans")
            by_layer[lay] = by_layer.get(lay, 0.0) + selfs[s.id] * 1e3
        self.report["trace"] = {
            "spans": len(tr.spans),
            "wall_ms": sum((r.end - r.start) * 1e3 for r in roots),
            "self_ms_by_layer": by_layer,
            "nest_violations": len(tr.nest_violations()),
        }
        return m

    def codegen_fallbacks(self) -> int:
        try:
            with open(self.log_path, errors="replace") as f:
                return sum(1 for line in f if "grows beyond 64 KB" in line)
        except FileNotFoundError:
            return 0


# -- workloads --------------------------------------------------------------

def serve_resident(run: Run) -> None:
    engine = run.engine()
    server = run.server(engine)
    g = run.request_gen(run.seed)
    plans = []
    for rate, share in RESIDENT_RATES:
        offs = g.arrivals(rate, run.seconds * share)
        plans.append((rate, offs, [g.request() for _ in offs]))
    lags, rates = [], []
    with ThreadPoolExecutor(max_workers=run.workers) as pool:
        run.warm(server, rounds=WARM_ROUNDS, plain_hybrid=WARM_HYBRID,
                 pool=pool)
        run.start_timing()
        for rate, offs, reqs in plans:
            start = clock() + 0.01
            futs = []
            for off, req in zip(offs, reqs):
                due = start + off
                wait = due - clock()
                if wait > 0:
                    time.sleep(wait)
                lags.append((clock() - due) * 1e3)
                futs.append(pool.submit(run.call, server, req, due))
            backlog = sum(1 for f in futs if not f.done())
            done = [f.result() for f in futs]
            if rate == RESIDENT_RATES[0][0]:
                run.contract_ops = done
            hy = [o["ms"] for o in done if o["tool"] == "hybrid_search"]
            tail = stats.tail(hy)
            worst = tail["value"] if tail else max(hy, default=0.0)
            rates.append({
                "rate_rps": rate, "n": len(done),
                "call": stats.summary([o["ms"] for o in done]),
                "hybrid": stats.summary(hy), "backlog_at_end": backlog,
                "sustained": worst <= HYBRID_LIMIT_MS
                and backlog <= 2 * run.workers})
        run.end_timing()
    run.report["lag_ms"] = lags
    run.report["rates"] = rates
    ok = [r["rate_rps"] for r in rates if r["sustained"]]
    run.report["max_rate_rps"] = max(ok, default=0)
    if run.tracer is not None:
        run.report["layers"] = run.layers()
    engine.disable_interactive()
    from hadith_vector_search_spark.serving.stdio import StdioServer
    run.check_replay(StdioServer(engine), "Spark")


def upsert_mixed(run: Run) -> None:
    engine = run.engine()
    server = run.server(engine)
    run.warm(server, ("hybrid_search",), rounds=WARM_READS)
    ug = gen.UpsertGen(run.seed, run.corpus)
    g = run.request_gen(run.seed)
    pick = random.Random(run.seed + 29)
    fresh = []
    run.start_timing()
    deadline = clock() + run.seconds
    step = 0
    while clock() < deadline:
        batch = ug.batch(step)
        run.upsert(engine, batch)
        # one freshness read, one filtered read, the rest plain, in
        # seeded order
        kinds = ["fresh", "filtered"] + ["plain"] * (gen.READS_PER_UPSERT - 2)
        pick.shuffle(kinds)
        for kind in kinds:
            if kind == "fresh":
                req = g.request("hybrid_search",
                                {"query": batch.token, "n_results": 10})
                fresh.append((batch, run.call(server, req)))
            else:
                run.call(server, g.request(
                    "hybrid_search", g.hybrid_args(kind == "filtered")))
        step += 1
    run.end_timing()
    if run.tracer is not None:
        run.report["layers"] = run.layers()
    # Output checks: the freshness reads found their batch; every touched
    # document reads back as the generator's model says.
    for batch, op in fresh:
        ids = {r.get("doc_id") for r in rows_of(op["resp"]) or []}
        if not ids & set(batch.changed):
            run.bad.append(f"freshness read of batch {batch.step} found none "
                           f"of its documents")
    for i in sorted(ug.touched):
        row = engine.get_document_row(i)
        if (None if row is None else row["text"]) != ug.text.get(i):
            run.bad.append(f"get_document_row({i}) shows a stale document")
    run.report["checked_docs"] = len(ug.touched)


WORKLOADS = {"serve_resident": serve_resident, "upsert_mixed": upsert_mixed}
