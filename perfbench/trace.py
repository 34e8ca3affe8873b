"""Tracing from outside the engine.

Spans are recorded by the benchmark around calls into each layer's public
functions; the engine itself carries no tracing. A request's spans are

    handle                     StdioServer.handle (serving)
      HybridEngine.<tool>      the engine call that builds the result (api/plans)
      plan                     executedPlan() of the returned DataFrame (catalyst)
      execute                  collect() of the returned DataFrame (exec)
      job <id>                 Spark jobs of the request's job group, under
                               whichever of the spans above they ran in

and an upsert is `upsert_documents` with its jobs below it. Spans stay in
memory and are written out when the run ends. Times are
`time.perf_counter()` seconds; Spark's job times (epoch milliseconds) are
mapped onto that clock and clipped to their parent span.

`SparkProbe` reads Spark's own counters through py4j: the status store
(jobs by job group, stage metrics), `CodegenMetrics`, the JVM's GC and
heap MXBeans and the persisted-RDD inventory.
"""

from __future__ import annotations

import itertools
import threading
import time
from dataclasses import asdict, dataclass, field

clock = time.perf_counter


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: int | None
    attrs: dict = field(default_factory=dict)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    iv = sorted((max(c.start, span.start), min(c.end, span.end))
                for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


class Tracer:
    """In-memory span store; one per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def new_id(self) -> int:
        with self._lock:
            return next(self._ids)

    def add(self, name: str, start: float, end: float, parent: int | None,
            rid: int | None, sid: int | None = None, **attrs) -> int:
        sid = self.new_id() if sid is None else sid
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, rid, attrs))
        return sid

    # The request a thread is serving: set by the caller around
    # StdioServer.handle, read by the engine proxy below.
    def enter(self, rid: int, root: int) -> None:
        self._local.ctx = (rid, root)

    def leave(self) -> None:
        self._local.ctx = None

    def current(self) -> tuple[int | None, int | None]:
        return getattr(self._local, "ctx", None) or (None, None)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        kids = self.children()
        return {s.id: self_time(s, kids.get(s.id, [])) for s in self.spans}

    def nest_violations(self) -> list[int]:
        """Ids of spans that do not lie inside their parent."""
        by_id = {s.id: s for s in self.spans}
        return [s.id for s in self.spans if s.parent is not None
                and (s.parent not in by_id
                     or s.start < by_id[s.parent].start
                     or s.end > by_id[s.parent].end)]

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.id)]


class TracedFrame:
    """A DataFrame whose collect() is split into Catalyst planning
    (`executedPlan()`, which the following collect reuses) and execution."""

    def __init__(self, df, tracer: Tracer) -> None:
        self._df = df
        self._tracer = tracer

    def collect(self):
        rid, root = self._tracer.current()
        t0 = clock()
        self._df._jdf.queryExecution().executedPlan()
        t1 = clock()
        rows = self._df.collect()
        t2 = clock()
        self._tracer.add("plan", t0, t1, root, rid)
        self._tracer.add("execute", t1, t2, root, rid)
        return rows

    def __getattr__(self, name):
        return getattr(self._df, name)


class TracedEngine:
    """Stands in for a HybridEngine in front of StdioServer: every public
    method call becomes a `HybridEngine.<name>` span, and a returned
    DataFrame comes back as a TracedFrame."""

    def __init__(self, engine, tracer: Tracer) -> None:
        self._engine = engine
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._engine, name)
        if name.startswith("_") or not callable(attr):
            return attr
        from pyspark.sql import DataFrame

        def call(*args, **kwargs):
            t0 = clock()
            out = attr(*args, **kwargs)
            t1 = clock()
            rid, root = self._tracer.current()
            self._tracer.add(f"HybridEngine.{name}", t0, t1, root, rid)
            return TracedFrame(out, self._tracer) if isinstance(out, DataFrame) else out

        return call


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkProbe:
    """Spark's own counters, read through py4j from the driver."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        # epoch seconds -> perf_counter seconds
        self.offset = time.time() - clock()

    def set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description, interruptOnCancel=False)

    def jobs(self, prefix: str) -> dict[str, list[dict]]:
        """Jobs whose job group starts with `prefix`, by group, each with
        its perf_counter start/end, name and summed stage metrics."""
        store = self.sc._jsc.sc().statusStore()
        stages = {}
        for st in _seq(store.stageList(
                None, False, False,
                self.sc._gateway.new_array(self.jvm.double, 0), None)):
            stages[(st.stageId(), st.attemptId())] = {
                "tasks": st.numTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ms": st.executorCpuTime() / 1e6,
                "input_bytes": st.inputBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        by_stage: dict[int, list[dict]] = {}
        for (sid, _), m in stages.items():
            by_stage.setdefault(sid, []).append(m)
        out: dict[str, list[dict]] = {}
        for job in _seq(store.jobsList(None)):
            group = _opt(job.jobGroup())
            if group is None or not group.startswith(prefix):
                continue
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            start = sub.getTime() / 1e3 - self.offset if sub else None
            end = done.getTime() / 1e3 - self.offset if done else start
            sids = [int(x) for x in _seq(job.stageIds())]
            attempts = [m for s in sids for m in by_stage.get(s, [])]
            rec = {"id": job.jobId(), "name": job.name(), "start": start,
                   "end": end, "stages": len(attempts)}
            for k in ("tasks", "run_ms", "cpu_ms", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                rec[k] = sum(m[k] for m in attempts)
            out.setdefault(group, []).append(rec)
        return out

    def pinned(self) -> tuple[int, float]:
        """(persisted RDD count, MB they hold in memory and on disk)."""
        jsc = self.sc._jsc.sc()
        infos = jsc.getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        return jsc.getPersistentRDDs().size(), mb

    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def heap_mb(self) -> float:
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 1e6

    def codegen(self) -> tuple[int, float]:
        """(whole-stage/expression classes compiled, total compile ms).
        The ms total is count x the histogram mean, which Codahale samples."""
        h = self.jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        n = h.getCount()
        return n, n * h.getSnapshot().getMean()

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())


def attach_jobs(tracer: Tracer, rid: int, root: int, jobs: list[dict],
                spans: list[Span]) -> None:
    """Record a request's jobs as spans under the span of the request they
    overlap most (the root if they overlap no other), clipped to it.

    The request's other spans are sequential, so after clipping the self
    times of the request's spans add up to its wall time, unless two of
    its jobs overlap each other."""
    top = next(s for s in spans if s.id == root)
    inner = [s for s in spans if s.id != root and s.name != "job"]
    for j in jobs:
        if j["start"] is None:
            continue

        def overlap(s: Span) -> float:
            return min(j["end"], s.end) - max(j["start"], s.start)

        best = max(inner, key=overlap, default=None)
        parent = best if best is not None and overlap(best) > 0 else top
        s = min(max(j["start"], parent.start), parent.end)
        e = max(s, min(j["end"], parent.end))
        tracer.add("job", s, e, parent.id, rid, job=j["id"],
                   job_name=j["name"])
