"""Tests of the benchmark itself. No Spark: the engine and Spark's counters
are replaced by fakes where a test needs them.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, stats
from perfbench.trace import Span, Tracer, attach_jobs, clock, self_time
from perfbench.workloads import TOOLS, Run, same_rows

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
CORPUS = gen.make_corpus(n_docs=300)


def _requests(seed: int, n: int) -> list[dict]:
    g = gen.RequestGen(seed, gen.token_ranking(CORPUS["text"]),
                       CORPUS["doc_id"])
    return [g.request() for _ in range(n)] + [g.arrivals(12, 3.0)]


def _batches(seed: int, n: int) -> list:
    ug = gen.UpsertGen(seed, CORPUS)
    return [ug.batch(k) for k in range(n)]


def test_same_seed_same_inputs():
    assert gen.make_corpus(n_docs=300) == CORPUS
    assert _requests(5, 200) == _requests(5, 200)
    assert _requests(5, 200) != _requests(6, 200)
    assert _batches(5, 6) == _batches(5, 6)
    assert _batches(5, 6) != _batches(6, 6)


def test_request_mix_holds_exact_shares_per_block():
    reqs = _requests(1, 40 * gen.MIX_BLOCK)[:-1]
    for k in range(0, len(reqs), gen.MIX_BLOCK):
        names = [r["params"]["name"] for r in reqs[k:k + gen.MIX_BLOCK]]
        for tool, pct in gen.TOOL_MIX:
            assert names.count(tool) == pct * gen.MIX_BLOCK // 100, tool
    hybrid = [r["params"]["arguments"] for r in reqs
              if r["params"]["name"] == "hybrid_search"]
    for k in range(0, len(hybrid), gen.LANG_FILTER_EVERY):
        assert sum("filters" in a for a in
                   hybrid[k:k + gen.LANG_FILTER_EVERY]) == 1
    queries = [a["query"] for a in hybrid]
    refs = sum(q.startswith("hadith number") for q in queries)
    assert 0.02 < refs / len(queries) < 0.08


def test_upsert_batches_match_their_expected_counts():
    ug = gen.UpsertGen(3, CORPUS)
    for k in range(5):
        b = ug.batch(k)
        e = b.expect
        assert gen.UPSERT_MIN <= e["processed"] + e["removed"] <= gen.UPSERT_MAX
        assert e["processed"] == len(b.rows)
        assert e["inserted"] + e["updated"] == len(b.changed)
        assert len(b.removed) == e["removed"] > 0
        assert all(b.token in t.split() for t in b.changed.values())
        assert not set(b.removed) & set(b.changed)
        assert all(i not in ug.text for i in b.removed)
        for i, t, *_ in b.rows:
            assert ug.text[i] == t


def test_tail_is_the_highest_rung_with_ten_samples_beyond():
    xs = list(range(1, 1001))
    assert stats.tail(xs) == {"p": 99.0, "value": 990, "n": 1000}
    t = stats.tail(list(range(1, 201)))
    assert t["p"] == 95.0 and t["value"] == 190
    assert stats.tail(list(range(1, 21)))["p"] == 50.0
    assert stats.tail(list(range(1, 20))) is None
    for n in (20, 57, 200, 1000, 20000):
        t = stats.tail(list(range(n)))
        assert sum(1 for x in range(n) if x > t["value"]) >= stats.TAIL_BEYOND


def test_trimmed_mean_drops_the_slowest_tenth():
    assert stats.trimmed_mean([1.0, 2.0]) == 1.5
    xs = [10.0] * 18 + [1000.0, 2000.0]
    assert stats.trimmed_mean(xs) == 10.0
    assert stats.trimmed_mean([]) is None


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", 0.0, 10.0, None, 1)
    kids = [Span(1, "a", 1.0, 4.0, 0, 1), Span(2, "b", 3.0, 5.0, 0, 1),
            Span(3, "c", 9.0, 12.0, 0, 1)]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 1)


def test_jobs_attach_inside_their_span_and_self_times_add_up():
    tr = Tracer()
    root = tr.new_id()
    build = tr.add("HybridEngine.hybrid_search", 1.0, 2.0, root, 7)
    tr.add("execute", 2.5, 4.0, root, 7)
    tr.add("handle", 0.5, 4.5, None, 7, sid=root)
    jobs = [{"id": 1, "name": "collect at x", "start": 1.2, "end": 1.9},
            # overruns its span by a clock tick: clipped, not re-parented
            {"id": 2, "name": "collect at y", "start": 2.6, "end": 4.001}]
    attach_jobs(tr, 7, root, jobs, list(tr.spans))
    assert tr.nest_violations() == []
    job_parent = {s.attrs["job"]: s.parent for s in tr.spans if s.name == "job"}
    assert job_parent[1] == build
    selfs = tr.self_times()
    assert sum(selfs.values()) == pytest.approx(4.0)


class _FakeFrame:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _FakeEngine:
    """Returns empty results through the same shapes HybridEngine uses."""

    def hybrid_search(self, *a, **k):
        return _FakeFrame([])

    hybrid_search_batch = hybrid_search

    def fts_match(self, *a, **k):
        return []

    rerank_search = more_like_this = fts_match

    def get_document_row(self, doc_id):
        return {"doc_id": doc_id, "text": "x", "preview": "x"}


class _FakeProbe:
    """SparkProbe without a JVM: each request launched one job."""

    offset = 0.0

    def __init__(self):
        self.windows = {}

    def set_group(self, group, description):
        self.group = group

    def jobs(self, prefix):
        return {g: [{"id": i, "name": "parquet at t.py:1", "start": s,
                     "end": e, "stages": 1, "tasks": 2, "run_ms": 1,
                     "cpu_ms": 1.0, "input_bytes": 10,
                     "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                     "spill_bytes": 0}]
                for i, (g, (s, e)) in enumerate(self.windows.items())
                if g.startswith(prefix)}

    def pinned(self):
        return 3, 1.5

    def gc_ms(self):
        return 10.0

    def heap_mb(self):
        return 100.0

    def codegen(self):
        return 5, 20.0

    def jvm_pid(self):
        return os.getpid()


class _FakeSpark:
    class _Range:
        def collect(self):
            return []

    def range(self, n):
        return self._Range()


def _fake_run(traced: bool) -> Run:
    return Run(_FakeSpark(), _FakeProbe(), "", CORPUS, 1, 1.0, traced,
               clock(), 2, "/nonexistent")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _drive(run: Run) -> None:
    from hadith_vector_search_spark.serving.stdio import StdioServer

    server = run.server(_FakeEngine()) if run.tracer else StdioServer(
        _FakeEngine())
    run.start_timing()
    g = run.request_gen(9)
    for tool in TOOLS:
        run.call(server, g.request(tool))
        if run.tracer is not None:  # one job in the middle of the request
            rid = max(run.roots)
            h = next(s for s in run.tracer.spans if s.id == run.roots[rid])
            d = h.end - h.start
            run.probe.windows[f"pb-{rid}"] = (h.start + d / 4, h.end - d / 4)
    run.end_timing()


def test_emitted_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    run = _fake_run(traced=False)
    _drive(run)
    contract = run.finish()["contract"]
    assert set(contract) == {m["name"] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert all(units[k] == u for k, (_, u) in contract.items())

    run = _fake_run(traced=True)
    _drive(run)
    layers = run.layers()
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert all(units[k] == u for k, (_, u) in layers.items())


def test_traced_run_spans_nest_and_account_for_the_wall():
    run = _fake_run(traced=True)
    _drive(run)
    layers = run.layers()
    tr = run.tracer
    assert tr.nest_violations() == []
    names = {s.name for s in tr.spans}
    assert {"handle", "job"} <= names
    assert any(n.startswith("HybridEngine.") for n in names)
    t = run.report["trace"]
    assert sum(t["self_ms_by_layer"].values()) == pytest.approx(t["wall_ms"])
    assert layers["api.jobs_per_call.get_document"][0] == 1.0


def test_benchmark_json_follows_its_contract():
    spec = _benchmark_json()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    from perfbench.workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"]
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())


def test_row_comparison_tolerates_float_noise_only():
    a = [{"doc_id": 1, "score": 0.1234564}]
    assert same_rows(a, [{"doc_id": 1, "score": 0.1234561}])
    assert not same_rows(a, [{"doc_id": 2, "score": 0.1234564}])
    assert not same_rows(a, None)
