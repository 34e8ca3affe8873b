"""Integration test for the MCP-shaped stdio serving loop: drive a real
subprocess through initialize → tools/list → tools/call and check the
served hybrid_search/status payloads against engine-direct results from
this test session (same corpus, same parameters)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

QUERY = "patience and prayer"
N_RESULTS = 5


class StdioClient:
    def __init__(self, proc: subprocess.Popen) -> None:
        self.proc = proc
        self._next_id = 0

    def request(self, method: str, params: dict | None = None,
                timeout: float = 180.0) -> dict:
        self._next_id += 1
        req = {"jsonrpc": "2.0", "id": self._next_id, "method": method}
        if params is not None:
            req["params"] = params
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        assert line, "server closed stdout"
        resp = json.loads(line)
        assert resp["id"] == self._next_id
        return resp


@pytest.fixture(scope="module")
def server():
    env = dict(os.environ, SPARK_GRAFT_TEST_CPUS="4")
    proc = subprocess.Popen(
        [sys.executable, "-m", "hadith_vector_search_spark.serving.stdio",
         SF_SMOKE],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    client = StdioClient(proc)
    yield client
    proc.stdin.close()
    proc.terminate()
    proc.wait(timeout=30)


def _tool_rows(resp: dict) -> list[dict]:
    result = resp["result"]
    assert result["isError"] is False, result
    return json.loads(result["content"][0]["text"])


def test_stdio_session_end_to_end(server, spark, sf_dir):
    # initialize handshake
    init = server.request("initialize", {})
    assert init["result"]["serverInfo"]["name"] == "hadith-vector-search-spark"

    # tools/list exposes the reference's tool surface
    tools = {t["name"] for t in server.request("tools/list")["result"]["tools"]}
    assert {"hybrid_search", "fts_match", "get_document", "status"} <= tools

    # status matches engine-direct
    status_rows = _tool_rows(server.request(
        "tools/call", {"name": "status", "arguments": {}}))
    from hadith_vector_search_spark.api import HybridEngine
    from hadith_vector_search_spark.sources import load_table
    docs = load_table(spark, sf_dir, "documents")
    engine = HybridEngine(spark, docs)
    direct_status = [r.asDict() for r in engine.status().collect()]
    assert status_rows == direct_status

    # hybrid_search: served rows equal engine-direct rows (same session
    # params), proving the dispatch layer adds nothing and loses nothing.
    served = _tool_rows(server.request("tools/call", {
        "name": "hybrid_search",
        "arguments": {"query": QUERY, "n_results": N_RESULTS}}))
    direct = [r.asDict() for r in
              engine.hybrid_search(QUERY, n_results=N_RESULTS).collect()]
    assert [r["doc_id"] for r in served] == [r["doc_id"] for r in direct]
    for s, d in zip(served, direct):
        assert s["score"] == pytest.approx(d["score"])
        # the spec'd per-hit explanation rides the served payload
        # (HADITH_SEARCH_SPEC.md:487-496) and matches the row's signals
        from hadith_vector_search_spark.operators.fusion import (
            explain_ranking,
        )
        assert s["explanation"] == explain_ranking(d)

    # the long-lived session reuses the built index: a second call works
    served2 = _tool_rows(server.request("tools/call", {
        "name": "hybrid_search",
        "arguments": {"query": QUERY, "n_results": N_RESULTS}}))
    assert served2 == served

    # point lookup round-trips through the served surface
    doc_id = served[0]["doc_id"]
    got = _tool_rows(server.request("tools/call", {
        "name": "get_document", "arguments": {"doc_id": doc_id}}))
    assert len(got) == 1 and got[0]["doc_id"] == doc_id

    # unknown tool -> isError result, session keeps serving
    bad = server.request("tools/call", {"name": "nope", "arguments": {}})
    assert bad["result"]["isError"] is True
    assert _tool_rows(server.request(
        "tools/call", {"name": "status", "arguments": {}})) == direct_status


def test_index_status_tools(spark, sf_dir):
    """The reference's split status tools (tools.py:14-37): vector and
    fts status report built/unbuilt truthfully and correct counts."""
    import json as _json

    from hadith_vector_search_spark.api import HybridEngine
    from hadith_vector_search_spark.serving.stdio import StdioServer
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    eng = HybridEngine(spark, docs)
    d = StdioServer(eng)
    names = {t["name"] for t in __import__(
        "hadith_vector_search_spark.serving.stdio",
        fromlist=["TOOL_DEFINITIONS"]).TOOL_DEFINITIONS}
    assert {"vector_index_status", "fts_status"} <= names

    v0 = _json.loads(d._rows_json(d.call_tool("vector_index_status", {})))[0]
    f0 = _json.loads(d._rows_json(d.call_tool("fts_status", {})))[0]
    assert v0["built"] is False and v0["n_vectors"] == 0
    assert f0["built"] is False

    eng.index, eng.emb  # build pins
    v1 = _json.loads(d._rows_json(d.call_tool("vector_index_status", {})))[0]
    f1 = _json.loads(d._rows_json(d.call_tool("fts_status", {})))[0]
    n_docs = docs.count()
    assert v1["built"] is True and v1["n_vectors"] == n_docs
    assert v1["embedding_dim"] == eng.dim
    assert f1["built"] is True and f1["n_docs"] == n_docs
    assert f1["n_terms"] > 0 and f1["n_postings"] >= f1["n_terms"]
    assert f1["avgdl"] > 0


def test_weight_overrides_through_the_tool_surface(server, spark, sf_dir):
    """The hybrid_search tool's advertised weight args (the reference's
    HybridScorer kwargs, tools.py:75-82) must map onto fusion.Weights
    fields — a weight-customized call serves results instead of raising,
    and the override demonstrably changes scores."""
    base = _tool_rows(server.request("tools/call", {
        "name": "hybrid_search",
        "arguments": {"query": QUERY, "n_results": N_RESULTS}}))
    overridden = _tool_rows(server.request("tools/call", {
        "name": "hybrid_search",
        "arguments": {"query": QUERY, "n_results": N_RESULTS,
                      "weight_vector": 0.9, "weight_fts": 0.1,
                      "weight_term_coverage": 0.5, "bonus_phrase": 0.2}}))
    assert base and overridden
    b = {r["doc_id"]: r["score"] for r in base}
    o = {r["doc_id"]: r["score"] for r in overridden}
    shared = set(b) & set(o)
    assert shared and any(abs(b[d] - o[d]) > 1e-6 for d in shared)


def test_stdio_hybrid_batch_tool(server, spark, sf_dir):
    """The batch tool serves N queries in one call, rows tagged by
    query_idx and identical to engine-direct."""
    tools = {t["name"] for t in server.request("tools/list")["result"]["tools"]}
    assert "hybrid_search_batch" in tools
    served = _tool_rows(server.request("tools/call", {
        "name": "hybrid_search_batch",
        "arguments": {"queries": [QUERY, "hadith 3"],
                      "n_results": N_RESULTS}}))
    from hadith_vector_search_spark.api import HybridEngine
    from hadith_vector_search_spark.sources import load_table
    engine = HybridEngine(spark, load_table(spark, sf_dir, "documents"))
    direct = [r.asDict() for r in engine.hybrid_search_batch(
        [QUERY, "hadith 3"], n_results=N_RESULTS).collect()]
    assert [(r["query_idx"], r["doc_id"]) for r in served] == \
        [(r["query_idx"], r["doc_id"]) for r in direct]
    for s, d in zip(served, direct):
        assert s["score"] == pytest.approx(d["score"])


def test_stdio_hybrid_batch_weight_overrides(server):
    """The batch tool maps the same weight-override args as the single
    tool (r9 review: they were silently dropped): an override changes
    scores, and the batch rows equal the single tool's rows under the
    SAME override."""
    args = {"weight_vector": 0.9, "weight_fts": 0.1,
            "weight_term_coverage": 0.5, "bonus_phrase": 0.2}
    base = _tool_rows(server.request("tools/call", {
        "name": "hybrid_search_batch",
        "arguments": {"queries": [QUERY], "n_results": N_RESULTS}}))
    over = _tool_rows(server.request("tools/call", {
        "name": "hybrid_search_batch",
        "arguments": {"queries": [QUERY], "n_results": N_RESULTS, **args}}))
    single = _tool_rows(server.request("tools/call", {
        "name": "hybrid_search",
        "arguments": {"query": QUERY, "n_results": N_RESULTS, **args}}))
    assert base and over and single
    b = {r["doc_id"]: r["score"] for r in base}
    o = {r["doc_id"]: r["score"] for r in over}
    shared = set(b) & set(o)
    assert shared and any(abs(b[d] - o[d]) > 1e-6 for d in shared)
    assert [(r["doc_id"], r["score"]) for r in over] == \
        [(r["doc_id"], r["score"]) for r in single]


class _DuckFrame:
    """A result frame that is not a `pyspark.sql.DataFrame` — the shape a
    tracing proxy hands back: only `collect()` is forwarded."""

    def __init__(self, df) -> None:
        self._df = df

    def collect(self):
        return self._df.collect()


class _ProxyEngine:
    """Stands in for a HybridEngine the way a tracing proxy does: every
    public method is forwarded, and a returned DataFrame comes back
    wrapped in a `_DuckFrame`."""

    def __init__(self, engine) -> None:
        self._engine = engine

    def __getattr__(self, name):
        attr = getattr(self._engine, name)
        if name.startswith("_") or not callable(attr):
            return attr
        from pyspark.sql import DataFrame

        def call(*args, **kwargs):
            out = attr(*args, **kwargs)
            return _DuckFrame(out) if isinstance(out, DataFrame) else out

        return call


def test_stdio_serves_identical_json_through_a_duck_typed_proxy(spark):
    """StdioServer must not depend on results being `DataFrame`s: over a
    proxy whose Spark-path results are duck-typed frames it serves the
    same JSON text as over the engine itself, for every tool, on the
    Spark path and on the resident tiers."""
    from hadith_vector_search_spark.api import HybridEngine
    from hadith_vector_search_spark.serving.stdio import StdioServer

    docs = spark.createDataFrame(
        [(1, "patience and prayer during hardship"),
         (2, "charity and kindness at night"),
         (3, "prayer at dawn brings patience and reward"),
         (4, None)],
        "doc_id bigint, text string")
    tools = [("hybrid_search", {"query": "patience prayer", "n_results": 3}),
             ("hybrid_search_batch", {"queries": ["charity", "hadith 2"],
                                      "n_results": 2}),
             ("fts_match", {"terms": ["prayer"], "limit": 3}),
             ("more_like_this", {"doc_id": 1, "n_results": 3}),
             ("rerank_search", {"query": "prayer", "n_results": 2}),
             ("get_document", {"doc_id": 4}),
             ("status", {})]
    spark_eng = HybridEngine(spark, docs)
    resident = HybridEngine(spark, docs)
    assert resident.enable_interactive()
    for eng in (spark_eng, resident):
        direct, proxied = StdioServer(eng), StdioServer(_ProxyEngine(eng))
        for name, args in tools:
            want = direct._rows_json(direct.call_tool(name, args))
            got = proxied._rows_json(proxied.call_tool(name, args))
            assert got == want, (name, eng.interactive_enabled)
            assert json.loads(got), name
