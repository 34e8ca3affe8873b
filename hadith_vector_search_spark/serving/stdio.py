"""MCP-shaped stdio serving loop over `api.HybridEngine`.

The reference serves three transports — MCP stdio
(/root/reference/mcp_server/mcp_stdio.py:57-101), Flask HTTP
(/root/reference/mcp_server/http_server.py:43-68), FastMCP streamable HTTP
(/root/reference/quran_mcp/mcp_http.py:40-52) — all thin dispatch layers
over the same tool functions. This module is the Spark-engine analogue:
newline-delimited JSON-RPC 2.0 on stdin/stdout with the MCP method shapes
(`initialize`, `tools/list`, `tools/call`), a LONG-LIVED SparkSession, and
the engine's lazily-built pinned index/embeddings reused across calls —
the serving property that matters (build once, query many) without
depending on the `mcp` package (not in this container; the wire shapes
are public protocol).

Run: ``python -m hadith_vector_search_spark.serving.stdio [sf_dir]``.

Every tool result is bounded (top-k, point lookup, status). A resident
call's rows come from the engine as plain Python tuples and go straight to
JSON; a Spark-path call's frame is collected here, an O(k) presentation,
never a data-sized pull.
"""

from __future__ import annotations

import json
import sys
from typing import Any

TOOL_DEFINITIONS: tuple[dict[str, Any], ...] = (
    {
        "name": "hybrid_search",
        "description": "Hybrid (BM25 + vector) search over the corpus",
        "inputSchema": {
            "type": "object",
            "properties": {
                "query": {"type": "string"},
                "n_results": {"type": "integer", "default": 10, "minimum": 1},
                "scoring_mode": {
                    "type": "string",
                    "enum": ["balanced", "term-priority", "semantic", "fts"],
                },
                "weight_vector": {"type": "number"},
                "weight_fts": {"type": "number"},
                "weight_term_coverage": {"type": "number"},
                "bonus_phrase": {"type": "number"},
                "filters": {
                    "type": "object",
                    "description": "metadata equality filters "
                                   "({column: value}, ANDed; restricts "
                                   "the search space before top-k)",
                },
            },
            "required": ["query"],
        },
    },
    {
        "name": "hybrid_search_batch",
        "description": "Batch hybrid search: N queries in one call, "
                       "rows tagged by query_idx (amortized per-query "
                       "latency on the resident tiers)",
        "inputSchema": {
            "type": "object",
            "properties": {
                "queries": {"type": "array", "items": {"type": "string"},
                            "minItems": 1},
                "n_results": {"type": "integer", "default": 10, "minimum": 1},
                "scoring_mode": {
                    "type": "string",
                    "enum": ["balanced", "term-priority", "semantic", "fts"],
                },
                "weight_vector": {"type": "number"},
                "weight_fts": {"type": "number"},
                "weight_term_coverage": {"type": "number"},
                "bonus_phrase": {"type": "number"},
                "filters": {
                    "type": "object",
                    "description": "metadata equality filters "
                                   "({column: value}, ANDed; restricts "
                                   "the search space before top-k)",
                },
            },
            "required": ["queries"],
        },
    },
    {
        "name": "fts_match",
        "description": "Compiled FTS match: AND terms, prefix*, field:value scope",
        "inputSchema": {
            "type": "object",
            "properties": {
                "terms": {"type": "array", "items": {"type": "string"}},
                "prefix": {"type": "string"},
                "field": {"type": "string"},
                "value": {"type": "string"},
                "limit": {"type": "integer", "default": 10, "minimum": 1},
            },
        },
    },
    {
        "name": "get_document",
        "description": "Point lookup by document id",
        "inputSchema": {
            "type": "object",
            "properties": {"doc_id": {"type": ["integer", "string"]}},
            "required": ["doc_id"],
        },
    },
    {
        "name": "rerank_search",
        "description": "Hybrid retrieval reranked by a cross-encoder-"
                       "shaped pair scorer over the top candidates",
        "inputSchema": {
            "type": "object",
            "properties": {
                "query": {"type": "string"},
                "n_results": {"type": "integer", "default": 10, "minimum": 1},
                "scoring_mode": {
                    "type": "string",
                    "enum": ["balanced", "term-priority", "semantic", "fts"],
                },
            },
            "required": ["query"],
        },
    },
    {
        "name": "more_like_this",
        "description": "Documents similar to a seed document "
                       "(top tf-idf terms -> BM25, seed excluded)",
        "inputSchema": {
            "type": "object",
            "properties": {
                "doc_id": {"type": ["integer", "string"]},
                "n_results": {"type": "integer", "default": 10, "minimum": 1},
                "n_terms": {"type": "integer", "default": 5, "minimum": 1},
            },
            "required": ["doc_id"],
        },
    },
    {
        "name": "vector_index_status",
        "description": "Embedding (vector) index status",
        "inputSchema": {"type": "object", "properties": {}},
    },
    {
        "name": "fts_status",
        "description": "Full-text (lexical) index status",
        "inputSchema": {"type": "object", "properties": {}},
    },
    {
        "name": "status",
        "description": "Corpus/index status",
        "inputSchema": {"type": "object", "properties": {}},
    },
)


STATUS_TOOLS = ("status", "vector_index_status", "fts_status")


def tool_dicts(out) -> list[dict]:
    """An engine result as row dicts: `tool_rows`' resident (rows,
    schema) zipped by field name, anything else — a Spark-path frame,
    or a proxy of one — collected."""
    if isinstance(out, tuple):
        rows, schema = out
        return [dict(zip(schema.names, r)) for r in rows]
    return [r.asDict(recursive=True) for r in out.collect()]


class StdioServer:
    """Dispatch layer: one engine, many requests. A resident tool call
    hands its plain rows straight to JSON; a Spark-path call collects
    its bounded result frame. Results return as MCP-style content
    (`{"content": [{"type": "text", "text": <json rows>}]}`)."""

    PROTOCOL_VERSION = "2024-11-05"

    def __init__(self, engine) -> None:
        self.engine = engine

    # -- tool dispatch ------------------------------------------------------

    def call_tool(self, name: str, args: dict[str, Any]) -> list[dict]:
        """One tool call as a list of row dicts. The search tools go
        through `engine.tool_rows`, whose resident results are plain
        (rows, schema) with no DataFrame built; `get_document` through
        `engine.get_document_row`; the status tools through their engine
        methods."""
        if name == "get_document":
            row = self.engine.get_document_row(args["doc_id"])
            return [] if row is None else [row]
        if name in STATUS_TOOLS:
            return tool_dicts(getattr(self.engine, name)())
        rows = tool_dicts(self.engine.tool_rows(name, args))
        if name in ("hybrid_search", "hybrid_search_batch"):
            # Attach the spec'd human-readable explanation per hit
            # (HADITH_SEARCH_SPEC.md:487-496 — the reference's designed
            # output format, TEST_QUERIES.md:445-468, never shipped).
            from ..operators.fusion import explain_ranking
            for r in rows:
                r["explanation"] = explain_ranking(r)
        return rows

    @staticmethod
    def _rows_json(rows: list[dict]) -> str:
        return json.dumps(rows, ensure_ascii=False, default=str)

    # -- JSON-RPC plumbing --------------------------------------------------

    def handle(self, req: dict[str, Any]) -> dict[str, Any] | None:
        rid = req.get("id")
        method = req.get("method")
        if method == "initialize":
            return self._result(rid, {
                "protocolVersion": self.PROTOCOL_VERSION,
                "capabilities": {"tools": {}},
                "serverInfo": {"name": "hadith-vector-search-spark",
                               "version": "1.0"},
            })
        if method == "notifications/initialized":
            return None  # notification: no response
        if method == "ping":
            return self._result(rid, {})
        if method == "tools/list":
            return self._result(rid, {"tools": list(TOOL_DEFINITIONS)})
        if method == "tools/call":
            params = req.get("params") or {}
            name = params.get("name", "")
            args = params.get("arguments") or {}
            try:
                rows = self.call_tool(name, args)
                content = [{"type": "text", "text": self._rows_json(rows)}]
                return self._result(rid, {"content": content,
                                          "isError": False})
            except Exception as exc:  # noqa: BLE001 — serve, don't die
                content = [{"type": "text", "text": f"{type(exc).__name__}: {exc}"}]
                return self._result(rid, {"content": content, "isError": True})
        return {"jsonrpc": "2.0", "id": rid,
                "error": {"code": -32601, "message": f"unknown method {method!r}"}}

    @staticmethod
    def _result(rid, result: dict[str, Any]) -> dict[str, Any]:
        return {"jsonrpc": "2.0", "id": rid, "result": result}

    def serve(self, stdin=None, stdout=None) -> None:
        stdin = stdin or sys.stdin
        stdout = stdout or sys.stdout
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
            except json.JSONDecodeError as exc:
                resp = {"jsonrpc": "2.0", "id": None,
                        "error": {"code": -32700, "message": f"parse error: {exc}"}}
            else:
                resp = self.handle(req)
            if resp is not None:
                stdout.write(json.dumps(resp, ensure_ascii=False) + "\n")
                stdout.flush()


def main(argv: list[str] | None = None) -> None:
    argv = sys.argv[1:] if argv is None else argv
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    from ..api import HybridEngine, configure_interactive
    from ..session import get_spark
    from ..sources import load_table

    spark = get_spark("stdio-serving")
    configure_interactive(spark)
    docs = load_table(spark, sf_dir, "documents")
    engine = HybridEngine(spark, docs)
    engine.enable_interactive()
    StdioServer(engine).serve()


if __name__ == "__main__":
    main()
