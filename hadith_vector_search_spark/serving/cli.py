"""Query CLI over the engine — the reference's REPL/one-shot surfaces
(/root/reference/mcp_server/apps/fts_cli.py: one-shot args or a REPL;
/root/reference/mcp_server/apps/hybrid_cli.py) on the Spark engine.

One-shot:
  python -m hadith_vector_search_spark.serving.cli "patience and prayer" -k 5
  python -m hadith_vector_search_spark.serving.cli --terms charity wealth -k 3
  python -m hadith_vector_search_spark.serving.cli --prefix pat --json

No query arguments → a simple REPL: each line runs a hybrid search
(`:match t1 t2 ...` switches a line to compiled FTS match,
`:status [vector|fts]` prints index status, `:quit` exits). The session (and the engine's pinned index) lives across REPL
lines — one build, many queries, same as both serving transports."""

from __future__ import annotations

import argparse
import json
import sys

from .stdio import tool_dicts


def _print_rows(result, as_json: bool, out=sys.stdout) -> None:
    """Print an engine result: `tool_rows` output or a status frame."""
    rows = tool_dicts(result)
    if as_json:
        out.write(json.dumps(rows, ensure_ascii=False, default=str) + "\n")
    else:
        for r in rows:
            out.write("  " + " | ".join(f"{k}={v}" for k, v in r.items()) + "\n")
    out.flush()


def run(argv: list[str] | None = None, engine=None,
        stdin=None, stdout=None) -> int:
    parser = argparse.ArgumentParser(
        prog="hadith-vector-search-spark",
        description="Hybrid / FTS query CLI over the Spark engine")
    parser.add_argument("query", nargs="?", help="hybrid-search query text")
    parser.add_argument("--terms", nargs="*", help="compiled FTS match terms (AND)")
    parser.add_argument("--prefix", help="FTS prefix term (pre*)")
    parser.add_argument("-k", "--limit", type=int, default=10)
    parser.add_argument("--mode", default="balanced",
                        choices=["balanced", "term-priority", "semantic", "fts"])
    parser.add_argument("--status", choices=["corpus", "vector", "fts"],
                        help="print index/corpus status instead of querying")
    parser.add_argument("--json", action="store_true", dest="as_json")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = parser.parse_args(argv)

    stdin = stdin or sys.stdin
    stdout = stdout or sys.stdout
    if engine is None:
        from ..api import HybridEngine, configure_interactive
        from ..session import get_spark
        from ..sources import load_table

        spark = get_spark("cli")
        configure_interactive(spark)
        spark.sparkContext.setLogLevel("ERROR")
        engine = HybridEngine(spark, load_table(spark, args.sf_dir, "documents"))
        # The driver-resident vector tier embeds the corpus if no
        # embeddings were supplied — only pay that for invocations that
        # will actually run the vector leg. A one-shot --status or
        # FTS-only call stays a metadata/lexical job (status() documents
        # "never triggers a corpus embedding pass").
        needs_vectors = bool(args.query) or not (args.status or args.terms
                                                 or args.prefix)
        if needs_vectors:
            engine.enable_interactive()

    if args.status:
        fn = {"corpus": engine.status, "vector": engine.vector_index_status,
              "fts": engine.fts_status}[args.status]
        _print_rows(fn(), args.as_json, stdout)
        return 0
    if args.terms or args.prefix:
        _print_rows(engine.tool_rows("fts_match", {
            "terms": args.terms or None, "prefix": args.prefix,
            "limit": args.limit}), args.as_json, stdout)
        return 0
    if args.query:
        _print_rows(engine.tool_rows("hybrid_search", {
            "query": args.query, "n_results": args.limit,
            "scoring_mode": args.mode}), args.as_json, stdout)
        return 0

    # REPL: hybrid per line; ':match t1 t2' for compiled FTS; ':quit' ends.
    stdout.write("query> ")
    stdout.flush()
    for line in stdin:
        line = line.strip()
        if line in {":quit", ":q", ""}:
            if line:
                break
        elif line.startswith(":status"):
            parts = line.split()
            which = parts[1] if len(parts) > 1 else "corpus"
            fn = {"corpus": engine.status,
                  "vector": engine.vector_index_status,
                  "fts": engine.fts_status}.get(which)
            if fn is not None:
                _print_rows(fn(), args.as_json, stdout)
        elif line.startswith(":match"):
            terms = line.split()[1:]
            if terms:
                _print_rows(engine.tool_rows("fts_match", {
                    "terms": terms, "limit": args.limit}),
                    args.as_json, stdout)
        else:
            _print_rows(engine.tool_rows("hybrid_search", {
                "query": line, "n_results": args.limit,
                "scoring_mode": args.mode}), args.as_json, stdout)
        stdout.write("query> ")
        stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(run())
