"""HTTP serving surface over `api.HybridEngine` — the second reference
transport (/root/reference/mcp_server/http_server.py:43-68: Flask routes
`GET /health`, `GET /api/<c>/status/*`, `POST /api/<c>/search/hybrid`).
Stdlib `ThreadingHTTPServer` (Flask is not in this container; the route
shapes are what matter), sharing the stdio layer's tool dispatch so both
transports serve identical payloads from one long-lived engine.

Routes:
- ``GET  /health``          → ``{"ok": true}``
- ``GET  /api/status``      → status rows
- ``GET  /api/status/vector`` / ``/api/status/fts`` → per-index status
  (ref tools.py:14-37, http_server.py status routes)
- ``POST /api/search/hybrid``  body ``{"query": ..., "n_results": ...,
  "scoring_mode": ..., weight overrides}`` → result rows
- ``POST /api/match/fts``   body ``{"terms": [...], "prefix": ...,
  "field": ..., "value": ..., "limit": ...}`` → result rows
- ``POST /api/search/more_like_this`` body ``{"doc_id": ...,
  "n_results": ..., "n_terms": ...}`` → similar-document rows
- ``POST /api/search/rerank`` body ``{"query": ..., "n_results": ...,
  "scoring_mode": ...}`` → cross-encoder-reranked result rows
- ``GET  /api/document/<id>`` → the document row

TLS: pass a cert/key pair (``EngineHTTPServer(..., tls_cert=, tls_key=)``
or ``--tls-cert/--tls-key``) to serve HTTPS directly, mirroring the
reference's inlined cert pair (/root/reference/mcp_server/http_server.py:
78-80); without one the server is plaintext and TLS termination belongs in
a fronting proxy.

Security posture: request bodies are capped at ``MAX_BODY_BYTES`` (413
beyond it), but there is NO authentication — the default bind is loopback;
a non-loopback ``--host`` needs a fronting proxy that provides auth.

Concurrency: handler threads submit Spark actions on the shared session —
safe (SparkSession is thread-safe; jobs interleave on the scheduler)."""

from __future__ import annotations

import json
import ssl
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from .stdio import StdioServer

MAX_BODY_BYTES = 1 << 20  # 1 MiB — a query payload is a few hundred bytes
DRAIN_CAP_BYTES = 32 << 20  # drain (not buffer) overages up to this, then cut


def _make_handler(dispatch: StdioServer):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet by default
            pass

        def _send(self, code: int, payload: Any) -> None:
            body = json.dumps(payload, ensure_ascii=False,
                              default=str).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (stdlib naming)
            try:
                if self.path == "/health":
                    self._send(200, {"ok": True})
                elif self.path == "/api/status":
                    self._send(200, dispatch.call_tool("status", {}))
                elif self.path == "/api/status/vector":
                    self._send(200,
                               dispatch.call_tool("vector_index_status", {}))
                elif self.path == "/api/status/fts":
                    self._send(200, dispatch.call_tool("fts_status", {}))
                elif self.path.startswith("/api/document/"):
                    doc_id: Any = self.path.rsplit("/", 1)[1]
                    if doc_id.lstrip("-").isdigit():
                        doc_id = int(doc_id)
                    rows = dispatch.call_tool("get_document",
                                              {"doc_id": doc_id})
                    if rows:
                        self._send(200, rows[0])
                    else:
                        self._send(404, {"error": f"no document {doc_id!r}"})
                else:
                    self._send(404, {"error": f"unknown path {self.path}"})
            except Exception as exc:  # noqa: BLE001 — serve, don't die
                self._send(500, {"error": f"{type(exc).__name__}: {exc}"})

        def do_POST(self) -> None:  # noqa: N802
            try:
                n = int(self.headers.get("Content-Length") or 0)
                if n > MAX_BODY_BYTES:
                    # A client-controlled length must never size a server
                    # buffer. Modest overages are DRAINED in fixed chunks
                    # (discarded, O(chunk) memory) so the client receives
                    # the 413 instead of a mid-send connection reset;
                    # absurd lengths just drop the connection.
                    if n <= DRAIN_CAP_BYTES:
                        remaining = n
                        while remaining > 0:
                            chunk = self.rfile.read(min(65536, remaining))
                            if not chunk:
                                break
                            remaining -= len(chunk)
                    else:
                        self.close_connection = True
                    self._send(413, {"error": f"body exceeds {MAX_BODY_BYTES} bytes"})
                    return
                payload = json.loads(self.rfile.read(n) or b"{}")
                if self.path == "/api/search/hybrid":
                    if not payload.get("query"):
                        self._send(400, {"error": "Missing 'query'"})
                        return
                    self._send(200,
                               dispatch.call_tool("hybrid_search", payload))
                elif self.path == "/api/search/hybrid_batch":
                    if not payload.get("queries"):
                        self._send(400, {"error": "Missing 'queries'"})
                        return
                    self._send(200, dispatch.call_tool(
                        "hybrid_search_batch", payload))
                elif self.path == "/api/match/fts":
                    self._send(200, dispatch.call_tool("fts_match", payload))
                elif self.path == "/api/search/rerank":
                    if not payload.get("query"):
                        self._send(400, {"error": "Missing 'query'"})
                        return
                    self._send(200,
                               dispatch.call_tool("rerank_search", payload))
                elif self.path == "/api/search/more_like_this":
                    if "doc_id" not in payload:
                        self._send(400, {"error": "Missing 'doc_id'"})
                        return
                    self._send(200,
                               dispatch.call_tool("more_like_this", payload))
                else:
                    self._send(404, {"error": f"unknown path {self.path}"})
            except json.JSONDecodeError as exc:
                self._send(400, {"error": f"bad json: {exc}"})
            except Exception as exc:  # noqa: BLE001
                self._send(500, {"error": f"{type(exc).__name__}: {exc}"})

    return Handler


class EngineHTTPServer:
    """Long-lived HTTP front over one engine. `port=0` picks a free port
    (exposed as `.port`); `start()` serves on a daemon thread."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 tls_cert: str | None = None, tls_key: str | None = None) -> None:
        self._dispatch = StdioServer(engine)
        self.httpd = ThreadingHTTPServer((host, port),
                                         _make_handler(self._dispatch))
        self.tls = bool(tls_cert)
        if tls_cert:
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(certfile=tls_cert, keyfile=tls_key)
            self.httpd.socket = ctx.wrap_socket(self.httpd.socket,
                                                server_side=True)
        self.host, self.port = self.httpd.server_address[:2]
        self._thread: threading.Thread | None = None

    def start(self) -> "EngineHTTPServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)


def main(argv: list[str] | None = None) -> None:
    import argparse

    from ..api import HybridEngine, configure_interactive
    from ..session import get_spark
    from ..sources import load_table

    parser = argparse.ArgumentParser(description="Engine HTTP server")
    parser.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    parser.add_argument("--host", default="127.0.0.1")
    parser.add_argument("--port", type=int, default=8000)
    parser.add_argument("--tls-cert", default=None,
                        help="PEM cert chain; enables HTTPS (ref "
                             "http_server.py:78-80 serves with a cert pair)")
    parser.add_argument("--tls-key", default=None, help="PEM private key")
    args = parser.parse_args(argv)

    spark = get_spark("http-serving")
    configure_interactive(spark)
    engine = HybridEngine(spark, load_table(spark, args.sf_dir, "documents"))
    engine.enable_interactive()
    server = EngineHTTPServer(engine, args.host, args.port,
                              tls_cert=args.tls_cert, tls_key=args.tls_key)
    scheme = "https" if server.tls else "http"
    print(f"serving on {scheme}://{server.host}:{server.port}")
    server.httpd.serve_forever()


if __name__ == "__main__":
    main()
