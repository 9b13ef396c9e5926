"""HTTP transport for the MCP JSON-RPC surface (SURVEY §2.6).

The reference serves its four MCP tools as JSON-RPC 2.0 over HTTP
(features/mcp/handler.go:568-597: one request -> one JSON response,
``Content-Type: application/json`` on every reply, status 200 even for
JSON-RPC-level errors, an empty 200 for notifications, and a Parse
error response for undecodable bodies).  This is the same thin layer
over :class:`qurio_spark.api.Engine` — stdlib ``http.server`` only,
all tool semantics stay in ``api.py``.

Serving is still a test/demo surface, not a deployment story
(BASELINE.json scopes online serving out): the server binds loopback
by default and is driven by the e2e test.

Each connection carries one request (HTTP/1.0).  Where it runs follows
the engine's tier (``Engine.on_driver()``):

* resident: on the serving thread itself.  A resident search holds the
  GIL from start to end, so a thread per connection would add no
  parallelism, only thread start-up and GIL hand-offs between the
  handler threads.  The other tools (``qurio_list_sources``,
  ``qurio_list_pages``) then run their Spark jobs there too.
* Spark, or before the snapshot is prepared: on a thread of its own.
  A Spark-tier request spends most of its time waiting on the JVM with
  the GIL released, and the Engine's Spark session is shared across
  handler threads, which Spark supports (one driver, many scheduler
  threads).

The handler's socket times out after ``HANDLER_TIMEOUT_S`` seconds
without progress, so a client that connects and stalls holds the
serving thread no longer than that.  Each reply — status line, headers
and body — leaves in one ``sendall``.
"""

from __future__ import annotations

import io
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from qurio_spark.api import ERR_PARSE, Engine, _err

#: Seconds a connection may go without sending (or taking) a byte.
HANDLER_TIMEOUT_S = 2.0


class McpHttpServer:
    """Blocking-free wrapper: ``start()`` serves on a daemon thread,
    ``close()`` shuts the socket down.  ``port=0`` binds an ephemeral
    port (read it back via ``.port`` — the e2e test's shape)."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0):
        outer = self

        class Handler(BaseHTTPRequestHandler):
            timeout = HANDLER_TIMEOUT_S

            def setup(self) -> None:
                super().setup()
                self.wfile = io.BytesIO()  # the reply, sent whole by finish()

            def finish(self) -> None:
                try:
                    reply = self.wfile.getvalue()
                    if reply:
                        self.connection.sendall(reply)
                finally:
                    super().finish()

            def do_POST(self) -> None:  # noqa: N802 (http.server API)
                try:
                    length = int(self.headers.get("Content-Length") or 0)
                except ValueError:
                    length = -1
                if length < 0:
                    # unreadable body length: a bare 400, as Go's
                    # net/http answers before any handler runs
                    self.send_error(400, "bad Content-Length")
                    return
                raw = self.rfile.read(length)
                if not raw.strip():
                    # EOF/empty body: the reference replies nothing but
                    # headers (handler.go: io.EOF -> bare return)
                    self._reply(None)
                    return
                try:
                    req = json.loads(raw)
                except json.JSONDecodeError:
                    self._reply(_err(None, ERR_PARSE, "Parse error"))
                    return
                self._reply(outer.engine.process_request(req))

            def _reply(self, resp: dict | None) -> None:
                body = b"" if resp is None else json.dumps(resp).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, fmt: str, *args) -> None:
                pass  # keep test output quiet; transport has no state to log

        class Server(ThreadingHTTPServer):
            # connections wait here while the serving thread runs one
            request_queue_size = 64

            def process_request(self, request, client_address) -> None:
                if outer.engine.on_driver():
                    self.process_request_thread(request, client_address)
                else:
                    super().process_request(request, client_address)

        self.engine = engine
        self._httpd = Server((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}/"

    def start(self) -> "McpHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "McpHttpServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.close()
