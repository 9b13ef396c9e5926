"""HTTP transport for the MCP JSON-RPC surface (SURVEY §2.6).

The reference serves its four MCP tools as JSON-RPC 2.0 over HTTP
(features/mcp/handler.go:568-597: one request -> one JSON response,
``Content-Type: application/json`` on every reply, status 200 even for
JSON-RPC-level errors, an empty 200 for notifications, and a Parse
error response for undecodable bodies).  This is the same thin layer
over :class:`qurio_spark.api.Engine` — stdlib ``socketserver`` only,
all tool semantics stay in ``api.py``.

Serving is still a test/demo surface, not a deployment story
(BASELINE.json scopes online serving out): the server binds loopback
by default and is driven by the e2e test.

Each connection carries one request (HTTP/1.0).  The handler parses it
itself, as the transport needs only the method and ``Content-Length``:
``http.server`` spends most of a resident request's transport time
parsing headers with ``email.feedparser`` and formatting a ``Date``.
It reads the request line and each header line with a bounded
``readline`` and keeps the stdlib parser's limits:

* a request line over 65,536 bytes: 414;
* a header line over 65,536 bytes, or 100 header lines or more: 431;
* a version word that is not ``HTTP/`` and two dot-separated runs of
  at most ten digits: 400; a major version of 2 or more: 505;
* a request line of other than three words (or of two, HTTP/0.9, with
  a method other than GET): 400;
* a method other than POST: 501;
* a ``Content-Length`` (its name in any case) that is not a
  non-negative integer: a bare 400, as Go's net/http answers before
  any handler runs.

Every reply carries the status line, ``Content-Type: application/json``
and ``Content-Length`` only (no ``Server`` or ``Date`` header) and
leaves in one ``sendall``; an error status has an empty body.  A
blank request line gets no reply, as from ``http.server``.  A
connection that times out or that the peer drops mid-request ends
quietly, with no reply and no traceback.

Where a connection runs follows the engine's tier
(``Engine.on_driver()``):

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
serving thread no longer than that.
"""

from __future__ import annotations

import json
import socketserver
import threading
from http import HTTPStatus

from qurio_spark.api import ERR_PARSE, Engine, _err

#: Seconds a connection may go without sending (or taking) a byte.
HANDLER_TIMEOUT_S = 2.0

_MAX_LINE = 65536  # http.server / http.client: _MAXLINE
_MAX_HEADERS = 100  # http.client: _MAXHEADERS, counting the blank line
_END = (b"\r\n", b"\n", b"")


def _version_status(version: str) -> int:
    """``http.server``'s check of a request line's version word: 400
    unless it is ``HTTP/`` and two dot-separated runs of at most ten
    digits, 505 for a major version of 2 or more, else 0."""
    name, _, number = version.partition("/")
    parts = number.split(".")
    if name != "HTTP" or len(parts) != 2 or not all(
        p.isascii() and p.isdigit() and len(p) <= 10 for p in parts
    ):
        return 400
    return 505 if int(parts[0]) >= 2 else 0


def _reply(status: int, body: bytes = b"") -> bytes:
    """A whole reply: status line, the two headers, ``body``."""
    return (
        b"HTTP/1.0 %d %s\r\nContent-Type: application/json\r\nContent-Length: %d\r\n\r\n%s"
        % (status, HTTPStatus(status).phrase.encode(), len(body), body)
    )


class McpHttpServer:
    """Blocking-free wrapper: ``start()`` serves on a daemon thread,
    ``close()`` shuts the socket down.  ``port=0`` binds an ephemeral
    port (read it back via ``.port`` — the e2e test's shape)."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0):
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            timeout = HANDLER_TIMEOUT_S

            def handle(self) -> None:
                try:
                    status, raw = self._read()
                except OSError:
                    return  # timed out, or the peer went away mid-request
                if status is None:
                    return  # connected and closed without a request
                try:
                    self.connection.sendall(self._answer(raw) if status == 200 else _reply(status))
                except OSError:
                    pass  # the peer went away before the reply

            def _read(self) -> tuple[int | None, bytes]:
                """The request's body, or the error status that answers
                it (status None: no request came)."""
                line = self.rfile.readline(_MAX_LINE + 1)
                if not line:
                    return None, b""
                if len(line) > _MAX_LINE:
                    return 414, b""
                words = str(line, "iso-8859-1").split()  # as http.server splits it
                if not words:
                    return None, b""  # a blank request line gets no reply
                if len(words) >= 3 and (status := _version_status(words[-1])):
                    return status, b""
                if not 2 <= len(words) <= 3 or (len(words) == 2 and words[0] != "GET"):
                    return 400, b""  # a two-word line is HTTP/0.9, GET only
                length = None
                for _ in range(_MAX_HEADERS):
                    header = self.rfile.readline(_MAX_LINE + 1)
                    if len(header) > _MAX_LINE:
                        return 431, b""
                    if header in _END:
                        break
                    name, _, value = header.partition(b":")
                    if length is None and name.strip().lower() == b"content-length":
                        length = value.strip()
                else:
                    return 431, b""
                if words[0] != "POST":
                    return 501, b""
                try:
                    n = int(length or 0)
                except ValueError:
                    n = -1
                if n < 0:
                    return 400, b""
                return 200, self.rfile.read(n)

            def _answer(self, raw: bytes) -> bytes:
                if not raw.strip():
                    # EOF/empty body: the reference replies nothing but
                    # headers (handler.go: io.EOF -> bare return)
                    return _reply(200)
                try:
                    req = json.loads(raw)
                except json.JSONDecodeError:
                    resp = _err(None, ERR_PARSE, "Parse error")
                else:
                    resp = outer.engine.process_request(req)
                return _reply(200, b"" if resp is None else json.dumps(resp).encode())

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True
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
