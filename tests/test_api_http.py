"""MCP over a LIVE HTTP socket (SURVEY §2.6 transport parity).

Mirrors the reference e2e contract (apps/e2e/tests/search.spec.ts:1-35:
POST JSON-RPC to the mcp endpoint, expect 200 + result.content[0].text;
invalid alpha -> JSON-RPC error object, not an HTTP failure) and the
transport behavior of features/mcp/handler.go:568-597 (Content-Type
application/json on every reply, status 200 even for JSON-RPC errors,
empty 200 for notifications, Parse error for undecodable bodies) —
all four tools exercised end-to-end through the socket, and where the
server runs each connection: on its serving thread while the snapshot
is resident, on a thread of its own otherwise.  The request parser's
limits, and clients that stall or leave mid-request, are pinned too."""

import http.client
import json
import socket
import threading
import time
import urllib.request

import pytest
from pyspark.sql import functions as F

from qurio_spark.api import Engine
from qurio_spark.api_http import HANDLER_TIMEOUT_S, McpHttpServer
from qurio_spark.plans.pipeline import ingest
from qurio_spark.schemas import DOCUMENTS_RAW

from tests.test_pipeline import DOCS


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    docs_raw = spark.createDataFrame(DOCS, DOCUMENTS_RAW)
    path = str(tmp_path_factory.mktemp("http_chunks") / "chunks")
    chunks = ingest(
        spark, docs_raw, path, source_names={"s1": "Docs", "s2": "Engine"}
    )
    pages = spark.createDataFrame(
        [("s1", "https://d.com/health", "done", 0),
         ("s1", "https://d.com/install", "done", 0)],
        "source_id string, url string, status string, depth int",
    )
    with McpHttpServer(Engine(chunks=chunks, pages=pages)) as srv:
        yield srv


def post(srv, payload, raw: bytes | None = None):
    req = urllib.request.Request(
        srv.url,
        data=raw if raw is not None else json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        body = resp.read()
        return resp.status, resp.headers.get("Content-Type"), (
            json.loads(body) if body else None
        )


def rpc(srv, rid, method, params=None):
    payload = {"jsonrpc": "2.0", "id": rid, "method": method}
    if params is not None:
        payload["params"] = params
    return post(srv, payload)


def tool(srv, rid, name, arguments=None):
    return rpc(srv, rid, "tools/call",
               {"name": name, "arguments": arguments or {}})


class TestMcpHttp:
    def test_initialize_and_tools_list(self, server):
        status, ctype, body = rpc(server, 1, "initialize")
        assert status == 200 and ctype == "application/json"
        assert body["result"]["serverInfo"]["name"] == "qurio-spark"
        _, _, tools = rpc(server, 2, "tools/list")
        assert {t["name"] for t in tools["result"]["tools"]} == {
            "qurio_search", "qurio_list_sources",
            "qurio_list_pages", "qurio_read_page",
        }

    def test_notification_empty_200(self, server):
        status, ctype, body = rpc(server, None, "notifications/initialized")
        assert status == 200 and body is None

    def test_search_with_alpha_and_limit(self, server):
        # search.spec.ts:4-34: overrides accepted, result.content[0]
        # is text, no error member
        status, _, body = tool(
            server, 3, "qurio_search",
            {"query": "configure healthcheck", "alpha": 0.1, "limit": 5},
        )
        assert status == 200 and "error" not in body
        content = body["result"]["content"][0]
        assert content["type"] == "text"
        assert "Result 1 (Score:" in content["text"]

    def test_invalid_alpha_is_jsonrpc_error_not_http_error(self, server):
        # search.spec.ts:36+: out-of-range alpha -> error object, HTTP 200
        status, _, body = tool(
            server, 4, "qurio_search", {"query": "x", "alpha": 1.5}
        )
        assert status == 200
        assert body["error"]["code"] == -32602

    def test_list_sources_and_pages(self, server):
        _, _, body = tool(server, 5, "qurio_list_sources")
        assert "No sources configured." in body["result"]["content"][0]["text"]
        _, _, pages = tool(server, 6, "qurio_list_pages", {"source_id": "s1"})
        text = pages["result"]["content"][0]["text"]
        assert "https://d.com/health" in text and "[done]" in text

    def test_read_page_roundtrip(self, server):
        _, _, body = tool(
            server, 7, "qurio_read_page", {"url": "https://d.com/health"}
        )
        text = body["result"]["content"][0]["text"]
        assert "healthcheck" in text.lower()

    def test_parse_error(self, server):
        status, ctype, body = post(server, None, raw=b"{not json")
        assert status == 200 and ctype == "application/json"
        assert body["error"]["code"] == -32700

    @pytest.mark.parametrize("length", ["abc", "-5"])
    def test_bad_content_length_is_400(self, server, length):
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
        try:
            conn.putrequest("POST", "/")
            conn.putheader("Content-Length", length)
            conn.endheaders()
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        assert resp.status == 400
        assert b"jsonrpc" not in body

    def test_unknown_tool_and_method(self, server):
        _, _, body = tool(server, 8, "nope_tool")
        assert body["error"]["code"] == -32601
        _, _, body2 = rpc(server, 9, "bogus/method")
        assert body2["error"]["code"] == -32601


SEARCH = {"query": "configure healthcheck", "limit": 3}


class _BarrierEngine:
    """A Spark-tier stand-in: each request waits until a second one
    arrives, which it can only do on a thread of its own."""

    def __init__(self):
        self.barrier = threading.Barrier(2, timeout=10)

    def on_driver(self) -> bool:
        return False

    def process_request(self, req: dict) -> dict:
        self.barrier.wait()
        return {"jsonrpc": "2.0", "id": req["id"], "result": {}}


class TestConnectionThreads:
    def _resident(self, srv):
        status, _, body = tool(srv, 20, "qurio_search", SEARCH)
        assert status == 200 and "error" not in body
        assert srv.engine.on_driver()

    def test_resident_search_runs_on_serving_thread(self, server, monkeypatch):
        self._resident(server)
        seen = []
        base = server.engine.process_request

        def record(req):
            seen.append(threading.current_thread())
            return base(req)

        monkeypatch.setattr(server.engine, "process_request", record)
        status, _, body = tool(server, 21, "qurio_search", SEARCH)
        assert status == 200 and "Result 1 (Score:" in body["result"]["content"][0]["text"]
        assert seen == [server._thread]

    def test_spark_tier_requests_run_concurrently(self):
        replies = []
        with McpHttpServer(_BarrierEngine()) as srv:
            clients = [
                threading.Thread(target=lambda i=i: replies.append(rpc(srv, i, "tools/list")))
                for i in range(2)
            ]
            for c in clients:
                c.start()
            for c in clients:
                c.join(timeout=30)
        assert sorted(body["id"] for _, _, body in replies) == [0, 1]
        assert all(status == 200 and body["result"] == {} for status, _, body in replies)

    def test_stalled_connection_delays_resident_request_at_most_the_timeout(self, server):
        self._resident(server)
        with socket.create_connection(("127.0.0.1", server.port)) as idle:
            time.sleep(0.2)  # accepted first: the serving thread now waits on it
            t0 = time.perf_counter()
            status, _, body = tool(server, 22, "qurio_search", SEARCH)
            waited = time.perf_counter() - t0
            idle.settimeout(5)
            assert idle.recv(1) == b""  # the server gave up on it
        assert status == 200 and "error" not in body
        assert waited < HANDLER_TIMEOUT_S + 1.0

    def test_silent_and_truncated_clients_end_quietly(self, server, capfd):
        """A client that connects and sends nothing (the handler times
        out) and one that closes mid-body end their connections with no
        traceback, and the next request is served."""
        self._resident(server)  # one connection at a time, in accept order
        with socket.create_connection(("127.0.0.1", server.port)) as idle:
            idle.settimeout(HANDLER_TIMEOUT_S + 5)
            assert idle.recv(1) == b""
        with socket.create_connection(("127.0.0.1", server.port)) as cut:
            cut.sendall(b'POST / HTTP/1.0\r\nContent-Length: 100\r\n\r\n{"jsonrpc"')
        status, _, body = tool(server, 23, "qurio_search", SEARCH)
        assert status == 200 and "error" not in body
        assert "Traceback" not in capfd.readouterr().err


def exchange(srv, data: bytes) -> bytes:
    """Send ``data`` on a fresh connection, close the sending side, and
    read the whole reply."""
    with socket.create_connection(("127.0.0.1", srv.port), timeout=30) as s:
        s.sendall(data)
        s.shutdown(socket.SHUT_WR)
        return b"".join(iter(lambda: s.recv(65536), b""))


def status_of(reply: bytes) -> int:
    return int(reply.split(b" ", 2)[1])


def error_code(reply: bytes) -> int:
    """The status of a refused request.  ``http.server`` answers a bad
    or HTTP/0.9 request line with its error page alone, no status line,
    so the code is read from the page there."""
    if reply.startswith(b"HTTP/"):
        return status_of(reply)
    return int(reply.split(b"Error code: ", 1)[1].split(b"<", 1)[0])


class TestRequestLimits:
    """The request parser's limits and request-line checks: those of
    the stdlib's ``http.server`` (65,536-byte lines, fewer than 100
    header lines, ``HTTP/major.minor`` below 2.0)."""

    def test_get_is_501(self, server):
        assert status_of(exchange(server, b"GET / HTTP/1.0\r\n\r\n")) == 501

    def test_too_many_headers_is_431(self, server):
        headers = b"".join(b"X-H%d: v\r\n" % i for i in range(101))
        reply = exchange(server, b"POST / HTTP/1.0\r\n" + headers + b"\r\n")
        assert status_of(reply) == 431

    def test_long_request_line_is_414(self, server):
        line = b"POST /" + b"a" * (65_537 - 6)
        assert status_of(exchange(server, line)) == 414

    def test_lower_case_content_length_is_honoured(self, server):
        body = json.dumps({"jsonrpc": "2.0", "id": 30, "method": "tools/list"}).encode()
        reply = exchange(
            server, b"POST / HTTP/1.0\r\ncontent-length: %d\r\n\r\n" % len(body) + body
        )
        assert status_of(reply) == 200
        assert json.loads(reply.split(b"\r\n\r\n", 1)[1])["id"] == 30

    @pytest.mark.parametrize("line, status", [
        (b"POST / HTTP/abc", 400),
        (b"POST / HTTP/1", 400),
        (b"POST / HTTP/1.1.1", 400),
        (b"POST / HTTP/1.\xb2", 400),
        (b"POST /", 400),
        (b"POST / x HTTP/1.0", 400),
        (b"POST / HTTP/2.0", 505),
    ])
    def test_malformed_request_line(self, server, line, status):
        body = b'{"jsonrpc": "2.0", "id": 31, "method": "tools/list"}'
        reply = exchange(server, line + b"\r\nContent-Length: %d\r\n\r\n" % len(body) + body)
        assert error_code(reply) == status

    def test_blank_request_line_gets_no_reply(self, server):
        assert exchange(server, b"\r\n") == b""
