"""Workload ``mcp_search``: ingest a corpus, then serve agents calling
the MCP tools over HTTP.

Set-up is the write path (``_ingest``): the seeded page corpus
(``gen.pages``) is chunked, embedded and written.  The traced run also
edits 10% of pages and applies them as an incremental refresh, which
must hash-equal a full rebuild of the edited corpus.

Serving is a closed loop: ``CLIENTS`` threads each post a JSON-RPC
``tools/call`` to ``api_http.McpHttpServer`` and wait for the reply
before sending the next.  The seeded mix is 80% ``qurio_search`` and
20% ``qurio_read_page``.  Every distinct search is checked against the
NumPy oracle and every page read against the stored chunks.
"""

from __future__ import annotations

import itertools
import json
import random
import threading
import time
import urllib.request

from perfbench import gen, oracle
from perfbench.harness import (
    Context, Result, install_layers, self_time_metrics, set_job_group, spark_layer_metrics,
)
from perfbench.stats import median, percentile
from perfbench.trace import Tracer

#: 2,000 documents make about 2,400 chunks: a search then takes about
#: a second at 2 clients on 4 cores, so a 10 s phase holds some twenty.
N_DOCS = 2000
CLIENTS = 2
#: The first requests of each client pay plan compilation and JIT
#: warm-up.
WARMUP_REQUESTS = 8
#: Page reads timed after each search phase, by one client.
READ_SAMPLES = 6
#: The traced run's phases (traced?, share of --seconds): untraced
#: phases before and after the traced one, so that latency still falling
#: after warm-up does not read as (negative) tracing overhead.
TRACE_PHASES = ((False, 0.25), (True, 0.5), (False, 0.25))
EDIT_SHARE = 0.1
CHUNK_SAMPLE = 20
SEARCH_SHARE = 0.8
BLOCK = 20
ALPHAS = (0.0, 0.3, 0.7, 1.0)
LIMITS = (5, 10, 20)


def make_requests(seed: int, urls: list[str], n: int) -> list[dict]:
    """``n`` seeded tool calls: {"name": tool, "arguments": {...}}.

    The mix is exact within every block of ``BLOCK`` calls (16 searches
    and 4 page reads; of the searches 4 filter by source, 5 override
    alpha, and the limits 5/10/20 come round in turn) and only the order
    and the arguments vary with the seed.  Every fourth search filters,
    as a filtered search reads a twentieth of the corpus through another
    plan: a run holds a handful of searches, and its median would
    otherwise depend on how many of them happen to filter.  Seeds then
    differ in inputs, not in mix."""
    rng = random.Random(seed * 31 + 17)
    n_search = round(BLOCK * SEARCH_SHARE)
    out: list[dict] = []
    while len(out) < n:
        tools = ["qurio_search"] * n_search + ["qurio_read_page"] * (BLOCK - n_search)
        filtered = [i % 4 == 0 for i in range(n_search)]
        alphas = [rng.choice(ALPHAS) for _ in range(round(n_search * 0.3))]
        alphas += [None] * (n_search - len(alphas))
        limits = [LIMITS[i % len(LIMITS)] for i in range(n_search)]
        for deck in (tools, alphas, limits):
            rng.shuffle(deck)
        for tool in tools:
            if tool == "qurio_read_page":
                out.append({"name": tool, "arguments": {"url": rng.choice(urls)}})
                continue
            args: dict = {
                "query": " ".join(rng.choice(gen.VOCAB) for _ in range(rng.randint(1, 4))),
                "limit": limits.pop(),
            }
            if filtered.pop():
                args["source_id"] = f"src{rng.randrange(gen.N_SOURCES)}"
            alpha = alphas.pop()
            if alpha is not None:
                args["alpha"] = alpha
            out.append({"name": tool, "arguments": args})
    return out[:n]


def _post(url: str, body: dict) -> dict:
    req = urllib.request.Request(
        url, json.dumps(body).encode(), {"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


class Loop:
    """Closed-loop clients drawing from one shared request sequence.

    Request ``i`` of the sequence is sent with JSON-RPC id
    ``first_id + i``; a client sends no new request once ``seconds`` have
    passed or ``limit`` requests were taken."""

    def __init__(self, url: str, calls: list[dict], tracer: Tracer | None,
                 first_id: int, clients: int):
        self.url = url
        self.calls = calls
        self.tracer = tracer
        self.first_id = first_id
        self.clients = clients
        self._next = itertools.count()
        self._lock = threading.Lock()
        self.samples: list[tuple[str, float, dict, dict, int]] = []  # tool, ms, call, reply, id
        self.errors: list[BaseException] = []
        self._done = [0] * clients
        self._busy_s = [0.0] * clients  # from the start to the client's last reply

    def _take(self) -> int:
        with self._lock:
            return next(self._next)

    def _client(self, c: int, start: float, limit: int | None, seconds: float) -> None:
        try:
            while time.perf_counter() < start + seconds:
                i = self._take()
                if limit is not None and i >= limit:
                    return
                call = self.calls[i % len(self.calls)]
                rid = self.first_id + i
                body = {"jsonrpc": "2.0", "id": rid, "method": "tools/call", "params": call}
                t0 = time.perf_counter()
                if self.tracer:
                    with self.tracer.span("api_http.request", op=f"mcp_search:{rid}"):
                        resp = _post(self.url, body)
                else:
                    resp = _post(self.url, body)
                t1 = time.perf_counter()
                with self._lock:
                    self.samples.append((call["name"], (t1 - t0) * 1000.0, call, resp, rid))
                self._done[c] += 1
                self._busy_s[c] = t1 - start
        except BaseException as e:  # reported as a failed run, never hidden
            self.errors.append(e)

    def run(self, seconds: float, limit: int | None = None) -> None:
        start = time.perf_counter()
        threads = [
            threading.Thread(target=self._client, args=(c, start, limit, seconds))
            for c in range(self.clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def rate(self) -> float:
        """Replies per second: each client's replies over the time to its
        last reply, summed.  Counting to the last reply, not to the
        deadline, keeps a request cut by the deadline from reading as
        lost throughput."""
        return sum(n / t for n, t in zip(self._done, self._busy_s) if n)


def _ingest(ctx: Context, res: Result) -> str:
    """Set-up: one full build (chunk, embed, write) of the seeded corpus,
    checked against the driver-side chunker; returns the store to serve.

    The traced run goes on to the incremental refresh (``_refresh``) and
    serves the refreshed store.  The untraced run stops after the build:
    every run starts its own session, and the run budget (README.md)
    leaves no room for two more ingests per run."""
    from qurio_spark.plans.pipeline import build_chunks, write_chunks
    from qurio_spark.schemas import DOCUMENTS_RAW

    pgs = gen.pages(ctx.seed, gen.documents(ctx.seed, N_DOCS))
    raw = ctx.spark.createDataFrame([p.row() for p in pgs], DOCUMENTS_RAW)
    path = f"{ctx.work}/chunks-0"
    t0 = time.perf_counter()
    write_chunks(build_chunks(raw), path)
    build_s = time.perf_counter() - t0
    res.put("ingest_s", build_s, "s")
    res.put("ingest_docs_per_s", N_DOCS / build_s, "docs/s")
    res.report["pages"] = len(pgs)
    _check_chunks(res, path, random.Random(ctx.seed).sample(pgs, CHUNK_SAMPLE))
    if ctx.trace:
        path = _refresh(ctx, res, pgs, raw, path)
    return path


def _check_chunks(res: Result, path: str, sample: list[gen.Page]) -> None:
    """The stored chunk rows of each sampled page must equal
    ``chunk_markdown`` run on the driver, in ``chunk_index`` order."""
    from qurio_spark.operators.chunker import chunk_markdown

    store = oracle.ChunkStore.read(path)
    res.attempted += 1
    for pg in sample:
        want = [(c.content, c.type, c.language) for c in chunk_markdown(pg.content)]
        got = sorted(
            (store.chunk_index[i], store.content[i], store.type[i], store.language[i])
            for i, u in enumerate(store.url) if u == pg.url
        )
        if [g[1:] for g in got] != want or [g[0] for g in got] != list(range(len(want))):
            res.fail(f"chunks of {pg.url} differ from chunk_markdown")
            return


def _refresh(ctx: Context, res: Result, pgs: list[gen.Page], raw, base: str) -> str:
    """Edit a seeded 10% of pages, apply the edit to ``base`` as an
    incremental refresh (``split_unchanged`` -> ``build_chunks`` ->
    ``apply_incremental`` -> ``write_chunks``) and check that the result
    hash-equals a full rebuild of the edited corpus.  Returns the
    refreshed store."""
    from pyspark.sql import functions as F

    from qurio_spark.plans.pipeline import (
        apply_incremental, build_chunks, read_chunks, split_unchanged, write_chunks,
    )
    from qurio_spark.schemas import DOCUMENTS_RAW

    spark = ctx.spark
    edited, changed_urls = gen.edit_pages(ctx.seed, pgs, EDIT_SHARE)
    raw_edited = spark.createDataFrame([p.row() for p in edited], DOCUMENTS_RAW)
    rebuilt = f"{ctx.work}/chunks-rebuilt"
    write_chunks(build_chunks(raw_edited), rebuilt)

    t0 = time.perf_counter()
    prior = raw.select("url", F.sha2("content", 256).alias("body_hash"))
    changed, _ = split_unchanged(raw_edited, prior)
    refreshed = f"{ctx.work}/chunks-refreshed"
    write_chunks(
        apply_incremental(read_chunks(spark, base), build_chunks(changed), changed.select("url")),
        refreshed,
    )
    res.put("reingest_s", time.perf_counter() - t0, "s")
    res.report["changed_pages"] = len(changed_urls)

    res.attempted += 1
    if _store_digest(refreshed) != _store_digest(rebuilt):
        res.fail("incremental refresh differs from a full rebuild of the edited corpus")
    _check_chunks(res, refreshed, [p for p in edited if p.url in changed_urls][:CHUNK_SAMPLE])
    _write_path_layers(ctx, res, raw, raw_edited, prior, base)
    return refreshed


def _store_digest(path: str) -> str:
    """Order-free digest of a chunk store's rows."""
    import hashlib

    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = sorted(t.column_names)
    rows = sorted(
        repr(tuple(r[c] for c in cols)) for r in t.select(cols).to_pylist()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _write_path_layers(ctx, res, raw, raw_edited, prior, base: str) -> None:
    """Stage prefixes of the write path run to the noop sink: the
    differences between prefixes are the stage times."""
    from qurio_spark.operators.chunker import chunk_documents
    from qurio_spark.plans.pipeline import (
        apply_incremental, build_chunks, read_chunks, split_unchanged, write_chunks,
    )

    spark = ctx.spark
    n_chunks = read_chunks(spark, base).count()

    def timed(df_or_fn) -> float:
        t0 = time.perf_counter()
        if callable(df_or_fn):
            df_or_fn()
        else:
            df_or_fn.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    keep = ["source_id", "url", "title", "path", "metadata"]
    chunk_s = timed(chunk_documents(raw, keep_cols=keep))
    build_s = timed(build_chunks(raw))
    write_s = timed(lambda: write_chunks(build_chunks(raw), f"{ctx.work}/chunks-traced"))
    changed, _ = split_unchanged(raw_edited, prior)
    split_s = timed(changed)
    new_s = timed(build_chunks(changed))
    apply_s = timed(apply_incremental(
        read_chunks(spark, base), build_chunks(changed), changed.select("url")
    ))
    res.put("chunker.chunk_s", chunk_s, "s")
    res.put("chunker.chunks_per_doc", n_chunks / N_DOCS, "count")
    res.put("embedder.udf_s", max(0.0, build_s - chunk_s), "s")
    res.put("pipeline.write_s", max(0.0, write_s - build_s), "s")
    res.put("pipeline.split_unchanged_s", split_s, "s")
    res.put("pipeline.apply_incremental_s", max(0.0, apply_s - new_s), "s")
    res.put("pipeline.changed_ratio", changed.count() / raw.count(), "ratio")


def run(ctx: Context, res: Result) -> None:
    from qurio_spark.api import Engine
    from qurio_spark.api_http import McpHttpServer
    from qurio_spark.plans.pipeline import read_chunks

    spark = ctx.spark
    path = _ingest(ctx, res)
    store = oracle.ChunkStore.read(path)
    urls = sorted(set(store.url))
    calls = make_requests(ctx.seed, urls, 4096)

    t0 = time.perf_counter()
    engine = Engine(chunks=read_chunks(spark, path))
    tracer: Tracer | None = None
    base = engine.process_request

    def process(req: dict):
        if tracer is None:
            return base(req)
        op = f"mcp_search:{req['id']}"
        set_job_group(spark, op)
        tracer.set_op(op)
        with tracer.span("api.process_request"):
            return base(req)

    engine.process_request = process
    # Searches and page reads run in separate loops: a read takes a tenth
    # of a search, so in a mixed loop a search's latency depends on
    # whether the other client is searching or reading, and the few
    # searches a run holds would vary with that pattern.
    searches = [c for c in calls if c["name"] == "qurio_search"]
    reads = [c for c in calls if c["name"] == "qurio_read_page"]
    loops: list[Loop] = []

    def serve(seq: list[dict], seconds: float, limit: int | None, clients: int) -> Loop:
        loop = Loop(srv.url, seq, tracer, 100_000 * len(loops), clients)
        loop.run(seconds, limit)
        if loop.errors:
            raise loop.errors[0]
        loops.append(loop)
        return loop

    # A filter changes the plan's shape, so warm-up covers both shapes.
    warm = [c for c in searches if "source_id" in c["arguments"]][: WARMUP_REQUESTS // 2]
    warm += [c for c in searches if "source_id" not in c["arguments"]][: WARMUP_REQUESTS // 2]
    with McpHttpServer(engine) as srv:
        serve(warm, 600.0, WARMUP_REQUESTS, CLIENTS)
        serve(reads, 600.0, 1, 1)
        serve_setup_s = time.perf_counter() - t0
        res.put("setup_s", ctx.session_s + res.metrics["ingest_s"].value + serve_setup_s, "s")
        res.report["serve_setup_s"] = serve_setup_s
        phases = []
        for traced, share in TRACE_PHASES if ctx.trace else ((False, 1.0),):
            if traced:
                tracer = ctx.tracer
                install_layers(tracer)
            elif tracer:
                tracer.uninstall()
                tracer = None
            done = sum(len(lp.samples) for lp in loops)
            s = serve(searches[done:] + searches[:done], ctx.seconds * share, None, CLIENTS)
            r = serve(reads[done:] + reads[:done], 600.0, READ_SAMPLES, 1)
            phases.append((traced, s, r))

    checked: dict[str, str | None] = {}
    pages_ok: dict[str, bool] = {}
    for loop in loops:
        for name, _, call, resp, _ in loop.samples:
            res.attempted += 1
            if "error" in resp:
                res.fail(f"{name}: {resp['error']}")
                continue
            text = resp["result"]["content"][0]["text"]
            args = call["arguments"]
            if name == "qurio_search":
                key = json.dumps(args, sort_keys=True)
                if key not in checked:
                    checked[key] = oracle.check_search(store, args, text)
                if checked[key]:
                    res.fail(f"search {key}: {checked[key]}")
            else:
                url = args["url"]
                if url not in pages_ok:
                    pages_ok[url] = text == store.page_text(url)
                if not pages_ok[url]:
                    res.fail(f"read_page {url}: differs from stored chunks")

    _, s_loop, r_loop = phases[0]
    search = [ms for _, ms, *_ in s_loop.samples]
    read_ms = [ms for _, ms, *_ in r_loop.samples]
    res.put("search_p50_ms", median(search), "ms")
    res.put("search_rps", s_loop.rate(), "req/s")
    res.put("op_p50_ms", median(search), "ms")
    res.put("ops_per_s", s_loop.rate(), "1/s")
    res.put("read_page_p50_ms", median(read_ms), "ms")
    try:
        res.put("search_p90_ms", percentile(search, 90), "ms")
    except ValueError as e:
        res.report["search_p90_ms"] = f"not reported: {e}"
    res.report.update(
        search_ms=[round(ms) for ms in search],
        search_samples=len(search),
        read_page_samples=len(read_ms),
        distinct_searches_checked=len(checked),
        pages_checked=len(pages_ok),
    )
    if ctx.trace:
        _layer_metrics(ctx, res, phases)


def _layer_metrics(ctx: Context, res: Result, phases) -> None:
    tracer = ctx.tracer
    traced = next(s for is_traced, s, _ in phases if is_traced)
    p_plain = median([ms for is_traced, s, _ in phases if not is_traced for _, ms, *_ in s.samples])
    p_traced = median([ms for _, ms, *_ in traced.samples])
    res.put("trace.overhead_pct", (p_traced / p_plain - 1.0) * 100.0, "%")

    searched = {f"mcp_search:{rid}" for *_, rid in traced.samples}
    proc = {s.op: s.ms for s in tracer.by_name("api.process_request")}
    req = {s.op: s.ms for s in tracer.by_name("api_http.request")}
    res.put("api_http.transport_ms", median([req[o] - proc[o] for o in searched]), "ms")
    res.put("api.process_request_ms", median([proc[o] for o in searched]), "ms")
    for span, metric in (
        ("api.format", "api.format_ms"),
        ("embedder.embed_query", "embedder.embed_query_ms"),
        ("hybrid.build", "hybrid.build_ms"),
        ("hybrid.collect", "hybrid.collect_ms"),
        ("bm25.build_index", "bm25.build_index_ms"),
        ("bm25.score_query", "bm25.score_query_ms"),
        ("checkpointing.checkpoint", "checkpointing.checkpoint_ms"),
        ("rerank.apply", "rerank.apply_ms"),
        ("pages.read_page", "pages.read_page_ms"),
    ):
        spans = tracer.by_name(span)
        if spans:
            res.put(metric, median([s.ms for s in spans]), "ms")
    res.put("engine.build_ms_per_op", res.metrics["hybrid.build_ms"].value, "ms")
    self_time_metrics(res, tracer, len(req))
    spark_layer_metrics(res, ctx.spark, "mcp_search:", {o: ms for o, ms in req.items() if o in searched})
