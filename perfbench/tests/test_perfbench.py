"""Tests of the benchmark's own parts: the search oracle, the request
generator, the percentile rule, the status-store reader, the tracer and
the process clean-up.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, metrics, oracle, sparkstore
from perfbench.mcp_search import make_requests
from perfbench.stats import percentile
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- search oracle vs the engine -------------------------------------------


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """The sf0.001-sized corpus (500 documents) ingested as chunks."""
    from qurio_spark.api import Engine
    from qurio_spark.plans.pipeline import ingest
    from qurio_spark.schemas import DOCUMENTS_RAW

    pgs = gen.pages(7, gen.documents(7, 500))
    path = str(tmp_path_factory.mktemp("perfbench") / "chunks")
    chunks = ingest(spark, spark.createDataFrame([p.row() for p in pgs], DOCUMENTS_RAW), path)
    return Engine(chunks=chunks), oracle.ChunkStore.read(path)


@pytest.mark.parametrize(
    "args",
    [
        {"query": "hash join spark"},
        {"query": "window merge", "source_id": "src3", "limit": 20},
        {"query": "vector stream scan", "alpha": 0.0, "limit": 5},
        {"query": "customer order", "alpha": 1.0},
        {"query": "key", "alpha": 0.3, "source_id": "src3"},
    ],
    ids=["unfiltered", "filtered", "alpha0", "alpha1", "filtered_alpha"],
)
def test_search_oracle_matches_engine(corpus, args):
    engine, store = corpus
    rows = engine.search(
        args["query"], alpha=args.get("alpha"), limit=args.get("limit"),
        source_id=args.get("source_id"),
    )
    want = store.search(args["query"], args.get("alpha"), args.get("limit"), args.get("source_id"))
    assert rows, "the query must hit the corpus"
    assert [(r["url"], r["chunk_index"], r["content"]) for r in rows] == [
        (h.url, h.chunk_index, h.content) for h in want
    ]
    assert [r["score"] for r in rows] == pytest.approx([h.score for h in want], abs=1e-9)
    # the tool text round-trips through the parser the benchmark checks with
    assert oracle.check_search(store, args, engine.tool_search_text(rows)) is None


def test_search_check_catches_wrong_order(corpus):
    engine, store = corpus
    args = {"query": "hash join spark", "limit": 5}
    rows = engine.search(args["query"], limit=5)
    assert oracle.check_search(store, args, engine.tool_search_text(rows[::-1])) is not None


def test_read_page_oracle_matches_engine(corpus):
    from qurio_spark.operators.pages import read_page

    engine, store = corpus
    for url in sorted(set(store.url))[:5]:
        assert read_page(engine.chunks, url) == store.page_text(url)


# -- generators ------------------------------------------------------------


def test_request_generator_is_deterministic():
    urls = [f"https://docs.example.com/p{i}" for i in range(50)]
    a = make_requests(3, urls, 500)
    assert a == make_requests(3, urls, 500)
    assert a != make_requests(4, urls, 500)
    for b in range(0, 500, 20):  # the mix is exact in every block of 20
        block = a[b : b + 20]
        searches = [c["arguments"] for c in block if c["name"] == "qurio_search"]
        assert len(searches) == 16
        assert sum("source_id" in s for s in searches) == 4
        assert sum("alpha" in s for s in searches) == 5
    searches = [c["arguments"] for c in a if c["name"] == "qurio_search"]
    assert {s["limit"] for s in searches} == {5, 10, 20}
    assert {s["alpha"] for s in searches if "alpha" in s} == {0.0, 0.3, 0.7, 1.0}
    assert all(1 <= len(s["query"].split()) <= 4 for s in searches)


def test_corpus_generator_is_deterministic():
    d = gen.documents(5, 300)
    assert d == gen.documents(5, 300)
    assert gen.pages(5, d) == gen.pages(5, d)
    assert gen.edit_pages(5, gen.pages(5, d), 0.1) == gen.edit_pages(5, gen.pages(5, d), 0.1)


# -- percentile rule -------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)
    assert percentile(list(range(20)), 50) == 9
    with pytest.raises(ValueError):
        percentile(list(range(19)), 50)


# -- status-store reader ---------------------------------------------------


class _Opt:
    def __init__(self, v=None):
        self.v = v

    def isDefined(self):  # noqa: N802 (scala.Option API)
        return self.v is not None

    def get(self):
        return self.v


class _Iter:
    def __init__(self, items):
        self.items = list(items)

    def iterator(self):
        return self

    def hasNext(self):  # noqa: N802
        return bool(self.items)

    def next(self):
        return self.items.pop(0)


class _Date:
    def __init__(self, ms):
        self.ms = ms

    def getTime(self):  # noqa: N802
        return self.ms


class _Job:
    def __init__(self, group, sub, comp, stages):
        self._g, self._s, self._c, self._st = group, sub, comp, stages

    def jobGroup(self):  # noqa: N802
        return _Opt(self._g)

    def submissionTime(self):  # noqa: N802
        return _Opt(None if self._s is None else _Date(self._s))

    def completionTime(self):  # noqa: N802
        return _Opt(None if self._c is None else _Date(self._c))

    def stageIds(self):  # noqa: N802
        return _Iter(self._st)


class _Stage:
    def __init__(self, sid):
        self.sid = sid

    def stageId(self):  # noqa: N802
        return self.sid

    def numTasks(self):  # noqa: N802
        return 4

    def executorCpuTime(self):  # noqa: N802
        return 2_000_000

    def shuffleReadBytes(self):  # noqa: N802
        return 2048

    def shuffleWriteBytes(self):  # noqa: N802
        return 1024

    def memoryBytesSpilled(self):  # noqa: N802
        return 0

    def diskBytesSpilled(self):  # noqa: N802
        return 0


class _FakeSpark:
    """Just enough of a session for ``sparkstore.collect``."""

    def __init__(self, jobs, stages):
        store = self
        self.stage_args = None
        self.jobs, self.stages = jobs, stages

        class _Sc:
            def statusStore(self):  # noqa: N802
                return store

        class _Jsc:
            def sc(self):
                return _Sc()

        class _Gateway:
            def new_array(self, cls, n):
                return []

        class _Jvm:
            double = float

        class _Context:
            _jsc = _Jsc()
            _gateway = _Gateway()
            _jvm = _Jvm()

        self.sparkContext = _Context()

    def jobsList(self, statuses):  # noqa: N802
        return _Iter(self.jobs)

    def stageList(self, *args):  # noqa: N802
        self.stage_args = args
        return _Iter(self.stages)


def test_status_store_reader_guards_undefined_times():
    fake = _FakeSpark(
        jobs=[
            _Job("w:op:1", 1000, 1500, [0]),
            _Job("w:op:1", 1400, 1700, [1]),
            _Job("w:op:1", None, None, [2]),  # listed before it was submitted
            _Job("w:op:2", 2000, None, []),  # still running
            _Job("other", 0, 10, [3]),
            _Job(None, 0, 10, []),
        ],
        stages=[_Stage(0), _Stage(1), _Stage(2), _Stage(3)],
    )
    ops = sparkstore.collect(fake, "w:")
    assert len(fake.stage_args) == 5
    assert set(ops) == {"w:op:1", "w:op:2"}
    a = ops["w:op:1"]
    assert (a.jobs, a.stages, a.tasks) == (3, 3, 12)
    assert a.job_ms == 700.0  # union of [1000,1500] and [1400,1700]
    assert a.executor_cpu_ms == pytest.approx(6.0)
    assert a.shuffle_read_kb == pytest.approx(6.0)
    assert (ops["w:op:2"].jobs, ops["w:op:2"].job_ms) == (1, 0.0)


def test_union_ms():
    assert sparkstore.union_ms([]) == 0.0
    assert sparkstore.union_ms([(0, 10), (5, 20), (30, 35)]) == 25.0


# -- tracer ----------------------------------------------------------------


def test_self_time_subtracts_children():
    t = Tracer()
    outer = t.begin("a.outer", op="x")
    inner = t.begin("b.inner")
    inner.start, inner.end = outer.start + 0.1, outer.start + 0.3
    t.end(inner)
    inner.end = outer.start + 0.3
    t.end(outer)
    outer.end = outer.start + 1.0
    assert inner.parent == outer.id and inner.op == "x"
    self_ms = t.self_ms()
    assert self_ms["a.outer"] == pytest.approx(800.0)
    assert self_ms["b.inner"] == pytest.approx(200.0)


def test_wrap_rebinds_aliases_and_uninstall_restores():
    from qurio_spark import api
    from qurio_spark.operators import rerank

    orig = rerank.apply_rerank
    assert api.apply_rerank is orig
    t = Tracer()
    t.wrap(rerank, "apply_rerank", "rerank.apply")
    try:
        assert api.apply_rerank is rerank.apply_rerank is not orig
        assert api.apply_rerank([], "q", rerank.IdentityReranker()) == []
        assert [s.name for s in t.spans] == ["rerank.apply"]
    finally:
        t.uninstall()
    assert api.apply_rerank is orig and rerank.apply_rerank is orig


# -- process clean-up ------------------------------------------------------


def test_stop_descendants_reaps_orphans():
    """A grandchild whose parent exits (as the Python worker daemon does
    when the JVM exits) is adopted, then killed and reaped."""
    import subprocess
    import sys

    code = (
        "import os, subprocess\n"
        "from perfbench import harness\n"
        "harness.adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'], capture_output=True, text=True)\n"
        "orphan = int(out.stdout)\n"
        "assert orphan in [p for p, _ in harness._descendants(os.getpid())]\n"
        "harness.stop_descendants(grace_s=0.2)\n"
        "assert harness._descendants(os.getpid()) == []\n"
        "print(orphan)\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert not os.path.exists(f"/proc/{int(p.stdout)}")


# -- BENCHMARK.json --------------------------------------------------------


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    from perfbench.run import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
