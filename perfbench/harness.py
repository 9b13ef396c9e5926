"""Shared run-time pieces: session start, the run context, memory
sampling and the result every workload returns."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from perfbench import sparkstore
from perfbench.trace import Tracer

#: Cores the engine gets, whatever the machine has: the benchmark's
#: numbers are 4-core numbers.
CORES = 4


@dataclass
class Metric:
    value: float
    unit: str


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, Metric] = field(default_factory=dict)
    report: dict[str, object] = field(default_factory=dict)

    def fail(self, why: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(why)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = Metric(float(value), unit)


@dataclass
class Context:
    root: str  # checkout root
    work: str  # scratch directory inside the checkout, removed at exit
    seed: int
    seconds: float
    trace: bool
    spark: object = None
    session_s: float = 0.0
    tracer: Tracer | None = None


def start_session(ctx: Context):
    """Start a ``local[4]`` session whose scratch files stay in ``ctx.work``
    and warm the JVM; returns the seconds both took."""
    from qurio_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="qurio-perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(ctx.work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work} "
            f"-Dderby.system.home={ctx.work}",
            **sparkstore.RETAIN_CONF,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    ctx.spark = spark
    ctx.session_s = time.perf_counter() - t0
    return ctx.session_s


def stop_session(spark) -> None:
    """Stop Spark, if it started, and wait for its JVM to exit (it exits
    when its stdin closes).  The JVM's Python worker daemon runs in a
    process group of its own and exits a moment after the JVM:
    ``stop_descendants`` waits for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so that
    a process whose parent exits (the Python worker daemon, when the JVM
    exits) stays in this process tree, where ``stop_descendants`` finds
    it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace_s: float = 20.0) -> None:
    """Wait until every descendant process has ended and is reaped;
    kill those still running after ``grace_s`` seconds."""
    import signal

    deadline = time.monotonic() + grace_s
    while True:
        while True:  # reap ended children (orphans are adopted as children)
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = _descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for p, state in left:
                if state != "Z":
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def _proc_table() -> dict[int, list[tuple[int, str]]]:
    """{ppid: [(pid, state), ...]} for every process, from /proc."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            kids.setdefault(int(fields[1]), []).append((int(d), fields[0]))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def _descendants(pid: int) -> list[tuple[int, str]]:
    """(pid, state) of every descendant of ``pid``."""
    kids = _proc_table()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def _tree_rss_kb(pid: int) -> int:
    """RSS of ``pid`` and all its descendants, from /proc."""
    total = 0
    for p in [pid] + [d for d, _ in _descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process tree, sampled every 0.25 s."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(0.25)

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=10)


def set_job_group(spark, group: str | None) -> None:
    """Label the calling thread's Spark jobs (``None`` clears the label)."""
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


def install_layers(tracer: Tracer) -> None:
    """Spans around the driver-side public functions of each layer."""
    from qurio_spark import api
    from qurio_spark.functions import checkpointing, embedder
    from qurio_spark.operators import bm25, hybrid, pages, rerank

    tracer.wrap(api.Engine, "tool_search_text", "api.format")
    tracer.wrap(embedder.HashingEmbedder, "embed_query", "embedder.embed_query")
    tracer.wrap(hybrid, "hybrid_search", "hybrid.build", tracer.timed_collect("hybrid.collect"))
    tracer.wrap(bm25, "build_index", "bm25.build_index")
    tracer.wrap(bm25, "score_query", "bm25.score_query")
    tracer.wrap(checkpointing, "checkpoint_df", "checkpointing.checkpoint")
    tracer.wrap(rerank, "apply_rerank", "rerank.apply")
    tracer.wrap(pages, "read_page", "pages.read_page")


def self_time_metrics(res: Result, tracer: Tracer, n_ops: int) -> None:
    """``<layer>.self_ms_per_op``: each layer's self time per operation."""
    out: dict[str, float] = {}
    for name, ms in tracer.self_ms().items():
        layer = name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + ms
    for layer, ms in sorted(out.items()):
        res.put(f"{layer}.self_ms_per_op", ms / max(1, n_ops), "ms")


def spark_layer_metrics(res: Result, spark, prefix: str, wall_ms: dict[str, float]) -> dict:
    """Per-operation Spark counters (medians over the traced operations
    whose job group starts with ``prefix``); ``wall_ms`` maps each job
    group to its operation's wall time, for the driver gap."""
    from perfbench.stats import median

    ops = sparkstore.collect(spark, prefix)
    rows = []
    for group, wall in wall_ms.items():
        c = ops.get(group, sparkstore.OpCounters())
        rows.append((c, wall))
    if not rows:
        return ops
    per = {
        "spark.jobs_per_op": ([c.jobs for c, _ in rows], "count"),
        "spark.stages_per_op": ([c.stages for c, _ in rows], "count"),
        "spark.tasks_per_op": ([c.tasks for c, _ in rows], "count"),
        "spark.job_ms_per_op": ([c.job_ms for c, _ in rows], "ms"),
        "spark.driver_gap_ms_per_op": ([max(0.0, w - c.job_ms) for c, w in rows], "ms"),
        "spark.executor_cpu_ms_per_op": ([c.executor_cpu_ms for c, _ in rows], "ms"),
        "spark.shuffle_read_kb_per_op": ([c.shuffle_read_kb for c, _ in rows], "KB"),
        "spark.shuffle_write_kb_per_op": ([c.shuffle_write_kb for c, _ in rows], "KB"),
        "spark.spill_kb_per_op": ([c.spill_kb for c, _ in rows], "KB"),
    }
    for name, (vals, unit) in per.items():
        res.put(name, median(vals), unit)
    return ops
