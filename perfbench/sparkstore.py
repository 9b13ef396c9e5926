"""Per-operation Spark counters read from the AppStatusStore.

Every timed operation runs under ``setJobGroup("<workload>:<op>:<id>")``
(job groups are per thread, so concurrent requests keep their own
jobs).  After the run, ``collect`` reads every retained job and stage
once and attributes them to their group.  The store works with the UI
off; the session must raise ``spark.ui.retainedJobs`` /
``retainedStages`` above the run's job count (see ``RETAIN_CONF``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class OpCounters:
    """Spark work attributed to one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_ms: float = 0.0  # union of job [submission, completion] intervals
    executor_cpu_ms: float = 0.0
    shuffle_read_kb: float = 0.0
    shuffle_write_kb: float = 0.0
    spill_kb: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _opt(o):
    """scala.Option -> value or None."""
    return o.get() if o.isDefined() else None


def collect(spark, prefix: str) -> dict[str, OpCounters]:
    """Counters for every job group starting with ``prefix``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    ops: dict[str, OpCounters] = {}
    stage_group: dict[int, str] = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        group = _opt(j.jobGroup())
        if group is None or not group.startswith(prefix):
            continue
        c = ops.setdefault(group, OpCounters())
        c.jobs += 1
        sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
        # A job can be listed before it has a submission time (or before
        # it completes); it then contributes counts but no interval.
        if sub is not None and comp is not None:
            c.intervals.append((float(sub.getTime()), float(comp.getTime())))
        sids = j.stageIds()
        sit = sids.iterator()
        while sit.hasNext():
            stage_group[int(sit.next())] = group
    # stageList(statuses, details, withSummaries, unsortedQuantiles,
    # taskStatus): py4j needs all five arguments.
    stages = store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
    sit = stages.iterator()
    while sit.hasNext():
        st = sit.next()
        group = stage_group.get(int(st.stageId()))
        if group is None:
            continue
        c = ops[group]
        c.stages += 1
        c.tasks += int(st.numTasks())
        c.executor_cpu_ms += st.executorCpuTime() / 1e6
        c.shuffle_read_kb += st.shuffleReadBytes() / 1024.0
        c.shuffle_write_kb += st.shuffleWriteBytes() / 1024.0
        c.spill_kb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1024.0
    for c in ops.values():
        c.job_ms = union_ms(c.intervals)
    return ops
