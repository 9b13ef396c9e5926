"""Driver-side job overlap (optimization guide §2.6): Spark's
scheduler happily runs several jobs at once inside one application —
actions are only sequential because driver code awaits them one at a
time.  ``run_concurrent`` submits independent thunks from a small
thread pool so one job's tasks back-fill executors idled by another
job's straggler tail, and driver-side phases (manifest IO, parquet
footer stats) overlap cluster work instead of serializing with it.

Use ONLY where the units are genuinely independent:

  - commits to DIFFERENT tables with no cross-table ordering contract;
  - same-table OCC appends whose union is order-free AND whose readers
    never pin an intermediate version (the snapshot layer's optimistic
    concurrency makes racing appends safe — data files and per-commit
    manifests are uuid-unique and written once; only the manifest-list
    bookkeeping retries — but version NUMBERS are then race-assigned,
    so a query that time-travels to v0 must keep its appends ordered).

OCC chains where a later commit must observe an earlier one stay
sequential — submitting them here would be a race, not an
optimization.

Scheduling stays FIFO (the default): the earlier job gets resources
first and later jobs back-fill what is left, which is the §2.6
behaviour; 2-4 jobs in flight is plenty.

``job_description`` labels the jobs of one phase (``query:phase``) so
a slow request or query can be read off the status store by phase.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator, Sequence, TypeVar

T = TypeVar("T")


def run_concurrent(
    thunks: Sequence[Callable[[], T]], max_workers: int | None = None
) -> list[T]:
    """Run independent Spark-action thunks concurrently; return their
    results in input order.  The pool always drains fully (shutdown
    waits) so a failing thunk cannot leak still-running jobs into
    whatever the caller does next; the first exception then
    propagates.  Each thunk starts with a copy of the caller's Spark
    local properties (job description, job group), taken here in the
    caller's thread; the copies are per thunk, so a thunk may relabel
    its own jobs without clobbering the others.
    """
    thunks = list(thunks)
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        from pyspark.sql import SparkSession
        from pyspark.util import inheritable_thread_target

        # one wrapper per thunk: a wrapper clones the properties once,
        # and thunks sharing one clone would overwrite each other's labels
        session = SparkSession.active()
        thunks = [inheritable_thread_target(session)(t) for t in thunks]

    with ThreadPoolExecutor(
        max_workers=max_workers or min(len(thunks), 4)
    ) as pool:
        futures = [pool.submit(t) for t in thunks]
        # collect every outcome before raising: result() on the first
        # failure must not abandon the rest mid-flight (the with-block
        # would wait anyway, but gather errors deterministically)
        results, first_err = [], None
        for f in futures:
            try:
                results.append(f.result())
            except BaseException as e:  # noqa: BLE001 - re-raised below
                if first_err is None:
                    first_err = e
                results.append(None)
        if first_err is not None:
            raise first_err
        return results


@contextmanager
def job_description(spark, text: str | None) -> Iterator[None]:
    """Run the block's Spark jobs under the description ``text``
    (``spark.job.description``, a thread-local property), then restore
    the caller's description.  ``None`` leaves the description alone.
    The job group is never touched: callers attribute jobs by group."""
    if text is None:
        yield
        return
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
