"""The metric names and units of the result line (``BENCHMARK.json``
lists the same set; a test keeps the two in step).

The result line carries only metrics that every workload measures, so
no value there is a placeholder for a layer the workload never enters:

* ``END_TO_END`` (``--trace 0``): what a user of the engine sees.  An
  *operation* is one ``qurio_search`` request on ``mcp_search`` and one
  registered query on ``batch_suite``.
* ``PER_LAYER`` (``--trace 1``): per-operation Spark counters, the time
  the engine spends building a plan before it returns a lazy result,
  and the tracing overhead.

Every other measurement (the search and batch figures by their own
names, each layer's spans and self time, the write-path stages) is
printed above the result line as ``<workload> <name> = <value> <unit>``;
README.md lists them with the layer each belongs to.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "engine.build_ms_per_op": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_ms_per_op": "ms",
    "spark.driver_gap_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.shuffle_read_kb_per_op": "KB",
    "spark.shuffle_write_kb_per_op": "KB",
    "trace.overhead_pct": "%",
}
