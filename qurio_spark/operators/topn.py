"""Per-group top-n — ``row_number().over(partitionBy(g).orderBy(o))
<= n`` — with the scale argument made explicit and PINNED.

A bare per-group window looks like the single-reducer shape (every
row of a group meeting one window task), and rounds 14/15 first
replaced these sites with a hand-rolled two-phase top-n (rank within
(group, hash sub-bucket), then rank the survivors).  Measuring that
form exposed it as strictly worse on Spark 4: the optimizer's
``InferWindowGroupLimit`` rule (SPARK-37099, 3.5+) already plants a
``WindowGroupLimit(..., Partial)`` operator BELOW the exchange, so
every map task pre-filters its local rows to the per-group top-n
before anything shuffles — the reduce side of a hot group receives at
most n x num_map_partitions rows, not the group.  The hand-rolled
form paid an extra exchange + sort and an md5 sub-bucket hash per row
for a marginally tighter final bound; at 40M rows in ONE group the
native plan ran 0.6 s vs 10.2 s for the two-phase rewrite
SCALE.md "Round 14 (cont.): de-windowed primitives at 40M rows,
ONE group").  Rule of the repo:
don't hand-schedule what Catalyst already does.

This helper therefore emits the plain window and exists to (a) name
the pattern at call sites, and (b) give tests one place to PIN the
optimization: ``has_partial_group_limit`` must hold for every plan
this emits — if a Spark upgrade or an unsupported shape (a non-rank
window function, a filter the rule can't see) ever drops the Partial
WindowGroupLimit, the plan-budget suite fails rather than silently
reverting to ship-the-group-to-one-task.

Covered shapes (probed on 4.1, AQE on and off): row_number/rank/
dense_rank, filters ``<= n``, ``< n``, ``== 1``, rank column kept or
dropped, composite order keys.  NOT covered: full ranking with no
top-n filter (use ``operators/prefix.distributed_rank``) and
unordered whole-group aggregates (use groupBy + join-back — see
``operators/quality.outlier_events``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def grouped_top_n(
    df: DataFrame,
    part_cols: list[str],
    order: list[Column],
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep each group's top ``n`` rows under ``order`` (a TOTAL order
    within every group — include an id tie-break).  ``rank_col``: when
    set, the per-group 1-based rank survives in the output."""
    out_rank = rank_col or "_tpn_rn"
    if out_rank in df.columns:
        raise ValueError(f"grouped_top_n rank column clash: {out_rank!r}")
    w = Window.partitionBy(*part_cols).orderBy(*order)
    out = df.withColumn(out_rank, F.row_number().over(w)).filter(
        F.col(out_rank) <= n
    )
    return out if rank_col else out.drop(out_rank)


def has_partial_group_limit(df: DataFrame) -> bool:
    """True when the physical plan carries the map-side
    ``WindowGroupLimit(..., Partial)`` pre-filter — the property that
    makes ``grouped_top_n`` safe under a dominant group.  For plan
    asserts in tests."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # same-LINE match: a plan with only a Final-mode WindowGroupLimit
    # plus an unrelated ", Partial" elsewhere (e.g. a partial agg)
    # must NOT satisfy the pin — that is the exact regression this
    # helper exists to catch
    return any(
        "WindowGroupLimit" in line and ", Partial" in line
        for line in plan.splitlines()
    )
