"""Z-order (Morton) clustering — write-time layout for multi-column
data skipping.

A table range-partitioned on ONE column skips files only for
predicates on that column; queries filtering on a second dimension
scan everything.  Interleaving the bits of several columns into one
Morton key and range-partitioning + sorting on it gives every
participating column locality: parquet min/max footer stats then prune
files for predicates on ANY of the columns (the same layout idea
Delta/Iceberg expose as OPTIMIZE ZORDER BY; public algorithm, Morton
1966).

Shape: one stats aggregation (min/max per column, to normalize values
into the bit budget) and one map-side z-value projection (integer
shifts/masks — no UDF).  The snapshot writer (``zorder_by`` in
plans/snapshots.py) then range-partitions and sorts on the key.
Entirely write-time cost, amortized over every subsequent scan — the
economics of every other persisted layout in this repo (BM25 term
buckets, IVF labels, LSH buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: bits per column in the interleaved key; k columns use k*BITS bits
#: of the 63 available, so up to 3 columns at 16 bits (or pass fewer).
DEFAULT_BITS = 16


def _normalized(col: Column, mn: Column, mx: Column, bits: int) -> Column:
    """Scale ``col`` into [0, 2^bits) using the min/max stats columns —
    rank-preserving within double precision; constant columns map to 0."""
    span = mx.cast("double") - mn.cast("double")
    scaled = F.when(
        span > 0,
        ((col.cast("double") - mn.cast("double")) / span)
        * F.lit(float((1 << bits) - 1)),
    ).otherwise(F.lit(0.0))
    return F.least(
        F.greatest(scaled.cast("bigint"), F.lit(0)), F.lit((1 << bits) - 1)
    )


def zvalue_expr(norm_cols: list[Column], bits: int = DEFAULT_BITS) -> Column:
    """Morton interleave of pre-normalized integer columns: bit b of
    column i lands at position ``b * k + i``."""
    k = len(norm_cols)
    if k * bits > 63:
        raise ValueError(
            f"zorder bit budget exceeded: {k} columns * {bits} bits > 63 "
            "(LongType sign bit); lower bits or drop a column"
        )
    z = F.lit(0).cast("bigint")
    for i, c in enumerate(norm_cols):
        for b in range(bits):
            z = z.bitwiseOR(
                c.bitwiseAND(F.lit(1 << b)).cast("bigint")
                * F.lit(1 << (b * (k - 1) + i))
            )
    return z


def with_zvalue(
    df: DataFrame, cols: list[str], bits: int = DEFAULT_BITS, out: str = "_z"
) -> DataFrame:
    """Adds the Morton key column.  One stats agg (broadcast back) +
    pure integer expressions; no UDF, no shuffle."""
    if not 1 <= len(cols) <= 3:
        raise ValueError("zorder supports 1..3 columns")
    if len(cols) * bits > 63:
        raise ValueError(
            f"zorder bit budget exceeded: {len(cols)} columns * {bits} bits "
            "> 63 (LongType sign bit); lower bits or drop a column"
        )
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    stats = df.agg(*aggs)
    withs = df.crossJoin(F.broadcast(stats))
    norms = [
        _normalized(F.col(c), F.col(f"_mn_{c}"), F.col(f"_mx_{c}"), bits)
        for c in cols
    ]
    return withs.withColumn(out, zvalue_expr(norms, bits)).drop(
        *[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols]
    )
