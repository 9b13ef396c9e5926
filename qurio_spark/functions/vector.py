"""Vector column-expression library.

Embeddings are plain ``array<float>`` columns (worker.Chunk.Vector is
``[]float32`` — internal/worker/types.go:9).  All similarity math is
expressed with Spark higher-order functions (``zip_with`` +
``aggregate``), which run JVM-side inside codegen — no Python UDF, no
Arrow hop, so a 100 TB scan of embeddings stays a map-only columnar
pass.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.column import Column


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def literal_vector(vec: list[float]) -> Column:
    """A query vector as a literal array column (broadcast to every task
    as part of the plan — the Spark-native analogue of the reference
    passing the embedded query vector in the GraphQL request,
    store.go:107-110).

    Assembled as ONE parsed SQL expression (r16, guide §5 driver
    hygiene): the per-element ``F.lit`` form costs a py4j round trip
    per dimension (a 64-dim vector ≈ 65 driver calls) at every call
    site.  ``repr(float)`` round-trips IEEE doubles exactly and Spark
    parses the decimal literal to the nearest double, so every finite
    value keeps its bits — except that a bare ``-0.0`` parses as unary
    minus applied to decimal zero, i.e. +0.0; a signed zero is
    therefore spelled ``CAST('-0.0' AS DOUBLE)`` (Java
    ``Double.parseDouble`` keeps the sign).  Non-finite values fall
    back to the composed form (no SQL literal spells nan/inf)."""
    vals = [float(v) for v in vec]
    import math

    if not vals or not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])

    def sql(v: float) -> str:
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "CAST('-0.0' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"

    return F.expr("array(" + ",".join(sql(v) for v in vals) + ")")


def l2_normalize(a: Column) -> Column:
    n = norm(a)
    return F.when(n > 0, F.transform(a, lambda x: (x.cast("double") / n).cast("float"))).otherwise(a)
