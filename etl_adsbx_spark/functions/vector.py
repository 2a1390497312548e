"""[EXT] Vector column expressions over ``embeddings.embedding``
(array<float>): dot product and norms — higher-order built-ins
(`zip_with`/`aggregate`), JVM-side, no Python in the hot path.

Floats are cast to double *before* any arithmetic so Spark and the DuckDB
oracle accumulate in the same precision.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))
