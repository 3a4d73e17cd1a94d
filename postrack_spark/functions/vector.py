"""Vector math over array<float|double> columns as higher-order
built-in expressions (F.zip_with / F.aggregate) — whole-stage-codegen
eligible, no Python in the loop. This is the 100 TB-safe way to do
embedding math in Spark: per-row O(d) arithmetic inside the JVM.

Inputs are cast to array<double> so results are engine-comparable
(DuckDB's list_* functions compute in double).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
