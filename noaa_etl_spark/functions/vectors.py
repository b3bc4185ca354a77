"""Vector math over ``array<float|double>`` columns as native Spark
expressions (no UDFs — ``F.zip_with``/``F.aggregate`` compile into
Catalyst higher-order functions and stay JVM-side).

Numeric-determinism contract: every helper casts to double *first* and
accumulates sequentially in array order, which is also how the DuckDB
oracle's list functions accumulate — double sums over identical element
order are bit-reproducible across both engines. Never compute on raw
float32 elements (float multiply rounds differently than double).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product in double precision."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_sq(a: Column) -> Column:
    return dot(a, a)


def l2_norm(a: Column) -> Column:
    return F.sqrt(norm_sq(a))
