"""Array/vector column functions -- JVM-side higher-order functions.

All math stays in whole-stage codegen: `zip_with`/`aggregate` compile
to codegen'd loops over the array, no Python round-trip. Elements are
cast float->double before accumulation so Spark and DuckDB (and any
other IEEE-754 engine summing left-to-right) agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate (sequential double sum)."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# NOTE (r10 negative result, kept so it is not retried): unrolling the
# dot product for a known dimension (64 GetArrayItem multiply-adds in
# place of the zip_with/aggregate fold) measured 5x SLOWER at sf1
# (67-80 s vs 13 s for the blocked pair join) - the 320-node literal
# expression tree exceeds what whole-stage codegen will compile in a
# join condition and falls back to per-node interpreted eval, which
# loses badly to the HOF fold's tight interpreted loop. Same failure
# class as the PQ encoder's rejected literal form
# (operators/similarity._pq_codes_udf docstring).
