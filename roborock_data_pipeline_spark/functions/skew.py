"""Skew mitigation: salted joins.

At 100 TB a handful of hot keys (one chatty device, one viral
document) can make a shuffle join stall on a single task. Two levers,
in preference order:

1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
   on by default in session.prepare) -- zero code, splits oversized
   partitions at runtime. Use it unless the skew is extreme.
2. Explicit salting (this module) -- for the pathological case AQE
   can't fix (one key >> everything else, or a skewed aggregation
   rather than a join).

`salted_join` replicates the small side N times (key, salt) and
scatters the large side's rows uniformly over the salts, so a hot
key's rows spread across N tasks. Results are identical to the
unsalted join (inner/left semantics over an equi-key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `large join small` on `key`, spreading each key over
    `n_salts` shuffle partitions.

    The small side is exploded n_saltsx (acceptable: it is small);
    the large side gets a uniform pseudo-random salt derived from a
    per-row hash (deterministic -- no rand(), so retries/resumes see
    the same assignment)."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    small_rep = small.select("*", salts)
    large_salted = large.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[c for c in large.columns]), F.lit(n_salts)).cast("int"),
    )
    out = large_salted.join(small_rep, [key, "_salt"], how)
    return out.drop("_salt")


def salted_count(df: DataFrame, key: str, n_salts: int = 8) -> DataFrame:
    """Two-phase skewed aggregation: count per (key, salt) partially,
    then merge per key -- the hot key's partial counts are computed by
    n_salts tasks instead of one. (For plain count/sum, Spark's own
    partial aggregation already achieves this; the two-phase pattern
    matters for aggregates without map-side combine, e.g.
    collect_list or exact distinct.)"""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[c for c in df.columns]), F.lit(n_salts))
    )
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("n"))
