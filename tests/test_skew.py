"""AQE's runtime skew-join split on a pathologically skewed key."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join_partitions(spark):
    """VERDICT r4 #6: pin the one Catalyst scale feature the plan
    tests didn't cover — AQE's runtime skew-join split. A shuffled
    join whose hot key dwarfs the median partition must come out of
    adaptive execution with the skewed partition SPLIT across tasks:
    the final plan marks the join ``skew=true`` and reads the shuffle
    through an ``AQEShuffleRead … skewed`` node. A skewed
    aggregation is salted in the query itself (q_skew_agg).

    Thresholds are lowered to test scale: skew detection needs a
    partition > factor×median AND > thresholdInBytes (256 MB default —
    sized for real clusters), and the advisory target must sit below
    the threshold for a split to be worthwhile."""
    keys = [
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
        spark.conf.set(keys[0], "16KB")
        spark.conf.set(keys[1], "8KB")
        spark.conf.set(keys[2], "2.0")
        spark.conf.set(keys[3], "-1")  # force a shuffled join: skew
        spark.conf.set(keys[4], "-1")  # splitting never applies to BHJ
        fact = (
            spark.range(1_000_000)
            .select(F.lit(0).alias("k"), F.col("id").alias("v"))
            .union(
                spark.range(200).select(
                    (F.col("id") % 31 + 1).alias("k"), F.col("id").alias("v")
                )
            )
        )
        dim = spark.range(32).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), F.col("id")).alias("name"),
        )
        j = fact.join(dim, "k").groupBy("name").count()
        # collect() (not .count(), which builds a separate plan) so
        # THIS plan runs to adaptive finality before inspection
        assert len(j.collect()) == 32
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert any(
            "AQEShuffleRead" in ln and "skewed" in ln
            for ln in plan.splitlines()
        ), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
