"""Streaming trending leaderboard: incremental hourly counts +
ranked snapshot (SURVEY sec 2.I depth -- the streaming twin of
operators/analytics.q_trending).

Rank-over-aggregate is not expressible in an append-mode streaming
plan (ranking needs the *final* counts per window); the production
pattern is ``foreachBatch``: each micro-batch delivers delta counts,
which merge additively into a stored (window, type) totals table,
and the top-k leaderboard is recomputed from that *tiny* table --
never from events -- and published atomically.

Exactly-once story (same as cdc_upsert): the checkpoint pins which
files each batch consumed; the totals merge keys on (window, type,
batch) deltas re-aggregated from scratch per publish, and the swap
is one rename -- a replayed batch overwrites with identical totals,
so replays converge instead of double-counting. (The totals table
stores per-batch deltas keyed by batch_id, making re-publication of
the same batch idempotent.)

At 100 TB: batch deltas are |windows_touched|x|types| rows; the
stored totals table is O(hours x types); the leaderboard rank sorts
per-window groups of <=|types| rows. Events are aggregated exactly
once, in their arrival batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from roborock_data_pipeline_spark.sources import sinks

DELTAS_TABLE = "trending_deltas"
BOARD_TABLE = "trending_board"
TOP_K = 3


def leaderboard(totals: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top-k per hour from a (win, event_type, cnt) totals table --
    identical ordering contract to the batch q_trending."""
    rw = Window.partitionBy("win").orderBy(F.col("cnt").desc(), "event_type")
    return (
        totals.groupBy("win", "event_type")
        .agg(F.sum("cnt").alias("cnt"))
        .select(
            F.date_format("win", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            F.row_number().over(rw).alias("rnk"),
        )
        .where(F.col("rnk") <= k)
    )


def read_board(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    return sinks.read_table(spark, warehouse_dir, BOARD_TABLE)


def trending_stream(
    events: DataFrame,
    checkpoint_dir: str,
    warehouse_dir: str,
) -> StreamingQuery:
    """Maintain the hourly top-k leaderboard from a streaming
    DataFrame with (ts timestamp, event_type string) columns,
    Trigger.AvailableNow."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        delta = (
            batch_df.groupBy(
                F.window("ts", "1 hour").getField("start").alias("win"),
                "event_type",
            )
            .agg(F.count("*").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        try:
            prior = sinks.read_table(s, warehouse_dir, DELTAS_TABLE).where(
                F.col("batch_id") != batch_id  # replay-safe: drop own ghost
            )
            totals = prior.unionByName(delta)
        except Exception:
            totals = delta
        # cut lineage to the CURRENT deltas files before the swap
        # replaces them -- both publishes below read the materialized
        # totals, not the about-to-vanish parquet
        totals = totals.localCheckpoint(eager=True)
        sinks.overwrite_rows(totals, warehouse_dir, DELTAS_TABLE)
        sinks.overwrite_rows(leaderboard(totals), warehouse_dir, BOARD_TABLE)

    return (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
