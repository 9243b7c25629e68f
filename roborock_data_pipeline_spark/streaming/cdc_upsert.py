"""Streaming CDC upsert: maintain a keyed snapshot table from a
change stream (SURVEY sec 2.I T3/T5 depth).

This is the streaming production form of ``operators/linkage.
cdc_merge``: each micro-batch merges into the stored snapshot inside
``foreachBatch`` and publishes atomically (staged-dir + rename, the
same exactly-once discipline as ``sources/sinks.overwrite_rows``).
The stored snapshot KEEPS tombstones -- a deleted key must stay
remembered so a late-arriving older version of it cannot resurrect;
``read_snapshot`` filters them out for consumers.

Exactly-once story: the checkpoint tracks which source files each
batch consumed; the snapshot replace is a single atomic rename. A
crash between sink write and checkpoint commit replays the batch,
and the merge is idempotent (latest-writer-wins over the same rows
yields the same snapshot), so replays are safe -- the fix-class for
the reference's at-most-once T5 bug (reference pipeline.py:562-568,
state saved before the write is confirmed).

At 100 TB the same ``foreachBatch`` body targets a transactional
table format and the window shuffle co-locates with the table's
key bucketing; semantics are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from roborock_data_pipeline_spark.operators.linkage import cdc_merge
from roborock_data_pipeline_spark.sources import sinks
from roborock_data_pipeline_spark.streaming.aggregations import events_stream

SNAPSHOT_TABLE = "user_state_cdc"


def _changes(events: DataFrame) -> DataFrame:
    return events.select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.round("value", 6).alias("last_value"),
        "ts",
        "event_id",
        (F.col("event_type") == "error").alias("is_delete"),
    )


def read_snapshot(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Consumer view of the snapshot: tombstones filtered out."""
    snap = sinks.read_table(spark, warehouse_dir, SNAPSHOT_TABLE)
    return snap.where(~F.col("is_delete")).drop("is_delete")


def cdc_upsert_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    warehouse_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Run the change stream into the snapshot table with
    Trigger.AvailableNow. ``max_files_per_trigger`` forces multiple
    micro-batches over a multi-file input (test lever for cross-batch
    semantics)."""
    opts = (
        {"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger is not None
        else {}
    )
    changes = _changes(events_stream(spark, sf_dir, **opts))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        try:
            snap = sinks.read_table(batch_df.sparkSession, warehouse_dir, SNAPSHOT_TABLE)
        except Exception:
            snap = batch_df.sparkSession.createDataFrame([], batch_df.schema)
        merged = cdc_merge(
            snap, batch_df,
            key_cols=["user_id"], order_cols=["ts", "event_id"],
            delete_col="is_delete", keep_tombstones=True,
        )
        # atomic replace: merge result is the new snapshot
        sinks.overwrite_rows(merged, warehouse_dir, SNAPSHOT_TABLE)

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
