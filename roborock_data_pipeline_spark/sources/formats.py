"""Multi-format source/sink support (SURVEY sec 2.A breadth).

The reference reads one source (cloud API) and writes one sink
(Sheets). An engine must speak the warehouse formats: parquet is the
default (columnar, predicate pushdown, column pruning); CSV and JSON
are supported for ingest/interchange -- always with explicit schemas
(schema inference is a full extra pass over 100 TB, and silently
wrong on empty partitions).

Also here: the date-partitioned writer -- the layout that turns the
incremental queries' date predicates into partition pruning at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).option("header", True).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_date_partitioned(
    df: DataFrame, path: str, ts_col: str = "ts", mode: str = "overwrite"
) -> None:
    """Write a fact table partitioned by event date (`dt=YYYY-MM-DD`
    directories). Readers filtering on `dt` prune whole partitions --
    the plan shows them under PartitionFilters, and unselected days
    are never opened. This is the 100 TB layout for every
    incremental/watermark query in operators/incremental.py."""
    from pyspark.sql import functions as F

    (
        df.withColumn("dt", F.date_format(ts_col, "yyyy-MM-dd"))
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink -- the other columnar warehouse format (Hive-heavy
    shops); same pushdown/pruning properties as parquet."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).orc(path)


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of all parquet files
    under `path` (`mergeSchema`) so batches written before a column
    existed read as NULL for it -- how a long-lived table adds fields
    without rewriting history. Footer-merge costs one metadata pass;
    at 100 TB pin the merged schema in a catalog instead and pass it
    explicitly."""
    return spark.read.option("mergeSchema", True).parquet(path)


def read_json_audited(spark: SparkSession, path: str, ddl_schema: str) -> DataFrame:
    """PERMISSIVE JSON ingest with corrupt-record capture: malformed
    lines land whole in `_corrupt_record` instead of aborting the job
    (FAILFAST) or silently vanishing (DROPMALFORMED). The caller
    splits on `_corrupt_record IS NULL` and quarantines the rest --
    at 100 TB a bad producer must not kill the ingest, and dropped
    rows must stay auditable. Spark refuses a query that selects ONLY
    the corrupt column from a raw file scan -- cache() (or write out)
    the parsed frame before filtering on it alone."""
    return (
        spark.read.schema(ddl_schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
