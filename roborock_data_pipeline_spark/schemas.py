"""Explicit schemas -- fixed, code-declared, never inferred.

Mirrors the reference's schema discipline (dataclass fields + header
constants, /root/reference/src/roborock_collector.py:16-147,579-635;
SURVEY sec 1.4) for the domain tables, and pins the driver testdata
schemas (FIXTURES.md sec B) so reads never depend on inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver testdata tables (FIXTURES.md sec B). `events.ts` has shipped as BOTH
# parquet TIMESTAMP(MICROS) and TIMESTAMP(NANOS) across testdata vintages.
# `EVENTS` is the native us read; sources.tables.ns_timestamp_cols() sniffs
# the parquet footer, and load() reads ns-encoded columns as epoch-ns long
# (spark.sql.legacy.parquet.nanosAsLong -- Spark has no ns timestamp type)
# and truncates them to us.
# ---------------------------------------------------------------------------

EVENTS = T.StructType([
    T.StructField("event_id", T.LongType(), False),
    T.StructField("ts", T.TimestampType(), False),  # parquet timestamp[us]
    T.StructField("user_id", T.LongType(), False),
    T.StructField("event_type", T.StringType(), False),
    T.StructField("value", T.DoubleType(), False),
    T.StructField("props", T.StringType(), True),  # JSON string, e.g. {"k": 87}
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("n_chars", T.LongType(), False),
])

EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType()), False),  # dim 64
    T.StructField("label", T.IntegerType(), False),
])

REGION = T.StructType([
    T.StructField("r_regionkey", T.IntegerType(), False),
    T.StructField("r_name", T.StringType(), False),
])

NATION = T.StructType([
    T.StructField("n_nationkey", T.IntegerType(), False),
    T.StructField("n_name", T.StringType(), False),
    T.StructField("n_regionkey", T.IntegerType(), False),
])

CUSTOMER = T.StructType([
    T.StructField("c_custkey", T.LongType(), False),
    T.StructField("c_name", T.StringType(), False),
    T.StructField("c_nationkey", T.IntegerType(), False),
    T.StructField("c_acctbal", T.DoubleType(), False),
    T.StructField("c_mktsegment", T.StringType(), False),
])

SUPPLIER = T.StructType([
    T.StructField("s_suppkey", T.LongType(), False),
    T.StructField("s_name", T.StringType(), False),
    T.StructField("s_nationkey", T.IntegerType(), False),
    T.StructField("s_acctbal", T.DoubleType(), False),
])

PART = T.StructType([
    T.StructField("p_partkey", T.LongType(), False),
    T.StructField("p_name", T.StringType(), False),
    T.StructField("p_brand", T.StringType(), False),
    T.StructField("p_type", T.StringType(), False),
    T.StructField("p_size", T.IntegerType(), False),
    T.StructField("p_retailprice", T.DoubleType(), False),
])

ORDERS = T.StructType([
    T.StructField("o_orderkey", T.LongType(), False),
    T.StructField("o_custkey", T.LongType(), False),
    T.StructField("o_orderstatus", T.StringType(), False),
    T.StructField("o_totalprice", T.DoubleType(), False),
    T.StructField("o_orderdate", T.TimestampType(), False),
    T.StructField("o_orderpriority", T.StringType(), False),
])

LINEITEM = T.StructType([
    T.StructField("l_orderkey", T.LongType(), False),
    T.StructField("l_partkey", T.LongType(), False),
    T.StructField("l_suppkey", T.LongType(), False),
    T.StructField("l_linenumber", T.IntegerType(), False),
    T.StructField("l_quantity", T.DoubleType(), False),
    T.StructField("l_extendedprice", T.DoubleType(), False),
    T.StructField("l_discount", T.DoubleType(), False),
    T.StructField("l_tax", T.DoubleType(), False),
    T.StructField("l_returnflag", T.StringType(), False),
    T.StructField("l_linestatus", T.StringType(), False),
    T.StructField("l_shipdate", T.TimestampType(), False),
])

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "events": EVENTS,  # native us; ns vintages are sniffed by sources.tables
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
}

# ---------------------------------------------------------------------------
# Reference-domain tables (SURVEY sec 1.2). Used by the pipeline modes and
# their tests, and as the documented target schema for anyone pointing this
# engine at real device telemetry.
# ---------------------------------------------------------------------------

CLEANING_HISTORY = T.StructType([  # CleaningRecord, roborock_collector.py:16-28
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("device_name", T.StringType(), False),
    T.StructField("clean_time_minutes", T.IntegerType(), True),
    T.StructField("clean_area_sqm", T.DoubleType(), True),
    T.StructField("battery_start", T.IntegerType(), True),
    T.StructField("battery_end", T.IntegerType(), True),
    T.StructField("fan_power", T.StringType(), True),
    T.StructField("water_level", T.StringType(), True),
    T.StructField("mop_mode", T.StringType(), True),
    T.StructField("state", T.StringType(), False),
    T.StructField("error_code", T.IntegerType(), True),
])

DEVICE_STATUS = T.StructType([  # DeviceStatus, roborock_collector.py:51-63
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("device_name", T.StringType(), False),
    T.StructField("state", T.StringType(), False),
    T.StructField("battery", T.IntegerType(), True),
    T.StructField("fan_power", T.StringType(), True),
    T.StructField("water_box_status", T.IntegerType(), True),
    T.StructField("water_box_mode", T.IntegerType(), True),
    T.StructField("mop_mode", T.StringType(), True),
    T.StructField("error_code", T.IntegerType(), True),
    T.StructField("clean_time", T.IntegerType(), True),
    T.StructField("clean_area", T.DoubleType(), True),
])

CLEAN_SUMMARY = T.StructType([  # CleanSummary, roborock_collector.py:82-89
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("device_name", T.StringType(), False),
    T.StructField("total_clean_time", T.LongType(), True),
    T.StructField("total_clean_area", T.DoubleType(), True),
    T.StructField("total_clean_count", T.LongType(), True),
])

CONSUMABLES = T.StructType([  # Consumables, roborock_collector.py:101-110
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("device_name", T.StringType(), False),
    T.StructField("main_brush_life", T.IntegerType(), True),
    T.StructField("side_brush_life", T.IntegerType(), True),
    T.StructField("filter_life", T.IntegerType(), True),
    T.StructField("sensor_dirty_time", T.IntegerType(), True),
    T.StructField("mop_pad_life", T.IntegerType(), True),
])

CLEANING_RECORDS = T.StructType([  # CleaningHistoryRecord, roborock_collector.py:124-135
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("device_name", T.StringType(), False),
    T.StructField("start_time", T.TimestampType(), False),  # event time
    T.StructField("duration_minutes", T.DoubleType(), True),
    T.StructField("area_sqm", T.DoubleType(), True),
    T.StructField("clean_mode", T.StringType(), True),
    T.StructField("clean_way", T.StringType(), True),
    T.StructField("error_code", T.IntegerType(), True),
    T.StructField("task_status", T.StringType(), True),
])

# Device-state categorical domains (config/settings.py:37-38).
CLEANING_STATES = ["cleaning", "segment_cleaning", "zone_cleaning", "spot_cleaning"]
IDLE_STATES = ["charger", "idle", "paused", "charging"]

# mode_monitor's outputs: one row per completed session (cf.
# CleaningRecord, roborock_collector.py:16-28 -- the live-captured
# shape), and the per-device fold state carried between calls.
SESSION_SCHEMA = T.StructType([
    T.StructField("device_name", T.StringType(), False),
    T.StructField("session_start", T.TimestampType(), True),
    T.StructField("session_end", T.TimestampType(), False),
    T.StructField("battery_start", T.IntegerType(), True),
    T.StructField("battery_end", T.IntegerType(), True),
])

STATE_SCHEMA = T.StructType([
    T.StructField("prev_state", T.StringType(), True),
    T.StructField("start_ts", T.TimestampType(), True),
    T.StructField("start_battery", T.IntegerType(), True),
])
