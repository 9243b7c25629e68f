"""Testdata-vintage + driver-surface regression gates (ADVICE r13
medium: the r13 driver-contract rewrite deleted these without
relocating them — restored here verbatim-in-spirit. The ns branch of
``ns_timestamp_cols`` is live code exercised by no current testdata,
since the driver's fixtures are micros-vintage; round 2 lost 35
queries to a silent unit mismatch these gates catch)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402


def test_events_ts_vintage(spark, sf_dir):
    """Testdata-vintage regression gate (VERDICT r2 #1/#2): the driver
    has shipped events.ts as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS);
    whichever vintage is on disk, the loaded column must land in the
    synthetic-data epoch (2024, 30 distinct days at every SF)."""
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.sources import tables

    events = tables.load(spark, sf_dir, "events")
    assert str(events.schema["ts"].dataType) == "TimestampType()"
    r = events.agg(
        F.year(F.min("ts")).alias("y_min"),
        F.year(F.max("ts")).alias("y_max"),
        F.countDistinct(F.to_date("ts")).alias("days"),
    ).collect()[0]
    assert r.y_min == 2024 and r.y_max == 2024, (
        f"events.ts out of epoch ({r.y_min}-{r.y_max}): ts unit misread "
        f"(ns-sniffed columns: {tables.ns_timestamp_cols(sf_dir, 'events')!r})"
    )
    assert r.days == 30


def test_events_ns_vintage_roundtrip(spark, sf_dir, tmp_path):
    """The ns branch keeps working even though current testdata is µs:
    a TIMESTAMP(NANOS) copy of the events table must load to the same
    µs timestamps as the native file (DuckDB-truncation semantics)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.sources import tables

    t = pq.read_table(f"{sf_dir}/events.parquet")
    idx = t.schema.get_field_index("ts")
    t_ns = t.set_column(
        idx, "ts", t.column("ts").cast(pa.timestamp("ns"))
    )
    ns_dir = str(tmp_path / "nsvintage")
    os.makedirs(ns_dir)
    pq.write_table(t_ns, f"{ns_dir}/events.parquet", store_schema=False)
    assert "ts" in tables.ns_timestamp_cols(ns_dir, "events")

    native = tables.load(spark, sf_dir, "events").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).collect()[0]
    vintage = tables.load(spark, ns_dir, "events").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).collect()[0]
    assert (native.mn, native.mx) == (vintage.mn, vintage.mx)


def test_events_any_unit_vintage_roundtrip(spark, sf_dir, tmp_path):
    """VERDICT r3 #8: the loader reads a testdata regeneration at ANY
    timestamp precision — {s, ms, us, ns} — to the same µs wall-clock
    values (s-precision parquet physically lands as TIMESTAMP(MILLIS);
    the values still carry second precision, which is the vintage
    being guarded). The r2 failure mode (silent unit misread) cannot
    recur in any unit."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark.sources import tables

    t = pq.read_table(f"{sf_dir}/events.parquet")
    idx = t.schema.get_field_index("ts")
    for unit in ("s", "ms", "us", "ns"):
        cast = t.column("ts").cast(pa.timestamp(unit), safe=False)
        d = str(tmp_path / f"vintage_{unit}")
        os.makedirs(d)
        pq.write_table(
            t.set_column(idx, "ts", cast),
            f"{d}/events.parquet",
            store_schema=False,
        )
        got = tables.load(spark, d, "events").agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx")
        ).collect()[0]
        exp = cast.cast(pa.timestamp("us"))
        assert (got.mn, got.mx) == (
            pc.min(exp).as_py(),
            pc.max(exp).as_py(),
        ), f"unit {unit} misread"


def test_sniffer_rejects_unexpected_physical_type(spark, sf_dir, tmp_path):
    """ADVICE r3: a pinned timestamp column shipped as a non-timestamp
    non-int64 physical type (e.g. DATE) must raise loudly — never be
    silently read as epoch-ns 1970-era values."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from roborock_data_pipeline_spark.sources import tables

    t = pq.read_table(f"{sf_dir}/events.parquet")
    idx = t.schema.get_field_index("ts")
    d = str(tmp_path / "datevintage")
    os.makedirs(d)
    pq.write_table(
        t.set_column(idx, "ts", t.column("ts").cast(pa.date32())),
        f"{d}/events.parquet",
        store_schema=False,
    )
    with pytest.raises(ValueError, match="unsupported vintage"):
        tables.ns_timestamp_cols(d, "events")


def test_sniffer_rejects_mixed_units_across_files(sf_dir, tmp_path):
    """ADVICE r3: a directory-layout table whose files disagree on the
    timestamp unit must raise — one file may not speak for the rest."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from roborock_data_pipeline_spark.sources import tables

    t = pq.read_table(f"{sf_dir}/events.parquet")
    idx = t.schema.get_field_index("ts")
    half = t.num_rows // 2
    d = str(tmp_path / "mixed" / "events.parquet")
    os.makedirs(d)
    pq.write_table(t.slice(0, half), f"{d}/part-0.parquet", store_schema=False)
    ns_half = t.slice(half).set_column(
        idx, "ts", t.slice(half).column("ts").cast(pa.timestamp("ns"))
    )
    pq.write_table(ns_half, f"{d}/part-1.parquet", store_schema=False)
    with pytest.raises(ValueError, match="mixed physical types"):
        tables.ns_timestamp_cols(str(tmp_path / "mixed"), "events")


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 186
    assert set(oracles) <= set(qs)
    # every callable takes (spark, sf_dir); every oracle is non-empty SQL
    assert all(callable(fn) for fn in qs.values())
    assert all(
        isinstance(sql, str) and "SELECT" in sql.upper()
        for sql in oracles.values()
    )
    # rows-only set stays the deliberate sketch list
    rows_only = set(qs) - set(oracles)
    assert rows_only == {
        "q_approx_distinct", "q_approx_percentiles", "q_dedup_minhash",
        "q_dedup_simhash", "q_similarity_lsh", "q_similarity_ivf",
        "q_similarity_pq", "q_hll_daily_users", "q_kmeans_clusters",
    }


def test_register_views_sql_interface(spark, sf_dir):
    """After register_views, raw Spark SQL runs against the same
    table names the oracles use."""
    from roborock_data_pipeline_spark.sources import tables

    tables.register_views(spark, sf_dir)
    got = spark.sql(
        "SELECT r_name, COUNT(*) AS n FROM region GROUP BY r_name"
    ).count()
    assert got == 5
    joined = spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_cust
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )
    assert joined.count() == 25
