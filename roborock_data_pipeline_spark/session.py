"""SparkSession construction + per-session runtime configuration.

``prepare(spark)`` is idempotent and safe on a session we did not
build (the driver owns the session in verify runs): it sets only
runtime-settable confs every query in this engine depends on.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Runtime-settable confs required for correctness / oracle parity.
_RUNTIME_CONFS = {
    # testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no ns
    # timestamp -- read as raw epoch-ns long, converted in sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB timestamps are UTC-naive; pin Spark to UTC so to_date /
    # date_trunc agree with the oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join handling --
    # the 100 TB posture (SURVEY sec 4).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's Hive-compat default writes timestamps as parquet INT96,
    # which carries NO min/max statistics -- every warehouse table the
    # engine itself writes (append_rows, vacuum bases, gold tables)
    # would silently lose timestamp predicate pushdown and file
    # skipping. INT64 micros carries full stats (and is what DuckDB
    # and the testdata use), so start_time range predicates (e.g.
    # pipeline.rollup_for_dates) prune row groups at the footer.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


_shipped_sessions: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers.

    Pandas-UDF/mapInPandas functions are pickled by reference
    (module + name); the worker processes spawned by the executors do
    NOT inherit the driver's sys.path, so unless the package is on
    PYTHONPATH cluster-wide, any Python-UDF stage dies with
    ModuleNotFoundError. Shipping a zip via addPyFile fixes this for
    every deployment shape (local, YARN, k8s) in one place."""
    try:
        key = spark.sparkContext.applicationId  # unique per context;
        # id(spark) could be reused by a new session at the same address
    except Exception:  # pragma: no cover
        key = str(id(spark))
    if key in _shipped_sessions:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # Collect sources deterministically and key the zip by a content
    # hash: a cached zip from before a source edit would ship stale
    # code to the Python workers while the driver runs new code.
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                sources.append((rel, full))
    sources.sort()
    digest = hashlib.sha256()
    for rel, full in sources:
        digest.update(rel.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"roborock_data_pipeline_spark_pkg_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path + ".tmp", "w") as zf:
            for rel, full in sources:
                zf.write(full, rel)
        os.replace(zip_path + ".tmp", zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # pragma: no cover - e.g. Spark Connect w/o SC access
        pass
    _shipped_sessions.add(key)


def prepare(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    _ship_package(spark)
    return spark


def get_spark(app_name: str = "roborock-data-pipeline-spark") -> SparkSession:
    """Build a local session sized for this container (tests/bench).

    On a real cluster, the hosting application owns the builder; only
    :func:`prepare` applies there.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # isolated managed-table location (bucketed tables in tests/demos)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "rdp_spark_warehouse"),
            ),
        )
    )
    return prepare(builder.getOrCreate())
