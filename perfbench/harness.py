"""Shared plumbing: where the benchmark keeps its files, the Spark
session it measures, output digests and the result stamp.

All files the benchmark and Spark write go under ``<root>/.perfbench``
(``TMPDIR``, Spark's local dirs and the JVM's temp dir point there),
so a run reads and writes only inside the checkout it runs from.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
EXPECTED = os.path.join(HERE, "expected.json")
CORPUS_TABLES = {"documents", "embeddings"}
PACKAGE_ZIP_PREFIX = "roborock_data_pipeline_spark_pkg_"
# cold set-ups per run; ``setup_s`` is their median. Each launches a
# JVM, about 10 s on a 4-core box, so a run has room for two.
SETUPS = 2


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "bench.py")) and os.path.isfile(
        os.path.join(ROOT, "roborock_data_pipeline_spark", "session.py"))


def configure_env(cores: int) -> None:
    """Point every temp and scratch location into the checkout and
    size ``local[N]``. Must run before pyspark is imported."""
    for d in (TMP, os.path.join(TMP, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(TMP, "spark-warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a fixed 2 GB driver heap (the engine's own default is 8 GB): the
    # data is sf0.1, and a JVM free to grow its heap to 8 GB makes peak
    # memory wander between runs by whatever garbage it left uncollected
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    # the heap starts at its full 2 GB, so the young generation cycles
    # through all of it and peak memory nears the same ceiling in every
    # run instead of stopping wherever the heap's growth stopped
    os.environ["SPARK_SUBMIT_OPTS"] = "-Xms2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = TMP
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def data_dir() -> str:
    """The query tables, built once per checkout; the directory is
    keyed by the generator's source so an edited generator rebuilds."""
    from perfbench import datagen

    with open(datagen.__file__, "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(WORK, "data", f"sf{datagen.SF}-{key}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        staged = out + f".tmp{os.getpid()}"
        # in a child process, so the memory the generator takes does
        # not count in the peak RSS of the run that builds the tables
        subprocess.run([sys.executable, "-m", "perfbench.datagen", staged],
                       cwd=ROOT, check=True)
        with open(os.path.join(staged, "_DONE"), "w") as fh:
            fh.write("ok\n")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.rename(staged, out)
        except OSError:  # a concurrent build finished first
            import shutil

            shutil.rmtree(staged, ignore_errors=True)
    return out


def load_expected() -> dict:
    with open(EXPECTED) as fh:
        return json.load(fh)


def headline() -> list[str]:
    return list(importlib.import_module("bench").HEADLINE)


# --- outputs ---------------------------------------------------------------

def digest(pdf) -> dict:
    """Row count, sorted column names and an order-insensitive hash of
    a result, canonicalised the way the oracle harness compares."""
    canonicalize = importlib.import_module("tests.oracle_harness").canonicalize
    canon = canonicalize(pdf)
    return {
        "rows": int(len(pdf)),
        "columns": sorted(str(c) for c in pdf.columns),
        "sha256": hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest(),
    }


def check_output(df, expected: dict) -> list[str]:
    """Problems with a query result against its committed digest: the
    schema, the row count and column names, and for queries with a
    DuckDB oracle the canonical hash of the oracle's result (of the
    Spark result where the oracle was too slow to run)."""
    problems = []
    schema = df.schema.simpleString()
    if schema != expected["schema"]:
        problems.append(f"schema {schema} != {expected['schema']}")
    got = digest(df.toPandas())
    want = dict(expected)
    if expected["has_oracle"]:
        want.setdefault("sha256", expected["spark_sha256"])
    for key in ("rows", "columns") + (("sha256",) if "sha256" in want else ()):
        if got[key] != want[key]:
            problems.append(f"{key} {got[key]} != {want[key]}")
    return problems


# --- the measured session --------------------------------------------------

def warm_up(spark) -> None:
    """One small shuffle job, so a set-up ends with a session that has
    run work. Each workload then runs untimed work of its own (output
    checks, a first tick) before it measures anything."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4).repartition(n).write.format("noop").mode("overwrite").save()


def start_python_workers(spark) -> None:
    """Start one Python worker per core: a Pandas job whose tasks all
    overlap. Workers are reused afterwards, so every run then holds
    the same number of them and peak memory does not depend on how
    many the workload happened to start."""
    def slow_identity(batches):
        time.sleep(0.5)
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(
        slow_identity, schema="id long").write.format("noop").mode("overwrite").save()


def _shipped_zip(spark) -> str | None:
    files = spark.sparkContext._jsc.sc().listFiles().toString()
    for part in files.replace("List(", "").rstrip(")").split(","):
        name = os.path.basename(part.strip())
        if name.startswith(PACKAGE_ZIP_PREFIX):
            return name
    return None


def _package_zips() -> list[str]:
    return [f for f in os.listdir(TMP) if f.startswith(PACKAGE_ZIP_PREFIX)]


def start_session(setups: int = SETUPS):
    """Set the session up ``setups`` times, each from cold: a new JVM,
    and the package zip that ``session._ship_package`` caches in the
    temp dir removed first, so every set-up launches the JVM, builds
    and ships the zip and warms up. Returns the last session plus
    per-setup timings, and whether the zip was cached when the run
    started."""
    from roborock_data_pipeline_spark.session import get_spark

    cached_at_start = bool(_package_zips())
    spark, rows = None, []
    for _ in range(setups):
        if spark is not None:
            _stop_jvm(spark)
        for name in _package_zips():
            os.remove(os.path.join(TMP, name))
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        warm_up(spark)
        t2 = time.perf_counter()
        rows.append({"setup_s": t2 - t0, "get_spark_s": t1 - t0, "warmup_s": t2 - t1})
    start_python_workers(spark)
    info = {
        "setups": rows,
        "package_zip": _shipped_zip(spark),
        "package_zip_cached_at_start": cached_at_start,
    }
    return spark, info


def _stop_jvm(spark) -> None:
    """Stop Spark and its JVM, and let the next session launch a new
    one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - already closed
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - TimeoutExpired: force it
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until every process this run
    started has ended."""
    _stop_jvm(spark)
    deadline = time.time() + 30
    while _children() and time.time() < deadline:
        time.sleep(0.1)
    for pid in _children():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[1] == me and fields[0] != "Z":
            out.append(int(entry))
    return out


# --- statistics ------------------------------------------------------------

def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile. Below 22 samples no such percentile lies above the
    median, so the median is reported."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    i = n - 11
    if i <= (n - 1) // 2:
        return median(s), 50.0
    return s[i], round(100.0 * (i + 1) / n, 1)


class LoadSampler:
    """1-minute load average at start and its maximum over the run."""

    def __init__(self) -> None:
        self.start = os.getloadavg()[0]
        self.max = self.start

    def sample(self) -> None:
        self.max = max(self.max, os.getloadavg()[0])
