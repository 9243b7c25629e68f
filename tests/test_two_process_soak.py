"""Two-process end-to-end soak (VERDICT r13 #7).

The lease/CAS story is pinned by SIGSTOP and hypothesis tests, but
nothing ran two REAL OS processes concurrently appending + running
maintenance + refreshing gold against one warehouse. This spawns two
subprocess Spark drivers against a shared warehouse for ~20 s:

- writer A: a tight append loop on ``cleaning_records``;
- writer B: a maintenance loop — vacuum (retain 3) + lifetime gold
  refresh — absorbing ``ConcurrentWriterError`` as the designed
  contention outcome, never a failure.

Final state must converge: every appended row readable exactly once
(vacuum absorbs, never drops), the as-of read at "now" equal to the
current read, and one last gold refresh agreeing with per-device
ground truth.

local-FS only: the in-memory object-store backend is in-process by
construction — two OS processes cannot share its dict (a real
deployment swaps in an actual object store; the cross-process story
there is the store's own conditional PUTs, modeled by the memory
backend's single-process tests).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.local_fs_only(
    "two OS processes cannot share the in-process memory backend's "
    "dict; cross-process commits are a local-FS (or real object "
    "store) property"
)

_APPENDER = r"""
import datetime as dt
import sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .appName("soak-appender")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from roborock_data_pipeline_spark import schemas
from roborock_data_pipeline_spark.sources import sinks

w = {wh!r}
t_end = time.time() + {dur}
n = i = 0
while time.time() < t_end:
    i += 1
    ts = dt.datetime(2024, 3, 1 + i % 27, i % 24, i % 60)
    df = spark.createDataFrame(
        [(ts, f"d{{i % 3}}", ts, 10.0, float(i % 7), "s", "v", 0, "ok")],
        schemas.CLEANING_RECORDS,
    )
    sinks.append_rows(df, w, "cleaning_records")
    n += 1
print("APPENDED", n)
"""

_MAINTAINER = r"""
import sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .appName("soak-maintainer")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from roborock_data_pipeline_spark import pipeline
from roborock_data_pipeline_spark.sources import sinks

w = {wh!r}
t_end = time.time() + {dur}
vacuums = refreshes = conflicts = 0
while time.time() < t_end:
    try:
        sinks.vacuum_table(spark, w, "cleaning_records", 3)
        vacuums += 1
    except sinks.ConcurrentWriterError:
        conflicts += 1
    try:
        pipeline.refresh_device_lifetime(spark, w)
        refreshes += 1
    except sinks.ConcurrentWriterError:
        conflicts += 1
    time.sleep(0.3)
print("MAINTAINED", vacuums, refreshes, conflicts)
"""


def test_two_process_append_maintain_soak(spark, tmp_path):
    from roborock_data_pipeline_spark import pipeline
    from roborock_data_pipeline_spark.sources import sinks

    w = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, w)
    dur = 20
    env = {**os.environ, "PYTHONPATH": ""}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code.format(repo=REPO, wh=w, dur=dur)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            cwd=str(tmp_path),
            env=env,
        )
        for code in (_APPENDER, _MAINTAINER)
    ]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=420)
        assert p.returncode == 0, err[-3000:]
        outs.append(out)
    n_appended = int(
        next(ln for ln in outs[0].splitlines() if ln.startswith("APPENDED"))
        .split()[1]
    )
    m = next(
        ln for ln in outs[1].splitlines() if ln.startswith("MAINTAINED")
    ).split()
    vacuums, refreshes = int(m[1]), int(m[2])
    assert n_appended >= 3, "appender made no progress"
    assert vacuums >= 1 and refreshes >= 1, "maintainer made no progress"

    # every appended row survives, exactly once (vacuum absorbs)
    cur = sinks.read_table(spark, w, "cleaning_records")
    assert cur.count() == n_appended
    # as-of "now" == current read (publish stamps are monotone)
    asof = sinks.read_table_as_of(
        spark, w, "cleaning_records", time.time_ns()
    )
    assert asof.count() == n_appended
    # gold refresh converges on ground truth
    pipeline.refresh_device_lifetime(spark, w)
    truth = {
        r["device_name"]: r["n"]
        for r in cur.groupBy("device_name")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = {
        r["device_name"]: r["total_clean_count"]
        for r in pipeline.read_device_lifetime(spark, w).collect()
    }
    assert got == truth, (got, truth)
