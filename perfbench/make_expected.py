"""Regenerate ``perfbench/expected.json``: the workload split and the
expected output of every headline query on the benchmark's tables.

    python3 perfbench/make_expected.py

The Spark pass records, for each query in ``bench.HEADLINE``:

- ``tables``: the input tables, read from the plan (``inputFiles()``
  plus the file scans printed inside any cached relation, so queries
  that read their tables through a build-phase persist still name
  them). A query reading ``documents`` or ``embeddings`` belongs to
  ``corpus_queries``; every other one to ``warehouse_queries``.
- ``schema``, ``rows``, ``columns`` and ``spark_sha256`` of the Spark
  result.
- ``counts``: Spark jobs of the build phase and jobs and stages of a
  noop-sink execution, which rank the queries for the sample.

The oracle pass adds, for every query with a DuckDB oracle, the
``sha256`` of the oracle's canonicalised result and ``oracle_match``
(whether Spark agreed). It saves after each query. An oracle still
running after ``ORACLE_LIMIT_S`` (120 s; the quadratic near-duplicate
self-joins take many minutes at this scale) is interrupted and
recorded as ``oracle_timeout``; the benchmark then checks that query
against ``spark_sha256``. A query whose Spark result is unchanged
keeps the oracle fields already in the file, so an interrupted run
resumes where it stopped.

Regenerating is a reviewed act: the benchmark fails any query whose
output differs from this file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

_TABLE_FILE = re.compile(r"/(\w+)\.parquet")
ORACLE_LIMIT_S = 120.0
_ORACLE_FIELDS = ("sha256", "oracle_match", "oracle_timeout")


def _save(out: dict) -> None:
    with open(harness.EXPECTED + ".tmp", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(harness.EXPECTED + ".tmp", harness.EXPECTED)


def spark_pass(sf_dir: str) -> dict:
    from perfbench import datagen
    from perfbench.trace import SparkCounters
    from roborock_data_pipeline_spark.plans.inspect import plan_string
    from roborock_data_pipeline_spark.registry import all_queries

    spark, _ = harness.start_session(setups=1)
    counters = SparkCounters(spark)
    specs = all_queries()
    queries = {}
    for i, name in enumerate(harness.headline()):
        spark.catalog.clearCache()
        counters.set_group(f"mk-{i}-build")
        df = specs[name].fn(spark, sf_dir)
        tables = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
        tables.update(_TABLE_FILE.findall(plan_string(df)))
        counters.set_group(f"mk-{i}-exec")
        df.write.format("noop").mode("overwrite").save()
        counters.set_group(f"mk-{i}-check")
        got = harness.digest(df.toPandas())
        counters.drain()
        build = counters.group_stats(f"mk-{i}-build")
        execd = counters.group_stats(f"mk-{i}-exec")
        queries[name] = {
            "tables": sorted(tables),
            "workload": ("corpus_queries" if tables & harness.CORPUS_TABLES
                         else "warehouse_queries"),
            "schema": df.schema.simpleString(),
            "rows": got["rows"],
            "columns": got["columns"],
            "spark_sha256": got["sha256"],
            "has_oracle": specs[name].oracle is not None,
            "counts": {"build_jobs": build["jobs"], "exec_jobs": execd["jobs"],
                       "exec_stages": execd["stages"]},
        }
        print(name, queries[name]["workload"], queries[name]["counts"], flush=True)
    harness.stop_session(spark)
    return {"table_seed": datagen.TABLE_SEED, "sf": datagen.SF, "queries": queries}


def keep_oracle_fields(out: dict, previous: dict) -> None:
    """Copy the oracle fields of queries whose Spark digest, tables
    seed and scale are those of the previous file."""
    if (previous.get("table_seed"), previous.get("sf")) != (out["table_seed"], out["sf"]):
        return
    for name, entry in out["queries"].items():
        old = previous["queries"].get(name)
        if old and old["spark_sha256"] == entry["spark_sha256"]:
            entry.update({k: old[k] for k in _ORACLE_FIELDS if k in old})
            if "sha256" in old:
                entry.update(rows=old["rows"], columns=old["columns"])


def oracle_pass(sf_dir: str, out: dict) -> None:
    import duckdb

    from roborock_data_pipeline_spark.registry import get_query

    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, name)}')")
    for name, entry in out["queries"].items():
        if not entry["has_oracle"] or "sha256" in entry or "oracle_timeout" in entry:
            continue
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            oracle = harness.digest(con.execute(get_query(name).oracle).df())
        except duckdb.InterruptException:
            entry["oracle_timeout"] = ORACLE_LIMIT_S
            _save(out)
            print(name, "oracle_timeout", ORACLE_LIMIT_S, flush=True)
            continue
        finally:
            timer.cancel()
        entry["oracle_match"] = (oracle["sha256"] == entry["spark_sha256"]
                                 and oracle["rows"] == entry["rows"]
                                 and oracle["columns"] == entry["columns"])
        entry.update(rows=oracle["rows"], columns=oracle["columns"],
                     sha256=oracle["sha256"])
        _save(out)
        print(name, "oracle_match", entry["oracle_match"], flush=True)
    out["oracle_mismatches"] = sorted(
        q for q, e in out["queries"].items() if e.get("oracle_match") is False)
    _save(out)


def main() -> int:
    argparse.ArgumentParser(description=__doc__.split("\n")[0]).parse_args()
    harness.configure_env(min(4, os.cpu_count() or 1))
    sf_dir = harness.data_dir()
    out = spark_pass(sf_dir)
    if os.path.exists(harness.EXPECTED):
        keep_oracle_fields(out, harness.load_expected())
    _save(out)
    oracle_pass(sf_dir, out)
    print(f"wrote {harness.EXPECTED}: {len(out['queries'])} queries, "
          f"oracle mismatches: {out['oracle_mismatches']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
