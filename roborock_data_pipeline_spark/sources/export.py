"""Training-shard export: curated rows -> deterministic JSONL shards.

The reference's only egress is row-appends to a Sheets tab
(reference roborock_connect.py:169-204 -- the BI-feed form). A
training pipeline's egress is different: the curated corpus must
land as a *fixed set of deterministic shards* (JSONL is the lingua
franca of LM data loaders), each small enough to stream, with a
manifest the trainer can checksum before it trusts the data.

Design:
- Shard assignment is ``xxhash64(key) mod n_shards`` -- stable under
  re-runs and corpus growth (same row -> same shard), no coordination
  and no global sort. Spark's JSON writer emits line-delimited JSON
  natively, one file tree per shard via ``partitionBy``.
- The manifest (row + byte-ish token totals per shard) is computed
  with one aggregate over the same DataFrame -- n_shards rows to the
  driver, never the data.
- Publish commits through the commit-provider seam (r12 #1,
  sources/versioned_dir): the staged shard tree is named as an
  invisible version dir and THE commit is one verified
  ``_current.json`` pointer swap -- readers see the old export or the
  complete new one, never a half-written tree, and a kill mid-publish
  can never leave NO export visible (the pre-r13 two-rename swap
  could). Superseded versions get one publish of grace for a trainer
  mid-read.

At 100 TB: the export is one map-side pass (hash, partitionBy write);
shard count is chosen so each shard is O(executor output split);
nothing aggregates globally except the tiny manifest.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.sources import versioned_dir


def export_jsonl_shards(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    n_shards: int = 8,
    token_col: str | None = None,
) -> dict:
    """Write ``df`` as ``n_shards`` deterministic JSONL shards under
    ``out_dir`` (atomic publish) and return the manifest dict.

    ``key_col`` drives stable shard assignment; ``token_col`` (if
    given) is summed per shard into the manifest so the trainer can
    budget without re-reading the data."""
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    )
    aggs = [F.count("*").alias("n_rows")]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("long").alias("n_tokens"))
    stats = {
        int(r["shard"]): {k: r[k] for k in r.asDict() if k != "shard"}
        for r in sharded.groupBy("shard").agg(*aggs).collect()
    }
    manifest = {
        "n_shards": n_shards,
        "key_col": key_col,
        "total_rows": sum(s["n_rows"] for s in stats.values()),
        "shards": {str(k): stats[k] for k in sorted(stats)},
    }

    staged = versioned_dir.staging_dir(out_dir)
    try:
        sharded.write.mode("overwrite").partitionBy("shard").json(staged)
        with open(os.path.join(staged, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        versioned_dir.publish(out_dir, staged)
    finally:
        if os.path.exists(staged):
            shutil.rmtree(staged, ignore_errors=True)
    return manifest


def _export_live(out_dir: str) -> str:
    live = versioned_dir.resolve(out_dir)
    if live is None:
        raise FileNotFoundError(f"no export published at {out_dir!r}")
    return live


def read_export(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a published export back (pointer-resolved version dir;
    schema from the JSONL; the shard partition column comes from the
    directory names)."""
    return spark.read.json(_export_live(out_dir))


def read_manifest(out_dir: str) -> dict:
    with open(os.path.join(_export_live(out_dir), "manifest.json")) as f:
        return json.load(f)
