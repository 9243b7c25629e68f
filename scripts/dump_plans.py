"""Regenerate PLANS.md: the formatted physical plan of every
registered query (sf0.001 unless --sf names another SF dir) — the
artifact the per-round plan audits read. Committed as a script (r9)
so the dump is reproducible instead of session-lore. A query whose
plan fails is recorded in place, not fatal.

Usage:  python scripts/dump_plans.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=os.path.join(REPO, "PLANS.md"))
    args = ap.parse_args()

    from roborock_data_pipeline_spark.plans.inspect import plan_string
    from roborock_data_pipeline_spark.registry import all_queries
    from roborock_data_pipeline_spark.session import get_spark

    spark = get_spark("rdp-spark-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    sf_name = os.path.basename(os.path.normpath(args.sf))
    lines = [f"# Physical plans ({sf_name}, local)", ""]
    for name, spec in sorted(all_queries().items()):
        spark.catalog.clearCache()
        try:
            plan = plan_string(spec.fn(spark, args.sf))
        except Exception as exc:  # noqa: BLE001 - record, don't die
            plan = f"<plan unavailable: {exc}>"
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
        print(name, flush=True)
    with open(args.out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {args.out} ({len(all_queries())} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
