"""The engine's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload headline_queries --seed 1 \
        --seconds 22 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

- ``headline_queries``: a stratified sample of ``bench.HEADLINE``, six
  warehouse and four corpus queries, closed loop, one client
  (``perfbench/queries.py``);
- ``warehouse_ingest``: the reference pipeline on a fixed tick period,
  open loop, with dashboard reads (``perfbench/ingest.py``).

Spark runs at ``local[N]``, N = min(LOCAL_N, nproc): 4 for the
queries, 2 for the ingest ticks. Set-up (session, package shipping,
warm-up) is done ``harness.SETUPS`` times, each from cold (a new JVM,
the package zip rebuilt), and reported as the median. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the same workload
with per-layer tracing and prints the per-layer metrics, including
the tracing overhead. The last stdout line is the result JSON; the
line before it holds the full detail (stamps, sample counts,
per-query times and counts, check results).

The query tables are generated on first use into ``.perfbench/``
inside the checkout, which also holds every temp file of a run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("headline_queries", "warehouse_ingest")
# local[N] per workload. A tick moves a few hundred rows; at local[2]
# it runs fewer, shorter tasks and leaves the JVM's compiler and
# collector threads cores of their own, which keeps tick times steadier.
LOCAL_N = {"headline_queries": 4, "warehouse_ingest": 2}

PER_LAYER = [
    "session.get_spark_s", "session.warmup_s",
    "registry.build_s", "registry.build_jobs", "registry.build_stages",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "plans.plan_lines",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_retries",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s", "exec.idle_s",
    "tables.input_bytes", "tables.input_rows",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "python.total_s", "python.boot_init_s", "python.bytes_sent",
    "python.bytes_received", "python.rows",
    "cache.persisted_rdds", "cache.cached_bytes",
    "pipeline.record_sync_s", "pipeline.smart_s", "pipeline.monitor_s",
    "pipeline.refresh_daily_s", "pipeline.refresh_lifetime_s",
    "pipeline.gold_maintenance_s", "pipeline.rows_appended_per_offered",
    "sinks.append_s", "sinks.read_table_s", "sinks.batch_dirs", "sinks.files",
    "sinks.bytes_on_disk",
    "commit.s", "commit.pointer_commits", "commit.lock_wait_s",
    "streaming.batch_s", "streaming.input_rows", "streaming.state_rows",
    "streaming.sessions_out",
    "gen.late_s", "gen.rows",
    "ingest.read_p50_s", "ingest.write_amp", "ingest.tick_busy_frac",
    "trace.overhead_p50_s", "trace.overhead_frac",
]

EXACT_COUNTS = ("registry.build_jobs", "exec.jobs", "exec.stages",
                "exec.shuffle_write_bytes", "exec.shuffle_read_bytes")


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac"):
        return "frac"
    if name in ("ingest.write_amp", "pipeline.rows_appended_per_offered"):
        return "ratio"
    return "count"


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _latency_metrics(samples: list[float], busy_s: float) -> tuple[dict, dict]:
    """p50 and work per busy second as metrics; the tail goes to the
    detail only: with at most a few dozen samples a run, the highest
    percentile with ten samples beyond it sits near p60 of a ten-query
    mix and jumps between query clusters from run to run."""
    tail_v, tail_pct = harness.tail(samples)
    metrics = {
        "latency_p50_s": harness.median(samples),
        "ops_per_s": len(samples) / busy_s if busy_s > 0 else 0.0,
    }
    return metrics, {"samples": len(samples), "latency_tail_s": tail_v,
                     "tail_percentile": tail_pct}


# --- query workloads ---------------------------------------------------------

def run_queries(spark, sf_dir, args, load) -> tuple[dict, dict, int, int]:
    from perfbench.queries import SPLITS, QueryWorkload

    wl = QueryWorkload(spark, sf_dir, args.seed, args.seconds)
    problems = {q: p for q, p in wl.check().items() if p}
    out = wl.run_traced(load) if args.trace else wl.run(load)
    execs = out["execs"]
    failed = sum(1 for e in execs if not e["ok"] or e["query"] in problems)
    times = [e["s"] for e in execs if e["ok"] and e["query"] not in problems]
    e2e, stats = _latency_metrics(times, sum(times))
    by_split = {split: harness.median([e["s"] for e in execs if e["ok"]
                                       and wl.split_of(e["query"]) == split])
                for split in SPLITS}
    detail = {"sample": wl.order, "check_problems": problems, **stats,
              "latency_p50_s_by_split": by_split,
              "per_query_s": {q: [round(e["s"], 4) for e in execs if e["query"] == q]
                              for q in wl.order}}
    if not args.trace:
        return e2e, detail, len(execs), failed

    traced = out["traced"]
    traced_e2e, _ = _latency_metrics([t["s"] for t in traced], sum(t["s"] for t in traced))
    layer = {k: _mean(t[k] for t in traced) for k in traced[0]
             if k not in ("query", "s", "ok")} if traced else {}
    overhead = traced_e2e["latency_p50_s"] - e2e["latency_p50_s"]
    layer["trace.overhead_p50_s"] = overhead
    layer["trace.overhead_frac"] = overhead / e2e["latency_p50_s"] if e2e["latency_p50_s"] else 0.0
    per_query: dict[str, dict] = {}
    for t in traced:
        q = per_query.setdefault(t["query"], {k: [] for k in EXACT_COUNTS})
        for k in EXACT_COUNTS:
            q[k].append(t[k])
    detail.update(
        traced_end_to_end=traced_e2e, untraced_end_to_end=e2e,
        overhead={k: traced_e2e[k] - e2e[k] for k in e2e},
        exact_counts={k: all(len(set(q[k])) == 1 for q in per_query.values())
                      for k in EXACT_COUNTS},
        per_query_counts=per_query,
        spans={k: {"calls": v["calls"], "s": round(v["s"], 6), "self_s": round(v["self_s"], 6)}
               for k, v in out["spans"].items()})
    return layer, detail, len(execs) + len(traced), failed


# --- ingest ------------------------------------------------------------------

def run_ingest(spark, args, load) -> tuple[dict, dict, int, int]:
    from perfbench import ingest

    wl = ingest.IngestWorkload(spark, args.seed, args.seconds)
    try:
        out = wl.run(load, traced=bool(args.trace))
        t_check = time.perf_counter()
        problems = wl.check()
        wl.phase_s["check"] = time.perf_counter() - t_check
        foot = wl.footprint()
        from roborock_data_pipeline_spark.sources import sinks

        held = sinks.read_table(spark, wl.warehouse, "cleaning_records").count()
        cache = None
        if args.trace:
            from perfbench.trace import SparkCounters

            cache = SparkCounters(spark).cache_stats()
    finally:
        wl.close()
    ticks, reads = out["ticks"], out["reads"]
    errored = sum(1 for t in ticks if not t["ok"])
    failed = len(ticks) if problems else errored
    ok = [t for t in ticks if t["ok"]]
    busy = sum(t["busy_s"] for t in ok)
    e2e, stats = _latency_metrics([t["s"] for t in ok], busy)
    detail = {
        "period_s": ingest.PERIOD_S, "maintain_every": ingest.MAINTAIN_EVERY,
        "retain_batches": ingest.RETAIN_BATCHES, "devices": len(wl.fleet.devices),
        "check_problems": problems, **stats,
        "read_p50_s": harness.median(reads), "reads": len(reads),
        "write_amp": foot["bytes"] / foot["input_bytes"],
        "tick_busy_frac": busy / out["schedule_s"],
        "footprint": foot,
        "phase_s": wl.phase_s,
        "tick_s": [round(t["s"], 4) for t in ticks],
        "busy_s": [round(t["busy_s"], 4) for t in ticks],
        "late_s": [round(t["late_s"], 4) for t in ticks],
    }
    if not args.trace:
        return e2e, detail, len(ticks), failed

    traced = [t for t in ok if t["traced"]]
    by_index = {t["tick"]: t for t in ok}

    def without_maintenance(i: int) -> float:
        return by_index[i]["s"] - by_index[i].get("span.pipeline.gold_maintenance.s", 0.0)

    triples = [((without_maintenance(a) + without_maintenance(c)) / 2, by_index[b]["s"])
               for a, b, c in out["triples"] if {a, b, c} <= by_index.keys()]
    overhead = harness.median([t - p for t, p in triples])
    plain_p50 = harness.median([p for _, p in triples])

    def per_tick(key: str, only_present: bool = False) -> float:
        vals = [t.get(key, 0.0) for t in traced if not only_present or key in t]
        return harness.median(vals)

    batches = [b for t in traced for b in t["streaming.batches"]]
    listings = sum(t.get("span.sinks.list_batches.calls", 0) for t in traced)
    layer = {
        "pipeline.record_sync_s": per_tick("span.pipeline.record_sync.s"),
        "pipeline.smart_s": per_tick("span.pipeline.smart.s"),
        "pipeline.monitor_s": per_tick("span.pipeline.monitor.s"),
        "pipeline.refresh_daily_s": per_tick("span.pipeline.refresh_daily.s"),
        "pipeline.refresh_lifetime_s": per_tick("span.pipeline.refresh_lifetime.s"),
        "pipeline.gold_maintenance_s": per_tick("span.pipeline.gold_maintenance.s", True),
        "pipeline.rows_appended_per_offered": held / max(1, foot["records"]),
        "sinks.append_s": per_tick("span.sinks.append.s"),
        "sinks.read_table_s": per_tick("span.sinks.read_table.s"),
        "sinks.batch_dirs": (sum(t.get("span.sinks.list_batches.n", 0) for t in traced)
                             / listings if listings else 0.0),
        "sinks.files": foot["files"],
        "sinks.bytes_on_disk": foot["bytes"],
        "commit.s": per_tick("span.commit.pointer.s"),
        "commit.pointer_commits": per_tick("span.commit.pointer.calls"),
        "commit.lock_wait_s": per_tick("span.commit.lock_wait.s"),
        "streaming.batch_s": harness.median([b["batch_s"] for b in batches]),
        "streaming.input_rows": _mean(b["input_rows"] for b in batches),
        "streaming.state_rows": batches[-1]["state_rows"] if batches else 0,
        "streaming.sessions_out": _mean(t["streaming.sessions_out"] for t in traced),
        "gen.late_s": _mean(t["late_s"] for t in ticks),
        "gen.rows": _mean(t["rows"] for t in ok),
        "ingest.read_p50_s": detail["read_p50_s"],
        "ingest.write_amp": detail["write_amp"],
        "ingest.tick_busy_frac": detail["tick_busy_frac"],
        "trace.overhead_p50_s": overhead,
        "trace.overhead_frac": overhead / plain_p50 if plain_p50 else 0.0,
    }
    for k in ("jobs", "stages", "tasks", "task_retries", "executor_run_s", "executor_cpu_s",
              "gc_s", "idle_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        layer[f"exec.{k}"] = _mean(t[f"exec.{k}"] for t in traced)
    layer["exec.s"] = _mean(t["busy_s"] for t in traced)
    layer["tables.input_bytes"] = _mean(t["exec.input_bytes"] for t in traced)
    layer["tables.input_rows"] = _mean(t["exec.input_rows"] for t in traced)
    for k in ("python.total_s", "python.boot_init_s", "python.bytes_sent",
              "python.bytes_received", "python.rows"):
        layer[k] = _mean(t[k] for t in traced)
    layer.update(cache)
    detail.update(
        traced_ticks=[t["tick"] for t in traced], overhead_triples=out["triples"],
        overhead={"latency_p50_s": overhead, "traced_mean_and_plain_s": triples},
        exec_jobs_per_traced_tick=[t["exec.jobs"] for t in traced],
        spans_per_traced_tick=[{k[5:]: round(v, 6) for k, v in t.items()
                                if k.startswith("span.") and k.endswith("s")}
                               for t in traced])
    return layer, detail, len(ticks), failed


# --- main --------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not harness.program_present():
        print("perfbench: the engine (roborock_data_pipeline_spark/, bench.py) is not "
              f"next to perfbench/ in {harness.ROOT}", file=sys.stderr)
        return 2
    cores = min(LOCAL_N[args.workload], os.cpu_count() or 1)
    harness.configure_env(cores)
    load = harness.LoadSampler()
    t_start = time.perf_counter()
    sf_dir = harness.data_dir() if args.workload == "headline_queries" else None
    from perfbench.trace import RssSampler

    with RssSampler(on_sample=load.sample) as rss:
        t_setup = time.perf_counter()
        spark, setup = harness.start_session()
        t_workload = time.perf_counter()
        try:
            if args.workload == "headline_queries":
                metrics, detail, attempted, failed = run_queries(spark, sf_dir, args, load)
            else:
                metrics, detail, attempted, failed = run_ingest(spark, args, load)
        finally:
            t_stop = time.perf_counter()
            harness.stop_session(spark)
    import pyspark

    setups = setup["setups"]
    e2e_common = {
        "setup_s": harness.median([s["setup_s"] for s in setups]),
        "peak_rss_mb": rss.peak / 2**20,
    }
    if args.trace:
        values = dict.fromkeys(PER_LAYER, 0.0)  # a layer the workload skips reads 0
        values.update({k: v for k, v in metrics.items() if k in values})
        values["session.get_spark_s"] = harness.median([s["get_spark_s"] for s in setups])
        values["session.warmup_s"] = harness.median([s["warmup_s"] for s in setups])
    else:
        values = {**metrics, **e2e_common}
    detail.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        nproc=os.cpu_count(), local_n=cores, pyspark=pyspark.__version__,
        load_1m_start=load.start, load_1m_max=load.max,
        package_zip=setup["package_zip"],
        package_zip_cached_at_start=setup["package_zip_cached_at_start"],
        setups=setups, end_to_end_common=e2e_common,
        wall_s=time.perf_counter() - t_start,
        run_phase_s={"before_setup": t_setup - t_start, "setup": t_workload - t_setup,
                     "workload": t_stop - t_workload, "stop": time.perf_counter() - t_stop})
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": _unit(k) if args.trace else
                        {"latency_p50_s": "s", "ops_per_s": "1/s",
                         "setup_s": "s", "peak_rss_mb": "MB"}[k]}
                    for k, v in values.items()},
    }
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
