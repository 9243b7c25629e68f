"""The query workload: one client in a closed loop over headline
queries, each query built and executed to the noop sink.

``bench.HEADLINE`` splits by input table (``expected.json``) into
warehouse queries (TPC-H tables, ``events``: floor-bound, scheduling
and Catalyst dominate) and corpus queries (``documents``,
``embeddings``: build-phase driver jobs, persists, Python kernels).

A run measures a fixed sample of each split, ``SAMPLE`` queries, in
an order the seed shuffles. The sample is stratified: a split's
queries are ranked by their committed Spark job counts, build-phase
jobs first, then execution jobs and stages (counts, not timings), cut
into bands of neighbours, and the middle query of each band is taken,
so the corpus sample includes a query with build-phase driver jobs. A run has time for a sample, not for all
128 queries, and a sample that changed with the seed would move the
median by more than any bound worth having.

Each sampled query first runs once untimed with its output checked
against the committed digest; the timed loop then runs whole cycles
in the seeded order while the run's time is not up, at most
``MAX_CYCLES``. Whole cycles keep every query equally weighted, and
the cap keeps the number of cycles from flipping between runs whose
speed differs by a few percent.
"""

from __future__ import annotations

import random
import time

from perfbench import harness
from perfbench.trace import SparkCounters, Tracer

SPLITS = ("warehouse_queries", "corpus_queries")
SAMPLE = {"warehouse_queries": 6, "corpus_queries": 4}
MAX_CYCLES = 2


def stratified_sample(names: list[str], cost: dict[str, tuple], k: int) -> list[str]:
    ranked = sorted(names, key=lambda q: (cost[q], q))
    n = len(ranked)
    bands = [ranked[round(i * n / k):round((i + 1) * n / k)] for i in range(k)]
    return [b[len(b) // 2] for b in bands]


def split_queries(split: str, expected: dict) -> list[str]:
    names = harness.headline()
    missing = [q for q in names if q not in expected["queries"]]
    if missing:
        raise SystemExit(f"no committed digest for {missing}; run perfbench/make_expected.py")
    return [q for q in names if expected["queries"][q]["workload"] == split]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    def __init__(self, spark, sf_dir: str, seed: int, seconds: float):
        from roborock_data_pipeline_spark.registry import all_queries

        self.spark = spark
        self.sf_dir = sf_dir
        self.seconds = seconds
        self.expected = harness.load_expected()
        self.specs = all_queries()
        self.order = []
        for split in SPLITS:
            names = split_queries(split, self.expected)
            counts = {q: self.expected["queries"][q]["counts"] for q in names}
            cost = {q: (c["build_jobs"], c["exec_jobs"], c["exec_stages"])
                    for q, c in counts.items()}
            self.order += stratified_sample(names, cost, SAMPLE[split])
        random.Random(seed).shuffle(self.order)

    def split_of(self, name: str) -> str:
        return self.expected["queries"][name]["workload"]

    def check(self) -> dict[str, list[str]]:
        """Run each sampled query once, untimed, and compare its output
        with the committed digest: problems per query (empty = correct).
        This also warms each query's code paths before the timed loop."""
        out = {}
        for name in self.order:
            self.spark.catalog.clearCache()
            try:
                df = self.specs[name].fn(self.spark, self.sf_dir)
                out[name] = harness.check_output(df, self.expected["queries"][name])
            except Exception as exc:  # noqa: BLE001
                out[name] = [f"error: {exc!r}"[:300]]
        return out

    def _plain(self, name: str) -> dict:
        """One untraced execution: build plus noop-sink execute."""
        self.spark.catalog.clearCache()
        try:
            t0 = time.perf_counter()
            _noop(self.specs[name].fn(self.spark, self.sf_dir))
            return {"query": name, "s": time.perf_counter() - t0, "ok": True}
        except Exception as exc:  # noqa: BLE001 - count it, keep going
            return {"query": name, "s": 0.0, "ok": False, "error": repr(exc)[:300]}

    def run(self, load) -> dict:
        """Closed loop over the sample in whole cycles: a cycle starts
        while ``seconds`` have not yet passed, up to ``MAX_CYCLES``."""
        execs = []
        end = time.perf_counter() + self.seconds
        while time.perf_counter() < end and len(execs) < MAX_CYCLES * len(self.order):
            for name in self.order:
                execs.append(self._plain(name))
                load.sample()
        return {"execs": execs}

    # --- traced run ----------------------------------------------------

    def _run_traced(self, name: str, op: int, tracer: Tracer,
                    counters: SparkCounters) -> dict:
        from roborock_data_pipeline_spark.plans.inspect import plan_string

        self.spark.catalog.clearCache()
        tracer.op = op
        build_group, exec_group = f"pb-{op}-build", f"pb-{op}-exec"
        first_execution = counters.executions()
        counters.set_group(build_group)
        with tracer.span("query", query=name) as root:
            with tracer.span("registry.build") as build_span:
                df = self.specs[name].fn(self.spark, self.sf_dir)
            with tracer.span("plans.plan_string"):
                plan_lines = len(plan_string(df).splitlines())
            counters.set_group(exec_group)
            w0 = time.time()
            with tracer.span("exec"):
                _noop(df)
            w1 = time.time()
        counters.drain()
        phases = df._jdf.queryExecution().tracker().phases()

        def phase_ms(p: str) -> float:
            o = phases.get(p)
            return float(o.get().durationMs()) if o.isDefined() else 0.0

        build = counters.group_stats(build_group)
        execd = counters.group_stats(exec_group, wall=(w0, w1))
        rec = {
            "query": name, "s": root.duration, "ok": True,
            "registry.build_s": build_span.duration,
            "registry.build_jobs": build["jobs"],
            "registry.build_stages": build["stages"],
            "catalyst.analysis_ms": phase_ms("analysis"),
            "catalyst.optimization_ms": phase_ms("optimization"),
            "catalyst.planning_ms": phase_ms("planning"),
            "plans.plan_lines": plan_lines,
            "exec.s": w1 - w0,
            "tables.input_bytes": build["input_bytes"] + execd["input_bytes"],
            "tables.input_rows": build["input_rows"] + execd["input_rows"],
        }
        for k in ("jobs", "stages", "tasks", "task_retries", "executor_run_s",
                  "executor_cpu_s", "gc_s", "idle_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes"):
            rec[f"exec.{k}"] = execd[k]
        rec.update(counters.python_stats(first_execution))
        rec.update(counters.cache_stats())
        return rec

    def run_traced(self, load) -> dict:
        """Each slot runs its query traced and untraced, in alternating
        order, until the time is up and every sampled query has run
        traced twice. The traced executions give the per-layer
        counters, and their two runs per query show which counts repeat
        exactly; the untraced ones give the tracing overhead."""
        tracer, counters = Tracer(), SparkCounters(self.spark)
        traced, plain = [], []
        end = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < end or i % len(self.order) or i < 2 * len(self.order):
            name = self.order[i % len(self.order)]
            if i % 2:
                plain.append(self._plain(name))
            try:
                traced.append(self._run_traced(name, i, tracer, counters))
            except Exception as exc:  # noqa: BLE001
                plain.append({"query": name, "s": 0.0, "ok": False,
                              "error": repr(exc)[:300]})
            if not i % 2:
                plain.append(self._plain(name))
            i += 1
            load.sample()
        return {"execs": plain, "traced": traced, "spans": tracer.by_name()}
