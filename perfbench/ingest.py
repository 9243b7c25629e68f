"""The ingest workload: the reference pipeline's own job, as an open
loop on a fixed tick period.

Tick ``i`` is due ``i * PERIOD_S`` after the loop starts, whether or
not earlier ticks are done. A tick lands one new file of device polls
and one of cleaning records in the device cloud, then runs, in order,
``mode_record_sync``, ``mode_smart``, ``mode_monitor`` (an
availableNow sessionize stream), ``refresh_daily_summary`` and
``refresh_device_lifetime``; every ``MAINTAIN_EVERY``-th tick, from
the first on, also runs ``gold_maintenance`` with a short retention so
vacuums happen within a run. A tick's latency runs from its due time
until both gold tables reflect it. After each tick a dashboard makes
three reads: ``read_daily_summary``, ``read_device_lifetime`` and
``mode_history``.

Ticks run before the loop, untimed and back to back: at least
``PRIME_TICKS``, and until the fleet has synced a cleaning record, so
the loop runs on a warehouse that holds data and on a JVM that has
compiled the tick's code paths once or twice (a fresh JVM's first
tick takes about twice as long as its third). The period leaves room
for the slowest tick seen plus its reads on a 4-core shared box, so
that a tick starts on time: a period shorter than a tick would make
each tick's latency carry the lateness of every earlier one, and the
median would measure that backlog, not the pipeline. ``gen.late_s``
shows whether ticks started on time. After the loop the warehouse is
checked against a recompute from everything the generator produced.

In the traced run, even ticks are traced and odd ticks run plain.
Ticks still speed up from one to the next as the JVM warms, so each
plain tick is compared with the mean of the traced ticks on either
side of it, which cancels a steady trend; a traced neighbour's
``gold_maintenance`` span (maintenance falls on even ticks only) is
left out of its latency. The tracing overhead is the median of these
differences.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

from perfbench import harness
from perfbench.datagen import POLLS_PER_TICK, Fleet
from perfbench.trace import SparkCounters, Tracer

PERIOD_S = 8.0
PRIME_TICKS = 2
MAINTAIN_EVERY = 4  # even, so maintenance ticks are traced ones
RETAIN_BATCHES = 1


def maintains(index: int) -> bool:
    return index % MAINTAIN_EVERY == 0


def tick_plan(n_ticks: int) -> tuple[set[int], list[tuple[int, int, int]]]:
    """The ticks a traced run traces, and the (traced, plain, traced)
    triples whose latencies give the tracing overhead."""
    traced = set(range(0, n_ticks, 2))
    triples = [(i - 1, i, i + 1) for i in range(1, n_ticks - 1, 2)]
    return traced, triples


def _parquet_rows(path: str) -> int:
    """Rows in a directory's parquet files, from their footers."""
    if not os.path.isdir(path):
        return 0
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class _StreamListener:
    """Collects the sessionize stream's progress events."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "batch_s": p.batchDuration / 1e3,
                    "input_rows": p.numInputRows,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


class IngestWorkload:
    def __init__(self, spark, seed: int, seconds: float):
        from roborock_data_pipeline_spark import pipeline

        self.spark = spark
        self.pipeline = pipeline
        self.seconds = seconds
        self.dir = os.path.join(harness.WORK, "runs", f"ingest-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.cloud = os.path.join(self.dir, "cloud")
        self.warehouse = os.path.join(self.dir, "warehouse")
        self.checkpoint = os.path.join(self.dir, "checkpoint")
        self.fleet = Fleet(self.cloud, seed)
        pipeline.mode_setup(spark, self.warehouse)

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    # --- one tick ------------------------------------------------------

    def _steps(self, maintain: bool):
        p, s, c, w = self.pipeline, self.spark, self.cloud, self.warehouse
        steps = [
            ("pipeline.record_sync", lambda: p.mode_record_sync(s, c, w)),
            ("pipeline.smart", lambda: p.mode_smart(s, c, w)),
            ("pipeline.monitor", lambda: p.mode_monitor(s, c, w, self.checkpoint)),
            ("pipeline.refresh_daily", lambda: p.refresh_daily_summary(s, w)),
            ("pipeline.refresh_lifetime", lambda: p.refresh_device_lifetime(s, w)),
        ]
        if maintain:
            steps.append(("pipeline.gold_maintenance",
                          lambda: p.gold_maintenance(s, w, retain_last_n=RETAIN_BATCHES)))
        return steps

    def _tick(self, index: int, tracer: Tracer | None = None) -> tuple[int, float]:
        """Land the next file and run the pipeline; returns (rows
        generated, seconds at which both gold tables reflected it)."""
        maintain = maintains(index)
        if tracer is None:
            rows = self.fleet.land_tick()
            for _name, step in self._steps(maintain):
                step()
            return rows, time.perf_counter()
        with tracer.span("gen.land"):
            rows = self.fleet.land_tick()
        for name, step in self._steps(maintain):
            with tracer.span(name):
                step()
            if name == "pipeline.refresh_lifetime":
                reflected = time.perf_counter()
        return rows, reflected

    def _reads(self) -> list[float]:
        p, s = self.pipeline, self.spark
        out = []
        for read in (lambda: p.read_daily_summary(s, self.warehouse).collect(),
                     lambda: p.read_device_lifetime(s, self.warehouse).collect(),
                     lambda: p.mode_history(s, self.cloud).collect()):
            t0 = time.perf_counter()
            read()
            out.append(time.perf_counter() - t0)
        return out

    # --- the loop ------------------------------------------------------

    def run(self, load, traced: bool = False) -> dict:
        """Prime, then the open loop. With ``traced``, the
        ticks of ``tick_plan`` run under the tracer, the others plain,
        and the priming ticks are traced too, so the tracer's own first
        calls fall outside the loop."""
        primed = time.perf_counter()
        self.phase_s = {}
        tracer = counters = listener = None
        if traced:
            tracer, counters = Tracer(), SparkCounters(self.spark)
            listener = _StreamListener()
            self.spark.streams.addListener(listener.listener)
        # prime until the fleet has synced a cleaning record: on a
        # warehouse that holds none, read_daily_summary raises (its gold
        # table has no partition yet), which a running deployment is past
        while self.fleet.ticks < PRIME_TICKS or not self.fleet.records:
            if traced:
                self._traced_tick(-1, tracer, counters, listener)
            else:
                self._tick(-1)
        self._reads()
        self.phase_s["prime"] = time.perf_counter() - primed
        n_ticks = max(1, math.ceil(self.seconds / PERIOD_S))  # every tick due in time
        to_trace, triples = tick_plan(n_ticks) if traced else (set(), [])
        ticks, reads = [], []
        # the first tick is due a period after priming began; priming
        # takes two ticks, more than a period, so it is due when
        # priming ends
        t0 = max(primed + PERIOD_S, time.perf_counter())
        for i in range(n_ticks):
            due = t0 + i * PERIOD_S
            now = time.perf_counter()
            if now < due:
                time.sleep(due - now)
            start = time.perf_counter()
            rec = {"tick": i, "late_s": start - due, "ok": True}
            trace_this = i in to_trace
            try:
                if trace_this:
                    rec.update(self._traced_tick(i, tracer, counters, listener))
                    rows, done = rec.pop("_rows"), rec.pop("_done")
                else:
                    rows, done = self._tick(i)
                rec.update(rows=rows, s=done - due, busy_s=done - start, traced=trace_this)
                reads.extend(self._reads())
            except Exception as exc:  # noqa: BLE001 - count it, keep going
                rec.update(ok=False, s=0.0, busy_s=time.perf_counter() - start,
                           error=repr(exc)[:300], traced=trace_this)
            ticks.append(rec)
            load.sample()
        self.phase_s["loop"] = time.perf_counter() - t0
        if listener is not None:
            counters.drain()
            self.spark.streams.removeListener(listener.listener)
        return {"ticks": ticks, "reads": reads, "triples": triples,
                "schedule_s": n_ticks * PERIOD_S}

    def _traced_tick(self, i: int, tracer: Tracer, counters: SparkCounters,
                     listener: _StreamListener) -> dict:
        from roborock_data_pipeline_spark.sources import (
            commit_provider,
            sinks,
            versioned_dir,
        )

        tracer.wrap(sinks, "append_rows", "sinks.append")
        tracer.wrap(sinks, "read_table", "sinks.read_table")
        tracer.wrap(sinks, "read_batch_dirs", "sinks.read_table")
        tracer.wrap(sinks, "read_partitioned", "sinks.read_table")
        tracer.wrap(sinks, "list_batches", "sinks.list_batches", size=len)
        tracer.wrap(sinks, "overwrite_partitions", "sinks.overwrite_partitions")
        tracer.wrap(sinks, "vacuum_table", "sinks.vacuum")
        tracer.wrap(sinks, "commit_pointer", "commit.pointer")
        tracer.wrap(commit_provider, "commit_pointer", "commit.pointer")
        tracer.wrap(versioned_dir, "publish", "versioned_dir.publish")
        tracer.wrap(versioned_dir, "resolve", "versioned_dir.resolve")
        tracer.wrap_lock(sinks, "writer_lock", "commit.lock_wait")
        tracer.wrap_lock(commit_provider, "naming_lock", "commit.lock_wait")
        n_events = len(listener.events)
        sessions_dir = sinks.table_path(self.warehouse, "cleaning_history_stream")
        sessions_before = _parquet_rows(sessions_dir)
        group = f"pb-tick-{i}"
        first_execution = counters.executions()
        counters.set_group(group)
        tracer.op = i
        w0 = time.time()
        try:
            with tracer.span("tick"):
                rows, done = self._tick(i, tracer)
        finally:
            tracer.unwrap_all()
        w1 = time.time()
        counters.drain()
        spans = tracer.by_name(i)
        stats = counters.group_stats(group, wall=(w0, w1))
        rec = {"_rows": rows, "_done": done}
        for name, agg in spans.items():
            rec[f"span.{name}.s"] = agg["s"]
            rec[f"span.{name}.self_s"] = agg["self_s"]
            rec[f"span.{name}.calls"] = agg["calls"]
            rec[f"span.{name}.n"] = agg["n"]
        for k, v in stats.items():
            rec[f"exec.{k}"] = v
        rec.update(counters.python_stats(first_execution))
        rec["streaming.batches"] = listener.events[n_events:]
        rec["streaming.sessions_out"] = _parquet_rows(sessions_dir) - sessions_before
        return rec

    # --- correctness ---------------------------------------------------

    def check(self) -> list[str]:
        """Compare the warehouse with a recompute from the generator."""
        from roborock_data_pipeline_spark.sources import sinks

        problems = []
        s, w = self.spark, self.warehouse
        recs = pd.DataFrame(self.fleet.records, columns=[
            "timestamp", "device_name", "start_time", "duration_minutes", "area_sqm",
            "clean_mode", "clean_way", "error_code", "task_status"])
        recs["date"] = recs["start_time"].dt.strftime("%Y-%m-%d")

        got = sinks.read_table(s, w, "cleaning_records").toPandas()
        keys = sorted(zip(got["device_name"], pd.to_datetime(got["start_time"])))
        want = sorted(zip(recs["device_name"], pd.to_datetime(recs["start_time"])))
        if keys != want:
            problems.append(f"cleaning_records: {len(keys)} rows held, "
                            f"{len(want)} generated, {len(set(keys))} distinct")

        polls = pd.DataFrame(self.fleet.status, columns=[
            "timestamp", "device_name", "state", "battery", "fan_power",
            "water_box_status", "water_box_mode", "mop_mode", "error_code",
            "clean_time", "clean_area"])
        polls["tick"] = [i // (len(self.fleet.devices) * POLLS_PER_TICK)
                         for i in range(len(polls))]
        per_tick = polls.groupby(["device_name", "tick"]).agg(
            n=("state", "size"), t=("clean_time", "sum")).groupby(level=0).cumsum()
        want_cs = sorted((d, int(r.n), int(r.t)) for (d, _), r in per_tick.iterrows())
        cs = sinks.read_table(s, w, "clean_summary").toPandas()
        got_cs = sorted(zip(cs["device_name"], cs["total_clean_count"].astype(int),
                            cs["total_clean_time"].astype(int)))
        if got_cs != want_cs:
            problems.append(f"clean_summary: {len(got_cs)} rows, {len(want_cs)} expected")

        daily = self.pipeline.read_daily_summary(s, w).toPandas().sort_values("date")
        rebuild = recs.groupby("date").agg(
            total_cleanings=("area_sqm", "size"), total_area_m2=("area_sqm", "sum"),
            total_time_min=("duration_minutes", "sum"), avg_area_m2=("area_sqm", "mean"),
            avg_time_min=("duration_minutes", "mean")).reset_index()
        if not _frames_match(daily, rebuild, "date", {"total_time_min": "floor"}):
            problems.append("daily_summary differs from a full rebuild")

        life = self.pipeline.read_device_lifetime(s, w).toPandas()
        rebuild = recs.groupby("device_name").agg(
            total_clean_count=("area_sqm", "size"), total_clean_area=("area_sqm", "sum"),
            total_clean_time=("duration_minutes", "sum")).reset_index()
        if not _frames_match(life, rebuild, "device_name", {"total_clean_time": "floor"}):
            problems.append("device_lifetime differs from a full rebuild")

        sessions = s.read.parquet(sinks.table_path(w, "cleaning_history_stream")).count()
        if sessions != self.fleet.sessions:
            problems.append(f"sessions: {sessions} detected, {self.fleet.sessions} planted")
        return problems

    def footprint(self) -> dict:
        wh_files, wh_bytes = _dir_size(self.warehouse)
        return {"files": wh_files, "bytes": wh_bytes,
                "input_bytes": self.fleet.bytes_written,
                "records": len(self.fleet.records)}


def _frames_match(got: pd.DataFrame, want: pd.DataFrame, key: str,
                  truncated: dict[str, str]) -> bool:
    """Same keys and values; rounded columns within half a cent of
    the exact value, truncated ones exactly equal to the floor."""
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    if list(got[key]) != list(want[key]):
        return False
    for col in want.columns:
        if col == key:
            continue
        g, e = got[col].astype(float), want[col].astype(float)
        if col in truncated:
            ok = (g == e.apply(int)).all()
        elif col.startswith("total_cleanings") or col == "total_clean_count":
            ok = (g == e).all()
        else:
            ok = ((g - e).abs() <= 0.005 + 1e-9).all()
        if not ok:
            return False
    return True
