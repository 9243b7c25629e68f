"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the ten query tables (TPC-H-shaped star schema,
  ``events``, ``documents``, ``embeddings``) at scale factor 0.1, with
  the schemas, value domains and row counts of the engine's sf0.1
  fixtures. The query workloads run on one fixed build of these
  tables (``TABLE_SEED``) so that their expected outputs can be
  committed; the workload seed only orders the queries.
- ``Fleet``: the device cloud the ingest workload polls. Each tick
  adds one parquet file of ``device_status`` polls and one of
  ``cleaning_records`` for a synthetic fleet; everything about it
  comes from the workload seed, and the fleet keeps the ground truth
  the ingest checks compare against.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SF = 0.1

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "small", "large",
             "green", "bright", "dark", "heavy", "light"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget",
              "spring", "valve", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    """``n`` midnight timestamps drawn uniformly from [lo, hi]."""
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int)) + 1
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names[:65], n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })

    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_events)) + start
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, int(15_000 * sf), n_events),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # documents: word soup over a small vocabulary; about one in twenty
    # is an earlier document with " dup" appended (the near-duplicates
    # the dedup and similarity families look for)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return t


def write_tables(out_dir: str, seed: int = TABLE_SEED, sf: float = SF) -> None:
    """Write the ten query tables as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- ingest: the device cloud -------------------------------------------

CLEANING = ["cleaning", "segment_cleaning", "zone_cleaning", "spot_cleaning"]
RESTING = ["charger", "idle", "paused", "charging"]
_FAN = ["quiet", "balanced", "turbo", "max"]
_MOP = ["standard", "deep", "off"]
_MODES = ["vacuum", "mop", "vacuum_mop"]
_WAYS = ["auto", "zone", "spot", "segment"]


def _status_schema() -> pa.Schema:
    return pa.schema([
        ("timestamp", pa.timestamp("us")), ("device_name", pa.string()),
        ("state", pa.string()), ("battery", pa.int32()),
        ("fan_power", pa.string()), ("water_box_status", pa.int32()),
        ("water_box_mode", pa.int32()), ("mop_mode", pa.string()),
        ("error_code", pa.int32()), ("clean_time", pa.int32()),
        ("clean_area", pa.float64()),
    ])


def _records_schema() -> pa.Schema:
    return pa.schema([
        ("timestamp", pa.timestamp("us")), ("device_name", pa.string()),
        ("start_time", pa.timestamp("us")), ("duration_minutes", pa.float64()),
        ("area_sqm", pa.float64()), ("clean_mode", pa.string()),
        ("clean_way", pa.string()), ("error_code", pa.int32()),
        ("task_status", pa.string()),
    ])


# The fleet's traffic follows the reference's documented cadences
# (BASELINE.md): one tick is one record sync, hourly; status is polled
# every 60 s, so a tick holds 60 polls per device; a household robot
# cleans one or two times a day, each cleaning one record.
POLL_INTERVAL_S = 60
TICK_S = 3600
POLLS_PER_TICK = TICK_S // POLL_INTERVAL_S
CLEANINGS_PER_DAY = (1, 2)
# One robot per household. A single household lands a record on one
# hourly tick in sixteen; at 64 households a tick carries on average
# 64 * 1.5 / 24 = 4 records, and 98% of ticks carry at least one, so
# nearly every tick's record sync appends.
DEVICES = 64
# a cleaning session lasts this many polls (minutes), and fits in its
# hour with a resting poll before and after it
SESSION_POLLS = (15, 46)


class Fleet:
    """A seeded fleet of robot vacuums that lands one file per tick.

    Each tick covers one simulated hour of ``POLLS_PER_TICK`` status
    polls per device. At the start of each simulated day every device
    draws how often it cleans that day (``CLEANINGS_PER_DAY``) and in
    which hours; a cleaning hour plants one complete session (a run of
    cleaning polls closed by a resting poll) inside the hour, so
    sessions never straddle ticks. Every planted session also yields
    one ``cleaning_records`` row whose ``start_time`` is the session's
    first cleaning poll, so per-device ``start_time`` rises across
    ticks. Rows are shuffled within each file.

    ``status`` and ``records`` keep every row generated (the ingest
    checks recompute the warehouse from them); ``sessions`` counts the
    planted sessions.
    """

    def __init__(self, cloud_dir: str, seed: int):
        self.cloud_dir = cloud_dir
        self.rng = np.random.default_rng(seed)
        self.devices = [f"robot-{i:03d}" for i in range(DEVICES)]
        self.battery = {d: int(self.rng.integers(40, 101)) for d in self.devices}
        self.epoch = dt.datetime(2024, 3, 1) + dt.timedelta(
            hours=int(self.rng.integers(0, 24 * 30)))
        self.day = None
        self.plan: dict[str, set[int]] = {}
        self.ticks = 0
        self.sessions = 0
        self.status: list[tuple] = []
        self.records: list[tuple] = []
        self.bytes_written = 0
        for name in ("device_status", "cleaning_records"):
            os.makedirs(os.path.join(cloud_dir, name), exist_ok=True)

    def _plan_day(self, day: dt.date) -> None:
        """Draw each device's cleaning hours for ``day``."""
        lo, hi = CLEANINGS_PER_DAY
        self.day = day
        self.plan = {d: {int(h) for h in self.rng.choice(
            24, int(self.rng.integers(lo, hi + 1)), replace=False)} for d in self.devices}

    def _device_hour(self, device: str, hour: dt.datetime, synced: dt.datetime):
        rng = self.rng
        step = dt.timedelta(seconds=POLL_INTERVAL_S)
        # states per poll: resting, with one block of cleaning polls
        # and a resting poll after it if the device cleans this hour
        states = [str(s) for s in rng.choice(RESTING, POLLS_PER_TICK)]
        cleans = hour.hour in self.plan[device]
        if cleans:
            length = int(rng.integers(*SESSION_POLLS))
            first = int(rng.integers(1, POLLS_PER_TICK - length))
            states[first:first + length] = [str(rng.choice(CLEANING))] * length
        status, records = [], []
        session_start = None
        clean_time, clean_area = 0, 0.0
        for k, state in enumerate(states):
            ts = hour + k * step + dt.timedelta(
                seconds=int(rng.integers(0, POLL_INTERVAL_S)),
                microseconds=int(rng.integers(0, 10**6)))
            cleaning = state in CLEANING
            if cleaning:
                self.battery[device] = max(5, self.battery[device] - int(rng.integers(0, 3)))
                clean_time += 1
                clean_area += round(float(rng.uniform(0.5, 2.0)), 2)
                if session_start is None:
                    session_start = ts
            else:
                self.battery[device] = min(100, self.battery[device] + int(rng.integers(0, 2)))
                if session_start is not None:
                    minutes = (ts - session_start).total_seconds() / 60.0
                    records.append((
                        synced, device, session_start, round(minutes, 2),
                        round(clean_area, 2),
                        str(rng.choice(_MODES)), str(rng.choice(_WAYS)),
                        None if rng.random() < 0.9 else int(rng.integers(1, 30)),
                        "completed" if rng.random() < 0.9 else "aborted",
                    ))
                    session_start = None
            status.append((
                ts, device, state, self.battery[device], str(rng.choice(_FAN)),
                int(rng.integers(0, 2)), int(rng.choice([200, 201, 202, 203])),
                str(rng.choice(_MOP)),
                None if rng.random() < 0.95 else int(rng.integers(1, 30)),
                clean_time, round(clean_area, 2),
            ))
        self.sessions += int(cleans)
        return status, records

    def land_tick(self) -> int:
        """Generate the next simulated hour and land it in the cloud
        directory. Returns the number of rows written."""
        hour = self.epoch + dt.timedelta(hours=self.ticks)
        if hour.date() != self.day:
            self._plan_day(hour.date())
        synced = hour + dt.timedelta(hours=1)
        status, records = [], []
        for device in self.devices:
            s, r = self._device_hour(device, hour, synced)
            status += s
            records += r
        for rows, schema, name in (
            (status, _status_schema(), "device_status"),
            (records, _records_schema(), "cleaning_records"),
        ):
            order = self.rng.permutation(len(rows))
            shuffled = [rows[i] for i in order]
            table = pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in shuffled], schema=schema)
            folder = os.path.join(self.cloud_dir, name)
            path = os.path.join(folder, f"tick-{self.ticks:05d}.parquet")
            # land atomically under a hidden name Spark's file sources
            # skip: a reader never lists a half-written file
            staged = os.path.join(folder, f".tick-{self.ticks:05d}.tmp")
            pq.write_table(table, staged)
            os.replace(staged, path)
            self.bytes_written += os.path.getsize(path)
        self.status += status
        self.records += records
        self.ticks += 1
        return len(status) + len(records)


if __name__ == "__main__":
    write_tables(sys.argv[1])
