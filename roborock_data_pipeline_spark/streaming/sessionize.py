"""Stateful streaming sessionization (SURVEY sec 2.I T2).

The reference's continuous monitor (pipeline.py:92-196) keeps two
in-memory dicts keyed by device -- previous status and
session-start battery -- and emits a CleaningRecord when a device
transitions cleaning->idle. State dies with the process (sec 3.3).

Streaming form here: `applyInPandasWithState` keyed by device with a
(prev_state, start_ts, start_battery) state tuple, checkpointable so
state survives restarts -- strictly better than the reference. It is
the form for a long-running stream. The CLI's monitor mode
(pipeline.mode_monitor) runs the same state machine as a batch fold
per call, with the same state tuple in a parquet file, and
tests/test_streaming.py pins the two equal. The batch shape over a
whole table (oracle-checked) is operators/windows.py::q_session_edges.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from roborock_data_pipeline_spark.schemas import CLEANING_STATES, IDLE_STATES

# Emitted on each detected session end (cf. CleaningRecord,
# roborock_collector.py:16-28 -- the live-captured shape).
SESSION_SCHEMA = T.StructType([
    T.StructField("device_name", T.StringType(), False),
    T.StructField("session_start", T.TimestampType(), True),
    T.StructField("session_end", T.TimestampType(), False),
    T.StructField("battery_start", T.IntegerType(), True),
    T.StructField("battery_end", T.IntegerType(), True),
])

STATE_SCHEMA = T.StructType([
    T.StructField("prev_state", T.StringType(), True),
    T.StructField("start_ts", T.TimestampType(), True),
    T.StructField("start_battery", T.IntegerType(), True),
])


def _detect_sessions(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-device edge detection, mirroring pipeline.py:132-163:
    cleaning-start edge captures battery+ts; idle edge after cleaning
    emits the completed session."""
    (device,) = key
    prev_state, start_ts, start_battery = (
        state.get if state.exists else (None, None, None)
    )
    out = []
    # a device's micro-batch group can span multiple Arrow chunks
    # (>maxRecordsPerBatch rows) delivered in arbitrary relative
    # order -- concatenate before sorting or edges come out wrong
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("ts")
        for row in pdf.itertuples():
            cur = str(row.state).lower()
            was_cleaning = prev_state in CLEANING_STATES
            if cur in CLEANING_STATES and not was_cleaning:
                start_ts = row.ts
                start_battery = int(row.battery) if pd.notna(row.battery) else None
            elif was_cleaning and cur in IDLE_STATES:
                out.append(
                    (
                        device,
                        start_ts,
                        row.ts,
                        start_battery,
                        int(row.battery) if pd.notna(row.battery) else None,
                    )
                )
                start_ts, start_battery = None, None
            prev_state = cur
    state.update((prev_state, start_ts, start_battery))
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "device_name",
                "session_start",
                "session_end",
                "battery_start",
                "battery_end",
            ],
        )


def detect_sessions_stream(status_stream: DataFrame) -> DataFrame:
    """status ticks (device_name, ts, state, battery) -> completed
    sessions, as an unbounded stream with per-device state."""
    return status_stream.groupBy("device_name").applyInPandasWithState(
        _detect_sessions,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
