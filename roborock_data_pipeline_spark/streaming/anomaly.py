"""Stateful streaming anomaly detection (SURVEY sec 2.I T2 -- second
custom stateful operator).

The reference's monitor only detects categorical edges
(cleaning->idle); a fleet pipeline also needs NUMERIC anomaly edges --
a battery draining 10x too fast, an area counter jumping backwards.
This operator keeps a per-device exponentially-weighted mean/variance
(Welford-style EWMA) in `GroupState` and emits an alert row whenever
a reading deviates more than `threshold` sigmas from the running
estimate. EWMA state is three doubles per device -- constant memory
per key, checkpoint-durable, and the warm-up count gate stops the
first readings from alerting on an uninitialized estimate.

Deterministic semantics (fixed alpha, sequential update in ts order)
so the pytest can assert exact alert sets; the batch-recursive form
is not ANSI-SQL-expressible, which is exactly why it lives on the
applyInPandasWithState path (the sanctioned custom-stateful slot).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ALERT_SCHEMA = T.StructType([
    T.StructField("device_name", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("value", T.DoubleType(), False),
    T.StructField("ewma", T.DoubleType(), False),
    T.StructField("zscore", T.DoubleType(), False),
])

EWMA_STATE_SCHEMA = T.StructType([
    T.StructField("mean", T.DoubleType(), True),
    T.StructField("var", T.DoubleType(), True),
    T.StructField("n", T.LongType(), True),
])

ALPHA = 0.2
WARMUP = 5
THRESHOLD = 3.0


def _detect_anomalies(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (device,) = key
    mean, var, n = state.get if state.exists else (None, None, 0)
    out = []
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("ts")
        for row in pdf.itertuples():
            x = float(row.value)
            if n == 0:
                mean, var = x, 0.0
            else:
                # check BEFORE updating: the reading must not pull the
                # estimate toward itself and mask its own anomaly
                if n >= WARMUP and var > 0:
                    z = (x - mean) / (var**0.5)
                    if abs(z) > THRESHOLD:
                        out.append((device, row.ts, x, mean, round(z, 4)))
                d = x - mean
                mean = mean + ALPHA * d
                var = (1 - ALPHA) * (var + ALPHA * d * d)
            n += 1
    state.update((mean, var, n))
    if out:
        yield pd.DataFrame(
            out, columns=["device_name", "ts", "value", "ewma", "zscore"]
        )


def detect_anomalies_stream(readings: DataFrame) -> DataFrame:
    """(device_name, ts, value) readings -> alert rows, per-device
    EWMA state carried across micro-batches."""
    return readings.groupBy("device_name").applyInPandasWithState(
        _detect_anomalies,
        outputStructType=ALERT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
