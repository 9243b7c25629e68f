"""Central tracking for caches that deliberately OUTLIVE a query call.

The r11 two-model persist audit (PERSIST_AUDIT.json) kept a handful of
persists exactly where the warm-rerun model wins 2-9x (bench.py's
min-of-N convention; any session re-invoking a query) -- but the
contract ("caller must spark.catalog.clearCache() between queries")
lived only in docstrings. ADVICE r11 (operators/dedup.py:146): a
long-lived session that misses the prose contract accumulates
unbounded executor cache across queries.

This module enforces the contract in code:

- every deliberately-leaked persist registers here
  (:func:`leaked_persist` / :func:`track`), tagged with the registry
  query that owns it;
- the registry wrapper calls :func:`begin_query` before each query
  run, which releases every tracked cache owned by a DIFFERENT query.

Net effect: same-query warm reruns keep their measured 2-9x win (the
owner's caches survive), while cross-query accumulation is bounded to
ONE query's working set -- a session sweeping the whole registry holds
at most the caches of the query it is currently running. Sessions may
still call :func:`release_all` (or clearCache) for a hard reset; both
stay correct.

Thread model: the registry queries are driver-side and the harness
runs them serially; the lock only guards against a stray background
thread (e.g. a streaming foreachBatch) registering concurrently.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_OWNER: str | None = None
_CACHES: list[tuple[str, DataFrame, object]] = []


def begin_query(name: str) -> int:
    """Start query ``name``: release every tracked cache a DIFFERENT
    query left alive (bounding cross-query accumulation to one
    query's set) while keeping ``name``'s own caches so its warm
    rerun stays warm. Returns the number of caches released."""
    global _OWNER
    with _LOCK:
        drop = [df for owner, df, _ in _CACHES if owner != name]
        _CACHES[:] = [(o, df, h) for o, df, h in _CACHES if o == name]
        _OWNER = name
    for df in drop:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 -- releasing on a dying
            pass  # session must never fail the next query
    return len(drop)


def _plan_key(df: DataFrame):
    """Analyzed-plan identity (Dataset.semanticHash via the JVM
    handle) for same-owner dedup; None when unavailable (then every
    track appends, the pre-r13 behavior)."""
    try:
        return df._jdf.semanticHash()  # noqa: SLF001
    except Exception:  # noqa: BLE001
        return None


def track(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted DataFrame as a deliberate leak
    owned by the currently-running registry query (or '' when called
    outside the registry -- released by any later begin_query).

    ADVICE r12 (low): tracked entries dedup by ANALYZED-PLAN identity
    within an owner -- a warm rerun of an iterative query (pagerank
    tracks one frame per iteration per run) re-tracks plans that are
    semantically identical to the previous run's, and Spark's
    CacheManager already maps them to the same cache entry; keeping
    one handle per plan bounds the driver-side list (and any
    executor growth) across unbounded warm reruns while the blocks
    stay warm (nothing is unpersisted on the dedup path)."""
    owner = None
    key = _plan_key(df)
    with _LOCK:
        owner = _OWNER or ""
        if key is not None and any(
            o == owner and h == key for o, _, h in _CACHES
        ):
            return df  # same plan already tracked; blocks stay warm
        _CACHES.append((owner, df, key))
    return df


def leaked_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + track(): the one-call form for the audit-kept
    persist sites whose cache intentionally outlives the query."""
    df = df.persist() if storage_level is None else df.persist(storage_level)
    return track(df)


def release_all() -> int:
    """Hard reset: unpersist every tracked cache regardless of owner.
    For session teardown / tests; returns the number released."""
    global _OWNER
    with _LOCK:
        drop = [df for _, df, _h in _CACHES]
        _CACHES.clear()
        _OWNER = None
    for df in drop:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001
            pass
    return len(drop)


def tracked_count() -> int:
    with _LOCK:
        return len(_CACHES)
