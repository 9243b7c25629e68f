"""Query registry: the single source of truth for the driver contract.

Each operator module registers its queries with the :func:`query`
decorator, providing the Spark implementation and (when the semantics
are ANSI-SQL-expressible) a DuckDB oracle string. ``__spark_entry__``
then assembles ``queries()`` / ``oracle_sql()`` from here.

Column-name parity rule (driver compares by sorted column name):
alias every computed column identically in the Spark code and the
oracle SQL.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does rows-only check
    doc: str


_REGISTRY: dict[str, QuerySpec] = {}

# Operator modules that register queries on import. Order is the
# SURVEY sec 7 milestone order. Listing order MATTERS for the driver,
# which checks a fixed-size prefix sample of queries(): all_queries()
# therefore pulls each accuracy gate (``X_check``) directly behind its
# base query ``X`` so any prefix that contains a rows-only sketch also
# contains its oracle-checked gate (VERDICT r10 directive #7).
_OPERATOR_MODULES = [
    "roborock_data_pipeline_spark.operators.aggregates",
    "roborock_data_pipeline_spark.operators.projections",
    "roborock_data_pipeline_spark.operators.filters",
    "roborock_data_pipeline_spark.operators.topk",
    "roborock_data_pipeline_spark.operators.incremental",
    "roborock_data_pipeline_spark.operators.windows",
    "roborock_data_pipeline_spark.operators.joins",
    "roborock_data_pipeline_spark.operators.setops",
    "roborock_data_pipeline_spark.operators.dedup",
    "roborock_data_pipeline_spark.operators.text",
    "roborock_data_pipeline_spark.operators.similarity",
    "roborock_data_pipeline_spark.operators.multimodal",
    "roborock_data_pipeline_spark.operators.sql_suite",
    "roborock_data_pipeline_spark.operators.quality",
    "roborock_data_pipeline_spark.operators.clustering",
    "roborock_data_pipeline_spark.operators.linkage",
    "roborock_data_pipeline_spark.operators.graph",
    "roborock_data_pipeline_spark.operators.features",
    "roborock_data_pipeline_spark.operators.layout",
    "roborock_data_pipeline_spark.operators.analytics",
    "roborock_data_pipeline_spark.operators.dq",
    "roborock_data_pipeline_spark.operators.timeseries",
    "roborock_data_pipeline_spark.operators.semistructured",
    "roborock_data_pipeline_spark.operators.udtf_suite",
    "roborock_data_pipeline_spark.operators.accuracy",
]


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a driver-checkable query under ``name``.

    The registered callable is wrapped with
    :func:`functions.cache_tracking.begin_query` so that the caches a
    previous query deliberately left alive (the audit-kept warm-rerun
    persists) are released before a DIFFERENT query runs -- the
    clearCache contract enforced in code (ADVICE r11) instead of
    docstring prose. The module-level symbol stays the UNWRAPPED
    function, so intra-module composition (q_dup_groups calling
    q_near_dup_jaccard) does not re-scope ownership mid-query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from roborock_data_pipeline_spark.functions import cache_tracking

            cache_tracking.begin_query(name)
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(name, scoped, oracle, fn.__doc__ or "")
        return fn

    return deco


def _load_all() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


def all_queries() -> dict[str, QuerySpec]:
    """Registry in driver-facing order: registration order, except that
    every ``X_check`` accuracy gate is emitted immediately after its
    base query ``X``. The driver verifies a prefix sample, so a
    rows-only sketch (oracle=None) is always sampled together with the
    oracle-green gate that bounds its error."""
    _load_all()
    ordered: dict[str, QuerySpec] = {}
    for name, spec in _REGISTRY.items():
        if name.endswith("_check") and name[: -len("_check")] in _REGISTRY:
            continue  # emitted right after its base query below
        ordered[name] = spec
        gate = _REGISTRY.get(f"{name}_check")
        if gate is not None:
            ordered[gate.name] = gate
    # gates whose base name is not itself a registered query (none
    # today) keep their natural position via the loop above
    return ordered


def get_query(name: str) -> QuerySpec:
    _load_all()
    return _REGISTRY[name]
