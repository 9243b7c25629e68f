"""Zero-extra-pass observability: metrics and expectation gates.

The reference logs row counts by re-counting after each write (reference
pipeline.py logs `len(rows)` it just built in Python). On Spark,
re-counting means re-running the plan; the engine-native form is
`DataFrame.observe` -- named aggregate expressions evaluated AS the
job runs, collected from the same pass that produced the output.

Two layers:
- ``run_with_metrics``: attach metric expressions, force the plan
  (noop write by default or any caller-provided action), return the
  metrics dict. Zero additional scans.
- ``expect``: data-contract gate (the Great-Expectations/dbt-test
  shape): declare row-level validity predicates; after the single
  pass, raise ``ExpectationError`` if the violation fraction exceeds
  the budget. Because the check rides the job, a pipeline can gate
  publishing on contract compliance without re-reading anything --
  pair with the staged-atomic sinks: observe on the staging write,
  publish only if the gate passes.

100 TB: observation metrics are Spark AccumulatorV2-style aggregates
merged on the driver -- bytes per metric, independent of data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class ExpectationError(AssertionError):
    """A data-contract expectation failed; carries the metrics."""

    def __init__(self, message: str, metrics: dict):
        super().__init__(message)
        self.metrics = metrics


def run_with_metrics(
    df: DataFrame, metrics: dict[str, F.Column], action=None
) -> dict:
    """Evaluate ``metrics`` (name -> aggregate Column) in the same job
    that executes ``df``. ``action(df)`` forces execution (default:
    noop-format write -- full computation, no sink I/O). Returns the
    observed values."""
    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    if action is None:
        observed.write.format("noop").mode("overwrite").save()
    else:
        action(observed)
    return obs.get


def expect(
    df: DataFrame,
    expectations: dict[str, F.Column],
    max_violation_frac: float = 0.0,
    action=None,
) -> dict:
    """Gate a job on row-level contracts. ``expectations`` maps name ->
    BOOLEAN Column that must hold per row. Runs ONE job; raises
    ``ExpectationError`` naming every breached contract if its
    violation fraction exceeds ``max_violation_frac``; otherwise
    returns the metrics (n_rows + per-contract violation counts)."""
    metrics: dict[str, F.Column] = {"n_rows": F.count(F.lit(1))}
    for name, cond in expectations.items():
        metrics[f"viol_{name}"] = F.sum(
            F.when(~cond | cond.isNull(), 1).otherwise(0)
        )
    got = run_with_metrics(df, metrics, action=action)
    n = got["n_rows"] or 0
    breached = {
        name: got[f"viol_{name}"]
        for name in expectations
        if n > 0 and (got[f"viol_{name}"] or 0) / n > max_violation_frac
    }
    if breached:
        raise ExpectationError(
            "data contract breached: "
            + ", ".join(
                f"{k} ({v}/{n} rows)" for k, v in sorted(breached.items())
            ),
            got,
        )
    return got
