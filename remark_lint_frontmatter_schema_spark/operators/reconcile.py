"""Aggregate reconciliation: a stored per-key aggregate must equal the
aggregate recomputed from the underlying fact rows.

The classic warehouse consistency check (order header total vs sum of its
line items; shard row-count manifest vs actual rows; per-day clip-count
rollup vs the clips table). x-ref proves the KEY exists; x-unique proves
it exists once; reconcile proves the VALUE derived from the fact rows
matches what the dimension claims — the last leg of referential trust.

Plan shape at 10^12 rows: ONE map-side-combined aggregate over the fact
projected to (key, value) — the shuffle carries per-partition partials,
never rows — then one equi-join with the dimension projected to (key,
stored value). Both sides shuffle on the same key; no window, no
collect. Skewed keys cost what the aggregate costs (partials absorb hot
keys map-side); the join's skew is AQE's to split.

Missing fact groups (a dimension row whose key has NO fact rows) default
to violations — a stored aggregate with no underlying rows is a defect
(``on_missing="ignore"`` for dims that legitimately lead the facts).
Fact keys absent from the dimension are x-ref's finding, not this one's
(run both; they compose in one ruleset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .validate import violation_rows

_AGGS = {
    "sum": F.sum,
    "count": lambda c: F.count(c),
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


def reconcile(fact: DataFrame, dim: DataFrame, *, key: str,
              fact_key: str | None = None, fact_value: str,
              dim_value: str, agg: str = "sum",
              tolerance: float = 0.0) -> DataFrame:
    """Per-key reconciliation report.

    Output: one row per dimension key — key (named after ``key``),
    expected (the dim's stored value), actual (the fact-side aggregate,
    NULL when the key has no fact rows), diff (actual - expected), and
    status in ('ok', 'mismatch', 'missing_fact'). ``tolerance`` is the
    absolute slack before a difference becomes a mismatch (0 = exact;
    use ~1 cent for money recomputed in floating point).
    """
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    fk = fact_key or key
    agged = (fact
             .select(F.col(fk).alias("_rk"),
                     F.col(fact_value).cast("double").alias("_v"))
             .where(F.col("_rk").isNotNull())
             .groupBy("_rk")
             .agg(_AGGS[agg]("_v").cast("double").alias("actual")))
    return report_from_aggregate(agged, dim, key=key,
                                 dim_value=dim_value,
                                 tolerance=tolerance)


def report_from_aggregate(agged: DataFrame, dim: DataFrame, *, key: str,
                          dim_value: str,
                          tolerance: float = 0.0) -> DataFrame:
    """:func:`reconcile`'s second half, for callers that already hold the
    fact-side aggregate as (_rk, actual) — the streaming twin's running
    state is exactly that relation, so batch and stream share this code
    path (stream == batch parity by construction)."""
    if tolerance < 0:
        raise ValueError("tolerance must be >= 0")
    d = dim.select(F.col(key),
                   F.col(dim_value).cast("double").alias("expected")) \
           .where(F.col(key).isNotNull())
    j = d.join(agged, d[key] == agged["_rk"], "left")
    diff = F.col("actual") - F.col("expected")
    # fail-closed ordering: a NULL/NaN stored value can never reconcile
    # (diff is NULL, so the mismatch predicate would silently fall
    # through to 'ok' — the classic NULL-comparison fail-open)
    status = (F.when(F.col("expected").isNull()
                     | F.isnan(F.col("expected")),
                     F.lit("null_stored"))
              .when(F.col("actual").isNull(), F.lit("missing_fact"))
              .when(F.abs(diff) > F.lit(float(tolerance)),
                    F.lit("mismatch"))
              .otherwise(F.lit("ok")))
    return j.select(d[key], F.col("expected"), F.col("actual"),
                    F.round(diff, 6).alias("diff"),
                    status.alias("status"))


def reconcile_violations(fact: DataFrame, dim: DataFrame, *, key: str,
                         fact_key: str | None = None, fact_value: str,
                         dim_value: str, agg: str = "sum",
                         tolerance: float = 0.0,
                         on_missing: str = "violate",
                         ruleset_name: str = "engine",
                         severity: str = "warning") -> DataFrame:
    """Violation rows for every dimension key whose stored value disagrees with the fact-side aggregate beyond
    ``tolerance`` — and, unless ``on_missing="ignore"``, every key with
    no fact rows at all."""
    if on_missing not in ("violate", "ignore"):
        raise ValueError("on_missing must be 'violate' or 'ignore'")
    rep = reconcile(fact, dim, key=key, fact_key=fact_key,
                    fact_value=fact_value, dim_value=dim_value,
                    agg=agg, tolerance=tolerance)
    bad = ["mismatch", "null_stored"] \
        + (["missing_fact"] if on_missing == "violate" else [])
    rep = rep.where(F.col("status").isin(bad))
    mismatch_msg = F.concat(
        F.lit(f"Must reconcile: {agg}({fact_value}) = "),
        F.round(F.col("actual"), 2).cast("string"),
        F.lit(", stored "), F.round(F.col("expected"), 2).cast("string"),
        F.lit(" (diff "), F.round(F.col("diff"), 2).cast("string"),
        F.lit(f", tolerance {tolerance})"))
    missing_msg = F.lit(
        f"Must reconcile: no fact rows support stored '{dim_value}'")
    null_msg = F.lit(
        f"Must reconcile: stored '{dim_value}' is NULL/NaN "
        "(nothing to reconcile against)")
    return violation_rows(
        rep, row_id=F.col(key), constraint_id=f"reconcile:{dim_value}",
        keyword="x-reconcile", instance_path=f"/{dim_value}",
        schema_path=f"#/x-reconcile/{dim_value}",
        message=F.when(F.col("status") == "mismatch", mismatch_msg)
        .when(F.col("status") == "null_stored", null_msg)
        .otherwise(missing_msg),
        actual=F.round(F.col("actual"), 6),
        expected=F.array(F.round(F.col("expected"), 6).cast("string")),
        ruleset_name=ruleset_name, severity=severity)
