"""Functional-dependency check (``x-fd``): a column must be functionally
determined by one or more other columns — every determinant group carries
exactly one dependent value.

The lakehouse analog of "codec determines the container layout" /
"sr_hz is fixed per recording device": violated rows are the minority
values inside a conflicted determinant group, with the group's majority
value reported as ``expected`` (the repair target). JSON Schema has no
row-relating keyword — the reference validates one document at a time
(``/root/reference/index.ts:201-320``) — so like ``x-unique`` /
``x-monotonic`` this is part of the table-level family the engine adds.

Scale design: one ``groupBy(determinants..., dependent).count()`` — the
shuffle carries key columns only and map-side partial aggregation absorbs
hot determinants; the conflicted-group relation (majority + variant
count) is tiny relative to the fact (only groups that actually disagree)
and joins back broadcast-style under AQE. The fact is scanned twice, both
scans pruned to ``row_id + determinants + dependent``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .validate import violation_rows


def fd_conflicts(df: DataFrame, dependent: str,
                 determined_by: list[str]) -> DataFrame:
    """One row per determinant group that violates the FD: the group's
    columns, ``n_variants`` (distinct dependent values), ``n_rows``,
    ``majority`` (most frequent dependent value, ties to the smallest)
    and ``n_majority`` (its count). NULL dependent / determinant values
    are out of scope (``required`` owns presence)."""
    dets = list(determined_by)
    scoped = df.select(*dets, dependent).na.drop(subset=[*dets, dependent])
    counts = (scoped.groupBy(*dets, dependent)
                    .agg(F.count(F.lit(1)).alias("_cnt")))
    # majority via one struct-min: (-count, value) orders count desc then
    # value asc — no window, partial-aggregated like everything else here
    return (counts.groupBy(*dets)
                  .agg(F.count(F.lit(1)).alias("n_variants"),
                       F.sum("_cnt").alias("n_rows"),
                       F.min(F.struct((-F.col("_cnt")).alias("_neg"),
                                      F.col(dependent).alias("_v")))
                        .alias("_m"))
                  .where(F.col("n_variants") > 1)
                  .select(*dets, "n_variants", "n_rows",
                          F.col("_m._v").alias("majority"),
                          (-F.col("_m._neg")).alias("n_majority")))


def fd_strength(df: DataFrame, dependent: str,
                determined_by: list[str]) -> dict:
    """How well the FD holds: ``{n_rows, n_violations, violation_rate,
    holds}`` over the non-null scope — ``n_violations`` is the minimum
    number of rows to drop (or repair to the group majority) to make the
    dependency exact. Two aggregates, shuffles keys only."""
    dets = list(determined_by)
    scoped = df.select(*dets, dependent).na.drop(subset=[*dets, dependent])
    n_rows = scoped.count()
    row = (fd_conflicts(df, dependent, dets)
           .agg(F.sum(F.col("n_rows") - F.col("n_majority")).alias("v"))
           .collect()[0])
    n_viol = int(row["v"] or 0)
    return {"n_rows": n_rows, "n_violations": n_viol,
            "violation_rate": (n_viol / n_rows) if n_rows else 0.0,
            "holds": n_viol == 0}


def fd_discover(df: DataFrame, candidates: list[tuple], *,
                max_violation_rate: float = 0.0) -> list[dict]:
    """Score candidate dependencies and suggest the ones that (almost)
    hold — the induction-side companion to ``x-fd`` (``induce_ruleset``
    drafts per-column constraints; this drafts the cross-column ones).

    ``candidates`` is a list of ``(determined_by, dependent)`` pairs
    (``determined_by`` a list of column names). Each candidate costs two
    keys-only aggregates — candidate sets are meant to be hand-picked
    (an exhaustive column-pair mine is O(c²) scans; pass the pairs a
    human would actually declare). Returns one dict per candidate with
    the :func:`fd_strength` fields plus ``suggested`` (violation_rate <=
    ``max_violation_rate``) — feed suggested pairs straight into
    ``{"x-fd": {"determined_by": [...]}}`` on the dependent's node."""
    out = []
    for determined_by, dependent in candidates:
        s = fd_strength(df, dependent, list(determined_by))
        out.append({"determined_by": list(determined_by),
                    "dependent": dependent, **s,
                    "suggested": s["violation_rate"] <= max_violation_rate})
    return out


def fd_violations(df: DataFrame, dependent: str, determined_by: list[str],
                  *, row_id: str, ruleset_name: str = "engine",
                  severity: str = "warning") -> DataFrame:
    """Violation rows for every row holding a non-majority dependent value inside a conflicted
    determinant group. The majority rows of a conflicted group do NOT
    violate — dropping the violating rows (or repairing them to
    ``expected``) restores the dependency exactly."""
    dets = list(determined_by)
    conflicts = fd_conflicts(df, dependent, dets)
    # dict.fromkeys: row_id may BE a determinant or the dependent — a
    # duplicate name in the projection would make every later reference
    # ambiguous (the sequence.py _pairs_* lesson)
    fact = df.select(*dict.fromkeys([row_id, *dets, dependent])) \
             .na.drop(subset=[*dets, dependent])
    det_desc = ",".join(dets)
    det_vals = F.concat_ws(",", *[F.col(c).cast("string") for c in dets])
    return violation_rows(
        fact.join(conflicts, dets)
        .where(F.col(dependent) != F.col("majority")),
        row_id=F.col(row_id), constraint_id=f"fd:{det_desc}->{dependent}",
        keyword="fd", instance_path=f"/{dependent}",
        schema_path=f"#/properties/{dependent}/x-fd",
        message=F.concat(
            F.lit(f"Must be functionally determined by "
                  f"`{det_desc}`: expected `"),
            F.col("majority").cast("string"),
            F.lit("` for ("), det_vals, F.lit("), got `"),
            F.col(dependent).cast("string"), F.lit("`")),
        actual=F.col(dependent),
        expected=F.array(F.col("majority").cast("string")),
        ruleset_name=ruleset_name, severity=severity)
