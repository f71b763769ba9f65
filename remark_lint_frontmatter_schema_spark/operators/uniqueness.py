"""Key-uniqueness check with explicit skew handling (SURVEY.md A6).

north_rule mandate: "clip_id uniqueness via salted hash-partitioned
aggregation with explicit skew handling". The two-phase plan:

  phase 1: groupBy(key, salt = pmod(spark_partition_id(), n_salts))
           .count() — a hot key's rows split across up to n_salts
           reducers because the salt varies WITHIN a key (it derives
           from the row's input partition, never from the key itself —
           a key-derived salt like hash(key) % n would be constant per
           key and split nothing)
  phase 2: groupBy(key).sum(partial_count) — tiny relation (at most one
           row per (key, salt)), then filter cnt > 1

Spark's hash aggregate already does map-side partial counts, which handles
*moderate* skew; the explicit salt makes the protection visible,
bounded (n_salts) and portable to aggregates without partial-agg
support. Duplicate keys become violation rows
(``constraint_id='unique:<key>'``) shaped exactly like the DSL checks so
sinks union cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .validate import violation_rows


def duplicate_keys(df: DataFrame, key: str, *, n_salts: int = 32,
                   salted: bool = True) -> DataFrame:
    """Keys appearing more than once, with their multiplicity."""
    if salted:
        partial = (
            df.select(key)
            .where(F.col(key).isNotNull())
            .groupBy(F.col(key),
                     F.pmod(F.spark_partition_id(),
                            F.lit(n_salts)).alias("_salt"))
            .agg(F.count(F.lit(1)).alias("_partial"))
        )
        counts = partial.groupBy(key).agg(F.sum("_partial").alias("n_occurrences"))
    else:
        counts = (df.select(key).where(F.col(key).isNotNull())
                  .groupBy(key).agg(F.count(F.lit(1)).alias("n_occurrences")))
    return counts.where(F.col("n_occurrences") > 1)


def uniqueness_violations(df: DataFrame, key: str, *,
                          ruleset_name: str = "engine",
                          n_salts: int = 32,
                          severity: str = "warning") -> DataFrame:
    """Violation rows for duplicated keys, one per duplicate key value."""
    return violation_rows(
        duplicate_keys(df, key, n_salts=n_salts),
        row_id=F.col(key), constraint_id=f"unique:{key}", keyword="unique",
        instance_path=f"/{key}", schema_path=f"#/x-unique/{key}",
        message=F.concat(F.lit(f"Must be unique: '{key}' occurs "),
                         F.col("n_occurrences").cast("string"),
                         F.lit(" times")),
        actual=F.col(key), ruleset_name=ruleset_name, severity=severity)


def duplicate_keys_multi(df: DataFrame, keys: list[str], *,
                         n_salts: int = 32) -> DataFrame:
    """Composite-key duplicates: (key tuple, n_occurrences) for every
    combination appearing more than once — the multi-column form of
    :func:`duplicate_keys`, same salted two-phase plan (the salt is the
    input partition id, so a hot composite value still splits across
    reducers — a key-derived salt would be constant per tuple and split
    nothing). Rows with a NULL in ANY component are excluded, mirroring
    SQL UNIQUE semantics (NULLs compare unequal; required/type own
    missingness)."""
    if not keys or len(keys) < 2:
        raise ValueError("duplicate_keys_multi needs >= 2 key columns "
                         "(use duplicate_keys for one)")
    cols = [F.col(k) for k in keys]
    nn = cols[0].isNotNull()
    for c in cols[1:]:
        nn = nn & c.isNotNull()
    partial = (
        df.select(*keys)
        .where(nn)
        .groupBy(*cols,
                 F.pmod(F.spark_partition_id(),
                        F.lit(n_salts)).alias("_salt"))
        .agg(F.count(F.lit(1)).alias("_partial")))
    counts = partial.groupBy(*keys).agg(
        F.sum("_partial").alias("n_occurrences"))
    return counts.where(F.col("n_occurrences") > 1)


def uniqueness_violations_multi(df: DataFrame, keys: list[str], *,
                                ruleset_name: str = "engine",
                                n_salts: int = 32,
                                severity: str = "warning") -> DataFrame:
    """Violation rows for duplicated composite keys (root-level
    ``x-unique: [col, ...]``); row_id is the '|'-joined component
    values."""
    key_list = ", ".join(keys)
    joined = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    return violation_rows(
        duplicate_keys_multi(df, keys, n_salts=n_salts),
        row_id=joined, constraint_id=f"unique:({key_list})",
        keyword="unique", instance_path="/" + "/".join(keys),
        schema_path=f"#/x-unique/({key_list})",
        message=F.concat(F.lit(f"Must be unique: ({key_list}) occurs "),
                         F.col("n_occurrences").cast("string"),
                         F.lit(" times")),
        actual=joined, ruleset_name=ruleset_name, severity=severity)
