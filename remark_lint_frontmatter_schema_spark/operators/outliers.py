"""Robust univariate outlier detection (median/MAD modified z-score).

The reference's ruleset can only bound a value with static ``minimum``/
``maximum`` — at corpus scale the interesting defect is the value that is
legal but *wrong for this dataset* (a 96 kHz clip in a 16 kHz corpus, a
3-hour duration among 10-second clips). The standard robust test is the
modified z-score (Iglewicz & Hoaglin 1993, public method):

    z = 0.6745 * (x - median) / MAD,    outlier iff |z| > k  (k = 3.5)

median/MAD instead of mean/stddev because both have a 50% breakdown
point — the outliers being hunted cannot drag the threshold.

Plan shape (three passes, each column-pruned to ONE numeric column):

  1. ``median(x)``                      -> 1-row relation
  2. ``median(abs(x - med))``           -> 1-row relation (needs pass 1)
  3. filter ``|z| > k``                 -> violation rows

The 1-row stats relations join back via broadcast nested-loop (Spark
auto-broadcasts a 1-row side), so nothing shuffles — the only costs are
the scans, and the medians.

Exact vs approx, MEASURED on 64M rows (dur_ms, local[32], warm):
exact ``percentile`` 5.4 s; ``approx_percentile`` 49 s at accuracy
10000, 6 s at 1000, 2.4 s at 100. Exact aggregates a per-partition
value->count map, so it is the FAST path whenever the column's distinct
cardinality is bounded (durations, rates, sizes) — its risk is memory,
not time: at 10^12 rows of high-cardinality doubles that map is
unbounded, and ``approx=True`` (GK sketch: mergeable, bounded memory,
rank error <= 1/accuracy) is the safe path. Default accuracy 1000
(0.1% rank error — far tighter than any sane k) costs about the same
as exact; 10000 pays ~9x for precision an outlier gate cannot use.
Exact is the default because the small-SF oracle compares values.

``MAD == 0`` (majority-constant column) degenerates z to infinity for
any deviation; the check then flags exactly the values different from
the median (fail-closed, documented), matching the common "MAD fallback"
guidance rather than dividing by zero.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .validate import violation_rows

_MZ = 0.6745  # standard-normal consistency constant (P75 of |N(0,1)|)


def robust_stats(df: DataFrame, value_col: str, *,
                 group_col: str | None = None, approx: bool = False,
                 accuracy: int = 1000) -> DataFrame:
    """Stats relation for ``value_col``: 1 row ``(med, mad)``, or one row
    per group ``(group_col, med, mad)`` when grouped.

    Lazy — composes into downstream plans as a broadcast side; no
    driver collect. Two pruned scans (median, then MAD). Grouped stats
    assume driver-scale group cardinality (categories/partitions, not
    keys) — the relation is broadcast back onto the fact, so a
    million-group call belongs in a different plan (sort-merge), not
    this one.
    """
    def _p50(c: Column) -> Column:
        return (F.percentile_approx(c, F.lit(0.5), F.lit(accuracy))
                if approx else F.percentile(c, F.lit(0.5)))

    x = F.col(value_col).cast("double")
    # estimate med/MAD from the FINITE mass only: one NaN ranks above
    # everything in Spark's percentile, so a heavily-NaN column would
    # yield med=NaN and flag EVERY row; non-finite rows still flag as
    # outliers downstream (NaN/Inf deviations compare > k), they just
    # cannot poison the threshold
    x = F.when(~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))), x)
    if group_col is None:
        med = df.select(x.alias("_x")).agg(_p50(F.col("_x")).alias("med"))
        dev = F.abs(F.col("_x") - F.col("med"))
        return (df.select(x.alias("_x")).crossJoin(F.broadcast(med))
                .agg(F.first("med").alias("med"), _p50(dev).alias("mad")))
    g = F.col(group_col)
    med = (df.select(g.alias(group_col), x.alias("_x"))
           .groupBy(group_col).agg(_p50(F.col("_x")).alias("med")))
    dev = F.abs(F.col("_x") - F.col("med"))
    return (df.select(g.alias(group_col), x.alias("_x"))
            .join(F.broadcast(med), group_col)
            .groupBy(group_col).agg(_p50(dev).alias("mad"),
                                    F.first("med").alias("med"))
            .select(group_col, "med", "mad"))


def outlier_scores(df: DataFrame, value_col: str, *, row_id: str,
                   k: float = 3.5, group_col: str | None = None,
                   approx: bool = False,
                   accuracy: int = 1000) -> DataFrame:
    """Rows whose modified z-score exceeds ``k``:
    ``(row_id[, group_col], value double, z double)``. With ``group_col``
    the median/MAD are per group — "legal globally, anomalous for THIS
    category" (a 48 kHz clip in the telephone-speech split). NULL values
    are skipped (NULL == absent, the engine's presence-guard semantics);
    NULL groups are skipped with them (no stats to compare against)."""
    stats = robust_stats(df, value_col, group_col=group_col,
                         approx=approx, accuracy=accuracy)
    v = F.col("value")
    z = F.when(F.col("mad") > 0,
               F.lit(_MZ) * F.abs(v - F.col("med")) / F.col("mad"))
    is_out = F.when(F.col("mad") > 0, z > F.lit(float(k))) \
              .otherwise(v != F.col("med"))
    base_cols = [F.col(row_id).cast("string").alias("row_id")]
    out_cols = ["row_id"]
    if group_col is not None:
        base_cols.append(F.col(group_col))
        out_cols.append(group_col)
    fact = (df.select(*base_cols,
                      F.col(value_col).cast("double").alias("value"))
            .where(F.col("value").isNotNull()))
    joined = (fact.crossJoin(F.broadcast(stats)) if group_col is None
              else fact.join(F.broadcast(stats), group_col))
    return joined.where(is_out).select(
        *out_cols, "value", F.round(z, 6).alias("z"))


def outlier_violations(df: DataFrame, value_col: str, *, row_id: str,
                       k: float = 3.5, group_col: str | None = None,
                       approx: bool = False,
                       accuracy: int = 1000,
                       ruleset_name: str = "engine",
                       severity: str = "warning") -> DataFrame:
    """Violation rows for the ``x-outlier`` declarative table check.
    Grouped checks carry the group value as ``partition_id`` (the
    per-partition verdict addressing)."""
    scored = outlier_scores(df, value_col, row_id=row_id, k=k,
                            group_col=group_col, approx=approx,
                            accuracy=accuracy)
    return violation_rows(
        scored, row_id=F.col("row_id"),
        partition_id=("all" if group_col is None
                      else F.col(group_col).cast("string")),
        constraint_id=f"outlier:{value_col}", keyword="outlier",
        instance_path=f"/{value_col}",
        schema_path=f"#/x-outlier/{value_col}",
        message=F.concat(F.lit(f"Robust outlier on `{value_col}`: |z| = "),
                         F.coalesce(F.col("z").cast("string"), F.lit("inf")),
                         F.lit(f" exceeds {k}")),
        actual=F.col("value"), ruleset_name=ruleset_name, severity=severity)


def volume_anomalies(df: DataFrame, ts_col: str, *, unit: str = "day",
                     k: float = 3.5, approx: bool = False) -> DataFrame:
    """Ingest-volume anomaly detection: time buckets whose ROW COUNT is a
    median/MAD outlier against the other buckets —
    ``(bucket, value, z)`` rows for |modified z| > ``k``.

    The monitoring question behind it: "did some hour silently ingest
    half (or five times) the usual volume?" — a pipeline-health signal
    no per-row keyword can express, complementing x-calendar (which
    catches EMPTY buckets but not thin or flooded ones) and the
    manifest's run-over-run volume regression (which compares runs, not
    intra-run buckets).

    One keys-only hash aggregate reduces the table to the n_buckets
    count relation; the median/MAD passes then run on that driver-scale
    relation, so ``approx`` exists only for interface symmetry. NULL
    timestamps are absent (never a bucket). MAD == 0 (majority of
    buckets identical) falls back to flagging any bucket differing from
    the median — the robust_stats fail-closed rule."""
    if unit not in ("minute", "hour", "day", "week", "month"):
        raise ValueError(f"unsupported unit {unit!r}")
    t = F.col(ts_col)
    buckets = (df.where(t.isNotNull())
                 .groupBy(F.date_trunc(unit, t).alias("bucket"))
                 .agg(F.count(F.lit(1)).alias("n_rows")))
    return (outlier_scores(buckets, "n_rows", row_id="bucket", k=k,
                           approx=approx)
            .select(F.col("row_id").alias("bucket"), "value", "z"))


def volume_violations(df: DataFrame, ts_col: str, *, unit: str = "day",
                      k: float = 3.5, by: str | None = None,
                      ruleset_name: str = "engine",
                      severity: str = "warning") -> DataFrame:
    """Violation rows for the ``x-volume`` table check: one row per
    anomalous time bucket (x-calendar's thin/flooded-bucket companion).

    ``by`` scores each bucket against ITS GROUP's median/MAD ("typical
    hourly volume per event type" — a type that floods while another
    thins is invisible to the global form, which sees the sum). One
    (group, bucket) keys-only aggregate; the group value rides as
    ``partition_id`` (the x-outlier grouped convention) and NULL
    by-values are skipped (no stats to compare against)."""
    if unit not in ("minute", "hour", "day", "week", "month"):
        raise ValueError(f"unsupported unit {unit!r}")
    t = F.col(ts_col)
    keys = [F.date_trunc(unit, t).alias("bucket")]
    if by is not None:
        keys.insert(0, F.col(by).cast("string").alias("_grp"))
    buckets = (df.where(t.isNotNull()).groupBy(*keys)
                 .agg(F.count(F.lit(1)).alias("n_rows")))
    bad = outlier_scores(buckets, "n_rows", row_id="bucket", k=k,
                         group_col="_grp" if by is not None else None)
    return violation_rows(
        bad, row_id=F.col("row_id"),
        partition_id=F.col("_grp") if by is not None else "all",
        constraint_id=f"volume:{ts_col}"
        + (f":by={by}" if by is not None else ""),
        keyword="x-volume", instance_path=f"/{ts_col}",
        schema_path=f"#/x-volume/{ts_col}",
        message=F.concat(
            F.lit(f"Must have typical {unit} row volume "
                  f"(median/MAD |z| <= {k:g}): bucket has "),
            F.col("value").cast("long").cast("string"),
            F.lit(" rows"),
            F.when(F.col("z").isNotNull(),
                   F.concat(F.lit(" (z="),
                            F.round("z", 2).cast("string"),
                            F.lit(")"))).otherwise(F.lit(""))),
        actual=F.col("value").cast("long"), ruleset_name=ruleset_name,
        severity=severity)
