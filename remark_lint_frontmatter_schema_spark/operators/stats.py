"""Per-column stats profiler (SURVEY.md §2.4 A3-A5, north_star).

One pass over the table: count, null-count/null-rate, min/max, approximate
distinct (HLL++), approximate quantiles (Spark's built-in sketch) — all in
a single multi-aggregate so the job stays scan-bound. Partial aggregation
(map-side combine) is automatic for every one of these, so the shuffle
carries only per-partition sketch state, never rows.

The t-digest option of SURVEY.md A4 is implemented as mergeable
per-partition digests via ``applyInPandas`` in ``tdigest_quantiles`` — used
only when exact-sketch parity matters; ``percentile_approx`` is the default
scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .validate import to_col, violation_rows

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)

DEFAULT_QUANTILES = (0.25, 0.5, 0.75, 0.95, 0.99)


def column_stats(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    quantiles: tuple = DEFAULT_QUANTILES,
    approx_accuracy: int = 10000,
    group_by: str | None = None,
) -> DataFrame:
    """Long-form stats: one output row per profiled column.

    Output: column, n_rows, n_nulls, n_nonfinite, null_rate,
    min_value/max_value (as string — mixed types in one relation),
    approx_distinct, and q_* columns for numeric inputs. ``group_by``
    yields per-partition profiles. For float/double columns min/max and
    quantiles describe the FINITE mass (one NaN would otherwise poison
    max, one Inf every upper quantile) and ``n_nonfinite`` counts
    NaN/±Inf values — 0 for types that cannot hold them.
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields
                   if not isinstance(f.dataType, (T.BinaryType, T.MapType,
                                                  T.ArrayType, T.StructType))]
    if not columns:
        raise ValueError(
            "column_stats: no profilable columns (binary/map/array/struct "
            "columns are excluded; pass `columns` explicitly)")
    key = ["partition_id"] if group_by else []
    by = [F.col(group_by).cast("string").alias("partition_id")] if group_by else []

    # ONE aggregate over ONE scan for every profiled column (a per-column
    # groupBy + union would rescan the table N times — fatal at 100 TB);
    # the wide agg row is then exploded into the long per-column form.
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n_rows")]
    for i, c in enumerate(columns):
        dt = df.schema[c].dataType
        numeric = isinstance(dt, _NUMERIC)
        is_float = isinstance(dt, (T.FloatType, T.DoubleType))
        ordered = F.col(c)
        if is_float:
            # NaN sorts ABOVE every double in Spark, so one NaN poisons
            # max() (and Inf poisons every quantile above its rank):
            # min/max/quantiles describe the FINITE mass; the non-finite
            # count is its own statistic — a quality engine must surface
            # "2 NaNs", not report max=NaN
            nonfinite = F.isnan(ordered) | (F.abs(ordered)
                                            == F.lit(float("inf")))
            ordered = F.when(~nonfinite, ordered)
            # coalesce: NULL values make the flag NULL, and sum over
            # all-NULLs is NULL — the contract says COUNT, so 0
            nf_agg = F.coalesce(
                F.sum(F.coalesce(nonfinite, F.lit(False)).cast("long")),
                F.lit(0))
        else:
            nf_agg = F.lit(0).cast("long")
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_{i}_nulls"),
            nf_agg.alias(f"_{i}_nonfinite"),
            F.min(ordered).cast("string").alias(f"_{i}_min"),
            F.max(ordered).cast("string").alias(f"_{i}_max"),
            F.approx_count_distinct(F.col(c)).alias(f"_{i}_dist"),
            (F.percentile_approx(ordered, list(quantiles), approx_accuracy)
             .cast("array<double>") if numeric
             else F.array(*[F.lit(None).cast("double") for _ in quantiles])
             ).alias(f"_{i}_qs"),
        ]
    agg = df.groupBy(*by).agg(*aggs)

    entries = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n_rows").alias("n_rows"),
            F.col(f"_{i}_nulls").alias("n_nulls"),
            F.col(f"_{i}_nonfinite").alias("n_nonfinite"),
            (F.col(f"_{i}_nulls") / F.col("_n_rows")).alias("null_rate"),
            F.col(f"_{i}_min").alias("min_value"),
            F.col(f"_{i}_max").alias("max_value"),
            F.col(f"_{i}_dist").alias("approx_distinct"),
            *[F.col(f"_{i}_qs")[j].alias(f"q_{int(q * 100)}")
              for j, q in enumerate(quantiles)],
        )
        for i, c in enumerate(columns)
    ]
    return (agg.select(*key, F.explode(F.array(*entries)).alias("_st"))
               .select(*key, "_st.*"))


# ---------------------------------------------------------------------------
# optional t-digest parity path (SURVEY.md A4): mergeable per-partition
# digests; digests are associative so the driver merge is exact
# ---------------------------------------------------------------------------

# z for the default two-sided 95% interval (Phi^-1(0.975)); a constant,
# not computed, so Spark and any SQL twin agree to the last bit
Z_95 = 1.959963984540054


def rate_ci(df: DataFrame, k_col: str, n_col: str, *,
            z: float = Z_95) -> DataFrame:
    """Attach a Wilson score interval (rate, ci_lo, ci_hi) to an already
    aggregated (k successes, n trials) relation.

    The Wilson interval is the right uncertainty statement for per-group
    violation RATES: the naive Wald interval collapses to width 0 at
    k=0 or k=n (exactly the common cases — a clean partition or a fully
    broken one) and goes negative at small n, while Wilson stays inside
    [0,1] and honestly widens for small groups. That is what lets a
    verdict policy distinguish "0 violations out of 3 rows" (ci_hi ~ 0.56)
    from "0 out of 3M" (ci_hi ~ 0) without a special case. n=0 yields
    NULL rate and bounds (no evidence, not certainty).

    Pure arithmetic over the aggregate relation — adds no shuffle to
    whatever produced (k, n)."""
    k = F.col(k_col).cast("double")
    n = F.col(n_col).cast("double")
    p = k / n
    z2 = float(z) * float(z)
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = F.lit(float(z)) * F.sqrt(p * (1.0 - p) / n
                                    + z2 / (4.0 * n * n)) / denom
    guard = F.col(n_col) > 0
    # clamp to [0,1] AND to contain the point estimate: analytically the
    # Wilson interval always contains p, but at k=0 / k=n the center-half
    # difference is an exact-zero computed as a ~1e-16 residue — without
    # the outer clamp ci_lo would sit a hair above rate
    lo = F.least(F.greatest(center - half, F.lit(0.0)), p)
    hi = F.greatest(F.least(center + half, F.lit(1.0)), p)
    return (df.withColumn("rate", F.when(guard, p))
              .withColumn("ci_lo", F.when(guard, lo))
              .withColumn("ci_hi", F.when(guard, hi)))


def failure_rate_ci(df: DataFrame, failed_col, group_col: str, *,
                    z: float = Z_95) -> DataFrame:
    """Per-group failure rate with a Wilson interval, from a row-level
    boolean indicator: one keys-only hash aggregate (map-side combined)
    then :func:`rate_ci` arithmetic on the group-sized relation. NULL
    indicators count as trials that did not fail (the indicator should
    already encode its own NULL policy).

    ``failed_col`` may be a column name or boolean Column expression."""
    failed = to_col(failed_col)
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(failed, 1).otherwise(0)).alias("k"))
    return rate_ci(agg, "k", "n", z=z)


def tdigest_quantiles(df: DataFrame, column: str,
                      quantiles: tuple = DEFAULT_QUANTILES,
                      delta: int = 200) -> dict:
    """Approximate quantiles via a simple mergeable centroid digest.

    Per-partition digests are built with ``applyInPandas``-style batch code
    inside ``mapInPandas`` (Arrow batches; no per-row Python), then merged
    on the driver — the classic t-digest dataflow without the scipy dep.
    """
    import numpy as np
    import pandas as pd

    def partition_digest(batches):
        means, weights = [], []
        for pdf in batches:
            v = pd.to_numeric(pdf[column], errors="coerce").dropna().to_numpy()
            if len(v) == 0:
                continue
            v.sort()
            # compress this batch into <= delta centroids
            chunks = np.array_split(v, min(delta, len(v)))
            means.extend(float(c.mean()) for c in chunks)
            weights.extend(len(c) for c in chunks)
        yield pd.DataFrame({"mean": means, "weight": weights})

    digests = df.select(column).mapInPandas(
        partition_digest, schema="mean double, weight long").toPandas()
    if digests.empty:
        return {q: None for q in quantiles}
    d = digests.sort_values("mean")
    cum = d["weight"].cumsum()
    total = float(d["weight"].sum())
    out = {}
    for q in quantiles:
        target = q * total
        idx = int((cum >= target).idxmax())
        out[q] = float(d.loc[idx, "mean"])
    return out


def mask_profile(df: DataFrame, columns: list[str], *,
                 top_k: int = 10) -> DataFrame:
    """Value-pattern profiling: collapse each string value to its shape
    mask (digit runs -> ``9``, letter runs -> ``A``, everything else
    kept verbatim) and report each column's ``top_k`` masks with counts
    and shares — the profiler view that shows 'Customer#000000000' is
    really ``A#9`` and surfaces the 0.1% of rows shaped differently
    (the draft `pattern` constraint falls straight out of the dominant
    mask).

    ONE scan: per-row (column, mask) pairs explode from a single
    projection, a map-side-combined groupBy builds the (column, mask)
    counts, and the per-column top-k/share run as PARTITIONED windows
    over that small relation. NULLs profile as the mask NULL (their rate
    is a finding, not an exclusion — column_stats owns the number, this
    keeps the two consistent).
    """
    if not columns:
        raise ValueError("mask_profile needs at least one column")
    if top_k <= 0:
        raise ValueError("top_k must be > 0")

    pairs = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"), mask_expr(c).alias("mask"))
        for c in columns])).alias("p")).select("p.column", "p.mask")
    counts = pairs.groupBy("column", "mask").agg(
        F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window
    by_col = Window.partitionBy("column")
    ranked = (counts
              .withColumn("share", F.round(
                  F.col("n") / F.sum("n").over(by_col), 6))
              .withColumn("_rk", F.row_number().over(
                  by_col.orderBy(F.col("n").desc(),
                                 F.col("mask").asc_nulls_last()))))
    return (ranked.where(F.col("_rk") <= top_k)
            .select("column", "mask", "n", "share")
            .orderBy("column", F.col("n").desc(),
                     F.col("mask").asc_nulls_last()))


def correlation_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over numeric columns, long form
    (col_a, col_b, corr) for every unordered pair — the cross-column
    companion to column_stats (a surprise |corr| ~ 1 means a derived
    column worth an x-fd or x-reconcile; a broken one that used to be
    high is drift). ONE aggregate over one scan computes all C(n,2)
    pairs (three co-moment accumulators per pair — map-side combined);
    rows with a NULL on either side of a pair are skipped
    (pairwise-complete), and a constant column yields NULL corr
    (undefined variance), kept so the finding is visible."""
    if len(columns) < 2:
        raise ValueError("correlation_profile needs >= 2 columns")
    # NOT F.corr: under ANSI (the engine default) Corr THROWS
    # DIVIDE_BY_ZERO on a constant column. Build pairwise-complete
    # Pearson from covar_samp co-moments instead (Welford-stable,
    # returns 0.0 for constants / NULL for n<2) and try_divide the
    # normalization: a constant column yields NULL corr, never an error.
    # Masking each side on the OTHER side's non-NULLness makes every
    # accumulator pairwise-complete, matching textbook corr semantics.
    aggs = []
    pairs = []
    for i, a in enumerate(columns):
        for b in columns[i + 1:]:
            ac, bc = F.col(a).cast("double"), F.col(b).cast("double")
            am = F.when(bc.isNotNull(), ac)
            bm = F.when(ac.isNotNull(), bc)
            k = len(pairs)
            pairs.append((a, b))
            aggs += [F.covar_samp(am, bm).alias(f"_cov{k}"),
                     F.covar_samp(am, am).alias(f"_va{k}"),
                     F.covar_samp(bm, bm).alias(f"_vb{k}")]
    wide = df.agg(*aggs)
    structs = [F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                        F.round(F.try_divide(
                            F.col(f"_cov{i}"),
                            F.sqrt(F.col(f"_va{i}") * F.col(f"_vb{i}"))),
                            6).alias("corr"))
               for i, (a, b) in enumerate(pairs)]
    return (wide.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.col_a", "p.col_b", "p.corr")
            .orderBy("col_a", "col_b"))


def correlation_violations(df: DataFrame, col_a: str, col_b: str, *,
                           min_abs: float, by: str | None = None,
                           ruleset_name: str = "engine",
                           severity: str = "warning") -> DataFrame:
    """Declarative derived-column expectation (``x-corr``): |Pearson
    corr(col_a, col_b)| must be at least ``min_abs`` — the check form of
    :func:`correlation_profile` for a column DOCUMENTED as derived from
    another (a broken ETL step shows up as the correlation collapsing).
    An undefined correlation (constant column, < 2 complete pairs)
    violates with actual NULL — no evidence of the relationship is a
    failure, not a pass (the x-freshness fail-closed policy).

    ``by`` checks the bound PER GROUP ("price must track quantity per
    codec") — one grouped aggregate with the same covar_samp-based
    pairwise-complete Pearson (never F.corr: ANSI throws on constant
    columns), a violation row per failing group with the group value as
    ``row_id`` (the x-quantile grouped convention)."""
    if not 0 < min_abs <= 1:
        raise ValueError("min_abs must be in (0, 1]")
    if by is None:
        rep = correlation_profile(df, [col_a, col_b])
        rid = F.lit("all")
    else:
        ac, bc = F.col(col_a).cast("double"), F.col(col_b).cast("double")
        am = F.when(bc.isNotNull(), ac)
        bm = F.when(ac.isNotNull(), bc)
        rep = (df.groupBy(F.col(by).cast("string").alias("_grp"))
                 .agg(F.covar_samp(am, bm).alias("_cov"),
                      F.covar_samp(am, am).alias("_va"),
                      F.covar_samp(bm, bm).alias("_vb"))
                 .select("_grp",
                         F.round(F.try_divide(
                             F.col("_cov"),
                             F.sqrt(F.col("_va") * F.col("_vb"))),
                             6).alias("corr")))
        rid = F.coalesce(F.col("_grp"), F.lit("<null>"))
    bad = rep.where(F.col("corr").isNull()
                    | (F.abs(F.col("corr")) < F.lit(float(min_abs))))
    return violation_rows(
        bad, row_id=rid,
        constraint_id=f"corr:{col_a}~{col_b}" + (f":by={by}" if by else ""),
        keyword="x-corr", instance_path=f"/{col_a}",
        schema_path=f"#/x-corr/{col_a}",
        message=F.when(F.col("corr").isNull(),
                       F.lit(f"Must correlate with '{col_b}': correlation "
                             "undefined (constant column or < 2 pairs)"))
        .otherwise(F.concat(
            F.lit(f"Must correlate with '{col_b}': |corr| = "),
            # decimal(12,6), not double->string: tiny correlations
            # would render in E-notation, which SQL oracles don't emit
            F.abs(F.col("corr")).cast("decimal(12,6)").cast("string"),
            F.lit(f" below {min_abs}"))),
        actual=F.col("corr").cast("decimal(12,6)"),
        ruleset_name=ruleset_name, severity=severity)


def mask_expr(column: str):
    """The mask-profile projection: digit runs -> 9, letter runs -> A
    (shared by mask_profile and mask_violations)."""
    return F.regexp_replace(
        F.regexp_replace(F.col(column).cast("string"), "[0-9]+", "9"),
        "[A-Za-z]+", "A")


def mask_violations(df: DataFrame, column: str, *, expect: str,
                    min_share: float = 0.99, by: str | None = None,
                    ruleset_name: str = "engine",
                    severity: str = "warning") -> DataFrame:
    """Declarative shape-conformance gate (``x-mask``): at least
    ``min_share`` of the column's non-NULL values must collapse to the
    ``expect`` mask (digit runs -> 9, letter runs -> A — the
    :func:`mask_profile` alphabet). One violation row when conformance
    falls short, carrying the measured share and the top offending mask
    so the fix is obvious. One map-side-combined aggregate; NULLs are
    excluded here (required/type own missingness — unlike the profile,
    a gate must not double-report).

    The mask projection lives in :func:`mask_expr`, shared with
    :func:`mask_profile`. An all-NULL column fails closed via the NULL
    aggregate sums.

    ``by`` checks conformance PER GROUP ("names match 'A#9' per
    country") — per-(group, mask) counts, a per-group window for the
    top offender (partitioned, never global), and a violation row per
    failing group with the group value as ``row_id``. A group whose
    values are all NULL fails closed like the global form."""
    if not 0 < min_share <= 1:
        raise ValueError("min_share must be in (0, 1]")
    m = mask_expr(column)
    if by is None:
        src = df.where(F.col(column).isNotNull()).select(m.alias("mask"))
        counts = src.groupBy("mask").agg(F.count(F.lit(1)).alias("n"))
        stats = counts.agg(
            F.sum("n").alias("_total"),
            F.coalesce(F.sum(F.when(F.col("mask") == expect, F.col("n"))),
                       F.lit(0)).alias("_ok"))
        top_bad = (counts.where(F.col("mask") != expect)
                   .orderBy(F.col("n").desc(), F.col("mask").asc())
                   .limit(1)
                   .select(F.col("mask").alias("_top_bad")))
        joined = stats.join(F.broadcast(top_bad), F.lit(True), "left")
        rid = F.lit("all")
    else:
        from pyspark.sql import Window
        grp = F.col(by).cast("string").alias("_grp")
        # groups come from ALL rows (an all-NULL group must exist to
        # fail closed); the mask is NULL for NULL values so they drop
        # out of every count
        base = df.select(grp, F.when(F.col(column).isNotNull(), m)
                              .alias("mask"))
        counts = (base.where(F.col("mask").isNotNull())
                      .groupBy("_grp", "mask")
                      .agg(F.count(F.lit(1)).alias("n")))
        stats = base.groupBy("_grp").agg(
            F.sum(F.when(F.col("mask").isNotNull(), 1)).alias("_total"),
            F.coalesce(F.sum(F.when(F.col("mask") == expect, 1)),
                       F.lit(0)).alias("_ok"))
        w = Window.partitionBy("_grp").orderBy(F.col("n").desc(),
                                               F.col("mask").asc())
        top_bad = (counts.where(F.col("mask") != expect)
                   .withColumn("_rn", F.row_number().over(w))
                   .where(F.col("_rn") == 1)
                   .select(F.col("_grp").alias("_tgrp"),
                           F.col("mask").alias("_top_bad")))
        # eqNullSafe: the NULL group is a real group and must keep its
        # top offender (a plain equi-join would drop it to '<none>')
        joined = (stats.join(top_bad,
                             F.col("_grp").eqNullSafe(F.col("_tgrp")),
                             "left")
                       .drop("_tgrp"))
        rid = F.coalesce(F.col("_grp"), F.lit("<null>"))
    share = F.round(F.try_divide(F.col("_ok"), F.col("_total")), 6)
    # fail closed: a column with NO non-NULL values has NULL _total and
    # no conformance evidence — that is a finding (the x-freshness
    # policy), not a silent pass
    bad = joined.where(F.col("_total").isNull()
                       | (share < F.lit(float(min_share))))
    return violation_rows(
        bad, row_id=rid,
        constraint_id=f"mask:{column}" + (f":by={by}" if by else ""),
        keyword="x-mask", instance_path=f"/{column}",
        schema_path=f"#/x-mask/{column}",
        message=F.when(F.col("_total").isNull(),
                       F.lit(f"Must match shape '{expect}': no non-NULL "
                             "values to check"))
        .otherwise(F.concat(
            F.lit(f"Must match shape '{expect}': only "),
            share.cast("string"),
            F.lit(f" of values conform (limit {min_share}); "
                  "top offender "),
            F.coalesce(F.col("_top_bad"), F.lit("<none>")))),
        actual=share, expected=[expect], ruleset_name=ruleset_name,
        severity=severity)


def quantile_violations(df: DataFrame, column: str, *,
                        q: float, lo: float | None = None,
                        hi: float | None = None,
                        by: str | None = None,
                        approx: bool = False, accuracy: int = 10000,
                        ruleset_name: str = "engine",
                        severity: str = "warning") -> DataFrame:
    """Declarative quantile-bound gate (``x-quantile``): one violation
    row when the column's ``q``-quantile falls outside ``[lo, hi]`` —
    the order-statistics constraint the min/max keywords cannot express
    ("p99 latency stays under the SLO", "median price stays in band":
    a handful of outliers move max, not p99).

    Exact mode (default) uses Spark's exact ``percentile`` (linear
    interpolation, the quantile_cont convention any SQL oracle shares).
    The exact aggregate buffers the column per partition — fine to a few
    1e8 rows per executor; at the 10^12 design point pass
    ``approx=True`` for the KLL-style ``percentile_approx`` sketch
    (``accuracy`` trades memory for error; the oracle then certifies the
    exact twin instead). Fails CLOSED on an empty/all-NULL column: a
    NULL quantile is a finding (the x-benford/x-freshness policy), not
    a pass.

    ``by`` checks the band PER GROUP ("p99 latency per codec") — one
    grouped aggregate, a violation row per out-of-band group with the
    group value as ``row_id``. A group whose values are all NULL fails
    closed like the global form; an entirely empty table yields no
    groups and therefore no rows — table emptiness is
    x-calendar/x-freshness's finding, not a quantile's."""
    if not (0.0 <= q <= 1.0):
        raise ValueError("q must be in [0, 1]")
    if lo is None and hi is None:
        raise ValueError("at least one of lo/hi is required")
    c = F.col(column).cast("double")
    qexpr = (F.percentile_approx(c, F.lit(float(q)), F.lit(int(accuracy)))
             if approx else F.percentile(c, F.lit(float(q))))
    if by is None:
        agg = df.agg(F.round(qexpr, 6).alias("_q"))
        rid = F.lit("all")
    else:
        agg = df.groupBy(F.col(by).cast("string").alias("_grp")) \
                .agg(F.round(qexpr, 6).alias("_q"))
        rid = F.coalesce(F.col("_grp"), F.lit("<null>"))
    out_of_band = F.lit(False)
    if lo is not None:
        out_of_band = out_of_band | (F.col("_q") < float(lo))
    if hi is not None:
        out_of_band = out_of_band | (F.col("_q") > float(hi))
    bad = agg.where(F.col("_q").isNull() | out_of_band)
    band = (f"[{lo:g}, {hi:g}]" if lo is not None and hi is not None
            else (f">= {lo:g}" if lo is not None else f"<= {hi:g}"))
    band_text = (f"in {band}" if lo is not None and hi is not None
                 else band)
    return violation_rows(
        bad, row_id=rid,
        constraint_id=f"quantile:{column}:{q:g}"
        + (f":by={by}" if by else ""),
        keyword="x-quantile", instance_path=f"/{column}",
        schema_path=f"#/x-quantile/{column}",
        message=F.when(F.col("_q").isNull(),
                       F.lit(f"Must have p{q * 100:g} {band_text}: no "
                             "non-NULL values to measure"))
        .otherwise(F.concat(
            F.lit(f"Must have p{q * 100:g} {band_text}: got "),
            F.col("_q").cast("string"))),
        actual=F.col("_q"), expected=[band], ruleset_name=ruleset_name,
        severity=severity)
