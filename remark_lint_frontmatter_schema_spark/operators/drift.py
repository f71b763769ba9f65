"""Distribution-drift detection: two-sample KS and PSI over histograms
(SURVEY.md A7 + W1, north_star).

Dataflow at 10^12 rows: one hash-aggregate builds fixed-bucket histograms
per (side, bucket) — the only thing shuffled is the tiny histogram
relation (n_sides * n_buckets rows). KS then needs cumulative sums, done
with a window over the histogram relation (W1); PSI is a plain aggregate
over bucket probability pairs. Everything downstream of the first groupBy
is effectively driver-scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .validate import to_col, violation_rows


def histogram(df: DataFrame, value_col: str, side_col, *,
              lo: float, hi: float, n_buckets: int = 50) -> DataFrame:
    """Fixed-bucket histogram per side. ``side_col`` may be a column name or
    Column expression (e.g. a boolean partition split).

    Non-finite semantics (pinned by test): ±Inf land in width_bucket's
    underflow/overflow buckets (0 / n_buckets+1); NaN gets bucket -1 —
    a REAL bucket below the underflow bucket, so NaN mass counts as
    below-range mass AND the two sides' NaN rows pair up in the
    equi-joined statistics (width_bucket's raw NULL never joins, which
    would report confident drift between two identical NaN-bearing
    distributions). Count NaNs exactly with stats.column_stats
    (n_nonfinite) or gate them with x-finite."""
    side = to_col(side_col)
    bucket = F.coalesce(
        F.width_bucket(F.col(value_col).cast("double"),
                       F.lit(float(lo)), F.lit(float(hi)),
                       F.lit(n_buckets)),
        F.lit(-1))  # NaN: the only NULL source after the isNotNull filter
    return (df.where(F.col(value_col).isNotNull())
              .groupBy(side.cast("string").alias("side"),
                       bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n")))


def histogram_by(df: DataFrame, value_col: str, side_col, group_col: str, *,
                 lo: float, hi: float, n_buckets: int = 50) -> DataFrame:
    """Per-GROUP fixed-bucket histogram: (grp, side, bucket, n) — one
    hash-aggregate whose shuffle carries (group, side, bucket) keys only,
    feeding :func:`ks_by` for per-category drift."""
    side = to_col(side_col)
    bucket = F.coalesce(
        F.width_bucket(F.col(value_col).cast("double"),
                       F.lit(float(lo)), F.lit(float(hi)),
                       F.lit(n_buckets)),
        F.lit(-1))  # NaN -> real below-range bucket (see histogram)
    return (df.where(F.col(value_col).isNotNull()
                     & F.col(group_col).isNotNull())
              .groupBy(F.col(group_col).alias("grp"),
                       side.cast("string").alias("side"),
                       bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n")))


def ks_by(hist: DataFrame, side_a: str, side_b: str) -> DataFrame:
    """Per-group two-sample KS over a :func:`histogram_by` relation:
    one row (grp, ks_stat) per group — drift localized to the segment
    that moved instead of diluted into a whole-table statistic. Groups
    missing either side report NULL (the ks_statistic guard, per group).
    Runs entirely on the histogram-sized relation; the windows partition
    by group so no single task sees more than one group's buckets."""
    w = Window.partitionBy("grp", "side").orderBy("bucket") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("grp", "side")
    cdf = hist.withColumn("cdf", F.sum("n").over(w) / F.sum("n").over(tot))
    a = cdf.where(F.col("side") == side_a).select(
        "grp", "bucket", F.col("cdf").alias("cdf_a"))
    b = cdf.where(F.col("side") == side_b).select(
        "grp", "bucket", F.col("cdf").alias("cdf_b"))
    joined = a.join(b, ["grp", "bucket"], "full_outer")
    wf = Window.partitionBy("grp").orderBy("bucket") \
               .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled = (joined
              .withColumn("cdf_a", F.last("cdf_a", ignorenulls=True).over(wf))
              .withColumn("cdf_b", F.last("cdf_b", ignorenulls=True).over(wf))
              .fillna({"cdf_a": 0.0, "cdf_b": 0.0}))
    agg = filled.groupBy("grp").agg(
        F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))).alias("_ks"),
        F.max("cdf_a").alias("_ma"), F.max("cdf_b").alias("_mb"))
    return agg.select(
        "grp",
        F.when((F.col("_ma") > 0) & (F.col("_mb") > 0), F.col("_ks"))
         .alias("ks_stat"))


def categorical_hist(df: DataFrame, value_col: str, side_col) -> DataFrame:
    """Category-frequency histogram per side — the categorical analog of
    :func:`histogram` (``bucket`` holds the category VALUE, so the
    bucket-keyed statistics that don't assume ordered numeric buckets —
    :func:`psi`, :func:`chi_square` — work unchanged; KS/EMD are
    order-dependent and have no meaning over unordered categories).
    NULL categories are out of scope (``required`` owns presence)."""
    side = to_col(side_col)
    return (df.where(F.col(value_col).isNotNull())
              .groupBy(side.cast("string").alias("side"),
                       F.col(value_col).cast("string").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n")))


def categorical_hist_by(df: DataFrame, value_col: str, side_col,
                        group_col: str) -> DataFrame:
    """Per-GROUP category-frequency histogram: (grp, side, bucket, n)
    with ``bucket`` holding the category value — the categorical analog
    of :func:`histogram_by`, feeding :func:`psi_by` for per-segment
    category-mix drift. One hash-aggregate; the shuffle carries
    (group, side, category) keys only."""
    side = to_col(side_col)
    return (df.where(F.col(value_col).isNotNull()
                     & F.col(group_col).isNotNull())
              .groupBy(F.col(group_col).alias("grp"),
                       side.cast("string").alias("side"),
                       F.col(value_col).cast("string").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n")))


def psi_by(hist: DataFrame, side_a: str, side_b: str,
           *, epsilon: float = 1e-6) -> DataFrame:
    """Per-group PSI over a (grp, side, bucket, n) relation — one row
    (grp, psi) per group, localizing probability-ratio drift to the
    segment that moved (the categorical companion of :func:`ks_by`;
    works identically over :func:`histogram_by` numeric buckets).
    Groups missing either side report NULL (the missing-side guard, per
    group). Runs entirely on the histogram-sized relation."""
    tot = Window.partitionBy("grp", "side")
    p = hist.withColumn("p", F.col("n") / F.sum("n").over(tot))
    a = p.where(F.col("side") == side_a).select(
        "grp", "bucket", F.col("p").alias("p_a"))
    b = p.where(F.col("side") == side_b).select(
        "grp", "bucket", F.col("p").alias("p_b"))
    joined = (a.join(b, ["grp", "bucket"], "full_outer")
               .fillna({"p_a": 0.0, "p_b": 0.0})
               .withColumn("p_a", F.greatest("p_a", F.lit(epsilon)))
               .withColumn("p_b", F.greatest("p_b", F.lit(epsilon))))
    agg = joined.groupBy("grp").agg(
        F.sum((F.col("p_a") - F.col("p_b"))
              * F.log(F.col("p_a") / F.col("p_b"))).alias("_psi"),
        F.max("p_a").alias("_ma"), F.max("p_b").alias("_mb"))
    return agg.select(
        "grp",
        F.when((F.col("_ma") > epsilon) & (F.col("_mb") > epsilon),
               F.col("_psi")).alias("psi"))


def _filled_cdfs(hist: DataFrame, side_a: str, side_b: str) -> DataFrame:
    """Per-bucket (cdf_a, cdf_b) with empty buckets forward-filled — the
    shared front half of every CDF-based statistic (KS, EMD)."""
    w = Window.partitionBy("side").orderBy("bucket") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("side")
    cdf = hist.withColumn("cdf", F.sum("n").over(w) / F.sum("n").over(tot))
    a = cdf.where(F.col("side") == side_a).select("bucket", F.col("cdf").alias("cdf_a"))
    b = cdf.where(F.col("side") == side_b).select("bucket", F.col("cdf").alias("cdf_b"))
    # full outer: a bucket empty on one side still advances the other CDF;
    # forward-fill the missing CDF with the last seen value via a window
    joined = a.join(b, "bucket", "full_outer")
    wf = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)
    return (joined
            .withColumn("cdf_a", F.last("cdf_a", ignorenulls=True).over(wf))
            .withColumn("cdf_b", F.last("cdf_b", ignorenulls=True).over(wf))
            .fillna({"cdf_a": 0.0, "cdf_b": 0.0}))


def ks_statistic(hist: DataFrame, side_a: str, side_b: str) -> DataFrame:
    """Two-sample KS from a histogram relation: max |CDF_a - CDF_b|.

    Exact up to bucket resolution (both samples discretized to the same
    buckets — the standard scalable approximation).
    """
    filled = _filled_cdfs(hist, side_a, side_b)
    # fail EXPLICIT on a missing/typo'd side: a present side's CDF reaches
    # 1.0, an absent side stays all-zero — without the guard a misspelled
    # side label returns a confident ks=1.0 instead of signalling the
    # config error (same guard in psi/chi_square: NULL, never a made-up 0)
    agg = filled.agg(
        F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))).alias("_ks"),
        F.max("cdf_a").alias("_ma"), F.max("cdf_b").alias("_mb"))
    return agg.select(
        F.when((F.col("_ma") > 0) & (F.col("_mb") > 0), F.col("_ks"))
         .alias("ks_stat"))


def emd(hist: DataFrame, side_a: str, side_b: str, *,
        bucket_width: float = 1.0) -> DataFrame:
    """1-D earth-mover (Wasserstein-1) distance over the shared histogram:
    ``sum_buckets |CDF_a - CDF_b| * bucket_width`` — the closed 1-D form.

    Complements KS (which saturates at the single worst bucket) with a
    magnitude-aware statistic: a small mass moved far scores higher than
    KS shows. Pass ``bucket_width = (hi - lo) / n_buckets`` to get the
    distance in the value's own units; the default 1.0 reports it in
    bucket units. Exact up to bucket resolution; the under/overflow
    buckets (width_bucket's 0 and n+1) are counted with the same width —
    the same discretization contract the other statistics carry. Runs
    entirely on the tiny histogram relation; the missing-side guard
    returns NULL rather than a confident figure (see ks_statistic)."""
    filled = _filled_cdfs(hist, side_a, side_b)
    # densify: the histogram relation only carries OCCUPIED buckets, but a
    # CDF plateau across empty buckets still moves mass — every bucket in
    # [min, max] must contribute its |diff| (KS is sparse-safe, a sum is
    # not). Buckets outside the occupied range have diff 0.
    spine = (filled.agg(F.min("bucket").alias("_l"),
                        F.max("bucket").alias("_h"))
                   .select(F.explode(F.sequence("_l", "_h"))
                            .alias("bucket")))
    wf = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)
    dense = (spine.join(filled, "bucket", "left")
                  .withColumn("cdf_a",
                              F.last("cdf_a", ignorenulls=True).over(wf))
                  .withColumn("cdf_b",
                              F.last("cdf_b", ignorenulls=True).over(wf))
                  .fillna({"cdf_a": 0.0, "cdf_b": 0.0}))
    agg = dense.agg(
        F.sum(F.abs(F.col("cdf_a") - F.col("cdf_b"))).alias("_s"),
        F.max("cdf_a").alias("_ma"), F.max("cdf_b").alias("_mb"))
    return agg.select(
        F.when((F.col("_ma") > 0) & (F.col("_mb") > 0),
               F.col("_s") * float(bucket_width)).alias("emd"))


def psi(hist: DataFrame, side_a: str, side_b: str,
        *, epsilon: float = 1e-6) -> DataFrame:
    """Population Stability Index over the same histogram relation."""
    tot = Window.partitionBy("side")
    p = hist.withColumn("p", F.col("n") / F.sum("n").over(tot))
    a = p.where(F.col("side") == side_a).select("bucket", F.col("p").alias("p_a"))
    b = p.where(F.col("side") == side_b).select("bucket", F.col("p").alias("p_b"))
    joined = (a.join(b, "bucket", "full_outer")
               .fillna({"p_a": 0.0, "p_b": 0.0})
               .withColumn("p_a", F.greatest("p_a", F.lit(epsilon)))
               .withColumn("p_b", F.greatest("p_b", F.lit(epsilon))))
    # missing-side guard (see ks_statistic): a present side's max bucket
    # probability is >= 1/n_buckets >> epsilon; all-epsilon means absent
    agg = joined.agg(
        F.sum((F.col("p_a") - F.col("p_b"))
              * F.log(F.col("p_a") / F.col("p_b"))).alias("_psi"),
        F.max("p_a").alias("_ma"), F.max("p_b").alias("_mb"))
    return agg.select(
        F.when((F.col("_ma") > epsilon) & (F.col("_mb") > epsilon),
               F.col("_psi")).alias("psi"))


def chi_square(hist: DataFrame, side_a: str, side_b: str) -> DataFrame:
    """Two-sample chi-square statistic over the shared histogram relation:
    sum over buckets of (n_a - E_a)^2/E_a + (n_b - E_b)^2/E_b with
    E_side = row_total * side_total / grand_total (standard contingency
    form). Complements KS (shape shifts) and PSI (probability ratios)
    with a count-scaled test; like them it runs entirely on the tiny
    histogram relation."""
    ab = hist.where(F.col("side").isin(side_a, side_b))
    # materialize ZERO cells: a bucket observed on only one side still
    # contributes (0 - E)^2/E = E on the missing side — dropping it
    # understates chi2 exactly when drift is strongest (fully disjoint
    # supports would lose ~half the statistic)
    grid = (ab.select("bucket").distinct()
              .crossJoin(ab.select("side").distinct()))
    full = (grid.join(ab, ["side", "bucket"], "left")
                .fillna({"n": 0}))
    tot_side = Window.partitionBy("side")
    tot_bucket = Window.partitionBy("bucket")
    tot_all = Window.partitionBy()
    e = full.withColumn(
        "expected",
        F.sum("n").over(tot_bucket) * F.sum("n").over(tot_side)
        / F.sum("n").over(tot_all))
    # missing-side guard (see ks_statistic): with one side the statistic
    # degenerates to a confident 0.0 — report NULL instead
    agg = e.agg(F.sum((F.col("n") - F.col("expected")) ** 2
                      / F.col("expected")).alias("_chi2"),
                F.countDistinct("side").alias("_ns"))
    return agg.select(F.when(F.col("_ns") == 2, F.col("_chi2"))
                      .alias("chi2"))


def jensen_shannon(hist: DataFrame, side_a: str, side_b: str) -> DataFrame:
    """Jensen-Shannon divergence over the shared histogram relation:
    ``0.5*KL(p_a || m) + 0.5*KL(p_b || m)`` with ``m = (p_a+p_b)/2``,
    in nats (bounded [0, ln 2]).

    Complements PSI with a statistic that is finite under disjoint
    supports: PSI's epsilon floor turns a bucket present on one side only
    into an arbitrarily-large ratio term, while JSD's mixture reference
    keeps every term finite with NO epsilon (0*ln(0/m) contributes 0 by
    the KL convention, handled explicitly). Symmetric, so side order
    doesn't matter. Runs entirely on the tiny histogram relation; the
    missing-side guard returns NULL rather than a confident figure (see
    ks_statistic)."""
    tot = Window.partitionBy("side")
    p = hist.withColumn("p", F.col("n") / F.sum("n").over(tot))
    a = p.where(F.col("side") == side_a).select(
        "bucket", F.col("p").alias("p_a"))
    b = p.where(F.col("side") == side_b).select(
        "bucket", F.col("p").alias("p_b"))
    joined = (a.join(b, "bucket", "full_outer")
               .fillna({"p_a": 0.0, "p_b": 0.0}))
    m = (F.col("p_a") + F.col("p_b")) / 2
    kl_a = F.when(F.col("p_a") > 0,
                  F.col("p_a") * F.log(F.col("p_a") / m)).otherwise(F.lit(0.0))
    kl_b = F.when(F.col("p_b") > 0,
                  F.col("p_b") * F.log(F.col("p_b") / m)).otherwise(F.lit(0.0))
    agg = joined.agg(
        F.sum(0.5 * (kl_a + kl_b)).alias("_jsd"),
        F.max("p_a").alias("_ma"), F.max("p_b").alias("_mb"))
    return agg.select(
        F.when((F.col("_ma") > 0) & (F.col("_mb") > 0),
               F.greatest(F.col("_jsd"), F.lit(0.0))).alias("jsd"))


def cramer_von_mises(hist: DataFrame, side_a: str, side_b: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic over the shared histogram:
    ``sum_buckets w_b * (CDF_a - CDF_b)^2`` with ``w_b`` the POOLED
    probability mass of the bucket (``(n_a+n_b)/(N_a+N_b)``) — the
    histogram discretization of the integral of the squared CDF gap
    against the pooled empirical distribution.

    Complements KS (max gap — one worst bucket) and EMD (L1 of the gap —
    linear in displacement) with the L2 view: broad moderate shifts that
    KS underweights accumulate quadratically here. Pooled-mass weighting
    means empty buckets contribute 0, so no dense spine is needed (unlike
    EMD); CDFs are still forward-filled across buckets one side skips.
    Runs entirely on the tiny histogram relation; missing-side guard as
    in ks_statistic."""
    w = Window.partitionBy("side").orderBy("bucket") \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy("side")
    cdf = hist.withColumn("cdf", F.sum("n").over(w) / F.sum("n").over(tot))
    a = cdf.where(F.col("side") == side_a).select(
        "bucket", F.col("n").alias("n_a"), F.col("cdf").alias("cdf_a"))
    b = cdf.where(F.col("side") == side_b).select(
        "bucket", F.col("n").alias("n_b"), F.col("cdf").alias("cdf_b"))
    joined = a.join(b, "bucket", "full_outer")
    wf = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)
    filled = (joined
              .withColumn("cdf_a", F.last("cdf_a", ignorenulls=True).over(wf))
              .withColumn("cdf_b", F.last("cdf_b", ignorenulls=True).over(wf))
              .fillna({"cdf_a": 0.0, "cdf_b": 0.0, "n_a": 0, "n_b": 0}))
    gap2 = (F.col("cdf_a") - F.col("cdf_b")) ** 2
    agg = filled.agg(
        F.sum((F.col("n_a") + F.col("n_b")) * gap2).alias("_t"),
        F.sum("n_a").alias("_na"), F.sum("n_b").alias("_nb"),
        F.max("cdf_a").alias("_ma"), F.max("cdf_b").alias("_mb"))
    return agg.select(
        F.when((F.col("_ma") > 0) & (F.col("_mb") > 0),
               F.col("_t") / (F.col("_na") + F.col("_nb"))).alias("cvm"))


def windowed_psi(df: DataFrame, value_col: str, time_col: str, *,
                 lo: float, hi: float, n_buckets: int = 25,
                 window_duration: str = "1 day",
                 epsilon: float = 1e-6) -> DataFrame:
    """Per-event-time-window PSI against the PREVIOUS window — continuous
    drift monitoring over a tumbling-window histogram stream.

    Scale shape: ONE hash-aggregate builds (window, bucket) counts — the
    only shuffle that touches row-scale data; everything after (per-window
    normalization, the window-vs-previous-window join, the PSI fold) runs
    on the tiny histogram relation (n_windows * n_buckets rows). The first
    window (no predecessor) is omitted rather than compared against an
    all-epsilon phantom. Works identically on a batch frame or a windowed
    streaming aggregate's sink (Spark's unified semantics).
    """
    h = windowed_histogram(df, value_col, time_col, lo=lo, hi=hi,
                           n_buckets=n_buckets,
                           window_duration=window_duration)
    return psi_vs_previous_window(h, window_duration=window_duration,
                                  epsilon=epsilon)


def windowed_histogram(df: DataFrame, value_col: str, time_col: str, *,
                       lo: float, hi: float, n_buckets: int = 25,
                       window_duration: str = "1 day") -> DataFrame:
    """(ws, bucket, n) tumbling-window histogram — the partial-count unit
    both the batch and the streaming (foreachBatch-appended) drift paths
    produce; counts are additive, so appended partials merge with a plain
    sum."""
    bucket = F.width_bucket(F.col(value_col).cast("double"),
                            F.lit(float(lo)), F.lit(float(hi)),
                            F.lit(n_buckets))
    return (df.where(F.col(value_col).isNotNull())
              .groupBy(F.window(F.col(time_col), window_duration)
                       .getField("start").alias("ws"),
                       bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n")))


def psi_vs_previous_window(h: DataFrame, *, window_duration: str = "1 day",
                           epsilon: float = 1e-6) -> DataFrame:
    """Per-window PSI vs the previous window over a (ws, bucket, n)
    histogram relation (possibly accumulated partials — they are summed
    first). Everything here runs on histogram-sized data."""
    step = F.expr(f"INTERVAL {window_duration}")
    h = h.groupBy("ws", "bucket").agg(F.sum("n").alias("n"))
    tot = Window.partitionBy("ws")
    p = h.withColumn("p", F.col("n") / F.sum("n").over(tot))
    cur = p.select("ws", "bucket", F.col("p").alias("p_cur"))
    prev = p.select((F.col("ws") + step).alias("ws"), "bucket",
                    F.col("p").alias("p_prev"))
    # full outer per (window, bucket): a bucket empty on one side still
    # contributes (its probability floors at epsilon)
    joined = (cur.join(prev, ["ws", "bucket"], "full_outer")
                 .fillna({"p_cur": 0.0, "p_prev": 0.0}))
    # keep only windows that exist in the data AND have a predecessor
    wins = h.select("ws").distinct()
    valid = wins.join(wins.select((F.col("ws") + step).alias("ws")),
                      "ws", "left_semi")
    return (joined.join(valid, "ws", "left_semi")
            .withColumn("p_cur", F.greatest("p_cur", F.lit(epsilon)))
            .withColumn("p_prev", F.greatest("p_prev", F.lit(epsilon)))
            .groupBy(F.col("ws").alias("window_start"))
            .agg(F.sum((F.col("p_cur") - F.col("p_prev"))
                       * F.log(F.col("p_cur") / F.col("p_prev")))
                 .alias("psi")))


def drift_violations(df: DataFrame, value_col: str, *, partition_col: str,
                     side_a: str, side_b: str, lo: float, hi: float,
                     n_buckets: int = 25, ks_threshold: float = 0.1,
                     psi_threshold: float = 0.2,
                     emd_threshold: float | None = None,
                     jsd_threshold: float | None = None,
                     cvm_threshold: float | None = None,
                     by: str | None = None,
                     ruleset_name: str = "engine",
                     severity: str = "warning") -> DataFrame:
    """Lazy violation-row form of :func:`drift_check` for the ``x-drift``
    declarative table check: at most ONE run-level violation row,
    emitted when either statistic crosses its threshold.

    KS and PSI each consume the histogram aggregate; kept lazy (no
    persist/collect) so the declarative plan composes — two passes over a
    single-column histogram-sized relation, the base scan still reads only
    ``(value_col, partition_col)``.

    ``by`` gates PER GROUP ("drift per event type", round 5): the
    :func:`histogram_by` relation carries (group, side, bucket) keys
    only, :func:`ks_by`/:func:`psi_by` localize the statistics with
    group-partitioned windows, and one violation row is emitted per
    drifted group with the group value as ``row_id``. A group missing
    either declared side fails closed with its own drift-config row
    (the global form's missing-side policy, per group). NULL group
    values are out of scope (histogram_by's contract — declare
    ``required`` on the by column to gate presence). The grouped form
    carries ks + psi; emd/jsd/cvm stay global-only (their bucket-width
    and pooled-mass semantics are tuned per declaration, not per
    segment)."""
    if by is not None:
        if any(t is not None for t in (emd_threshold, jsd_threshold,
                                       cvm_threshold)):
            raise ValueError(
                "x-drift `by:` supports ks/psi only; emd/jsd/cvm are "
                "global-form statistics")
        hist = histogram_by(df, value_col, partition_col, by, lo=lo, hi=hi,
                            n_buckets=n_buckets)
        ks = ks_by(hist, str(side_a), str(side_b))
        p = psi_by(hist, str(side_a), str(side_b)) \
            .select(F.col("grp").alias("_pgrp"), "psi")
        # both relations enumerate exactly hist's group set -> equi-join
        j = (ks.join(p, F.col("grp") == F.col("_pgrp"))
             .select(F.col("grp"),
                     F.round("ks_stat", 6).alias("ks_stat"),
                     F.round("psi", 6).alias("psi")))
        rid = F.col("grp").cast("string")
    else:
        hist = histogram(df, value_col, partition_col, lo=lo, hi=hi,
                         n_buckets=n_buckets)
        ks = ks_statistic(hist, str(side_a), str(side_b))
        p = psi(hist, str(side_a), str(side_b))
        j = ks.crossJoin(p).select(F.round("ks_stat", 6).alias("ks_stat"),
                                   F.round("psi", 6).alias("psi"))
        rid = F.lit(f"{side_a}~{side_b}")
    emd_fired = F.lit(False)
    emd_tail = F.lit("")
    if emd_threshold is not None:
        # third statistic, value-unit Wasserstein on the same histogram
        width = (float(hi) - float(lo)) / n_buckets
        e = emd(hist, str(side_a), str(side_b), bucket_width=width) \
            .select(F.round("emd", 6).alias("emd"))
        j = j.crossJoin(e)
        emd_fired = F.col("emd") > emd_threshold
        emd_tail = F.concat(F.lit(" emd="), F.col("emd").cast("string"))
    jsd_fired = F.lit(False)
    jsd_tail = F.lit("")
    if jsd_threshold is not None:
        # mixture-reference divergence: finite under disjoint supports
        # where PSI's epsilon floor explodes (same histogram relation)
        jd = jensen_shannon(hist, str(side_a), str(side_b)) \
            .select(F.round("jsd", 6).alias("jsd"))
        j = j.crossJoin(jd)
        jsd_fired = F.col("jsd") > jsd_threshold
        jsd_tail = F.concat(F.lit(" jsd="), F.col("jsd").cast("string"))
    cvm_fired = F.lit(False)
    cvm_tail = F.lit("")
    if cvm_threshold is not None:
        # pooled-mass L2 of the CDF gap: accumulates broad moderate
        # shifts KS (the max) saturates on (same histogram relation)
        cv = cramer_von_mises(hist, str(side_a), str(side_b)) \
            .select(F.round("cvm", 6).alias("cvm"))
        j = j.crossJoin(cv)
        cvm_fired = F.col("cvm") > cvm_threshold
        cvm_tail = F.concat(F.lit(" cvm="), F.col("cvm").cast("string"))
    # NULL stats mean a declared side is absent from the data (typo'd
    # label, empty split) — that is a CONFIG defect, surfaced as its own
    # violation row rather than silently passing (fail-closed)
    missing = F.col("ks_stat").isNull() | F.col("psi").isNull()
    drifted = j.where((F.col("ks_stat") > ks_threshold)
                      | (F.col("psi") > psi_threshold)
                      | F.coalesce(emd_fired, F.lit(False))
                      | F.coalesce(jsd_fired, F.lit(False))
                      | F.coalesce(cvm_fired, F.lit(False)) | missing)
    return violation_rows(
        drifted, row_id=rid,
        constraint_id=f"drift:{value_col}" + (f":by={by}" if by else ""),
        keyword=F.when(missing, F.lit("drift-config"))
        .otherwise(F.lit("drift")),
        instance_path=f"/{value_col}", schema_path=f"#/x-drift/{value_col}",
        message=F.when(missing,
               F.lit(f"Drift sides '{side_a}'/'{side_b}' not both present "
                     f"in '{partition_col}'"))
         .otherwise(F.lit(
             f"Distribution drift on '{value_col}' "
             f"({side_a} vs {side_b}): ks>{ks_threshold} "
             f"or psi>{psi_threshold}"
             + (f" or emd>{emd_threshold:g}"
                if emd_threshold is not None else "")
             + (f" or jsd>{jsd_threshold:g}"
                if jsd_threshold is not None else "")
             + (f" or cvm>{cvm_threshold:g}"
                if cvm_threshold is not None else ""))),
        actual=F.when(missing, F.lit("sides missing"))
        .otherwise(F.concat(F.lit("ks="), F.col("ks_stat").cast("string"),
                            F.lit(" psi="), F.col("psi").cast("string"),
                            emd_tail, jsd_tail, cvm_tail)),
        ruleset_name=ruleset_name, severity=severity)


def drift_check(df: DataFrame, value_col: str, side_col, side_a: str,
                side_b: str, *, lo: float, hi: float, n_buckets: int = 50,
                ks_threshold: float = 0.1, psi_threshold: float = 0.2) -> dict:
    """Run both tests; returns scalar verdict dict (driver-side, tiny)."""
    hist = histogram(df, value_col, side_col, lo=lo, hi=hi,
                     n_buckets=n_buckets).cache()
    ks = ks_statistic(hist, side_a, side_b).collect()[0].ks_stat
    p = psi(hist, side_a, side_b).collect()[0].psi
    hist.unpersist()
    if ks is None or p is None:
        raise ValueError(
            f"drift sides {side_a!r}/{side_b!r} not both present in the "
            f"data — check the side labels/split")
    return {
        "ks_stat": float(ks) if ks is not None else None,
        "psi": float(p) if p is not None else None,
        "ks_drifted": ks is not None and ks > ks_threshold,
        "psi_drifted": p is not None and p > psi_threshold,
    }


def benford(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit conformance vs Benford's law — the
    classic fabricated/synthetic-numeric-data screen (naturally-grown
    magnitudes follow P(d) = log10(1 + 1/d); hand-entered, clipped, or
    template-generated values do not).

    One pure-JVM aggregate over the pruned single column builds the
    9-row digit histogram (map-side combine; the shuffle is nine rows);
    the expected shares, per-digit chi-square terms and the total are
    derived on that driver-scale relation. Rows with NULL, zero, or
    non-finite values are excluded (they have no first digit —
    required/type/x-outlier own those defects). Output: digit 1..9
    (digits never observed appear with n=0), n, observed, expected,
    chi2_term, and the total chi2 repeated per row for single-relation
    consumption.
    """
    spark = df.sparkSession
    d = benford_digit_expr(value_col)
    counts = (df.where(d.isNotNull())
              .groupBy(d.alias("digit"))
              .agg(F.count(F.lit(1)).alias("n")))
    digits = spark.range(1, 10).select(F.col("id").cast("int")
                                       .alias("digit"))
    full = (digits.join(counts, "digit", "left")
            .select("digit", F.coalesce(F.col("n"), F.lit(0)).alias("n")))
    total = full.agg(F.sum("n").alias("_total"))
    e = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    # try_divide: an empty/all-invalid input has _total == 0, which
    # under ANSI would otherwise throw — the profile degrades to NULL
    # shares instead
    chi_raw = F.try_divide(
        F.pow(F.col("n") - F.col("_total") * e, F.lit(2.0)),
        F.col("_total") * e)
    scored = (full.crossJoin(F.broadcast(total))
              .select(
                  "digit", "n",
                  F.round(F.try_divide(F.col("n"), F.col("_total")), 6)
                   .alias("observed"),
                  F.round(e, 6).alias("expected"),
                  F.round(chi_raw, 6).alias("chi2_term"),
                  chi_raw.alias("_raw")))
    chi2 = scored.agg(F.round(F.sum("_raw"), 6).alias("chi2"))
    return (scored.drop("_raw")
            .crossJoin(F.broadcast(chi2))
            .orderBy("digit"))


def benford_digit_expr(value_col: str):
    """First-significant-digit expression: NULL for rows without one
    (NULL/zero/non-finite values), else 1..9 — shared by
    :func:`benford` and the grouped :func:`benford_violations`. The
    clamp absorbs the one-ulp log10 edge at exact powers of ten."""
    v = F.abs(F.col(value_col).cast("double"))
    valid = (v.isNotNull() & (v > 0)
             & ~F.isnan(v) & (v != float("inf")))
    d = F.least(F.lit(9), F.greatest(F.lit(1), F.floor(
        v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")))
    return F.when(valid, d)


def benford_violations(df: DataFrame, value_col: str, *,
                       max_mad: float = 0.015, by: str | None = None,
                       ruleset_name: str = "engine",
                       severity: str = "warning") -> DataFrame:
    """Declarative Benford gate (``x-benford``): one violation row when
    the mean absolute deviation between observed and expected first-digit
    shares exceeds ``max_mad``. MAD, not chi-square, because MAD is
    sample-size-invariant (Nigrini's conformity bands: <= 0.006 close,
    <= 0.012 acceptable, <= 0.015 marginal — the default rejects beyond
    marginal); chi-square grows with n for ANY imperfect fit and would
    page on every large table. Rides the :func:`benford` relation
    (driver-scale), so the whole check is still one table aggregate.

    ``by`` checks conformance PER GROUP ("Benford per region") — one
    per-(group, digit) aggregate whose shuffle carries (group, digit)
    keys only, the 9-digit lattice joined per group so absent digits
    contribute their full expected share, and a violation row per
    non-conforming group with the group value as ``row_id``. A group
    with no measurable first digits fails closed like the global form
    (NULL MAD is a finding). Groups come from ALL rows, so an all-NULL
    group exists and fails closed; a NULL group value renders as
    ``<null>``."""
    if max_mad <= 0:
        raise ValueError("max_mad must be > 0")
    if by is None:
        b = benford(df, value_col)
        mad = b.agg(F.round(F.avg(F.abs(F.col("observed")
                                        - F.col("expected"))),
                            6).alias("_mad"))
        rid = F.lit("all")
    else:
        spark = df.sparkSession
        grp = F.col(by).cast("string").alias("_grp")
        d = benford_digit_expr(value_col)
        base = df.select(grp, d.alias("digit"))
        counts = (base.where(F.col("digit").isNotNull())
                  .groupBy("_grp", "digit")
                  .agg(F.count(F.lit(1)).alias("n")))
        digits = spark.range(1, 10).select(F.col("id").cast("int")
                                           .alias("digit"))
        # groups × 9 digits — a keyed relation (never collected), so group
        # cardinality is unbounded; eqNullSafe keeps the NULL group real
        lattice = base.select("_grp").distinct().crossJoin(F.broadcast(digits))
        full = (lattice.join(
            counts,
            on=lattice["_grp"].eqNullSafe(counts["_grp"])
            & (lattice["digit"] == counts["digit"]), how="left")
            .select(lattice["_grp"], lattice["digit"],
                    F.coalesce(counts["n"], F.lit(0)).alias("n")))
        w = Window.partitionBy("_grp")
        e = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6)
        obs = F.round(F.try_divide(F.col("n"), F.sum("n").over(w)), 6)
        mad = (full.withColumn("_dev", F.abs(obs - e))
               .groupBy("_grp")
               .agg(F.round(F.avg("_dev"), 6).alias("_mad")))
        rid = F.coalesce(F.col("_grp"), F.lit("<null>"))
    # fail closed: an empty/all-invalid column (or group) has NULL
    # shares and a NULL MAD — no evidence of conformance is a finding,
    # not a pass (the x-freshness policy)
    bad = mad.where(F.col("_mad").isNull()
                    | (F.col("_mad") > F.lit(float(max_mad))))
    return violation_rows(
        bad, row_id=rid,
        constraint_id=f"benford:{value_col}" + (f":by={by}" if by else ""),
        keyword="x-benford", instance_path=f"/{value_col}",
        schema_path=f"#/x-benford/{value_col}",
        message=F.when(
            F.col("_mad").isNull(),
            F.lit("Must conform to Benford's law: no measurable "
                  "first digits (empty or all zero/NULL/non-finite)"))
        .otherwise(F.concat(
            F.lit("Must conform to Benford's law: first-digit MAD "),
            F.col("_mad").cast("string"), F.lit(f" (limit {max_mad})"))),
        actual=F.col("_mad"), ruleset_name=ruleset_name, severity=severity)



def mean_shift_scan(df: DataFrame, ts_col: str, value_col: str, *,
                    unit: str = "day") -> DataFrame:
    """CUSUM changepoint scan over per-bucket means: WHERE did the level
    of ``value_col`` shift?

    The two-sided drift statistics (ks/psi/jsd/cvm) need the caller to
    DECLARE the split; this scan finds it. For bucket means x_1..x_B the
    cumulative sum ``C_t = sum_{i<=t}(x_i - mean(x))`` peaks at the
    changepoint under a level shift (the classic CUSUM statistic);
    ``norm_cusum = |C_t| / (s * sqrt(B))`` standardizes against the
    bucket-mean spread so values around >~1.3 indicate a real shift
    (the 95% Kolmogorov bound for a Brownian bridge — the statistic's
    null limit) and the argmax bucket is the estimated change location.

    Output: (bucket, n_rows, mean_value, cusum, norm_cusum) ordered by
    bucket — feed the argmax to a two-sided statistic for confirmation.
    One keys-only aggregate reduces the table to the bucket relation;
    the cumulative window and the spread run on that driver-scale
    relation (same shape as volume_anomalies). Fewer than 2 buckets or
    zero spread yield NULL norm_cusum (nothing measurable). NULL
    ts/value rows are absent."""
    if unit not in ("minute", "hour", "day", "week", "month"):
        raise ValueError(f"unsupported unit {unit!r}")
    t, v = F.col(ts_col), F.col(value_col).cast("double")
    b = (df.where(t.isNotNull() & v.isNotNull())
           .groupBy(F.date_trunc(unit, t).alias("bucket"))
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.avg(v).alias("mean_value")))
    tot = Window.partitionBy()
    run = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding,
                                               Window.currentRow)
    scan = (b.withColumn("_gm", F.avg("mean_value").over(tot))
             .withColumn("_sd", F.stddev_samp("mean_value").over(tot))
             .withColumn("_nb", F.count(F.lit(1)).over(tot))
             .withColumn("cusum",
                         F.sum(F.col("mean_value") - F.col("_gm")).over(run)))
    norm = F.when((F.col("_nb") >= 2) & (F.col("_sd") > 0),
                  F.abs(F.col("cusum"))
                  / (F.col("_sd") * F.sqrt(F.col("_nb"))))
    # + 0.0 canonicalizes IEEE -0.0 (the final bucket's cusum is an
    # analytic zero computed as a ±1e-16 residue) so engines agree
    return scan.select("bucket", "n_rows",
                       F.round("mean_value", 6).alias("mean_value"),
                       (F.round("cusum", 6) + 0.0).alias("cusum"),
                       F.round(norm, 6).alias("norm_cusum"))
