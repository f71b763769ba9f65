"""Deterministic sampling / mixing / budget-cap operators for
training-data curation (SURVEY §8 family; no reference analog — the
north-star pipeline needs them at 10^12 rows).

Everything here is DETERMINISTIC — no RNG, no sampling seed state: order
and membership derive from sha2 of the row id, so reruns, retries and
audits reproduce byte-identical samples (the same property the dedup
survivor rule has via min(id)).

Scale notes per operator:

* ``hash_sample`` — pure map (one filter on a hash prefix), no shuffle.
* ``stratified_topn`` — one shuffle on the stratum key; a pathologically
  hot stratum serializes its own rank window, so the per-stratum work is
  bounded with a pre-filter (see the function docstring).
* ``take_until_budget`` — a scalable prefix sum: range-repartition by the
  hash order, per-partition partial totals (tiny collect), broadcast the
  offsets back, window only WITHIN partitions. The naive formulation
  (``Window.orderBy`` with no partition) drags every row into a single
  task — the classic global-window scale-killer this avoids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .validate import to_col, violation_rows

# 8 hex chars = 32 bits of sha2 — plenty of resolution for a fraction
_HEX_DIGITS = 8
_HEX_SPACE = 16 ** _HEX_DIGITS


def _order_key(id_col: str):
    """Deterministic uniform order key: hex prefix of sha256(id). String
    comparison == numeric comparison on a fixed-width hex prefix, and
    sha256 exists verbatim in DuckDB, so oracles reproduce the exact
    sample."""
    return F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1,
                       _HEX_DIGITS)


def hash_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose sha256(id)
    prefix falls below the threshold. Pure map — no shuffle, no state;
    the SAME rows are kept on every run and on every overlapping dataset
    (consistent sampling across tables sharing ids)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    t = int(fraction * _HEX_SPACE)
    if t >= _HEX_SPACE:
        return df
    # fixed-width threshold: the prefix is exactly _HEX_DIGITS chars, so
    # the comparison string must be too (a longer zero-padded string
    # breaks lexicographic ordering)
    threshold = format(t, f"0{_HEX_DIGITS}x")
    return df.where(_order_key(id_col) < threshold)


def stratified_topn(df: DataFrame, strata_col: str, id_col: str,
                    n_per_stratum: int) -> DataFrame:
    """Deterministic n-per-stratum sample: hash-rank within each stratum,
    keep rank <= n. One shuffle on the stratum key; only the (tiny)
    projected sort keys move per row. Skew note: a pathologically hot
    stratum ranks on one reducer — when stratum sizes are known (catalog
    stats), pre-filter with :func:`hash_sample` at ~4x the implied
    fraction first so the exact rank sees a bounded candidate set; the
    rank still decides, so the composition stays exact-deterministic.
    """
    w = Window.partitionBy(strata_col).orderBy("_ok", id_col)
    pre = df.withColumn("_ok", _order_key(id_col))
    return (pre.withColumn("_rk", F.row_number().over(w))
               .where(F.col("_rk") <= n_per_stratum)
               .drop("_ok", "_rk"))


def mix_to_weights(df: DataFrame, source_col: str, id_col: str,
                   weights: dict[str, float]) -> DataFrame:
    """Deterministic corpus mixing: keep the largest subset whose source
    composition matches ``weights`` exactly (training mixtures like
    "50% web, 30% books, 20% code" built from skewed raw corpora).

    The feasible mixture size is ``T = min_s(n_s / w_s)`` (the scarcest
    source relative to its target share caps the total); each source then
    contributes its ``floor(w_s * T)`` hash-first rows, so membership is
    reproducible run-over-run AND monotone under corpus growth for the
    unsaturated sources (same sha2 order as :func:`hash_sample`).

    Sources absent from ``weights`` (or weighted 0) are dropped. Weights
    are normalized to sum 1; a weighted source missing from the data makes
    the mixture infeasible (T = 0 — everything is dropped) rather than
    silently rescaling, because a silently-shifted mixture is the worse
    failure for a training run.

    Scale: one tiny groupBy(source).count() (driver-scale relation), then
    one shuffle on the source key for the per-source rank window — only
    (id, source, order key) wide. A pathologically hot source serializes
    its own rank window (same bound as :func:`stratified_topn`).
    """
    if not weights:
        raise ValueError("weights must be a non-empty {source: weight} map")
    if any((not isinstance(w, (int, float))) or isinstance(w, bool) or w < 0
           for w in weights.values()):
        raise ValueError(f"weights must be non-negative numbers: {weights}")
    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    norm = {s: w / total_w for s, w in weights.items() if w > 0}
    counts = {r[0]: r[1] for r in
              df.where(F.col(source_col).isin(*norm))
                .groupBy(source_col).count().collect()}
    feasible = min((counts.get(s, 0) / w for s, w in norm.items()))
    caps = {s: int(w * feasible) for s, w in norm.items()}
    spark = df.sparkSession
    cap_df = F.broadcast(spark.createDataFrame(
        list(caps.items()), f"{source_col} string, _cap long"))
    w_rank = Window.partitionBy(source_col).orderBy("_ok", id_col)
    return (df.join(cap_df, source_col)
              .withColumn("_ok", _order_key(id_col))
              .withColumn("_rk", F.row_number().over(w_rank))
              .where(F.col("_rk") <= F.col("_cap"))
              .drop("_ok", "_rk", "_cap"))


def take_until_budget(df: DataFrame, weight_col: str, id_col: str,
                      budget: float, *, n_partitions: int = 64) -> DataFrame:
    """Keep rows, in deterministic hash order, while the cumulative
    ``weight_col`` stays within ``budget`` (token-budget curation: "give
    me ~10B tokens of this corpus, reproducibly").

    Scalable prefix sum: range-repartition on the hash order key (global
    order across partitions, rows only within), per-partition totals via
    one tiny aggregate, driver computes exclusive offsets (n_partitions
    numbers), broadcast-joined back; the running sum then needs a window
    only WITHIN each partition. No single-task global window at any row
    count. A row with NULL weight counts as 0.
    """
    keyed = (df.withColumn("_ok", _order_key(id_col))
               .repartitionByRange(n_partitions, F.col("_ok"), F.col(id_col))
               .withColumn("_pid", F.spark_partition_id()))
    from pyspark import StorageLevel
    keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        totals = {r._pid: r.tot for r in
                  keyed.groupBy("_pid")
                       .agg(F.sum(F.coalesce(F.col(weight_col), F.lit(0)))
                            .alias("tot")).collect()}
        offsets, acc = [], 0.0
        for pid in sorted(totals):
            offsets.append((pid, float(acc)))
            acc += float(totals[pid])
        if not offsets:
            # empty input: no partitions, nothing to keep — and
            # createDataFrame([]) cannot infer a schema
            keyed.unpersist()
            return df.where(F.lit(False))
        spark = df.sparkSession
        off_df = F.broadcast(
            spark.createDataFrame(offsets, ["_pid", "_offset"]))
        w = Window.partitionBy("_pid").orderBy("_ok", id_col)
        out = (keyed.join(off_df, "_pid")
               .withColumn("_cum", F.col("_offset")
                           + F.sum(F.coalesce(F.col(weight_col), F.lit(0)))
                           .over(w))
               .where(F.col("_cum") <= budget)
               .drop("_pid", "_ok", "_offset", "_cum"))
        # materialization note: `keyed` stays persisted for the lifetime of
        # the returned (lazy) plan; register for release like dedup ops
        from .dedup import _PERSISTED
        if keyed not in _PERSISTED:
            _PERSISTED.append(keyed)
        return out
    except Exception:
        keyed.unpersist()
        raise


def group_split(df: DataFrame, group_col: str, *,
                splits: dict[str, float] | None = None,
                salt: str = "split") -> DataFrame:
    """Group-exclusive train/val/test assignment: the split is a function
    of the GROUP key's hash (sha256 of ``salt:group``), so every row of a
    group (speaker, source site, document family) lands in the same split
    — cross-split leakage is impossible by construction, the failure mode
    row-level splitting invites. Deterministic like everything here:
    reruns and late-arriving rows of a known group assign identically.

    ``splits`` maps name -> weight (must sum to 1); boundaries are
    cumulative hash-prefix thresholds, so each GROUP lands in a split
    with probability ~= its weight (the row-count split tracks the group
    weight only as far as group sizes are even — that is inherent to
    leakage-free splitting). NULL group keys get a NULL split (the caller
    decides their fate). Pure map, zero shuffles.
    """
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    if not splits or any(w < 0 for w in splits.values()) \
            or abs(sum(splits.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must be >= 0 and sum to 1: {splits}")
    key = F.substring(
        F.sha2(F.concat(F.lit(salt + ":"),
                        F.col(group_col).cast("string")), 256),
        1, _HEX_DIGITS)
    names = list(splits)
    chain, cum = None, 0.0
    for name in names[:-1]:
        cum += splits[name]
        t = int(cum * _HEX_SPACE)
        # cum can hit 1.0 before the last name (zero-weight trailing
        # splits): format(16^8) would be 9 hex chars and break the
        # fixed-width lexicographic comparison (the hash_sample guard),
        # silently misrouting ~20% of groups — saturate to always-true
        cond = F.lit(True) if t >= _HEX_SPACE else \
            key < format(t, f"0{_HEX_DIGITS}x")
        chain = F.when(cond, F.lit(name)) if chain is None \
            else chain.when(cond, F.lit(name))
    last = F.lit(names[-1])
    assigned = last if chain is None else chain.otherwise(last)
    return df.withColumn(
        "split",
        F.when(F.col(group_col).isNull(),
               F.lit(None).cast("string")).otherwise(assigned))


def split_leakage(df: DataFrame, group_col: str, split_col: str) -> DataFrame:
    """Leakage audit for an EXISTING split assignment: groups whose rows
    span more than one split — ``(group, n_splits, n_rows, splits)``.
    One shuffle of ``(group, split)`` pairs; the per-group split set is
    bounded by the number of splits, so partial aggregation absorbs even
    pathological group sizes. :func:`group_split` output audits clean by
    construction; this is for splits assigned elsewhere."""
    g, s = F.col(group_col), F.col(split_col)
    return (df.where(g.isNotNull() & s.isNotNull())
              .groupBy(group_col)
              .agg(F.countDistinct(split_col).alias("n_splits"),
                   F.count(F.lit(1)).alias("n_rows"),
                   F.sort_array(F.collect_set(split_col)).alias("splits"))
              .where(F.col("n_splits") > 1))


def leakage_violations(df: DataFrame, split_col: str, group_col: str, *,
                       ruleset_name: str = "engine",
                       severity: str = "warning") -> DataFrame:
    """Violation rows for the ``x-leakage`` table check: one row per
    group whose members span more than one split (``row_id`` carries
    the GROUP value — these are group-level findings)."""
    return violation_rows(
        split_leakage(df, group_col, split_col),
        row_id=F.col(group_col),
        constraint_id=f"leakage:{split_col}:{group_col}",
        keyword="leakage", instance_path=f"/{split_col}",
        schema_path=f"#/x-leakage/{split_col}",
        message=F.concat(
            F.lit(f"Must keep every `{group_col}` group in one split: "
                  "found in "),
            F.array_join("splits", ", "),
            F.lit(" across "), F.col("n_rows").cast("string"),
            F.lit(" rows")),
        actual=F.col("n_splits"), expected=["1 split per group"],
        ruleset_name=ruleset_name, severity=severity)


def weighted_sample(df: DataFrame, id_col: str, weight_col, k: int) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement, k rows, inclusion
    probability proportional to weight (Efraimidis & Spirakis 2006 A-ES:
    rank by u^(1/w) with u uniform per row, take the k largest). The
    uniform is the sha256 prefix-as-fraction — same derandomization as
    ``hash_sample``, so reruns and the DuckDB oracle reproduce the exact
    sample; 13 hex digits = 52 bits, exact in a double.

    ``weight_col`` — column name or Column of positive weights; rows with
    NULL, NaN or non-positive weight are excluded (they carry no mass —
    validate weights upstream if that's a defect; NaN needs its own
    probe because Spark orders NaN ABOVE every number, so ``w > 0``
    alone would keep NaN rows and their NaN sort keys would then
    monopolize the descending top-k). Plan: pure map to
    score, then orderBy(key desc, id asc).limit(k) =
    TakeOrderedAndProject — per-partition top-k, driver merge of k rows
    per partition, no global sort at any scale.
    """
    if k <= 0:
        raise ValueError("k must be > 0")
    w = to_col(weight_col).cast("double")
    u = (F.conv(F.substring(F.sha2(F.col(id_col).cast("string"), 256),
                            1, 13), 16, 10).cast("double")
         / F.lit(float(16 ** 13)))
    key = F.pow(u, F.lit(1.0) / w)
    return (df.where((w > 0) & ~F.isnan(w))
            .withColumn("_aes_key", key)
            .orderBy(F.col("_aes_key").desc(), F.col(id_col).asc())
            .limit(k)
            .drop("_aes_key"))


def temperature_rates(df: DataFrame, group_col: str) -> "DataFrame":
    """Internal helper exposed for audit: per-group row counts and
    shares, the inputs :func:`temperature_sample` turns into rates."""
    counts = (df.where(F.col(group_col).isNotNull())
              .groupBy(group_col).agg(F.count(F.lit(1)).alias("n")))
    total = counts.agg(F.sum("n").alias("_total"))
    return (counts.crossJoin(F.broadcast(total))
            .select(group_col, "n",
                    (F.col("n") / F.col("_total")).alias("share")))


def temperature_sample(df: DataFrame, group_col: str, id_col: str, *,
                       alpha: float = 0.3) -> DataFrame:
    """Temperature-based group rebalancing (the mT5 / XLM-R recipe,
    Xue et al. 2021 §3.1, Conneau et al. 2020 §3): sample group g with
    probability proportional to p_g^alpha, where p_g is its share of
    rows — alpha < 1 upweights low-resource groups (languages) relative
    to their natural frequency, alpha = 1 is a no-op, alpha -> 0
    approaches uniform-over-groups.

    Realized as per-group DETERMINISTIC hash-thresholding: target share
    q_g = p_g^alpha / sum(p^alpha); per-group keep-rate r_g =
    (q_g / p_g) normalized so the largest rate is 1.0 (never upsample —
    this operator thins, duplication is ``mix``'s job); a row survives
    iff its sha256-prefix uniform (the ``hash_sample`` derandomization)
    falls below r_g. Plan: one tiny groupBy builds the rate relation
    (broadcast back), the pass itself is a pure map filter — same rows
    kept on every run, every engine. NULL groups are dropped.
    """
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    rates_src = temperature_rates(df, group_col)
    smoothed = rates_src.select(
        group_col, "share",
        F.pow(F.col("share"), F.lit(float(alpha))).alias("_w"))
    wsum = smoothed.agg(F.sum("_w").alias("_wsum"))
    q = (smoothed.crossJoin(F.broadcast(wsum))
         .select(group_col,
                 ((F.col("_w") / F.col("_wsum")) / F.col("share"))
                 .alias("_ratio")))
    rmax = q.agg(F.max("_ratio").alias("_rmax"))
    rates = (q.crossJoin(F.broadcast(rmax))
             .select(group_col,
                     (F.col("_ratio") / F.col("_rmax")).alias("_rate")))
    u = (F.conv(F.substring(F.sha2(F.col(id_col).cast("string"), 256),
                            1, 13), 16, 10).cast("double")
         / F.lit(float(16 ** 13)))
    return (df.where(F.col(group_col).isNotNull())
            .join(F.broadcast(rates), group_col)
            .where(u < F.col("_rate"))
            .drop("_rate"))
