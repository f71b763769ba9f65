"""Key-distribution skew profiling + mergeable heavy-hitters sketch.

north_rule mandate: "partitioning / shuffle / skew handled explicitly".
The engine's skewed paths (salted uniqueness, bucketed as-of, AQE skew
join) all need the user to KNOW a key is hot before they reach for them —
``skew_profile`` is that diagnostic: one relation describing how load
would distribute if the table were shuffled on ``key`` (max share, top-k
share, normalized entropy, and a recommended salt factor that feeds
straight into ``uniqueness.duplicate_keys(n_salts=...)`` /
``asof.asof_join_bucketed``). Reference analog: the lint pass that tells
you *which* rule to configure before you configure it — here the "rule"
is a shuffle strategy.

``heavy_hitters`` is the scale path for the same question when even the
per-key count relation is too wide to shuffle comfortably: a mergeable
Misra-Gries summary (Agarwal et al., "Mergeable Summaries", PODS 2012)
built per input partition inside one ``mapInPandas`` pass, merged with a
tiny groupBy. Shuffle width is bounded by partitions x capacity rows of
(key, count) — independent of the number of distinct keys. Deterministic:
any key with true frequency > n/capacity is guaranteed present, estimates
are [count_min, count_max] with count_max - count_min == the summed
per-partition prune error; with capacity >= per-partition distinct keys
the sketch never prunes and both bounds equal the exact count (pinned in
tests, and the basis of the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _persist
from .validate import violation_rows


def key_counts(df: DataFrame, key: str, *, n_salts: int = 32) -> DataFrame:
    """Per-key row counts, salted two-phase (same plan as
    uniqueness.duplicate_keys: the salt is the row's input partition id
    modulo ``n_salts`` — it varies WITHIN a key, so a hot key's rows
    split across up to n_salts phase-1 reducers; phase 2 merges at most
    one row per (key, salt). A key-derived salt would be constant per
    key and split nothing.)"""
    partial = (
        df.select(key)
        .where(F.col(key).isNotNull())
        .groupBy(F.col(key),
                 F.pmod(F.spark_partition_id(),
                        F.lit(n_salts)).alias("_salt"))
        .agg(F.count(F.lit(1)).alias("_partial")))
    return partial.groupBy(key).agg(F.sum("_partial").alias("cnt"))


def skew_profile(df: DataFrame, key: str, *, top_k: int = 10,
                 n_salts: int = 32) -> DataFrame:
    """One-row skew report for shuffling/joining ``df`` on ``key``.

    Columns: key_col, n_rows, n_keys, max_count, avg_count,
    max_share (hottest key's fraction of all rows), top_k_share (the k
    hottest keys' combined fraction), entropy_norm (Shannon entropy of
    the key distribution / log2(n_keys); 1.0 = perfectly even, -> 0 =
    one key dominates; NULL when n_keys < 2), skew_ratio
    (max_count / avg_count; 1.0 = even) and recommended_salts
    (ceil(skew_ratio), clamped to [1, 1024] — the salt factor that
    splits the hottest key down to average-key load).

    Plan: ONE shuffle builds the per-key count relation (persisted via
    the dedup registry so the two tiny follow-up aggregates — the global
    moments and the top-k sum — do not rescan the input; release with
    ``dedup.release_all()``). The top-k pass is orderBy(...).limit(k),
    which Spark executes as TakeOrderedAndProject (per-partition top-k,
    driver merge) — no global sort even with a billion distinct keys.
    Entropy uses H = log2(n) - sum(c*log2(c))/n so it folds into the
    same single aggregate as the moments.
    """
    if top_k <= 0:
        raise ValueError("top_k must be > 0")
    counts = _persist(key_counts(df, key, n_salts=n_salts)) \
        .select(F.col(key).alias("_k"), "cnt")
    moments = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_count"),
        F.sum(F.col("cnt").cast("double") * F.log2("cnt")).alias("_clogc"))
    # tie-breaks at the top-k boundary order by _k; tied counts add
    # identical sums either way
    top = (counts.orderBy(F.col("cnt").desc(), F.col("_k").asc())
           .limit(top_k)
           .agg(F.sum("cnt").alias("_top_sum")))
    m = moments.crossJoin(F.broadcast(top))
    n = F.col("n_rows").cast("double")
    return m.select(
        F.lit(key).alias("key_col"),
        F.col("n_rows"),
        F.col("n_keys"),
        F.col("max_count"),
        F.round(n / F.col("n_keys"), 6).alias("avg_count"),
        F.round(F.col("max_count") / n, 6).alias("max_share"),
        F.round(F.col("_top_sum") / n, 6).alias("top_k_share"),
        F.when(F.col("n_keys") >= 2,
               F.round((F.log2("n_rows") - F.col("_clogc") / n)
                       / F.log2("n_keys"), 6)).alias("entropy_norm"),
        F.round(F.col("max_count") * F.col("n_keys") / n, 6)
         .alias("skew_ratio"),
        F.least(F.lit(1024), F.greatest(F.lit(1), F.ceil(
            F.col("max_count") * F.col("n_keys") / n)))
         .cast("int").alias("recommended_salts"),
    )


def _mg_summary_partition(batches, capacity: int):
    """Misra-Gries over one input partition: dict-merge each Arrow batch,
    prune to ``capacity`` keys by subtracting the (capacity+1)-th largest
    count from everyone (the mergeable-summaries prune), accumulate the
    subtracted amount as the partition's error term. Emits the surviving
    (key, cnt) rows plus ONE sentinel row (key NULL, cnt = error)."""
    import pandas as pd

    counter: dict = {}
    err = 0
    saw_rows = False
    for pdf in batches:
        vc = pdf.iloc[:, 0].value_counts()
        if len(vc):
            saw_rows = True
        for k, c in vc.items():
            counter[k] = counter.get(k, 0) + int(c)
        if len(counter) > capacity:
            cut = sorted(counter.values(), reverse=True)[capacity]
            counter = {k: c - cut for k, c in counter.items() if c > cut}
            err += cut
    if not saw_rows:
        return
    keys = list(counter.keys()) + [None]
    cnts = [counter[k] for k in counter] + [err]
    yield pd.DataFrame({"key": pd.array(keys, dtype="string"),
                        "cnt": pd.array(cnts, dtype="int64")})


def heavy_hitters(df: DataFrame, key: str, *, capacity: int = 1024,
                  top_k: int = 20) -> DataFrame:
    """Approximate top-k keys with deterministic error bounds.

    Output: key (string), count_min, count_max — ordered by
    (count_min desc, key asc), at most ``top_k`` rows. True frequency of
    every returned key lies in [count_min, count_max]; count_max ==
    count_min + the summed per-partition prune error, so with
    ``capacity`` >= the number of distinct keys any single input
    partition sees, the error is zero and counts are EXACT (the oracle
    mode). Any key with true frequency > n_rows/capacity is guaranteed
    to appear in the merged summary.

    Plan: one ``mapInPandas`` pass builds a <= capacity+1 row summary per
    input partition (shuffle width: partitions x capacity, independent of
    distinct-key count — the point of the sketch vs ``key_counts``); a
    groupBy(key) over those summaries merges lower bounds; the scalar
    error relation (one row) broadcasts onto the top-k. NULL input keys
    are ignored (profile them with column_stats null_rate instead).
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if top_k <= 0:
        raise ValueError("top_k must be > 0")
    src = (df.select(F.col(key).cast("string").alias("key"))
           .where(F.col(key).isNotNull()))
    partials = _persist(src.mapInPandas(
        lambda it: _mg_summary_partition(it, capacity),
        schema="key string, cnt long"))
    merged = (partials.where(F.col("key").isNotNull())
              .groupBy("key").agg(F.sum("cnt").alias("count_min")))
    total_err = (partials.where(F.col("key").isNull())
                 .agg(F.coalesce(F.sum("cnt"), F.lit(0))
                      .alias("_total_err")))
    return (merged
            .crossJoin(F.broadcast(total_err))
            .select(F.col("key"), F.col("count_min"),
                    (F.col("count_min") + F.col("_total_err"))
                    .alias("count_max"))
            .orderBy(F.col("count_min").desc(), F.col("key").asc())
            .limit(top_k))


def skew_profile_by(df: DataFrame, key: str, group_col: str, *,
                    top_k: int = 10, n_salts: int = 32) -> DataFrame:
    """Per-GROUP :func:`skew_profile`: one report row per group
    ("skew per tenant"), same columns plus leading ``grp`` (the group
    value cast to string; NULL group values form a real group).

    One salted two-phase aggregate builds per-(group, key) counts — the
    shuffle carries (group, key) pairs only; the per-group moments and
    the top-k boundary (a rank window PARTITIONED by group, never
    global) run on that keyed count relation, so group cardinality is
    unbounded. Formulas and rounding match :func:`skew_profile`, so
    per-group numbers equal what the global profile reports on that
    group's slice."""
    if top_k <= 0:
        raise ValueError("top_k must be > 0")
    grp = F.col(group_col).cast("string").alias("_grp")
    partial = (
        df.select(grp, F.col(key).alias("_k"))
        .where(F.col("_k").isNotNull())
        .groupBy("_grp", "_k",
                 F.pmod(F.spark_partition_id(),
                        F.lit(n_salts)).alias("_salt"))
        .agg(F.count(F.lit(1)).alias("_partial")))
    counts = (partial.groupBy("_grp", "_k")
              .agg(F.sum("_partial").alias("cnt")))
    moments = counts.groupBy("_grp").agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_count"),
        F.sum(F.col("cnt").cast("double") * F.log2("cnt")).alias("_clogc"))
    w = Window.partitionBy("_grp").orderBy(F.col("cnt").desc(),
                                           F.col("_k").asc())
    top = (counts.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") <= top_k)
           .groupBy(F.col("_grp").alias("_tgrp"))
           .agg(F.sum("cnt").alias("_top_sum")))
    # eqNullSafe: the NULL group is a real group and must keep its top-k
    m = (moments.join(top, F.col("_grp").eqNullSafe(F.col("_tgrp")),
                      "left")
         .drop("_tgrp"))
    n = F.col("n_rows").cast("double")
    return m.select(
        F.col("_grp").alias("grp"),
        F.lit(key).alias("key_col"),
        F.col("n_rows"),
        F.col("n_keys"),
        F.col("max_count"),
        F.round(n / F.col("n_keys"), 6).alias("avg_count"),
        F.round(F.col("max_count") / n, 6).alias("max_share"),
        F.round(F.col("_top_sum") / n, 6).alias("top_k_share"),
        F.when(F.col("n_keys") >= 2,
               F.round((F.log2("n_rows") - F.col("_clogc") / n)
                       / F.log2("n_keys"), 6)).alias("entropy_norm"),
        F.round(F.col("max_count") * F.col("n_keys") / n, 6)
         .alias("skew_ratio"),
        F.least(F.lit(1024), F.greatest(F.lit(1), F.ceil(
            F.col("max_count") * F.col("n_keys") / n)))
         .cast("int").alias("recommended_salts"),
    )


def skew_violations(df: DataFrame, key: str, *,
                    max_share: float, top_k: int = 10,
                    by: str | None = None,
                    ruleset_name: str = "engine",
                    severity: str = "warning") -> DataFrame:
    """Table-level declarative form (``x-skew``): a violation row when the
    hottest ``key`` value holds more than ``max_share`` of all rows — the
    lint that says "shuffling on this key will strand one reducer; salt
    it or bucket it". The row carries the measured share as ``actual``
    and the hottest key's
    recommended salt factor in the message.

    ``by`` gates PER GROUP over :func:`skew_profile_by` ("skew per
    tenant"): one violation row per group whose hottest key crosses
    ``max_share``, the group value as ``row_id`` (NULL renders as
    ``<null>``). A group with no non-NULL keys has no distribution to
    lint and emits nothing, like the global form on an all-NULL
    column."""
    if by is None:
        return skew_gate_from_profile(
            skew_profile(df, key, top_k=top_k), key, max_share=max_share,
            ruleset_name=ruleset_name, severity=severity)
    prof = skew_profile_by(df, key, by, top_k=top_k)
    return skew_gate_from_profile(
        prof, key, max_share=max_share, by=by,
        rid=F.coalesce(F.col("grp"), F.lit("<null>")),
        ruleset_name=ruleset_name, severity=severity)


def skew_gate_from_profile(prof: DataFrame, key: str, *,
                           max_share: float, by: str | None = None,
                           rid=None,
                           ruleset_name: str = "engine",
                           severity: str = "warning") -> DataFrame:
    """The x-skew gate over a precomputed :func:`skew_profile` (or
    :func:`skew_profile_by`, with ``rid``/``by``) relation — shared
    by the global and grouped :func:`skew_violations`."""
    return violation_rows(
        prof.where(F.col("max_share") > F.lit(float(max_share))),
        row_id="all" if rid is None else rid,
        constraint_id=f"skew:{key}" + (f":by={by}" if by else ""),
        keyword="x-skew", instance_path=f"/{key}",
        schema_path=f"#/x-skew/{key}",
        message=F.concat(
            F.lit(f"Key '{key}' is skewed: hottest value holds "),
            F.col("max_share").cast("string"),
            F.lit(f" of rows (limit {max_share}); shuffle on it with >= "),
            F.col("recommended_salts").cast("string"),
            F.lit(" salts")),
        actual=F.col("max_share"), ruleset_name=ruleset_name,
        severity=severity)


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005): the additive-mergeable
# frequency sketch — the companion to the Misra-Gries summary above (MG
# returns the heavy keys; CM answers point queries for ANY key with a
# one-sided overestimate bound n*e/width at confidence 1-(1/e)^depth)
# ---------------------------------------------------------------------------

def _cm_bucket(key, seed: int, width: int):
    """Portable bucket hash: the first 8 md5 hex chars of ``seed:key``
    as an integer, mod width. md5 (not xxhash64) for the winnowing
    reason: any SQL engine reproduces the EXACT same cells, so a sketch
    built here can be verified — or merged — outside Spark."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width


def count_min_sketch(df: DataFrame, key_col: str, *, width: int = 256,
                     depth: int = 4) -> DataFrame:
    """Build a Count-Min sketch over ``key_col``: (seed, bucket, n) with
    exactly ``depth`` seed rows per input row.

    ONE explode(depth) + hash-aggregate whose shuffle carries
    (seed, bucket) int pairs only — depth*width cells total, additive
    under union (merge two sketches by summing matching cells), so
    per-partition / per-day partials combine with a plain groupBy sum —
    the same mergeability contract as the Misra-Gries summary and the
    t-digest. NULL keys are absent (count them with column_stats)."""
    if width < 2 or depth < 1:
        raise ValueError("count_min_sketch requires width >= 2, depth >= 1")
    key = F.col(key_col)
    cells = F.array(*[
        F.struct(F.lit(d).alias("seed"),
                 _cm_bucket(key, d, width).alias("bucket"))
        for d in range(depth)])
    return (df.where(key.isNotNull())
              .select(F.explode(cells).alias("_c"))
              .groupBy(F.col("_c.seed").alias("seed"),
                       F.col("_c.bucket").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n"))
              # build parameters ride along as constant columns so
              # cm_estimate can refuse a width/depth-mismatched probe
              # (mismatched cells silently UNDERcount otherwise); merges
              # groupBy(seed, bucket, width, depth) and stay additive
              .select("seed", "bucket", "n",
                      F.lit(int(width)).alias("width"),
                      F.lit(int(depth)).alias("depth")))


def cm_estimate(sketch: DataFrame, keys: DataFrame, key_col: str, *,
                width: int = 256, depth: int = 4) -> DataFrame:
    """Point-query a Count-Min sketch for every row of ``keys``:
    (key, est) with ``est = min over seeds of the key's cell`` — the CM
    estimator, NEVER an undercount (est >= true count; pinned by test).

    The probe relation re-derives each key's depth cells (same portable
    hash) and left-joins the sketch — the sketch is depth*width rows, so
    Catalyst broadcasts it and the probe is map-side. A cell no key ever
    hashed to is absent from the sketch relation and reads as 0.

    The probe's ``width``/``depth`` MUST match the build's: mismatched
    parameters derive different cells and the estimate can silently fall
    BELOW the true count, violating the one-sided invariant. Sketches
    built by :func:`count_min_sketch` carry their build parameters as
    constant columns; the plan embeds an ``assert_true`` over them so a
    mismatched probe raises at execution instead of undercounting
    (lazy — no extra job; a parameterless legacy sketch skips the
    guard)."""
    key = F.col(key_col)
    probes = keys.select(
        key.alias("key"),
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("seed"),
                     _cm_bucket(key, d, width).alias("bucket"))
            for d in range(depth)])).alias("_c"))
    has_meta = "width" in sketch.columns and "depth" in sketch.columns
    core = sketch.drop("width", "depth") if has_meta else sketch
    j = (probes.select("key", F.col("_c.seed").alias("seed"),
                       F.col("_c.bucket").alias("bucket"))
         .join(F.broadcast(core), ["seed", "bucket"], "left")
         .fillna({"n": 0}))
    if not has_meta:
        return j.groupBy("key").agg(F.min("n").alias("est"))
    # 1-row aggregate (non-NULL even on an empty sketch) flagging any
    # cell whose recorded parameters differ from the probe's
    bad = sketch.groupBy().agg(F.max(
        F.when((F.col("width") != int(width))
               | (F.col("depth") != int(depth)), 1)
         .otherwise(0)).alias("_cm_bad"))
    guard = F.assert_true(
        F.coalesce(F.col("_cm_bad"), F.lit(0)) == 0,
        F.lit(f"cm_estimate(width={width}, depth={depth}) probed a "
              "sketch built with different parameters — estimates "
              "would undercount"))
    # assert_true yields NULL on success, so the when() passes n through
    # and the guard cannot be pruned out of the plan
    return (j.crossJoin(F.broadcast(bad))
             .groupBy("key")
             .agg(F.min(F.when(guard.isNull(), F.col("n")))
                   .alias("est")))
