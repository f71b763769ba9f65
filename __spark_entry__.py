"""Driver contract: flagship entry, per-operator queries, DuckDB oracles.

Each ``queries()`` entry exercises one operator family from SURVEY.md §2;
``oracle_sql()`` holds the ANSI-SQL equivalent DuckDB runs on the same
parquet. Column names/aliases match exactly on both sides (driver compares
row-count + schema + order-insensitive value hash). Doubles are rounded to
5-6 dp on BOTH sides so only genuine semantic differences can mismatch.

Non-SQL-expressible ops (MinHash-LSH, SimHash, IVF-ANN, approx sketches)
have queries() entries without oracles -> rows-only checks by design.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remark_lint_frontmatter_schema_spark import compile_ruleset, validate
from remark_lint_frontmatter_schema_spark.operators import (
    clusters, cohort, curate, decontaminate, dedup, drift, packing,
    referential, sampling, similarity, stats, text, uniqueness)

SF_SMOKE = "/root/testdata/sf0.001"


def _load(spark: SparkSession, sf: str, name: str) -> DataFrame:
    """Read one testdata table, spreading single-split files across cores.

    Every sandbox parquet is a single row group, so the scan is ONE task and
    all downstream map work (projection, explode, partial aggregation) would
    serialize on local[N]. Production tables arrive as many splits, making
    this a no-op there — guarded on the scan's actual split count, so the
    repartition (a tiny shuffle of a tiny file here) never fires on a
    properly-split source.
    """
    df = spark.read.parquet(f"{sf}/{name}.parquet")
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(p, 16):
        df = df.repartition(p)
    return df

# ---------------------------------------------------------------------------
# flagship ruleset over `orders` (thresholds chosen to actually fire on the
# clean TPC-H-ish data, so the oracle comparison is non-trivial)
# ---------------------------------------------------------------------------

ORDERS_RULESET = {
    "type": "object",
    "properties": {
        "o_orderstatus": {"enum": ["O", "F"]},
        "o_totalprice": {"exclusiveMinimum": 2000},
        "o_orderpriority": {"pattern": "^[1-3]-"},
    },
    "required": ["o_custkey"],
}

_ORDERS_VIOL_CTE = """
  SELECT CAST(o_orderkey AS VARCHAR) AS row_id,
         'orders:/o_orderstatus:enum' AS constraint_id,
         'enum' AS keyword, '/o_orderstatus' AS instance_path,
         'Must be equal to one of the allowed values: `O`, `F` • #/properties/o_orderstatus/enum' AS message,
         o_orderstatus AS actual
  FROM orders WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F')
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR),
         'orders:/o_totalprice:exclusiveMinimum', 'exclusiveMinimum', '/o_totalprice',
         'Must be > 2000 • #/properties/o_totalprice/exclusiveMinimum',
         CAST(o_totalprice AS VARCHAR)
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice <= 2000
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR),
         'orders:/o_orderpriority:pattern', 'pattern', '/o_orderpriority',
         'Must match pattern "^[1-3]-" • #/properties/o_orderpriority/pattern',
         o_orderpriority
  FROM orders WHERE o_orderpriority IS NOT NULL
        AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR),
         'orders:/:required', 'required', '',
         'Must have required property ''o_custkey'' • #/required',
         NULL
  FROM orders WHERE o_custkey IS NULL
"""

_ORDERS_VIOL_SQL = f"""
WITH v AS ({_ORDERS_VIOL_CTE})
SELECT row_id, constraint_id, keyword, instance_path, message FROM v
"""


def _orders_validation(spark: SparkSession, sf_dir: str):
    orders = _load(spark, sf_dir, "orders")
    compiled = compile_ruleset(ORDERS_RULESET, orders.schema, name="orders")
    return validate(orders, compiled, row_id="o_orderkey",
                    partition_col="o_orderstatus")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: declarative ruleset -> one-scan violations (sf0.001)."""
    return _orders_validation(spark, SF_SMOKE).violations


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_validate_orders(spark, sf):
    return _orders_validation(spark, sf).violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message")


def q_verdict_orders(spark, sf):
    return _orders_validation(spark, sf).verdicts.select(
        "partition_id", "n_rows", "n_violations", "n_failed_rows", "passed")


# footer-statistics pruning (operators/stats_prune.py): integer bounds +
# required are decided per FILE from parquet row-group min/max/null_count
# (the Iceberg manifest-stats move); files the footers cannot clear get the
# ordinary one-projection scan. At this SF the table is one file, so the
# value proven here is end-to-end parity of the pruned code path; the
# actual file-skipping is pinned by tests/test_stats_prune.py on a
# multi-file table.
LINEITEM_PRUNE_RULESET = {
    "type": "object",
    "required": ["l_orderkey"],
    "properties": {
        "l_linenumber": {"type": "integer", "minimum": 1, "maximum": 5},
        "l_suppkey": {"type": "integer", "minimum": 10},
    },
}


def q_validate_lineitem_pruned(spark, sf):
    from remark_lint_frontmatter_schema_spark.operators.stats_prune import (
        validate_with_stats_pruning,
    )
    out = validate_with_stats_pruning(
        spark, f"{sf}/lineitem.parquet", LINEITEM_PRUNE_RULESET,
        row_id="l_orderkey", name="pruned")
    return out["result"].violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message")


# lint -> fix: clamp price to the closed bounds, invalid status takes the
# default, priority is truncated then pattern-nullified (operators/repair.py)
ORDERS_REPAIR_RULESET = {
    "type": "object",
    "properties": {
        "o_orderstatus": {"enum": ["O", "F"], "default": "O"},
        "o_totalprice": {"minimum": 50000, "maximum": 300000},
        "o_orderpriority": {"maxLength": 8, "pattern": "^[1-3]-"},
    },
}


def q_repair_orders(spark, sf):
    from remark_lint_frontmatter_schema_spark.operators.repair import repair
    orders = _load(spark, sf, "orders")
    res = repair(orders, ORDERS_REPAIR_RULESET, row_id="o_orderkey",
                 name="orders")
    return res.repaired.select(
        F.col("o_orderkey").alias("row_id"),
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority",
    )


def q_repair_log_orders(spark, sf):
    """Aggregated repair log — one row per (column, action) with the
    fire count; the DuckDB twin re-derives each count from first
    principles, cross-checking the log relation itself."""
    from remark_lint_frontmatter_schema_spark.operators.repair import repair
    orders = _load(spark, sf, "orders")
    res = repair(orders, ORDERS_REPAIR_RULESET, row_id="o_orderkey",
                 name="orders")
    return (res.log.groupBy("column", "action")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("column", "action", "n"))


def q_footer_profile_lineitem(spark, sf):
    """Metadata-only column profile (operators/stats_prune.footer_profile):
    per-integer-column n_rows/null_count/min/max aggregated from parquet
    row-group statistics — ZERO data read. The oracle is a full-scan
    aggregate: footer math must equal the scan exactly."""
    from remark_lint_frontmatter_schema_spark.operators.stats_prune import (
        footer_profile,
    )
    return footer_profile(
        spark, f"{sf}/lineitem.parquet",
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"])


def q_volume_anomaly_events(spark, sf):
    """Ingest-volume anomaly detection (operators/outliers.py
    volume_anomalies): hourly event counts whose modified z-score
    crosses 3.5 — thin/flooded hours x-calendar (empty buckets only)
    cannot see. One keys-only aggregate to the bucket relation; the
    median/MAD passes run on the driver-scale counts."""
    from remark_lint_frontmatter_schema_spark.operators.outliers import (
        volume_anomalies)
    ev = _load(spark, sf, "events")
    return volume_anomalies(ev, "ts", unit="hour", k=3.5) \
        .select("bucket", "value", F.round("z", 6).alias("z"))


def q_validate_lineitem_fused(spark, sf):
    """Six aggregation table checks declared in ONE ruleset through
    the declarative path (operators/table_checks.py): x-unique
    (l_partkey), x-quantile (l_quantity p99<=45), x-mask + x-skew
    (l_returnflag), x-volume (l_shipdate monthly, k=2) and x-freshness
    (l_shipdate). Each runs as its own column-pruned pass and the rows
    are unioned. The oracle re-derives each check independently and
    unions them — the engine's rows must equal the standalone checks'.
    The query keeps its historical name. `expected` dropped: the
    oracle comparison's canonicalizer cannot sort mixed NULL/non-NULL
    arrays."""
    from remark_lint_frontmatter_schema_spark import compile_ruleset
    from remark_lint_frontmatter_schema_spark.operators.table_checks import (
        table_check_violations)
    li = _load(spark, sf, "lineitem")
    rs = {"properties": {
        "l_partkey": {"x-unique": True},
        "l_quantity": {"x-quantile": {"q": 0.99, "hi": 45.0}},
        "l_returnflag": {"x-mask": {"expect": "9", "min_share": 0.99},
                         "x-skew": {"max_share": 0.2}},
        "l_shipdate": {"x-volume": {"unit": "month", "k": 2.0},
                       "x-freshness": {
                           "max_age_seconds": 3600,
                           "as_of": "2001-12-01 00:00:00"}}}}
    compiled = compile_ruleset(rs, li.schema, name="fused")
    return table_check_violations(li, compiled, row_id="l_orderkey") \
        .drop("expected")


def q_volume_by_events(spark, sf):
    """GROUPED ingest-volume gate (operators/outliers.py
    volume_violations, x-volume `by:`): daily bucket counts scored
    against THEIR EVENT TYPE's median/MAD — a type that floods while
    another thins is invisible to the global form, which sees the sum.
    Deterministic burst injection ('click' rows on day 5 re-appended
    3x -> that (type, day) bucket runs 4x volume) so exactly the
    planted bucket fires, message string included. `expected` dropped
    (NULL array; driver canonicalizer rule)."""
    from remark_lint_frontmatter_schema_spark.operators.outliers import (
        volume_violations)
    ev = _load(spark, sf, "events")
    burst = ev.where((F.col("event_type") == "click")
                     & (F.dayofmonth("ts") == 5))
    src = ev.unionAll(burst).unionAll(burst).unionAll(burst)
    return volume_violations(src, "ts", unit="day", k=3.5,
                             by="event_type").drop("expected")


def q_outliers_events(spark, sf):
    """Robust modified-z outliers on events.value (operators/outliers.py):
    median/MAD from two single-column aggregates broadcast back onto a
    pruned (id, value) projection — nothing but the 1-row stats shuffles."""
    from remark_lint_frontmatter_schema_spark.operators.outliers import (
        outlier_scores)
    ev = _load(spark, sf, "events")
    return outlier_scores(ev, "value", row_id="event_id", k=3.5)


def q_outliers_events_by_type(spark, sf):
    """Per-group robust outliers: events.value scored against its own
    event_type's median/MAD — flags values legal globally but anomalous
    for their category. Stats relation is per-group (driver-scale) and
    broadcast back onto the pruned fact."""
    from remark_lint_frontmatter_schema_spark.operators.outliers import (
        outlier_scores)
    ev = _load(spark, sf, "events")
    return outlier_scores(ev, "value", row_id="event_id", k=3.5,
                          group_col="event_type")


_MONO_COLS = ("row_id", "partition_id", "ruleset_id", "constraint_id",
              "keyword", "instance_path", "schema_path", "message",
              "severity")


def q_monotonic_events_by_user(spark, sf):
    """x-monotonic grouped path (operators/sequence.py): per user_id,
    `value` must be non-decreasing over event_id order — fires ~5k times
    at sf0.01, so the oracle comparison is non-trivial (the generated ts
    column IS monotone per user and would match vacuously). One shuffle on
    the group key; only (id, value, order, group) ever shuffle. `actual`
    is excluded to keep double stringification out of the hash; pair
    identity is in row_id."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        monotonic_violations)
    ev = _load(spark, sf, "events")
    return monotonic_violations(
        ev, "value", order_by="event_id", row_id="event_id",
        by="user_id").select(*_MONO_COLS)


def q_monotonic_events_global(spark, sf):
    """x-monotonic global path: bucketed total order (repartitionByRange +
    within-bucket windows + an n_buckets-row boundary pass) instead of the
    single-task global window — the oracle IS that global window in DuckDB,
    so this pins the bucketed plan to the naive semantics exactly."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        monotonic_violations)
    ev = _load(spark, sf, "events")
    return monotonic_violations(
        ev, "value", order_by="event_id", row_id="event_id",
        n_buckets=8).select(*_MONO_COLS)


def q_mix_documents(spark, sf):
    """Deterministic corpus mixing (sampling.mix_to_weights): largest
    subset with exact 40/30/20/10 source composition; per-source hash-first
    membership so the oracle reproduces the exact rows. One tiny
    count, one rank-window shuffle on (id, source, order key)."""
    from remark_lint_frontmatter_schema_spark.operators.sampling import (
        mix_to_weights)
    docs = _load(spark, sf, "documents")
    out = mix_to_weights(docs, "source", "doc_id",
                         {"src0": 0.4, "src1": 0.3,
                          "src2": 0.2, "src3": 0.1})
    return out.select("doc_id", "source")


def q_chunk_documents(spark, sf):
    """Token-window chunking (operators/chunking.py): documents split into
    <=64-token chunks with 8-token overlap, tail window landing on the last
    token. Map-only — zero shuffles at any scale; the token array is staged
    below the Generate so the regex split runs once per document."""
    from remark_lint_frontmatter_schema_spark.operators.chunking import (
        chunk_documents)
    docs = _load(spark, sf, "documents")
    return chunk_documents(docs, "text", "doc_id",
                           max_tokens=64, overlap=8)


def q_content_json_events(spark, sf):
    """contentMediaType application/json checker (functions/content.py)
    over events.props, plus the same probe on a truncated copy (drops the
    closing brace) so the parity check exercises both verdicts."""
    from remark_lint_frontmatter_schema_spark.functions.content import (
        json_ok)
    ev = _load(spark, sf, "events")
    p = F.col("props")
    mangled = F.expr("substr(props, 1, length(props) - 1)")
    return ev.select(
        F.col("event_id").cast("string").alias("row_id"),
        F.when(p.isNotNull(), json_ok(p)).alias("props_ok"),
        F.when(p.isNotNull(), json_ok(mangled)).alias("mangled_ok"))


def q_stats_lineitem(spark, sf):
    li = _load(spark, sf, "lineitem")
    return li.groupBy(F.col("l_returnflag")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("n_nulls_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.countDistinct("l_partkey").alias("n_distinct_part"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_unique_lineitem_orderkey(spark, sf):
    li = _load(spark, sf, "lineitem")
    return uniqueness.duplicate_keys(li, "l_orderkey")


def q_mask_profile_customer(spark, sf):
    """Value-pattern profiling (operators/stats.py mask_profile): top
    shape masks (digit runs -> 9, letter runs -> A) for customer name
    and segment in one scan; the oracle re-derives mask, counts, shares
    and the per-column top-k in DuckDB."""
    from remark_lint_frontmatter_schema_spark.operators.stats import (
        mask_profile)
    cust = _load(spark, sf, "customer")
    return mask_profile(cust, ["c_name", "c_mktsegment"], top_k=5)


def q_corr_profile_lineitem(spark, sf):
    """Pairwise Pearson correlations (operators/stats.py
    correlation_profile) over four lineitem numerics in ONE aggregate —
    pairwise-complete co-moment formulation (ANSI-safe, constant ->
    NULL); oracle uses DuckDB's corr, which shares the semantics."""
    from remark_lint_frontmatter_schema_spark.operators.stats import (
        correlation_profile)
    li = _load(spark, sf, "lineitem")
    return correlation_profile(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


def q_mask_gate_customer(spark, sf):
    """Shape-conformance gate (operators/stats.py mask_violations,
    x-mask): c_name must collapse to 'A#9' for >= 99% of rows.
    Deterministic nonconformity injection (custkey % 50 == 0 gets a
    '-x1' suffix -> 2% off-shape) so the gate fires with a share and
    top-offender string the oracle reproduces byte-exact. `expected` is
    flattened to its single element: the driver's canonicalizer cannot
    sort array-typed cells (the q_corr_gate_lineitem lesson)."""
    from remark_lint_frontmatter_schema_spark.operators.stats import (
        mask_violations)
    cust = _load(spark, sf, "customer")
    mangled = cust.withColumn(
        "c_name",
        F.when(F.col("c_custkey") % 50 == 0,
               F.concat(F.col("c_name"), F.lit("-x1")))
         .otherwise(F.col("c_name")))
    return mask_violations(mangled, "c_name", expect="A#9",
                           min_share=0.99) \
        .withColumn("expected", F.element_at("expected", 1))


def q_mask_gate_by_customer(spark, sf):
    """GROUPED shape-conformance gate (operators/stats.py
    mask_violations, x-mask `by:`): c_name must collapse to 'A#9' per
    market segment. custkey % 25 == 0 rows get a '-x1' suffix (~4%
    off-shape in every segment) so each segment fires with its own
    share and per-group top offender (window, partitioned by group).
    `expected` flattened to its scalar (driver canonicalizer rule)."""
    from remark_lint_frontmatter_schema_spark.operators.stats import (
        mask_violations)
    cust = _load(spark, sf, "customer")
    mangled = cust.withColumn(
        "c_name",
        F.when(F.col("c_custkey") % 25 == 0,
               F.concat(F.col("c_name"), F.lit("-x1")))
         .otherwise(F.col("c_name")))
    return mask_violations(mangled, "c_name", expect="A#9",
                           min_share=0.99, by="c_mktsegment") \
        .withColumn("expected", F.element_at("expected", 1))


def q_corr_gate_by_lineitem(spark, sf):
    """GROUPED derived-column gate (operators/stats.py
    correlation_violations, x-corr `by:`): |corr(l_extendedprice,
    l_quantity)| >= 0.3 PER return flag — the synthetic prices are
    independent of quantity in every group, so one violation per flag
    with the group-level correlation string the oracle reproduces.
    (`expected` dropped — all-NULL arrays don't round-trip DuckDB ->
    pandas.)"""
    from remark_lint_frontmatter_schema_spark.operators.stats import (
        correlation_violations)
    li = _load(spark, sf, "lineitem")
    return correlation_violations(li, "l_extendedprice", "l_quantity",
                                  min_abs=0.3, by="l_returnflag") \
        .drop("expected")


def q_corr_gate_lineitem(spark, sf):
    """Derived-column expectation gate (operators/stats.py
    correlation_violations, x-corr): the synthetic lineitem prices are
    independent of quantity, so declaring |corr| >= 0.3 fires exactly
    one violation whose correlation string the oracle reproduces.
    (`expected` dropped — all-NULL arrays don't round-trip DuckDB ->
    pandas.)"""
    from remark_lint_frontmatter_schema_spark.operators.stats import (
        correlation_violations)
    li = _load(spark, sf, "lineitem")
    return correlation_violations(li, "l_extendedprice", "l_quantity",
                                  min_abs=0.3).drop("expected")


def q_decontaminate_semantic_embeddings(spark, sf):
    """Semantic decontamination (operators/decontaminate.py
    semantic_overlap): corpus embeddings near-identical to a benchmark
    embedding. The benchmark is every vec_id % 10 == 0 vector below
    5000 verbatim (FIXED-size bench at any corpus scale — a benchmark
    suite does not grow with the training set, and neither may the
    broadcast side), so those corpus rows self-match at cosine exactly
    1.0 — the oracle (DuckDB list_cosine_similarity over the same cross
    join) must reproduce the hit set, attribution, and similarity."""
    from remark_lint_frontmatter_schema_spark.operators.decontaminate import (
        semantic_overlap)
    emb = _load(spark, sf, "embeddings")
    bench = emb.where((F.col("vec_id") % 10 == 0)
                      & (F.col("vec_id") < 5000)) \
               .select(F.col("vec_id").alias("bid"), "embedding")
    return semantic_overlap(emb, bench, vec_col="embedding",
                            id_col="vec_id", bench_id_col="bid",
                            bench_vec_col="embedding", threshold=0.99)


def q_unique_multi_lineitem(spark, sf):
    """Composite-key uniqueness (operators/uniqueness.py
    duplicate_keys_multi): (l_orderkey, l_linenumber) is lineitem's
    primary key, so duplicates are injected deterministically (rows with
    l_orderkey % 101 == 0 appended twice) — the salted two-phase
    aggregate must surface exactly those pairs with their
    multiplicities."""
    li = _load(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    dups = li.where(F.col("l_orderkey") % 101 == 0)
    return uniqueness.duplicate_keys_multi(
        li.unionAll(dups), ["l_orderkey", "l_linenumber"])


def q_benford_gate_events(spark, sf):
    """Declarative Benford MAD gate (operators/drift.py
    benford_violations): events.value sits near Benford but beyond
    Nigrini's close-conformity band, so a 0.005 threshold fires exactly
    one violation whose MAD string the oracle reproduces."""
    from remark_lint_frontmatter_schema_spark.operators.drift import (
        benford_violations)
    ev = _load(spark, sf, "events")
    return benford_violations(ev, "value", max_mad=0.005).drop("expected")


def q_drift_gate_by_events(spark, sf):
    """GROUPED drift gate (operators/drift.py drift_violations, x-drift
    `by:`, round 5): per-event-type two-sample KS/PSI between the
    user-parity halves, with a deterministic 3x value inflation
    injected into one half of ONE type ('error') — only that segment
    fires, the drift localized to the group that moved instead of
    diluted into the whole-table statistic. One (group, side, bucket)
    keys-only aggregate + group-partitioned windows; the oracle
    re-derives the dense-spine CDFs, the epsilon-floored PSI and the
    violation rendering per group in DuckDB. `expected` dropped (NULL
    array; driver canonicalizer rule)."""
    from remark_lint_frontmatter_schema_spark.operators.drift import (
        drift_violations)
    ev = _load(spark, sf, "events")
    staged = (ev.where(F.col("value").isNotNull()
                       & F.col("event_type").isNotNull())
              .withColumn("side", F.when(F.col("user_id") % 2 == 0,
                                         F.lit("a")).otherwise(F.lit("b")))
              .withColumn("value",
                          F.when((F.col("event_type") == "error")
                                 & (F.col("user_id") % 2 == 1),
                                 F.col("value") * 3)
                          .otherwise(F.col("value"))))
    return drift_violations(
        staged, "value", partition_col="side", side_a="a", side_b="b",
        lo=0.0, hi=500.0, n_buckets=25, ks_threshold=0.1,
        psi_threshold=0.2, by="event_type").drop("expected")


def q_benford_gate_by_events(spark, sf):
    """GROUPED Benford gate (operators/drift.py benford_violations,
    x-benford `by:`, round 5): first-digit MAD PER event_type — the
    "Benford per region" ops ask. One per-(group, digit) aggregate
    (shuffle carries (group, digit) keys only) + the 9-digit lattice
    per group; a near-zero threshold makes every segment fire with its
    own MAD string the oracle reproduces."""
    from remark_lint_frontmatter_schema_spark.operators.drift import (
        benford_violations)
    ev = _load(spark, sf, "events")
    return benford_violations(ev, "value", max_mad=0.0001,
                              by="event_type").drop("expected")


def q_skew_gate_by_lineitem(spark, sf):
    """GROUPED skew gate (operators/skew.py skew_violations, x-skew
    `by:`, round 5): hottest l_suppkey share PER return flag. The
    per-group profile is one salted (group, key) aggregate + a
    group-partitioned rank window (never a global sort); a near-zero
    threshold fires every flag with its group share and recommended
    salt factor in the message."""
    from remark_lint_frontmatter_schema_spark.operators.skew import (
        skew_violations)
    li = _load(spark, sf, "lineitem")
    return skew_violations(li, "l_suppkey", max_share=0.0001,
                           by="l_returnflag").drop("expected")


def q_skew_profile_by_lineitem(spark, sf):
    """Per-group skew diagnostic (operators/skew.py skew_profile_by,
    round 5): the full skew_profile statistics computed PER return
    flag — max/top-k shares, normalized entropy, salt factor. Oracle
    re-derives every per-group statistic in DuckDB with a partitioned
    rank window."""
    from remark_lint_frontmatter_schema_spark.operators.skew import (
        skew_profile_by)
    li = _load(spark, sf, "lineitem")
    return skew_profile_by(li, "l_suppkey", "l_returnflag", top_k=10)


def q_missing_dates_events(spark, sf):
    """Calendar completeness (operators/sequence.py missing_buckets):
    days between the observed min and max with NO rows. Deterministic
    hole injection (drop dayofmonth % 7 == 3) so the missing set is
    non-empty; the oracle rebuilds the grid with generate_series."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        missing_buckets)
    ev = _load(spark, sf, "events").where(F.dayofmonth("ts") % 7 != 3)
    return missing_buckets(ev, "ts", unit="day")


def q_missing_dates_by_events(spark, sf):
    """GROUPED calendar completeness (operators/sequence.py
    missing_buckets `by:`): per-type day grids spanning each type's own
    min..max. Holes injected for ONE type only (drop 'click' rows on
    dayofmonth % 7 == 3) so the missing set is group-keyed and the
    other types stay complete — the per-group span is the point."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        missing_buckets)
    ev = _load(spark, sf, "events").where(
        ~((F.col("event_type") == "click")
          & (F.dayofmonth("ts") % 7 == 3)))
    return missing_buckets(ev, "ts", unit="day", by="event_type")


def q_freshness_by_events(spark, sf):
    """GROUPED freshness gate (operators/sequence.py
    freshness_violations `by:`): each type's newest event against a
    pinned as_of. 'click' rows after Jan 15 are filtered out so exactly
    that type violates at a 3600 s limit dated Jan 16 — group value as
    row_id, per-group age string byte-exact. (`expected` dropped —
    NULL-array canonicalizer rule.)"""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        freshness_violations)
    ev = _load(spark, sf, "events").where(
        ~((F.col("event_type") == "click")
          & (F.col("ts") >= F.lit("2024-01-15 00:00:00"))))
    return freshness_violations(
        ev, "ts", max_age_seconds=3600.0,
        as_of="2024-01-16 00:00:00", by="event_type").drop("expected")


def q_freshness_events(spark, sf):
    """Freshness check (operators/sequence.py freshness_violations): the
    newest event must be younger than an hour at a pinned as_of —
    deliberately stale here so the violation row (age string included)
    is compared byte-exact against the oracle."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        freshness_violations)
    ev = _load(spark, sf, "events")
    # `expected` dropped: it is NULL here and a DuckDB NULL VARCHAR[]
    # round-trips through pandas as NaN, not None — the ref_asof oracle
    # convention
    return freshness_violations(ev, "ts", max_age_seconds=3600,
                                as_of="2024-02-01 00:00:00") \
        .drop("expected")


def q_benford_events(spark, sf):
    """Benford first-digit conformance (operators/drift.py benford) on
    events.value: 9-row digit histogram from one map-side-combined
    aggregate, expected shares + chi-square derived on the driver-scale
    relation. Oracle re-derives digit extraction (incl. the
    power-of-ten clamp) and the statistics in DuckDB."""
    from remark_lint_frontmatter_schema_spark.operators.drift import (
        benford)
    ev = _load(spark, sf, "events")
    return benford(ev, "value")


def q_reconcile_orders(spark, sf):
    """Aggregate reconciliation (operators/reconcile.py): each order's
    stored quantity total must equal sum(l_quantity) recomputed from its
    line items. The stored side is derived deterministically (exact sum
    + 7 injected for o_orderkey % 97 == 0; orders with no line items get
    an unsupported stored value) so the violation set is meaningful:
    mismatch rows for the perturbed keys, missing_fact rows for
    lineitem-less orders. Integer-valued quantities keep every float in
    the output exact, so the DuckDB oracle matches byte-for-byte
    including message strings. One map-side-combined aggregate + one
    equi-join — the 10^12-row reconciliation plan. `expected` is
    flattened to its single element: the driver's canonicalizer cannot
    sort array-typed cells (the q_corr_gate_lineitem lesson)."""
    from remark_lint_frontmatter_schema_spark.operators.reconcile import (
        reconcile_violations)
    li = _load(spark, sf, "lineitem")
    orders = _load(spark, sf, "orders")
    sums = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("double")).alias("_s"))
    dim = (orders.join(sums, orders["o_orderkey"] == sums["l_orderkey"],
                       "left")
           .select(orders["o_orderkey"],
                   (F.coalesce(F.col("_s"), F.lit(42.0))
                    + F.when(orders["o_orderkey"] % 97 == 0, F.lit(7.0))
                       .otherwise(F.lit(0.0))).alias("stored")))
    return reconcile_violations(
        li, dim, key="o_orderkey", fact_key="l_orderkey",
        fact_value="l_quantity", dim_value="stored") \
        .withColumn("expected", F.element_at("expected", 1))


def q_skew_profile_lineitem(spark, sf):
    """Key-skew diagnostic (operators/skew.py skew_profile): one row
    describing how lineitem would shuffle on l_suppkey — max/top-k key
    shares, normalized entropy, and the salt factor the engine's salted
    paths should use. One shuffle builds the per-key counts; the top-k
    pass is TakeOrderedAndProject (no global sort). Oracle re-derives
    every statistic (including the H = log2(n) - sum(c*log2 c)/n entropy
    fold) independently in DuckDB."""
    from remark_lint_frontmatter_schema_spark.operators.skew import (
        skew_profile)
    li = _load(spark, sf, "lineitem")
    return skew_profile(li, "l_suppkey", top_k=10)


def q_heavy_hitters_lineitem(spark, sf):
    """Mergeable Misra-Gries heavy hitters (operators/skew.py): top-20
    l_suppkey values with [count_min, count_max] bounds. capacity=4096
    far exceeds the supplier count at oracle scale, so the sketch never
    prunes and both bounds equal the exact count — which is exactly what
    the DuckDB oracle asserts (exact groupBy counts, same tiebreak)."""
    from remark_lint_frontmatter_schema_spark.operators.skew import (
        heavy_hitters)
    li = _load(spark, sf, "lineitem")
    return heavy_hitters(li, "l_suppkey", capacity=4096, top_k=20)


def q_mmd_embeddings(spark, sf):
    """Multivariate two-sample drift on the embeddings table
    (operators/mmd.py): RBF-kernel MMD^2 via seeded random Fourier
    features between the even- and odd-vec_id populations. Linear-time
    (one mapInPandas pass emits per-batch feature-sum partials), no SQL
    twin (needs a seeded Gaussian projection) — rows-only driver check;
    value parity vs a pure-numpy reference is pinned in
    tests/test_skew_mmd.py."""
    from remark_lint_frontmatter_schema_spark.operators.mmd import (
        mmd_drift)
    emb = _load(spark, sf, "embeddings")
    side = F.when(F.col("vec_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b"))
    return mmd_drift(emb, "embedding", side, "a", "b",
                     n_features=128, seed=42, dim=64)


def q_url_dedup_documents(spark, sf):
    """Canonical-URL dedup (operators/urls.py): deterministic messy-URL
    injection (case/port/fragment/tracking-param/trailing-slash variants
    keyed on doc_id) canonicalized down to duplicate groups. The oracle
    re-implements the full RFC-3986-subset canonicalization independently
    in DuckDB SQL — two implementations must agree rule for rule."""
    from remark_lint_frontmatter_schema_spark.operators.urls import (
        url_groups)
    docs = _load(spark, sf, "documents")
    k = (F.col("doc_id") % 50).cast("string")
    variant = F.col("doc_id") % 4
    url = (F.when(variant == 0,
                  F.concat(F.lit("https://example.com/p"), k))
            .when(variant == 1,
                  F.concat(F.lit("HTTPS://EXAMPLE.com:443/p"), k,
                           F.lit("#frag")))
            .when(variant == 2,
                  F.concat(F.lit("https://example.com/p"), k,
                           F.lit("?utm_source=feed&b=2&a=1")))
            .otherwise(F.concat(F.lit("https://example.com/p"), k,
                                F.lit("/"))))
    return url_groups(docs.select("doc_id", url.alias("url")),
                      "url", "doc_id")


def q_induce_orders(spark, sf):
    """Schema induction (operators/induce.py): the facts a ruleset draft
    is built from — observed null-rates as required, numeric extremes as
    bounds, confirmed low-cardinality sets as enums. Two scans total
    (one profile aggregate + one enum-set collect); the round-trip
    (induce -> compile -> validate == clean) is pinned in
    tests/test_induce.py."""
    from remark_lint_frontmatter_schema_spark.operators.induce import (
        induced_facts_df)
    orders = _load(spark, sf, "orders")
    return induced_facts_df(
        orders, ["o_orderstatus", "o_orderpriority", "o_totalprice",
                 "o_custkey"])


def q_gap_events_by_user(spark, sf):
    """Continuity check (operators/sequence.py gap_violations, DSL x-gap):
    per-user event streams may not go silent for more than 4 h —
    violations attribute to the row after the gap with the gap size as
    `actual`. One slim (id, ts, user) shuffle + per-group window."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        gap_violations)
    ev = _load(spark, sf, "events")
    return gap_violations(ev, "ts", row_id="event_id", by="user_id",
                          max_seconds=14400).select(
        "row_id", "constraint_id", "keyword", "message", "actual")


def q_sessionize_events(spark, sf):
    """Sessionization (operators/sequence.py sessionize): per-user event
    timelines split at >30 min gaps — the constructive twin of x-gap.
    One group-key shuffle + per-group window."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        sessionize)
    ev = _load(spark, sf, "events")
    return sessionize(ev, "ts", by="user_id", gap_seconds=1800).select(
        "event_id", "user_id", "session_index", "session_id")


def q_asof_events_purchase(spark, sf):
    """As-of join (operators/asof.asof_join): every click event joined to
    the SAME user's most recent prior-or-simultaneous purchase value —
    union + one per-key running window, one shuffle on user_id, no range
    join. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from remark_lint_frontmatter_schema_spark.operators.asof import asof_join
    ev = _load(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value"))
    out = asof_join(clicks, purchases, on="user_id", left_ts="ts",
                    payload=["purchase_value"])
    return out.select("event_id", "user_id",
                      F.round("purchase_value", 5).alias("purchase_value"))


def q_asof_bucketed_events_purchase(spark, sf):
    """The skew-proof scale path (operators/asof.asof_join_bucketed):
    identical semantics, but the big shuffle is on (user_id, day-bucket)
    so one hot user never serializes into a single window task;
    cross-bucket matches are restored by a per-key carry over buckets
    (one row per user x day). Shares q_asof_events_purchase's oracle —
    the driver proves both physical paths equal the same SQL."""
    from remark_lint_frontmatter_schema_spark.operators.asof import (
        asof_join_bucketed)
    ev = _load(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value"))
    out = asof_join_bucketed(clicks, purchases, on="user_id", left_ts="ts",
                             payload=["purchase_value"], bucket=86400.0)
    return out.select("event_id", "user_id",
                      F.round("purchase_value", 5).alias("purchase_value"))


def q_ref_asof_purchase_signup(spark, sf):
    """x-ref-asof end-to-end through the DSL compiler: every purchase
    must be by a user with a signup event at-or-before it — temporal
    referential integrity (operators/asof.asof_ref_violations), the
    check plain x-ref cannot express (the key may exist only LATER).
    Oracle: NOT EXISTS with the time predicate."""
    from remark_lint_frontmatter_schema_spark.operators.table_checks import (
        table_check_violations)
    ev = _load(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    signups = ev.where(F.col("event_type") == "signup") \
                .select("user_id", "ts")
    rs = {"properties": {"user_id": {"x-ref-asof": {
        "dim": "signups", "key": "user_id", "ts": "ts",
        "dim_ts": "ts"}}}}
    compiled = compile_ruleset(rs, purchases.schema, name="consent")
    v = table_check_violations(purchases, compiled, row_id="event_id",
                               dims={"signups": signups})
    return v.select(F.col("row_id").cast("long").alias("event_id"),
                    "constraint_id", "keyword", "message")


def q_profile_events_nonfinite(spark, sf):
    """Non-finite-aware profiling (operators/stats.column_stats): NaN
    sorts above every double in Spark, so one NaN poisons max() and one
    Inf every upper quantile — min/max describe the FINITE mass and
    n_nonfinite counts NaN/±Inf separately. NaN/Inf injected
    deterministically by event_id; the oracle injects identically."""
    ev = _load(spark, sf, "events")
    inj = ev.select(
        F.when(F.col("event_id") % 97 == 0, F.lit(float("nan")))
         .when(F.col("event_id") % 101 == 0, F.lit(float("inf")))
         .otherwise(F.col("value")).alias("v"))
    return stats.column_stats(inj, ["v"]).select(
        "column", "n_rows", "n_nulls", "n_nonfinite",
        F.round(F.col("min_value").cast("double"), 5).alias("min_v"),
        F.round(F.col("max_value").cast("double"), 5).alias("max_v"))


def q_ref_interval_purchase_sessions(spark, sf):
    """x-ref-interval end-to-end through the DSL: every purchase must
    fall INSIDE a browse-session window of its user (the complement of
    purchase_session_attribution's matches) — interval referential
    integrity that x-ref-asof cannot express (a window that CLOSED
    before the purchase still satisfies asof). Oracle: session CTE +
    NOT EXISTS BETWEEN."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        sessionize)
    from remark_lint_frontmatter_schema_spark.operators.table_checks import (
        table_check_violations)
    ev = _load(spark, sf, "events")
    windows = (sessionize(ev.where(F.col("event_type") != "purchase"),
                          "ts", by="user_id", gap_seconds=86400)
               .groupBy("user_id", "session_id")
               .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    purchases = ev.where(F.col("event_type") == "purchase")
    rs = {"properties": {"user_id": {"x-ref-interval": {
        "dim": "sessions", "key": "user_id", "ts": "ts", "start": "s",
        "end": "e", "bucket": 86400.0}}}}
    compiled = compile_ruleset(rs, purchases.schema, name="lic")
    v = table_check_violations(purchases, compiled, row_id="event_id",
                               dims={"sessions": windows})
    return v.select(F.col("row_id").cast("long").alias("event_id"),
                    "constraint_id", "keyword", "message")


def q_purchase_session_attribution(spark, sf):
    """Point-in-interval range join (operators/intervals.py): attribute
    each purchase to the browse session (sessionized non-purchase events,
    24 h gap) whose [first,last] span contains it. Buckets quantize
    time so the range join plans as an equi-join on (user, bucket) —
    never a nested-loop/cartesian. Oracle: session CTE + BETWEEN join."""
    from remark_lint_frontmatter_schema_spark.operators.intervals import (
        point_in_interval_join)
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        sessionize)
    ev = _load(spark, sf, "events")
    browse = ev.where(F.col("event_type") != "purchase")
    iv = (sessionize(browse, "ts", by="user_id", gap_seconds=86400)
          .groupBy("user_id", "session_id")
          .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    pur = ev.where(F.col("event_type") == "purchase") \
            .select("event_id", "user_id", "ts")
    out = point_in_interval_join(pur, iv, on="user_id", point_ts="ts",
                                 start_col="s", end_col="e",
                                 bucket=86400.0, payload=["session_id"])
    return out.select("event_id", "user_id", "session_id")


def q_error_session_overlap(spark, sf):
    """Interval-overlap range join (operators/intervals.py): which error
    bursts (error events sessionized at 6 h gaps) overlap which browse
    sessions of the same user. Each overlapping pair is emitted exactly
    once — counted only in the first shared bucket (a predicate, not a
    distinct). Oracle: two session CTEs + a plain SQL range join."""
    from remark_lint_frontmatter_schema_spark.operators.intervals import (
        interval_overlap_join)
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        sessionize)
    ev = _load(spark, sf, "events")

    def spans(df, gap):
        return (sessionize(df, "ts", by="user_id", gap_seconds=gap)
                .groupBy("user_id", "session_id")
                .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))

    browse = spans(ev.where(F.col("event_type").isin("click", "view")),
                   86400)
    errors = spans(ev.where(F.col("event_type") == "error"), 21600)
    out = interval_overlap_join(
        errors, browse, on="user_id", a_start="s", a_end="e",
        b_start="s", b_end="e", bucket=86400.0,
        a_keep=["session_id"], b_keep=["session_id"],
        suffix="_browse")
    return out.select("user_id",
                      F.col("session_id").alias("error_session_id"),
                      F.col("session_id_browse").alias("browse_session_id"))


def q_profile_diff_orders(spark, sf):
    """Induced-profile drift (operators/induce.py profile_diff): which
    constraint facts moved between two table versions — here a
    deterministic price-bumped twin of orders shifts the o_totalprice
    bounds while every other induced fact (enums, null-rates, key
    ranges) stays put. The oracle derives the genuinely-moved facts from
    first principles; any spurious engine row fails the count match."""
    from remark_lint_frontmatter_schema_spark.operators.induce import (
        profile_diff)
    orders = _load(spark, sf, "orders")
    bumped = orders.withColumn(
        "o_totalprice",
        F.when((F.col("o_orderkey") % 83 == 0)
               & F.col("o_totalprice").isNotNull(),
               F.col("o_totalprice") + 100000.0)
         .otherwise(F.col("o_totalprice"))).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
         .otherwise(F.col("o_orderstatus")))
    d = profile_diff(orders, bumped,
                     ["o_orderstatus", "o_totalprice", "o_custkey"])
    return d.select("col_name", "keyword", "change",
                    F.array_join("changed_columns", ",").alias("changed_cols"))


def q_fd_discover_lineitem(spark, sf):
    """FD discovery (operators/fd.py fd_discover): score candidate
    dependencies — returnflag->linestatus and orderkey->returnflag (both
    weak), plus the composite line key -> quantity (the synthetic table
    deliberately duplicates line keys, so its violation count measures
    exactly that duplication mass). Each candidate is two keys-only
    aggregates; results are driver-scale scalars."""
    from remark_lint_frontmatter_schema_spark.operators.fd import fd_discover
    li = _load(spark, sf, "lineitem")
    res = fd_discover(li, [
        (["l_returnflag"], "l_linestatus"),
        (["l_orderkey"], "l_returnflag"),
        (["l_orderkey", "l_linenumber"], "l_quantity"),
    ])
    return spark.createDataFrame(
        [(",".join(r["determined_by"]), r["dependent"], r["n_rows"],
          r["n_violations"]) for r in res],
        "determinant string, dependent string, n_rows long, "
        "n_violations long")


def q_gibberish_documents(spark, sf):
    """Character-bigram gibberish scoring (operators/text.py
    gibberish_scores): per-doc avg log-probability under the corpus's own
    bigram distribution — the model-file-free perplexity proxy. One
    persisted (id, gram) explode feeds both the 27^2-row broadcast model
    and the per-doc score."""
    from remark_lint_frontmatter_schema_spark.operators.text import (
        gibberish_scores)
    docs = _load(spark, sf, "documents")
    out = gibberish_scores(docs, "text", "doc_id")
    out = out.select("doc_id", "n_bigrams", "avg_logp")
    dedup.release_all()
    return out


def q_lm_ppl_documents(spark, sf):
    """CCNet-style LM-perplexity quality scoring (operators/lm.py): train
    an add-k bigram LM over the documents corpus (one explode + one
    groupBy; context totals derive from the bigram counts), then score
    every document's per-token log-probability and perplexity under it.
    Runs the SCALE path (xxhash64 join keys — 16-byte shuffle rows
    instead of token strings); the DuckDB oracle joins on raw strings,
    so a green hash also certifies the hashed join's collision-freedom
    at this scale."""
    from remark_lint_frontmatter_schema_spark.operators import lm
    docs = _load(spark, sf, "documents")
    out = lm.train_and_score(docs, n=2, k=0.5).select(
        "doc_id", "n_ngrams",
        F.round("avg_logp", 6).alias("avg_logp"),
        F.round("ppl", 6).alias("ppl"))
    dedup.release_all()
    return out


def q_diff_orders(spark, sf):
    """Snapshot diff (operators/diff.py): two deterministic derivations
    of orders play old/new snapshot — keys %97==0 are absent from old
    (-> added), %89==0 absent from new (-> removed), %83==0 get a
    price bump in new (-> changed, changed_cols names the column)."""
    from remark_lint_frontmatter_schema_spark.operators.diff import (
        snapshot_diff)
    orders = _load(spark, sf, "orders")
    old = orders.where(F.col("o_orderkey") % 97 != 0)
    new = orders.where(F.col("o_orderkey") % 89 != 0).withColumn(
        "o_totalprice",
        F.when((F.col("o_orderkey") % 83 == 0)
               & F.col("o_totalprice").isNotNull(),
               F.col("o_totalprice") + 1.0)
         .otherwise(F.col("o_totalprice")))
    d = snapshot_diff(old, new, ["o_orderkey"])
    return d.select(
        "o_orderkey", "change",
        F.array_join("changed_columns", ",").alias("changed_cols"))


def q_fd_lineitem(spark, sf):
    """Functional-dependency check (operators/fd.py, DSL x-fd): rows whose
    l_linestatus deviates from the majority value of their l_returnflag
    group. One keys-only groupBy + a broadcastable conflicted-group join
    back to the pruned fact — no fact-vs-fact shuffle."""
    from remark_lint_frontmatter_schema_spark.operators.fd import fd_violations
    li = _load(spark, sf, "lineitem").withColumn(
        "_rid", F.concat_ws("-", F.col("l_orderkey").cast("string"),
                            F.col("l_linenumber").cast("string")))
    return fd_violations(li, "l_linestatus", ["l_returnflag"],
                         row_id="_rid").select(
        "row_id", "constraint_id", "keyword", "message", "actual")


def q_ref_orders_customer(spark, sf):
    orders = _load(spark, sf, "orders")
    dim = _load(spark, sf, "customer").where("c_acctbal >= 0")
    return referential.dangling_keys(orders, "o_custkey", dim, "c_custkey") \
        .select("o_orderkey", "o_custkey")


def q_ref_orders_customer_bloom(spark, sf):
    orders = _load(spark, sf, "orders")
    dim = _load(spark, sf, "customer").where("c_acctbal >= 0")
    return referential.dangling_keys(orders, "o_custkey", dim, "c_custkey",
                                     use_bloom=True) \
        .select("o_orderkey", "o_custkey")


def _events_hist(spark, sf):
    ev = _load(spark, sf, "events") \
        .where(F.col("event_type").isin("error", "purchase"))
    return drift.histogram(ev, "value", "event_type", lo=0.0, hi=500.0,
                           n_buckets=25)


def q_hist_events(spark, sf):
    return _events_hist(spark, sf).select("side", "bucket", "n")


def q_drift_events_ks(spark, sf):
    h = _events_hist(spark, sf)
    return drift.ks_statistic(h, "error", "purchase") \
        .select(F.round("ks_stat", 6).alias("ks_stat"))


def q_drift_events_emd(spark, sf):
    """1-D Wasserstein drift (operators/drift.py emd): |CDF diff| summed
    over a dense bucket spine x bucket width (20 value units here) — the
    magnitude-aware complement to KS on the same histogram relation."""
    h = _events_hist(spark, sf)
    return drift.emd(h, "error", "purchase", bucket_width=20.0) \
        .select(F.round("emd", 6).alias("emd"))


def q_drift_events_jsd(spark, sf):
    """Jensen-Shannon drift (operators/drift.py jensen_shannon): the
    mixture-reference divergence over the same (side, bucket, n)
    histogram — finite under disjoint supports where PSI's epsilon floor
    explodes. Runs on the tiny histogram relation only."""
    h = _events_hist(spark, sf)
    return drift.jensen_shannon(h, "error", "purchase") \
        .select(F.round("jsd", 6).alias("jsd"))


def q_drift_events_cvm(spark, sf):
    """Cramér–von Mises drift (operators/drift.py cramer_von_mises):
    pooled-mass-weighted L2 of the CDF gap — the quadratic complement to
    KS (max gap) and EMD (L1) on the same histogram relation."""
    h = _events_hist(spark, sf)
    return drift.cramer_von_mises(h, "error", "purchase") \
        .select(F.round("cvm", 6).alias("cvm"))


def q_drift_events_type_psi(spark, sf):
    """Categorical drift (operators/drift.py categorical_hist + psi):
    event-TYPE frequency shift between the first and second half of the
    window — the bucket is the category value, so psi/chi2 run unchanged
    over the tiny (side, category, n) relation."""
    ev = _load(spark, sf, "events")
    side = F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp_ntz"),
                  F.lit("early")).otherwise(F.lit("late"))
    h = drift.categorical_hist(ev, "event_type", side)
    return drift.psi(h, "early", "late").select(
        F.round("psi", 6).alias("psi"))


def q_drift_type_psi_by_dow(spark, sf):
    """Per-segment categorical drift (operators/drift.py
    categorical_hist_by + psi_by): event-TYPE mix shift between the
    window's halves, localized per day-of-week — a weekday whose mix
    moved stands out instead of diluting into the whole-table PSI. One
    (dow, side, category) keys-only aggregate."""
    ev = _load(spark, sf, "events")
    side = F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp_ntz"),
                  F.lit("early")).otherwise(F.lit("late"))
    h = drift.categorical_hist_by(ev.withColumn("dow", F.dayofweek("ts")),
                                  "event_type", side, "dow")
    return drift.psi_by(h, "early", "late").select(
        F.col("grp").alias("dow"), F.round("psi", 6).alias("psi"))


def q_drift_events_ks_by_type(spark, sf):
    """Per-group drift (operators/drift.py histogram_by + ks_by): value
    KS per event_type between the window's halves — drift localized to
    the segment that moved, one (grp, side, bucket) keys-only aggregate
    + group-partitioned windows over the histogram relation."""
    ev = _load(spark, sf, "events")
    side = F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp_ntz"),
                  F.lit("early")).otherwise(F.lit("late"))
    h = drift.histogram_by(ev, "value", side, "event_type",
                           lo=0.0, hi=500.0, n_buckets=25)
    return drift.ks_by(h, "early", "late").select(
        F.col("grp").alias("event_type"),
        F.round("ks_stat", 6).alias("ks_stat"))


def q_drift_events_psi(spark, sf):
    h = _events_hist(spark, sf)
    return drift.psi(h, "error", "purchase") \
        .select(F.round("psi", 6).alias("psi"))


def q_drift_events_chi2(spark, sf):
    """Chi-square drift statistic over the same histogram relation as
    KS/PSI (contingency form; count-scaled complement to both)."""
    h = _events_hist(spark, sf)
    return drift.chi_square(h, "error", "purchase") \
        .select(F.round("chi2", 4).alias("chi2"))


def q_drift_events_windowed_psi(spark, sf):
    """Continuous drift monitoring (SURVEY W1 extension): per-day PSI of
    the value distribution vs the previous day — one histogram aggregate,
    window-vs-previous join on the tiny histogram relation."""
    ev = _load(spark, sf, "events")
    out = drift.windowed_psi(ev, "value", "ts", lo=0.0, hi=500.0,
                             n_buckets=25, window_duration="1 day")
    return out.select(F.to_date("window_start").cast("string").alias("day"),
                      F.round("psi", 6).alias("psi"))


def q_topn_flag_violation_rate(spark, sf):
    from pyspark.sql import Window
    li = _load(spark, sf, "lineitem")
    rates = li.groupBy("l_returnflag").agg(
        F.round(F.avg((F.col("l_quantity") > 45).cast("double")), 6)
        .alias("rate"))
    return rates.withColumn(
        "rnk", F.dense_rank().over(Window.orderBy(F.desc("rate"))))


def q_funnel_ci_events(spark, sf):
    """Per-step funnel conversion with Wilson intervals — the
    composition the two operators exist for: funnel_counts reduces the
    corpus to a <= n_steps-row relation (one groupBy(user) shuffle),
    lag() over that bounded relation pairs each step with its
    predecessor, and stats.rate_ci attaches the uncertainty a 'step 3
    converted 62%' headline needs before anyone acts on it."""
    from pyspark.sql import Window
    from remark_lint_frontmatter_schema_spark.operators.funnel import (
        funnel_counts)
    ev = _load(spark, sf, "events")
    fc = funnel_counts(ev, ["signup", "click", "purchase"],
                       within_ms=7 * 86400 * 1000)
    # lag over the <= 3-row funnel relation (bounded by construction)
    w = Window.orderBy("step")
    base = (fc.withColumn("n", F.lag("users_reached").over(w))
              .where(F.col("n").isNotNull())
              .withColumnRenamed("users_reached", "k"))
    return stats.rate_ci(base, "k", "n").select(
        "step", "name", "n", "k",
        F.round("rate", 6).alias("rate"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"))


def q_quantile_gate_lineitem(spark, sf):
    """Order-statistics band gate (operators/stats.py
    quantile_violations, the x-quantile check): exact p99 of l_quantity
    against a <= 45 cap — fails (one fail-closed violation row) because
    the p99 of the 1..50-uniform quantities sits near 50. One aggregate;
    at 10^12 the approx=True sketch path replaces the exact buffer."""
    li = _load(spark, sf, "lineitem")
    return stats.quantile_violations(li, "l_quantity", q=0.99,
                                     hi=45.0) \
        .withColumn("expected", F.element_at("expected", 1))


def q_cm_counts_lineitem(spark, sf):
    """Count-Min sketch round trip (operators/skew.py count_min_sketch +
    cm_estimate): build the depth*width additive sketch over l_suppkey,
    point-query every distinct key, and report est vs exact — the
    one-sided overestimate invariant (est >= exact, overcount >= 0) is
    part of the result relation. Portable md5 bucketing means the DuckDB
    oracle re-derives the IDENTICAL cells, not just similar estimates."""
    from remark_lint_frontmatter_schema_spark.operators import skew
    li = _load(spark, sf, "lineitem")
    sketch = skew.count_min_sketch(li, "l_suppkey", width=256, depth=4)
    keys = li.select("l_suppkey").distinct()
    est = skew.cm_estimate(sketch, keys, "l_suppkey",
                           width=256, depth=4)
    exact = li.where(F.col("l_suppkey").isNotNull()) \
              .groupBy(F.col("l_suppkey").alias("key")) \
              .agg(F.count(F.lit(1)).alias("exact"))
    return (est.join(exact, "key")
               .select("key", "est", "exact",
                       (F.col("est") - F.col("exact")).alias("overcount")))


def q_mean_shift_events(spark, sf):
    """CUSUM changepoint scan (operators/drift.py mean_shift_scan):
    where did the daily mean of events.value shift? One keys-only
    aggregate to the bucket relation, cumulative window on that
    driver-scale relation; the argmax bucket is the estimated change
    location the two-sided drift statistics then confirm."""
    ev = _load(spark, sf, "events")
    return drift.mean_shift_scan(ev, "ts", "value", unit="day")


def q_stickiness_events(spark, sf):
    """DAU/WAU stickiness (operators/cohort.py stickiness): one distinct
    (day, user) reduction, then a broadcast day-grid range join and a
    per-window distinct count — silent-churn monitoring with shuffles
    carrying (day, user) pairs only."""
    ev = _load(spark, sf, "events")
    return cohort.stickiness(ev, "user_id", "ts", window_days=7)


def q_top_paths_events(spark, sf):
    """Top session paths: sessionize (operators/sequence.py) splits each
    user's timeline at 30-min gaps, each session folds to its ordered
    event-type path, the path histogram's top 20 comes off a
    TakeOrderedAndProject (deterministic path tiebreak). The oracle
    recomputes sessionization + ordered string_agg in DuckDB."""
    from remark_lint_frontmatter_schema_spark.operators import sequence
    ev = _load(spark, sf, "events")
    s = sequence.sessionize(ev, "ts", by="user_id", gap_seconds=1800)
    paths = (s.where(F.col("session_id").isNotNull())
              .groupBy("session_id")
              .agg(F.concat_ws(">", F.transform(
                  F.array_sort(F.collect_list(
                      F.struct("ts", "event_id", "event_type"))),
                  lambda r: r["event_type"])).alias("path")))
    return (paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
                 .orderBy(F.desc("n"), F.asc("path")).limit(20))


def q_cohort_retention_events(spark, sf):
    """Weekly cohort retention triangle (operators/cohort.py
    cohort_retention): users keyed to their first-event week, one
    (cohort, offset) cell per observed activity week. Shuffles carry
    (user, period) keys only; the triangle itself is cohorts x offsets
    — driver-scale."""
    ev = _load(spark, sf, "events")
    return cohort.cohort_retention(ev, "user_id", "ts", unit="week")


def q_markov_events(spark, sf):
    """Empirical event-type transition matrix (operators/cohort.py
    transition_matrix): per-user sequences ordered by (ts, event_id),
    row-normalized per source state — the "what follows what" profile
    whose two-snapshot diff feeds categorical drift directly."""
    ev = _load(spark, sf, "events")
    return cohort.transition_matrix(ev, "user_id", "event_type", "ts",
                                    tiebreak="event_id")


def q_rate_ci_orders(spark, sf):
    """Per-group failure rate with a Wilson 95% interval
    (operators/stats.py failure_rate_ci): one keys-only aggregate then
    closed-form arithmetic on the group-sized relation — the uncertainty
    statement that lets verdict policies treat small partitions honestly
    (0/3 clean is not 0/3M clean). Oracle re-derives the Wilson bounds
    in DuckDB from the same counts."""
    orders = _load(spark, sf, "orders")
    return stats.failure_rate_ci(
        orders, F.col("o_totalprice") > 300000.0, "o_orderpriority",
    ).select("grp", "n", "k",
             F.round("rate", 6).alias("rate"),
             F.round("ci_lo", 6).alias("ci_lo"),
             F.round("ci_hi", 6).alias("ci_hi"))


def q_text_stats_documents(spark, sf):
    docs = _load(spark, sf, "documents")
    return text.profile_columns(docs, "text", "doc_id", fields={
        "n_chars_c": "n_chars",
        "n_tokens": "n_tokens",
        "n_tokens_bpe": "n_tokens_bpe",
        "stopword_ratio": "stopword_ratio",
        "punct_ratio": "punct_ratio",
        "quality_score": "quality_score",
    })


def q_langid_documents(spark, sf):
    docs = _load(spark, sf, "documents")
    return docs.select(
        "doc_id", text.lang_guess(F.col("text")).alias("lang_guess"),
        (text.lang_guess(F.col("text")) == F.col("lang")).alias("matches_label"))


def q_keywords_documents(spark, sf):
    """Per-doc top-3 TF-IDF keywords (operators/text.py tfidf_keywords):
    tf from one (id, term) aggregate, df joined back, per-doc window
    top-k with term tiebreak — the cheap document tagger; df band drops
    ids (rare) and stopwords (common) without a list."""
    docs = _load(spark, sf, "documents")
    return text.tfidf_keywords(docs, "text", "doc_id", top_k=3) \
        .withColumnRenamed("id", "doc_id")


def q_lang_confusion_documents(spark, sf):
    """Language confusion matrix: declared label x heuristic guess with
    counts — the aggregate that tells you WHICH labels the lang-ID
    heuristic disagrees with (a systematic de<->nl style confusion looks
    very different from uniform noise). One keys-only aggregate over the
    langid projection."""
    docs = _load(spark, sf, "documents")
    return (docs.select(F.col("lang").alias("declared"),
                        text.lang_guess(F.col("text")).alias("guessed"))
            .groupBy("declared", "guessed")
            .agg(F.count(F.lit(1)).alias("n")))


def q_fingerprint_documents(spark, sf):
    docs = _load(spark, sf, "documents")
    return docs.select("doc_id",
                       text.fingerprint(F.col("text")).alias("fingerprint"))


def q_dedup_exact_documents(spark, sf):
    docs = _load(spark, sf, "documents")
    return dedup.exact_groups(docs, "text", "doc_id")


def q_dup_ngram_documents(spark, sf):
    """Cross-document duplicated-ngram fraction (Lee et al. 2022): per doc,
    the share of its distinct word 5-grams that occur in at least one other
    document. Only (id, xxhash64(shingle)) pairs shuffle — the oracle
    computes the same fraction over the raw shingle strings (the fraction
    is hash-invariant absent collisions)."""
    docs = _load(spark, sf, "documents")
    return dedup.cross_doc_dup_fraction(docs, "text", "doc_id", n=5)


def q_gopher_documents(spark, sf):
    """Gopher-rule quality gates (Rae et al. 2021 §A.1.1) per document:
    measured values + per-rule booleans + overall pass, as one staged
    map-only projection (operators/text.py:gopher_gates). The oracle
    recomputes every rule with DuckDB list/lambda functions."""
    docs = _load(spark, sf, "documents")
    return text.gopher_gates(docs, "text", "doc_id")


def q_pack_documents(spark, sf):
    """Training-sequence packing (operators/packing.py): distributed
    exclusive prefix sum of whitespace token counts in doc_id order ->
    capacity-1024 bin assignment per document. The oracle is the
    single-window form DuckDB can afford at sf scale; the Spark plan is
    the bucketed two-phase prefix sum that survives 10^12 rows."""
    docs = _load(spark, sf, "documents")
    return packing.pack_documents(docs, "doc_id", capacity=1024,
                                  text_col="text", n_buckets=16)


def q_redact_documents(spark, sf):
    """PII redaction (operators/text.redact_pii): counts on the original
    text, sequential regexp_replace to [EMAIL]/[IPV4]/[PHONE]. The
    synthetic corpus carries no PII, so the query injects deterministic
    contact strings into a doc_id-keyed subset first — the oracle applies
    the identical injection, making the redaction itself (not just the
    zero path) value-checked."""
    docs = _load(spark, sf, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com or 555-123-4567 via 10.0.0.1")))
         .otherwise(F.col("text")))
    return text.redact_pii(docs, "text", "doc_id")


def q_c4_clean_documents(spark, sf):
    """C4 cleaning recipe (operators/text.c4_clean) over a deterministic
    sentence-structured view of the flat synthetic corpus (period +
    newline after every 5th word; doc_id % 5 == 0 docs get a code brace
    appended to trip the page gate). The oracle re-derives line rules and
    page gates with DuckDB list lambdas on the identical view."""
    docs = _load(spark, sf, "documents").withColumn(
        "text", F.regexp_replace("text", r"((?:\S+ ){4}\S+) ", "$1.\n"))
    docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" { var x = 1; }")))
         .otherwise(F.col("text")))
    return text.c4_clean(docs, "text", "doc_id")


def q_group_split_documents(spark, sf):
    """Group-exclusive train/val/test split (operators/sampling.
    group_split): assignment is a pure function of sha256 of the GROUP
    key (source), so no group can leak across splits. The oracle
    re-derives the hash-prefix boundary comparisons verbatim."""
    docs = _load(spark, sf, "documents")
    return sampling.group_split(docs, "source").select(
        "doc_id", "source", "split")


def q_split_leakage_documents(spark, sf):
    """Leakage audit (operators/sampling.split_leakage) over a
    DELIBERATELY leaky assignment — rows split by doc_id hash, audited by
    source — so the detector's positive path is value-checked (a
    group_split assignment audits clean by construction)."""
    docs = _load(spark, sf, "documents")
    leaky = sampling.group_split(docs, "doc_id", salt="row")
    leak = sampling.split_leakage(leaky, "source", "split")
    return leak.select(
        "source", "n_splits", "n_rows",
        F.array_join("splits", ",").alias("splits_csv"))


def q_dedup_lines_documents(spark, sf):
    """Corpus-level line dedup (C4/RefinedWeb boilerplate removal) over a
    deterministic multi-line view of the corpus (newline inserted after
    every 4th word — the flat synthetic docs carry no newlines); lines
    repeated across the corpus drop from every document, short lines are
    protected, documents are reassembled in line order."""
    docs = _load(spark, sf, "documents").withColumn(
        "text", F.regexp_replace("text", r"((?:\S+ ){3}\S+) ", "$1\n"))
    return dedup.dedup_lines(docs, "text", "doc_id",
                             min_count=2, min_line_chars=12)


def q_dup_spans_documents(spark, sf):
    """Exact-substring span dedup (Lee et al. 2022 ExactSubstr via a
    positional n-gram cover): every corpus-duplicated 8-token span is
    removed from all but its globally-first occurrence and the documents
    rebuilt. The oracle re-derives marked positions / merged islands /
    rebuilt text over the raw grams with window functions (hash-invariant
    absent collisions); text_clean is compared byte-exact."""
    docs = _load(spark, sf, "documents")
    return dedup.remove_dup_spans(docs, "text", "doc_id",
                                  n=8, min_count=2, keep_first=True)


def q_validate_events_content_schema(spark, sf):
    """2019-09 contentSchema: embedded JSON validated through the variant
    path with exact JSON typing ('"70"' is not an integer), layered under
    contentMediaType (unparsable payloads flag wellformedness only). The
    per-residue payloads are closed-form in event_id, so the oracle
    enumerates the expected violations arithmetically."""
    ev = _load(spark, sf, "events")
    m3 = F.pmod("event_id", F.lit(3))
    k = F.pmod("event_id", F.lit(100))
    p = (F.when(m3 == 0, F.format_string('{"k": %d}', k))
          .when(m3 == 1, F.format_string('{"k": "%d"}', k))
          .otherwise(F.lit("not json")))
    doc = ev.select("event_id", p.alias("props"))
    rs = {"properties": {"props": {
        "contentMediaType": "application/json",
        "contentSchema": {"required": ["k"],
                          "properties": {"k": {"type": "integer",
                                               "maximum": 60}}}}}}
    compiled = compile_ruleset(rs, doc.schema,
                               name="events_content_schema")
    return validate(doc, compiled, row_id="event_id").violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message",
        "actual")


def q_validate_embeddings_quality(spark, sf):
    """x-embedding quality invariants (dim / finite / nonzero /
    normalized) over a deterministically-corrupted view of the embeddings
    table: vec_id%7==1 truncated to 32 dims, ==2 gets a NaN element, ==3
    becomes the zero vector. Norm checks gate on finiteness (NaN
    comparison semantics differ across engines); the oracle recomputes
    every statistic from the same corruption in SQL."""
    emb = _load(spark, sf, "embeddings")
    m7 = F.pmod("vec_id", F.lit(7))
    e = (F.when(m7 == 1, F.slice("embedding", 1, 32))
          .when(m7 == 2, F.concat(
              F.array(F.lit(float("nan")).cast("float")),
              F.slice("embedding", 2, 63)))
          .when(m7 == 3, F.array_repeat(F.lit(0.0).cast("float"), 64))
          .otherwise(F.col("embedding")))
    doc = emb.select("vec_id", e.alias("embedding"))
    rs = {"properties": {"embedding": {"x-embedding": {
        "dim": 64, "finite": True, "nonzero": True,
        "normalized": True, "norm_tol": 0.001}}}}
    compiled = compile_ruleset(rs, doc.schema, name="emb_quality")
    return validate(doc, compiled, row_id="vec_id").violations.select(
        "row_id", "constraint_id", "keyword", "message", "actual")


UNEVAL_RULESET = {"type": "object", "properties": {"m": {
    "properties": {"lang": {"enum": ["en", "de"]}},
    "anyOf": [
        {"properties": {"x": {"maxLength": 2}}, "required": ["x"]},
        {"properties": {"region": {"minLength": 2}}, "required": ["region"]},
    ],
    "unevaluatedProperties": False,
}}}


def q_validate_events_unevaluated(spark, sf):
    """2019-09 unevaluatedProperties with exact annotation semantics: a
    property declared by an anyOf branch counts as evaluated ONLY when
    that branch validates (residue 1's over-long `x` fails its branch, so
    `x` is unevaluated even though a branch names it). The heterogeneous
    map is derived deterministically from event_id; the oracle enumerates
    the per-residue violations in closed form."""
    ev = _load(spark, sf, "events")
    m5 = F.pmod("event_id", F.lit(5))
    m = (F.when(m5 == 0, F.create_map(F.lit("lang"), F.lit("en"),
                                      F.lit("x"), F.lit("ab")))
          .when(m5 == 1, F.create_map(F.lit("lang"), F.lit("en"),
                                      F.lit("x"), F.lit("toolongg")))
          .when(m5 == 2, F.create_map(F.lit("lang"), F.lit("de"),
                                      F.lit("region"), F.lit("eu")))
          .when(m5 == 3, F.create_map(F.lit("lang"), F.lit("fr"),
                                      F.lit("zz"), F.lit("1")))
          .otherwise(F.create_map(F.lit("lang"), F.lit("en"))))
    doc = ev.select("event_id", m.alias("m"))
    compiled = compile_ruleset(UNEVAL_RULESET, doc.schema,
                               name="events_uneval")
    return validate(doc, compiled, row_id="event_id").violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message",
        "actual")


def q_ann_cosine_topk(spark, sf):
    emb = _load(spark, sf, "embeddings")
    qv = [float(x) for x in
          emb.where("vec_id = 0").select("embedding").first().embedding]
    return similarity.cosine_topk(emb, "embedding", "vec_id", qv, k=10,
                                  exclude_id=0)


def q_containment_documents(spark, sf):
    """Directed containment pairs (operators/dedup.py
    containment_pairs_rare): candidates from RARE word-5-gram postings
    (df <= 20 — linear in the corpus for a fixed cap, the
    dup_ngram/decontaminate pattern; Jaccard-LSH misses containment by
    construction and fixed-cardinality blocks go quadratic), verified
    exactly — |A∩B|/|A| of the smaller shingle set, jaccard riding
    along to separate true near-dups from subset relations."""
    docs = _load(spark, sf, "documents")
    return dedup.containment_pairs_rare(docs, "text", "doc_id", n=5,
                                        threshold=0.4, max_df=20,
                                        min_shared=2)


def q_winnow_pairs_documents(spark, sf):
    """MOSS winnowing overlap candidates (operators/dedup.py
    winnow_dup_pairs): per-doc windowed-min md5 k-gram fingerprints
    (~2/(w+1) density, any shared >= w+k-1-char run guaranteed to
    surface), df-capped self-join on the sparse fingerprint relation.
    md5 selection order is engine-independent, so the DuckDB oracle
    re-derives the identical fingerprint set."""
    docs = _load(spark, sf, "documents")
    return dedup.winnow_dup_pairs(docs, "text", "doc_id",
                                  k=12, w=16, min_shared=3, max_df=20)


def q_dim_profile_embeddings(spark, sf):
    """Per-dimension embedding statistics (operators/similarity.py
    dimension_profile): the collapse diagnostic — dead dimensions and
    variance concentration the row-level x-embedding checks can't see.
    One posexplode + dim-keyed aggregate (64 groups, map-side
    combined)."""
    emb = _load(spark, sf, "embeddings")
    return similarity.dimension_profile(emb, "embedding", dim=64).select(
        "dim", "n",
        F.round("mean", 6).alias("mean"),
        F.round("variance", 6).alias("variance"),
        F.round("min", 6).alias("min"),
        F.round("max", 6).alias("max"))


def q_hubness_embeddings(spark, sf):
    """k-occurrence hubness histogram (operators/similarity.py
    k_occurrence): a FIXED-SIZE query panel (every 4th vector among ids
    < 2000 — the panel must not grow with the corpus or the broadcast
    m*n scoring goes quadratic; measured 20.5 s at 4x before the cap,
    linear after), exact cosine top-10 per query, then the N_k histogram
    with an explicit antihub (n_k=0) row — the embedding-space health
    check that predicts whether kNN dedup/retrieval will be
    hub-dominated."""
    emb = _load(spark, sf, "embeddings")
    return similarity.k_occurrence(
        emb, "embedding", "vec_id", k=10,
        query_filter=(F.pmod(F.col("vec_id"), F.lit(4)) == 0)
        & (F.col("vec_id") < 2000))


def q_embed_sim_pairs(spark, sf):
    emb = _load(spark, sf, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, "embedding", "vec_id", block_col="label", threshold=0.30)


def q_ngram_jaccard_documents(spark, sf):
    docs = _load(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                     block_col="lang", n=3, threshold=0.55)


def q_edit_sim_documents(spark, sf):
    """Near-dup verification by edit distance: Jaccard candidates
    re-graded with Levenshtein on a bounded text prefix
    (operators/dedup.edit_distance_pairs) — separates reorderings
    (Jaccard-high, edit-low) from insertions (the reverse).

    Candidates come from dedup.prefix_filter_jaccard_pairs — the
    AllPairs prefix-filtering join: EXACT recall at Jaccard >= 0.55
    with candidate groups keyed on each doc's rarest WORD 3-gram
    shingles, so there is no quadratic block anywhere (the round-2
    (lang, length band) char-trigram variant grew O(corpus^2) within
    fixed block cardinality — 36.5 s in the r02 scale-stress run; this
    plan is linear-shuffle). Word shingles are what makes the prefix
    filter selective: the fixture corpus has only 377 distinct char
    trigrams but 27k word trigrams (see the operator docstring). The
    output is blocking-free, so the oracle is the plain exhaustive
    definition: every pair with round(word-trigram jaccard, 6) >= 0.55."""
    docs = _load(spark, sf, "documents")
    pairs = dedup.prefix_filter_jaccard_pairs(docs, "text", "doc_id",
                                              n=3, threshold=0.55,
                                              shingle="word")
    return (dedup.edit_distance_pairs(pairs, docs, "text", "doc_id",
                                      prefix_len=64)
            .select("id_a", "id_b", "jaccard", "dist", "edit_sim"))


CONTENT_RULESET = {
    "type": "object",
    "properties": {
        "text": {
            "type": "string",
            # duplicate-content declaration -> exact sha256 dedup pass
            "x-dedup": {"id": "doc_id"},
            # declared-vs-detected language consistency (row expression)
            "x-langid": {"declared": "lang", "min_tokens": 5},
        },
    },
}


def q_validate_documents_content(spark, sf):
    """Content-integrity DSL: x-dedup (exact duplicate pass) + x-langid
    (declared-vs-detected language row check) from ONE declarative doc."""
    from remark_lint_frontmatter_schema_spark.operators.table_checks import (
        validate_with_table_checks)
    docs = _load(spark, sf, "documents")
    compiled = compile_ruleset(CONTENT_RULESET, docs.schema,
                               name="documents")
    res = validate_with_table_checks(docs, compiled, row_id="doc_id")
    return res.violations.select("row_id", "keyword", "message", "actual")


def q_dedup_clusters_documents(spark, sf):
    """Near-dup CLUSTERS (not just pairs): connected components over the
    oracle-verified jaccard pair graph via alternating large-star /
    small-star rounds, every document labeled (singletons included)."""
    docs = _load(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                      block_col="lang", n=3, threshold=0.55)
    out = clusters.duplicate_clusters(docs, pairs, "doc_id")
    dedup.release_all()
    return out


def q_cluster_dedup_documents(spark, sf):
    """Survivor set: one canonical representative per near-dup cluster."""
    docs = _load(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                      block_col="lang", n=3, threshold=0.55)
    out = clusters.cluster_dedup(docs, pairs, "doc_id").select(
        "doc_id", "lang")
    dedup.release_all()
    return out


def q_decontaminate_documents(spark, sf):
    """Benchmark decontamination: word-5-gram overlap of the corpus
    against a held-out benchmark slice (broadcast shingle-hash join,
    operators/decontaminate.py)."""
    docs = _load(spark, sf, "documents")
    bench = docs.where("doc_id % 29 = 0")
    corpus = docs.where("doc_id % 29 != 0")
    return decontaminate.contamination_pairs(
        corpus, bench, "text", "doc_id", bench_id_col="doc_id", n=5)


def q_decontaminate_bloom_documents(spark, sf):
    """Bloom scale-path twin of ``decontaminate_documents`` (use_bloom:
    bench shingles -> partial-merge Bloom -> map-side prefilter -> exact
    un-broadcast join). Same result contract, same oracle — the driver
    value-checks that the scale path is byte-identical to broadcast."""
    docs = _load(spark, sf, "documents")
    bench = docs.where("doc_id % 29 = 0")
    corpus = docs.where("doc_id % 29 != 0")
    return decontaminate.contamination_pairs(
        corpus, bench, "text", "doc_id", bench_id_col="doc_id", n=5,
        use_bloom=True, n_items_hint=200_000)


def q_embed_cluster_dedup(spark, sf):
    """Embedding-space cluster dedup: the oracle-verified blocked cosine
    pairs closed into components, one survivor per cluster — semantic
    near-dup removal over `array<float>` vectors."""
    emb = _load(spark, sf, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(
        emb, "embedding", "vec_id", block_col="label", threshold=0.30)
    out = clusters.cluster_dedup(emb, pairs, "vec_id").select(
        "vec_id", "label")
    dedup.release_all()
    return out


PROPS_RULESET = {
    "type": "object",
    "properties": {
        "props_map": {
            "type": "object",
            "required": ["k"],
            "properties": {"k": {"minimum": 10}},
            "additionalProperties": False,
        },
    },
}


def q_validate_events_props(spark, sf):
    """Semi-structured path (SURVEY §2.1 S2, §2.2 P9/P11): JSON string ->
    map via from_json, then required / numeric-range / closed-map checks
    against the dynamic MapType node."""
    ev = _load(spark, sf, "events").select(
        "event_id",
        F.from_json("props", "map<string,string>").alias("props_map"))
    compiled = compile_ruleset(PROPS_RULESET, ev.schema, name="events_props")
    return validate(ev, compiled, row_id="event_id").violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message",
        "actual")


VARIANT_RULESET = {
    "type": "object",
    "properties": {
        "props_v": {
            "type": "object",
            "required": ["k", "name"],
            "properties": {
                "k": {"type": "integer", "minimum": 0, "maximum": 60},
                "name": {"type": "string", "maxLength": 8},
            },
            "additionalProperties": False,
        },
    },
}


def q_validate_events_variant(spark, sf):
    """Spark-4 VariantType-native semi-structured path (plans/variant.py):
    ``parse_json`` keeps each value's own JSON type, so `type: integer`
    fires on the JSON string "10" and on 12.5, JSON null is present-but-
    not-a-number, and a missing key fires `required` — exact Ajv
    semantics the from_json map<string,string> route (S2) coerces away.
    The heterogeneous document is derived deterministically from event_id
    (the table's own props column is homogeneous); the DuckDB oracle
    rebuilds it and checks types with an independent JSON implementation
    (json_type)."""
    ev = _load(spark, sf, "events")
    k = F.pmod(F.col("event_id"), F.lit(100)).cast("bigint")
    m = F.pmod(F.col("event_id"), F.lit(7))
    js = (
        F.when(m == 0, F.format_string('{"k": %d, "name": "ok"}', k))
         .when(m == 1, F.format_string('{"k": "%d", "name": "ok"}', k))
         .when(m == 2, F.lit('{"k": null, "name": "ok"}'))
         .when(m == 3, F.lit('{"name": "ok"}'))
         .when(m == 4, F.format_string('{"k": %d.5, "name": "ok"}', k))
         .when(m == 5, F.format_string(
             '{"k": %d, "name": "toolong_name_xx"}', k))
         .otherwise(F.format_string(
             '{"k": %d, "name": "ok", "z": true}', k)))
    doc = ev.select("event_id", F.parse_json(js).alias("props_v"))
    compiled = compile_ruleset(VARIANT_RULESET, doc.schema,
                               name="events_variant")
    return validate(doc, compiled, row_id="event_id").violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message",
        "actual")


PART_RULESET = {
    "type": "object",
    "properties": {
        "p_size": {"anyOf": [{"maximum": 10}, {"minimum": 40}]},
        "p_type": {"oneOf": [{"pattern": "COPPER$"}, {"pattern": "^PROMO"}]},
        "p_brand": {"not": {"enum": ["Brand#33"]}},
    },
}


def q_validate_part_composition(spark, sf):
    """Composition keywords (SURVEY §2.6 O3/O4): anyOf / oneOf / not with
    Ajv presence semantics (absent property never fires a value keyword)."""
    part = _load(spark, sf, "part")
    compiled = compile_ruleset(PART_RULESET, part.schema, name="part_comp")
    return validate(part, compiled, row_id="p_partkey").violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message")


FORMATS_RULESET = {
    "type": "object",
    "properties": {
        "event_date": {"format": "date"},
        "event_uuid": {"format": "uuid"},
        "event_contact": {"format": "idn-email"},
        "event_frag": {"format": "json-pointer-uri-fragment"},
    },
}


def _events_with_formats(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit("2026-13-45"))
         .otherwise(F.date_format("ts", "yyyy-MM-dd")).alias("event_date"),
        F.when(F.col("event_id") % 11 == 0, F.lit("not-a-uuid"))
         .otherwise(F.format_string("%08x-0000-4000-8000-%012x",
                                    "event_id", "event_id"))
         .alias("event_uuid"),
        F.when(F.col("event_id") % 5 == 0, F.lit("bad email@x"))
         .when(F.col("event_id") % 5 == 1, F.lit("θσερ@εχαμπλε.ψομ"))
         .otherwise(F.format_string("u%d@ex.com", "event_id"))
         .alias("event_contact"),
        F.when(F.col("event_id") % 9 == 0, F.lit("#/~2"))
         .otherwise(F.format_string("#/a/%d", "event_id"))
         .alias("event_frag"))


def q_validate_events_formats(spark, sf):
    """`format` keyword (SURVEY §2.2 P7) with the ajv-formats regexes."""
    ev = _events_with_formats(spark, sf)
    compiled = compile_ruleset(FORMATS_RULESET, ev.schema, name="events_fmt")
    return validate(ev, compiled, row_id="event_id").violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message",
        "actual")


PATTERN_PROPS_RULESET = {
    "type": "object",
    "properties": {
        "pm": {
            "type": "object",
            "patternProperties": {"^x_": {"pattern": "^[0-9]+$"}},
            "additionalProperties": {"maxLength": 8},
        },
    },
}


def _events_with_pattern_map(spark, sf):
    """Deterministic map column with pattern-named keys (the events table's
    own props map carries a single key; this exercises name matching)."""
    ev = _load(spark, sf, "events")
    return ev.select(
        "event_id",
        F.create_map(
            F.lit("x_code"), F.col("event_id").cast("string"),
            F.lit("x_flag"), F.when(F.col("event_id") % 5 == 0,
                                    F.lit("bad!")).otherwise(F.lit("7")),
            F.lit("note"), F.when(F.col("event_id") % 3 == 0,
                                  F.lit("averylongnote"))
                            .otherwise(F.lit("ok")),
        ).alias("pm"))


def q_validate_events_pattern_props(spark, sf):
    """`patternProperties` + dict-form `additionalProperties` on a dynamic
    MapType node (SURVEY §2.2; Ajv compiles both at
    /root/reference/index.ts:322): keys matching ^x_ need digit values,
    unmatched keys fall to the additionalProperties value schema."""
    ev = _events_with_pattern_map(spark, sf)
    compiled = compile_ruleset(PATTERN_PROPS_RULESET, ev.schema,
                               name="events_pp")
    return validate(ev, compiled, row_id="event_id").violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message",
        "actual")


EMB_TUPLE_RULESET = {
    "properties": {
        "embedding": {
            "items": [{"minimum": -0.1}, {"maximum": 0.1},
                      {"exclusiveMinimum": -0.2}],
        },
    },
}


def q_validate_embeddings_tuple(spark, sf):
    """Tuple-form (positional) `items` over the embedding array — each
    position gets its own check, reported at /embedding/{i}."""
    emb = _load(spark, sf, "embeddings")
    compiled = compile_ruleset(EMB_TUPLE_RULESET, emb.schema, name="embt")
    return validate(emb, compiled, row_id="vec_id").violations.select(
        "row_id", "constraint_id", "keyword", "instance_path", "message")


def q_profile_lineitem(spark, sf):
    """Single-scan multi-column profiler (SURVEY §2.4 A3) — exact fields
    only, long form; one FileScan for all profiled columns."""
    li = _load(spark, sf, "lineitem")
    return stats.column_stats(
        li, ["l_quantity", "l_extendedprice", "l_returnflag"],
        group_by="l_linestatus",
    ).select("partition_id", "column", "n_rows", "n_nulls",
             F.round("null_rate", 6).alias("null_rate"),
             "min_value", "max_value")


def q_violation_samples_orders(spark, sf):
    """Per-constraint violation samples (SURVEY §2.6 O5): first K row_ids
    per constraint via row_number — the manifest's evidence excerpt."""
    from pyspark.sql import Window
    viols = _orders_validation(spark, sf).violations
    w = Window.partitionBy("constraint_id").orderBy("row_id")
    return (viols.select("constraint_id", "row_id")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3))


EMB_RULESET = {
    "type": "object",
    "required": ["embedding"],
    "properties": {
        "embedding": {
            "minItems": 64,
            "maxItems": 64,
            "uniqueItems": True,
            "contains": {"minimum": 0.2},
            "minContains": 2,
            "maxContains": 6,
        },
    },
}


def q_validate_embeddings_array(spark, sf):
    """Array keywords (uniqueItems / contains / min+maxContains / min+
    maxItems) over the embedding vector column — one projection, no
    Python."""
    emb = _load(spark, sf, "embeddings")
    compiled = compile_ruleset(EMB_RULESET, emb.schema, name="emb")
    return validate(emb, compiled, row_id="vec_id").violations.select(
        "row_id", "constraint_id", "keyword", "message")


ORDERS_COND_RULESET = {
    "if": {"properties": {"o_orderstatus": {"const": "F"}},
           "required": ["o_orderstatus"]},
    "then": {"properties": {"o_totalprice": {"maximum": 400000}}},
    "else": {"properties": {"o_orderpriority": {"pattern": "^[1-3]-"}}},
    "dependentRequired": {"o_orderkey": ["o_custkey"]},
}


def q_validate_orders_conditional(spark, sf):
    """Conditional keywords (if/then/else) + dependentRequired at the row
    level — compiled to pure boolean Column algebra over one scan."""
    orders = _load(spark, sf, "orders")
    compiled = compile_ruleset(ORDERS_COND_RULESET, orders.schema,
                               name="ordcond")
    return validate(orders, compiled, row_id="o_orderkey").violations.select(
        "row_id", "constraint_id", "keyword", "message")


LINEITEM_DECL_RULESET = {
    "properties": {
        "l_orderkey": {"x-unique": True},
        "l_suppkey": {"x-ref": {"dim": "supplier_pos", "key": "s_suppkey"}},
        "l_quantity": {"minimum": 1, "maximum": 49},
    },
}


def q_validate_lineitem_declarative(spark, sf):
    """The full north_star check set from ONE declarative document:
    row expressions + x-unique (salted aggregate) + x-ref (broadcast
    anti-join), unioned into one violations relation
    (operators/table_checks.py)."""
    from remark_lint_frontmatter_schema_spark.operators.table_checks import (
        validate_with_table_checks)
    li = _load(spark, sf, "lineitem").withColumn(
        "li_id", F.concat_ws("-", "l_orderkey", "l_linenumber"))
    supp = _load(spark, sf, "supplier").where("s_acctbal >= 0")
    compiled = compile_ruleset(LINEITEM_DECL_RULESET, li.schema,
                               name="lifull")
    res = validate_with_table_checks(
        li, compiled, row_id="li_id", dims={"supplier_pos": supp})
    return res.violations.select("row_id", "constraint_id", "keyword",
                                 "message")


EVENTS_DRIFT_RULESET = {
    "properties": {
        "value": {"x-drift": {"partition_col": "event_type",
                              "side_a": "error", "side_b": "purchase",
                              "lo": 0, "hi": 500, "n_buckets": 25,
                              "ks_threshold": 0.01,
                              "psi_threshold": 0.01}},
    },
}


def q_validate_events_drift_declarative(spark, sf):
    """x-drift declarative table check (north_star drift detection driven
    from the same JSON-Schema-style document as row checks): one run-level
    violation row when KS or PSI crosses its declared threshold."""
    from remark_lint_frontmatter_schema_spark.operators.table_checks import (
        validate_with_table_checks)
    ev = _load(spark, sf, "events")
    compiled = compile_ruleset(EVENTS_DRIFT_RULESET, ev.schema,
                               name="evdrift")
    res = validate_with_table_checks(ev, compiled, row_id="event_id")
    return res.violations.select("row_id", "constraint_id", "keyword",
                                 "instance_path", "message", "actual")


def q_stats_rollup_lineitem(spark, sf):
    """Hierarchical stats via ROLLUP (SURVEY §2.4 A8): per
    (returnflag, linestatus), per returnflag subtotal, and grand total in
    one grouping-sets aggregate — a single shuffle, Catalyst expands the
    grouping sets map-side."""
    li = _load(spark, sf, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                   F.round(F.avg("l_extendedprice"), 4).alias("avg_price"))
              .select("l_returnflag", "l_linestatus", "n_rows", "sum_qty",
                      "avg_price"))


EVENTS_WINDOW_RULESET = {
    "properties": {
        "value": {"maximum": 400},
        "event_type": {"enum": ["error", "view", "purchase", "click",
                                "signup"]},
    },
    "required": ["user_id"],
}


def q_windowed_verdicts_events(spark, sf):
    """Event-time tumbling-window verdict counts (streaming/windowed.py run
    in its batch form — Spark's unified semantics make the same plan the
    streaming micro-batch plan)."""
    from remark_lint_frontmatter_schema_spark.streaming.windowed import (
        windowed_verdict_counts)
    ev = _load(spark, sf, "events").select("event_id", "ts", "user_id",
                                           "value", "event_type")
    compiled = compile_ruleset(EVENTS_WINDOW_RULESET, ev.schema,
                               name="evwin")
    return windowed_verdict_counts(ev, compiled, event_time_col="ts",
                                   window_duration="1 day")


def q_pii_scan_documents(spark, sf):
    """PII-candidate counts per document (email/ipv4/phone regex counts,
    pure JVM regexp_count projections)."""
    docs = _load(spark, sf, "documents")
    return text.pii_scan(docs, "text", "doc_id")


def q_mojibake_documents(spark, sf):
    """Encoding-damage scan (replacement char / C1 controls / UTF-8-as-
    latin-1 double-encoding digraphs) over a deterministically corrupted
    view of the corpus — the synthetic docs are clean, so mojibake
    suffixes are injected by doc_id residue in BOTH engines and the
    per-pattern counts compared exactly."""
    docs = _load(spark, sf, "documents")
    corrupted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" cafÃ© menu")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" donâ€™t stop")).otherwise(
                       F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" bad�byte" + chr(0x85))).otherwise(
                       F.lit(""))))
    return text.encoding_scan(corrupted, "text", "doc_id")


def q_repetition_documents(spark, sf):
    """Gopher-style repetition filters (dup-line/dup-word/top-word
    fractions) — staged single-tokenization projection."""
    docs = _load(spark, sf, "documents")
    return text.repetition_scores(docs, "text", "doc_id")


def q_sample_documents(spark, sf):
    """Deterministic hash-threshold sampling (operators/sampling.py):
    membership = sha256(id) prefix below threshold — pure map, identical
    rows on every run."""
    docs = _load(spark, sf, "documents")
    return sampling.hash_sample(docs, "doc_id", 0.25).select("doc_id")


def q_stratified_documents(spark, sf):
    """Deterministic n-per-stratum sample (hash-rank within language)."""
    docs = _load(spark, sf, "documents")
    return sampling.stratified_topn(docs, "lang", "doc_id", 40) \
        .select("doc_id", "lang")


def q_weighted_sample_documents(spark, sf):
    """Length-weighted deterministic sample without replacement
    (operators/sampling.py weighted_sample, Efraimidis-Spirakis A-ES with
    the sha256-prefix uniform): 100 documents, inclusion probability
    proportional to character count. Oracle reproduces the exact row set
    (same hash, same u^(1/w) ranking, same tiebreak) in DuckDB."""
    docs = _load(spark, sf, "documents")
    src = docs.select("doc_id",
                      F.length("text").cast("double").alias("w")) \
              .where(F.col("w").isNotNull())
    return sampling.weighted_sample(src, "doc_id", "w", 100)


def q_temperature_sample_documents(spark, sf):
    """Temperature-based language rebalancing (operators/sampling.py
    temperature_sample, the mT5/XLM-R alpha-smoothing recipe at
    alpha=0.3): low-resource languages keep ~all rows, dominant ones
    thin toward p^alpha shares — per-group deterministic sha256
    thresholding, so the oracle reproduces the EXACT kept row set."""
    docs = _load(spark, sf, "documents")
    return sampling.temperature_sample(docs, "lang", "doc_id",
                                       alpha=0.3) \
        .select("doc_id", "lang")


def q_zipf_documents(spark, sf):
    """Zipf-law corpus health fit (operators/text.py zipf_fit): slope /
    intercept / r2 of ln(count) ~ ln(rank) over the 500 most frequent
    whitespace tokens. One explode+groupBy shuffle, TakeOrderedAndProject
    top-k, bounded-relation rank window. Oracle re-derives the spectrum
    and the regression (regr_slope/intercept/r2) in DuckDB."""
    from remark_lint_frontmatter_schema_spark.operators.text import zipf_fit
    docs = _load(spark, sf, "documents")
    return zipf_fit(docs, "text", top_k=500)


def q_readability_documents(spark, sf):
    """Per-doc Flesch reading ease (operators/text.py readability):
    three regexp counts + closed-form arithmetic, map-only pure-JVM —
    the sentence-structure quality signal alongside the stopword/punct
    gates. Oracle recomputes the same counts in DuckDB."""
    docs = _load(spark, sf, "documents")
    return text.readability(docs, "text", "doc_id").select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.round("flesch", 6).alias("flesch"))


def q_lexdiv_documents(spark, sf):
    """Per-doc type-token ratio + hapax fraction (operators/text.py
    lexical_diversity): one explode + (id, token) aggregate; low TTR =
    templated text, high hapax = gibberish."""
    docs = _load(spark, sf, "documents")
    return text.lexical_diversity(docs, "text", "doc_id")


def q_heaps_documents(spark, sf):
    """Heaps'-law vocabulary-growth fit (operators/text.py heaps_fit):
    V(N) ~ K*N^beta over 100 id-range sample points — the corpus-level
    companion to zipf_documents, with the cumulative window bounded to
    the sample-point relation instead of a global document window."""
    docs = _load(spark, sf, "documents")
    return text.heaps_fit(docs, "text", "doc_id", n_points=100)


def q_budget_documents(spark, sf):
    """Token-budget curation: keep docs in deterministic hash order while
    cumulative length stays within budget — scalable prefix sum (range
    partitions + offset join, no global single-task window)."""
    docs = _load(spark, sf, "documents").select(
        "doc_id", F.length("text").alias("w"))
    return sampling.take_until_budget(docs, "w", "doc_id", 60000.0,
                                     n_partitions=8).select("doc_id")


def q_curate_documents(spark, sf):
    """Composed training-data curation (SURVEY §8 dedup+text rows): one
    scan -> staged profile -> fingerprint-window dedup -> gate reasons."""
    docs = _load(spark, sf, "documents")
    return curate.curation_decisions(
        docs, "text", "doc_id", min_quality=0.75, lang="en",
    ).select("doc_id", "quality_score", "lang_guess", "fingerprint",
             "reason", "kept")


# --- rows-only (approx / hash-seeded: no faithful ANSI-SQL twin) -----------

def q_minhash_dedup_documents(spark, sf):
    docs = _load(spark, sf, "documents")
    return dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.7)


def q_bpe_tokens_documents(spark, sf):
    """Distributed BPE: learn a 128-merge vocabulary from the documents
    corpus (one (word,count) histogram shuffle + bounded driver merge
    loop), then map-only encode and report learned-subword token counts.
    Fully deterministic (lexicographic tie-break) but not expressible in
    ANSI SQL (iterative merge learning) -> rows-only check; the trainer
    is pinned against an independent naive reference in tests/test_bpe.py."""
    from remark_lint_frontmatter_schema_spark.operators import bpe as _bpe
    docs = _load(spark, sf, "documents")
    model = _bpe.train_bpe(docs, "text", num_merges=128)
    return (_bpe.bpe_token_count(docs, model, "text")
            .select("doc_id", "n_bpe_tokens")
            .orderBy("doc_id"))


def q_simhash_pairs_documents(spark, sf):
    docs = _load(spark, sf, "documents")
    return dedup.simhash_pairs(docs, "text", "doc_id", max_distance=6)


def q_minhash_cluster_documents(spark, sf):
    """The 100 TB near-dup path end-to-end: MinHash+LSH banded candidate
    pairs (bucketed, no all-pairs) -> connected components -> survivor set.
    Seeded-hash signatures have no faithful SQL twin (rows-only check);
    the component algebra itself is oracle-backed via
    ``dedup_clusters_documents``."""
    docs = _load(spark, sf, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.7)
    out = clusters.cluster_dedup(docs, pairs, "doc_id").select(
        "doc_id", "lang")
    dedup.release_all()
    return out


def q_ann_ivf_topk(spark, sf):
    emb = _load(spark, sf, "embeddings")
    qv = [float(x) for x in
          emb.where("vec_id = 0").select("embedding").first().embedding]
    return similarity.cosine_topk_ivf(emb, "embedding", "vec_id", qv, k=10,
                                      n_cells=8, n_probe=4)


def q_semdedup_embeddings(spark, sf):
    """SemDeDup (operators/similarity.semdedup): k-means cells block the
    cosine pair search; each near-dup component keeps its most-atypical
    member (lowest cosine to the cell centroid — Abbas et al. 2023).
    Centroid training is deterministic but iterative (farthest-point +
    Lloyd), so no faithful SQL twin exists; rows-only check, with the
    survivor rule pinned quantitatively in tests/test_semdedup.py."""
    emb = _load(spark, sf, "embeddings")
    out = similarity.semdedup(emb, "embedding", "vec_id", dim=64,
                              n_cells=64, threshold=0.98)
    kept = out.where("kept").select("vec_id", "cell", "centroid_sim")
    kept = kept.orderBy("vec_id").limit(200)
    dedup.release_all()
    return kept


def q_ann_pq_topk(spark, sf):
    """Product-quantization ADC top-k (operators/similarity.py): codes
    are m bytes/vector vs 256 B of float32 — the memory-bound ANN scale
    path. Codebooks train on a bounded driver sample (seeded
    farthest-point + Lloyd -> no faithful SQL twin; rows-only check)."""
    emb = _load(spark, sf, "embeddings")
    # L2-normalize first: ADC is L2 distance, and on unit vectors L2
    # rank == cosine rank (the operator contract: callers own
    # normalization)
    v = F.col("embedding").cast("array<double>")
    staged = emb.select(
        "vec_id", v.alias("_v"),
        F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                           F.lit(0.0), lambda a, x: a + x)).alias("_n"))
    # _n referenced twice (guard + divisor) so CollapseProject keeps the
    # staged projection — otherwise the norm aggregate is inlined INTO the
    # transform lambda and recomputed per element (64x per row)
    emb = staged.select(
        "vec_id",
        F.when(F.col("_n") > 0,
               F.transform("_v", lambda x: x / F.col("_n")))
         .alias("embedding"))
    q0 = [float(x) for x in
          emb.where("vec_id = 0").select("embedding").first().embedding]
    # m=16 x 64 codes: 16 B/vector, and ADC top-10 recovered 10/10 of
    # the exact cosine top-30 on this corpus (8x16 read 4/10 — too
    # coarse for structureless vectors; measured in BASELINE.md)
    books = similarity.pq_train(emb, "embedding", "vec_id",
                                dim=64, m=16, n_codes=64)
    codes = similarity.pq_encode(emb, "embedding", "vec_id", books)
    return similarity.pq_topk(codes, books, q0, k=10, id_col="vec_id")


def q_embed_lsh_pairs(spark, sf):
    """Random-hyperplane LSH bucketing + exact cosine verify (seeded
    hyperplanes -> no faithful SQL twin; rows-only check)."""
    emb = _load(spark, sf, "embeddings")
    return similarity.embedding_lsh_pairs(emb, "embedding", "vec_id",
                                          n_bits=10, threshold=0.30)


def q_approx_stats_lineitem(spark, sf):
    li = _load(spark, sf, "lineitem")
    return stats.column_stats(li, ["l_quantity", "l_extendedprice"])


def q_er_pairs_part(spark, sf):
    """Entity resolution, match stage (operators/entity.er_pairs): the
    part catalog's distinct names blocked on their LAST TOKEN (the noun:
    "red widget"/"blue widget" share a block), verified by Levenshtein
    <= 4 inside blocks. Blocking is REQUIRED by contract (the refused
    global self-join); shuffle carries (name, block_key) only. Oracle:
    the same block+verify as a DuckDB self-join — exact, not fuzzy."""
    from remark_lint_frontmatter_schema_spark.operators.entity import (
        er_pairs)
    names = _load(spark, sf, "part").select("p_name").distinct()
    blk = F.element_at(F.split("p_name", " "), -1)
    return er_pairs(names, text_col="p_name", id_col="p_name",
                    block=blk, max_edit=4).select(
        F.col("id_a").alias("name_a"), F.col("id_b").alias("name_b"),
        "edit")


def q_er_golden_part(spark, sf):
    """Survivorship (operators/entity.golden_records): cluster the
    matched names transitively (large-star/small-star components) and
    pick one survivor per entity by descending support (row count),
    ties to the lexicographically smallest name. Only matched names
    enter the survivorship window; the unmatched bulk is map-only.
    Oracle: recursive-CTE components + one window."""
    from remark_lint_frontmatter_schema_spark.operators.entity import (
        er_pairs, golden_records)
    part = _load(spark, sf, "part")
    names = (part.groupBy("p_name")
             .agg(F.count(F.lit(1)).alias("n_rows")))
    blk = F.element_at(F.split("p_name", " "), -1)
    pairs = er_pairs(names, text_col="p_name", id_col="p_name",
                     block=blk, max_edit=4)
    return golden_records(names, pairs, id_col="p_name",
                          prefer=["n_rows"]).select(
        "p_name", "entity_id", "n_rows", "is_survivor")


def q_funnel_events(spark, sf):
    """Ordered funnel (operators/funnel.funnel_counts): of the users who
    signed up, how many then clicked, then purchased — each step
    strictly after the previous and within 7 days of it. ONE shuffle
    (groupBy user over funnel-type events only) + a pure-JVM greedy fold
    over each user's sorted event array; step counts come off a
    <=4-row histogram. Oracle: the same greedy recurrence as nested
    min(ts) subqueries."""
    from remark_lint_frontmatter_schema_spark.operators.funnel import (
        funnel_counts)
    ev = _load(spark, sf, "events")
    return funnel_counts(ev, ["signup", "click", "purchase"],
                         within_ms=7 * 86400 * 1000)


def q_resample_events(spark, sf):
    """Per-user daily resample + forward fill (operators/sequence.
    resample_fill): bucket events to days keeping the bucket's LAST
    value (ties by event_id), materialize every day from the user's
    first event to the corpus's last day, carry values forward — the
    daily-snapshot build. Grid via per-group sequence() explode; fill
    via a per-GROUP window (never global). Oracle: DuckDB
    generate_series + ASOF LEFT JOIN (latest prior observation ==
    forward fill)."""
    from remark_lint_frontmatter_schema_spark.operators.sequence import (
        resample_fill)
    ev = _load(spark, sf, "events")
    return resample_fill(ev, ts_col="ts", value_col="value",
                         by="user_id", unit="day", tie_break="event_id")


def q_bm25_documents(spark, sf):
    """BM25 top-k retrieval (operators/search.bm25_topk): three probe
    queries scored with Robertson idf + k1/b saturation over the whole
    corpus, each query's 15 best docs. Inverted-index shape: one
    tokenize+explode postings pass, postings pruned to the query
    vocabulary by broadcast BEFORE df aggregation, per-query window
    top-k. Oracle: identical algebra in DuckDB."""
    from remark_lint_frontmatter_schema_spark.operators.search import (
        bm25_topk)
    docs = _load(spark, sf, "documents")
    qs = [("q_scan", "fast table scan"),
          ("q_window", "window sort order"),
          ("q_join", "hash join spark query")]
    return bm25_topk(docs, qs, k=15)



def q_normalize_documents(spark, sf):
    """Unicode NFC normalization (operators/text.normalize_text):
    decomposed combining sequences injected on keyed rows, then the
    Arrow-batched normalizer canonicalizes and flags changed docs.
    Oracle: DuckDB's native nfc_normalize — exact, including the
    null-safe changed flag."""
    from remark_lint_frontmatter_schema_spark.operators.text import (
        normalize_text)
    docs = _load(spark, sf, "documents")
    injected = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.regexp_replace("text", "e", "e\u0301"))
         .otherwise(F.col("text")))
    return normalize_text(injected, "text", "doc_id")



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_orders": q_validate_orders,
        "validate_lineitem_pruned": q_validate_lineitem_pruned,
        "footer_profile_lineitem": q_footer_profile_lineitem,
        "verdict_orders": q_verdict_orders,
        "stats_lineitem": q_stats_lineitem,
        "unique_lineitem_orderkey": q_unique_lineitem_orderkey,
        "mask_gate_customer": q_mask_gate_customer,
        "mask_gate_by_customer": q_mask_gate_by_customer,
        "corr_gate_by_lineitem": q_corr_gate_by_lineitem,
        "corr_gate_lineitem": q_corr_gate_lineitem,
        "mask_profile_customer": q_mask_profile_customer,
        "corr_profile_lineitem": q_corr_profile_lineitem,
        "decontaminate_semantic_embeddings":
            q_decontaminate_semantic_embeddings,
        "unique_multi_lineitem": q_unique_multi_lineitem,
        "benford_gate_events": q_benford_gate_events,
        "benford_gate_by_events": q_benford_gate_by_events,
        "drift_gate_by_events": q_drift_gate_by_events,
        "skew_gate_by_lineitem": q_skew_gate_by_lineitem,
        "skew_profile_by_lineitem": q_skew_profile_by_lineitem,
        "missing_dates_events": q_missing_dates_events,
        "missing_dates_by_events": q_missing_dates_by_events,
        "freshness_by_events": q_freshness_by_events,
        "freshness_events": q_freshness_events,
        "benford_events": q_benford_events,
        "reconcile_orders": q_reconcile_orders,
        "skew_profile_lineitem": q_skew_profile_lineitem,
        "heavy_hitters_lineitem": q_heavy_hitters_lineitem,
        "mmd_embeddings": q_mmd_embeddings,
        "fd_lineitem": q_fd_lineitem,
        "fd_discover_lineitem": q_fd_discover_lineitem,
        "diff_orders": q_diff_orders,
        "induce_orders": q_induce_orders,
        "gap_events_by_user": q_gap_events_by_user,
        "sessionize_events": q_sessionize_events,
        "asof_events_purchase": q_asof_events_purchase,
        "asof_bucketed_events_purchase": q_asof_bucketed_events_purchase,
        "ref_asof_purchase_signup": q_ref_asof_purchase_signup,
        "profile_events_nonfinite": q_profile_events_nonfinite,
        "purchase_session_attribution": q_purchase_session_attribution,
        "ref_interval_purchase_sessions": q_ref_interval_purchase_sessions,
        "error_session_overlap": q_error_session_overlap,
        "profile_diff_orders": q_profile_diff_orders,
        "url_dedup_documents": q_url_dedup_documents,
        "gibberish_documents": q_gibberish_documents,
        "lm_ppl_documents": q_lm_ppl_documents,
        "er_pairs_part": q_er_pairs_part,
        "bm25_documents": q_bm25_documents,
        "normalize_documents": q_normalize_documents,
        "er_golden_part": q_er_golden_part,
        "funnel_events": q_funnel_events,
        "resample_events": q_resample_events,
        "ref_orders_customer": q_ref_orders_customer,
        "ref_orders_customer_bloom": q_ref_orders_customer_bloom,
        "hist_events": q_hist_events,
        "drift_events_ks": q_drift_events_ks,
        "drift_events_psi": q_drift_events_psi,
        "drift_events_emd": q_drift_events_emd,
        "drift_events_jsd": q_drift_events_jsd,
        "drift_events_cvm": q_drift_events_cvm,
        "drift_events_type_psi": q_drift_events_type_psi,
        "drift_events_ks_by_type": q_drift_events_ks_by_type,
        "drift_type_psi_by_dow": q_drift_type_psi_by_dow,
        "drift_events_chi2": q_drift_events_chi2,
        "drift_events_windowed_psi": q_drift_events_windowed_psi,
        "topn_flag_violation_rate": q_topn_flag_violation_rate,
        "rate_ci_orders": q_rate_ci_orders,
        "quantile_gate_lineitem": q_quantile_gate_lineitem,
        "funnel_ci_events": q_funnel_ci_events,
        "cm_counts_lineitem": q_cm_counts_lineitem,
        "mean_shift_events": q_mean_shift_events,
        "stickiness_events": q_stickiness_events,
        "top_paths_events": q_top_paths_events,
        "cohort_retention_events": q_cohort_retention_events,
        "markov_events": q_markov_events,
        "text_stats_documents": q_text_stats_documents,
        "langid_documents": q_langid_documents,
        "lang_confusion_documents": q_lang_confusion_documents,
        "keywords_documents": q_keywords_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "dedup_exact_documents": q_dedup_exact_documents,
        "ann_cosine_topk": q_ann_cosine_topk,
        "embed_sim_pairs": q_embed_sim_pairs,
        "dim_profile_embeddings": q_dim_profile_embeddings,
        "hubness_embeddings": q_hubness_embeddings,
        "winnow_pairs_documents": q_winnow_pairs_documents,
        "containment_documents": q_containment_documents,
        "ngram_jaccard_documents": q_ngram_jaccard_documents,
        "edit_sim_documents": q_edit_sim_documents,
        "dup_ngram_documents": q_dup_ngram_documents,
        "dedup_lines_documents": q_dedup_lines_documents,
        "gopher_documents": q_gopher_documents,
        "pack_documents": q_pack_documents,
        "redact_documents": q_redact_documents,
        "group_split_documents": q_group_split_documents,
        "split_leakage_documents": q_split_leakage_documents,
        "c4_clean_documents": q_c4_clean_documents,
        "dup_spans_documents": q_dup_spans_documents,
        "validate_events_unevaluated": q_validate_events_unevaluated,
        "validate_embeddings_quality": q_validate_embeddings_quality,
        "validate_events_content_schema": q_validate_events_content_schema,
        "dedup_clusters_documents": q_dedup_clusters_documents,
        "cluster_dedup_documents": q_cluster_dedup_documents,
        "validate_documents_content": q_validate_documents_content,
        "embed_cluster_dedup": q_embed_cluster_dedup,
        "decontaminate_documents": q_decontaminate_documents,
        "decontaminate_bloom_documents": q_decontaminate_bloom_documents,
        "validate_events_props": q_validate_events_props,
        "validate_events_variant": q_validate_events_variant,
        "validate_part_composition": q_validate_part_composition,
        "validate_events_formats": q_validate_events_formats,
        "validate_events_pattern_props": q_validate_events_pattern_props,
        "validate_embeddings_tuple": q_validate_embeddings_tuple,
        "violation_samples_orders": q_violation_samples_orders,
        "profile_lineitem": q_profile_lineitem,
        "validate_embeddings_array": q_validate_embeddings_array,
        "validate_orders_conditional": q_validate_orders_conditional,
        "curate_documents": q_curate_documents,
        "pii_scan_documents": q_pii_scan_documents,
        "repetition_documents": q_repetition_documents,
        "mojibake_documents": q_mojibake_documents,
        "sample_documents": q_sample_documents,
        "weighted_sample_documents": q_weighted_sample_documents,
        "temperature_sample_documents": q_temperature_sample_documents,
        "zipf_documents": q_zipf_documents,
        "readability_documents": q_readability_documents,
        "lexdiv_documents": q_lexdiv_documents,
        "heaps_documents": q_heaps_documents,
        "stratified_documents": q_stratified_documents,
        "budget_documents": q_budget_documents,
        "windowed_verdicts_events": q_windowed_verdicts_events,
        "stats_rollup_lineitem": q_stats_rollup_lineitem,
        "validate_lineitem_declarative": q_validate_lineitem_declarative,
        "validate_events_drift_declarative": q_validate_events_drift_declarative,
        "minhash_dedup_documents": q_minhash_dedup_documents,
        "bpe_tokens_documents": q_bpe_tokens_documents,
        "minhash_cluster_documents": q_minhash_cluster_documents,
        "simhash_pairs_documents": q_simhash_pairs_documents,
        "ann_ivf_topk": q_ann_ivf_topk,
        "semdedup_embeddings": q_semdedup_embeddings,
        "ann_pq_topk": q_ann_pq_topk,
        "embed_lsh_pairs": q_embed_lsh_pairs,
        "approx_stats_lineitem": q_approx_stats_lineitem,
        "repair_orders": q_repair_orders,
        "outliers_events": q_outliers_events,
        "volume_anomaly_events": q_volume_anomaly_events,
        "volume_by_events": q_volume_by_events,
        "validate_lineitem_fused": q_validate_lineitem_fused,
        "monotonic_events_by_user": q_monotonic_events_by_user,
        "chunk_documents": q_chunk_documents,
        "mix_documents": q_mix_documents,
        "monotonic_events_global": q_monotonic_events_global,
        "repair_log_orders": q_repair_log_orders,
        "content_json_events": q_content_json_events,
        "outliers_events_by_type": q_outliers_events_by_type,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def _curate_oracle_sql(min_quality: float = 0.75, lang: str = "en") -> str:
    """Composed from the same constants as the Spark path: quality CTE
    (text_stats oracle), marker-count argmax (langid oracle), normalization
    fingerprint, and a min-id window per fingerprint for dedup."""
    score_exprs = []
    for lg, markers in text.LANG_MARKERS.items():
        mlist = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"len(list_filter(toksl, x -> x IN ({mlist}))) AS s_{lg}")
    langs = list(text.LANG_MARKERS)
    best = f"greatest({', '.join('s_' + lg for lg in langs)})"
    case = "CASE " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in langs) + " END"
    return f"""
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS text,
         length(coalesce(text, '')) AS n_chars_c,
         list_filter(string_split_regex(coalesce(text, ''), '\\s+'), x -> x <> '') AS toks,
         list_transform(list_filter(string_split_regex(coalesce(text, ''), '\\s+'), x -> x <> ''),
                        x -> lower(x)) AS toksl
  FROM documents
), r AS (
  SELECT doc_id, n_chars_c,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toksl, x -> x IN ({_STOPWORDS_SQL}))) * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars_c > 0
              THEN (n_chars_c - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / n_chars_c
              ELSE 0.0 END AS p_ratio,
         CASE WHEN len(toks) > 0 THEN n_chars_c * 1.0 / len(toks) ELSE 0.0 END AS mwl,
         {', '.join(score_exprs)},
         sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                    ' +', ' ', 'g'))) AS fingerprint
  FROM t
), m AS (
  SELECT doc_id, fingerprint,
         round(
           (CASE WHEN n_chars_c BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3
           + (CASE WHEN mwl >= 2.5 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
           + least(stop_ratio * 4, 1.0) * 0.3
           + (1.0 - least(p_ratio * 5, 1.0)) * 0.2, 6) AS quality_score,
         CASE WHEN {best} > 0 THEN {case} ELSE 'und' END AS lang_guess,
         min(doc_id) OVER (PARTITION BY fingerprint) AS keep_id
  FROM r
)
SELECT doc_id, quality_score, lang_guess, fingerprint,
       CASE WHEN doc_id <> keep_id THEN 'duplicate'
            WHEN quality_score < {min_quality} THEN 'low_quality'
            WHEN lang_guess <> '{lang}' THEN 'wrong_lang'
            ELSE 'kept' END AS reason,
       (doc_id = keep_id AND quality_score >= {min_quality}
        AND lang_guess = '{lang}') AS kept
FROM m
"""


def _langid_oracle_sql() -> str:
    """Generated from the same LANG_MARKERS constants as the Spark path
    (token-membership counts over one whitespace tokenization)."""
    score_exprs = []
    for lang, markers in text.LANG_MARKERS.items():
        mlist = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"CAST(len(list_filter(toks, x -> x IN ({mlist}))) AS INT) AS s_{lang}")
    langs = list(text.LANG_MARKERS)
    best = f"greatest({', '.join('s_' + lg for lg in langs)})"
    case = "CASE " + " ".join(
        f"WHEN s_{lg} = best THEN '{lg}'" for lg in langs) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         {', '.join(score_exprs)}
  FROM (SELECT doc_id, lang,
               string_split_regex(lower(text), '\\s+') AS toks
        FROM documents) t
), g AS (
  SELECT doc_id, lang, {best} AS best,
         {', '.join('s_' + lg for lg in langs)}
  FROM scored
)
SELECT doc_id,
       CASE WHEN best > 0 THEN {case} ELSE 'und' END AS lang_guess,
       (CASE WHEN best > 0 THEN {case} ELSE 'und' END) = lang AS matches_label
FROM g
"""


def _content_viol_sql() -> str:
    """Oracle for ``validate_documents_content``: x-langid mismatches
    (same LANG_MARKERS scoring as the Spark expression) UNION x-dedup
    exact-sha256 non-canonical duplicates."""
    score_exprs = []
    for lang, markers in text.LANG_MARKERS.items():
        mlist = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"CAST(len(list_filter(toks, x -> x IN ({mlist}))) AS INT) AS s_{lang}")
    langs = list(text.LANG_MARKERS)
    best = f"greatest({', '.join('s_' + lg for lg in langs)})"
    case = "CASE " + " ".join(
        f"WHEN s_{lg} = best THEN '{lg}'" for lg in langs) + " END"
    langid_msg = ('Must match declared language in "lang"'
                  " • #/properties/text/x-langid")
    return f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_toks,
         {', '.join(score_exprs)}
  FROM (SELECT doc_id, lang, text,
               string_split_regex(lower(text), '\\s+') AS toks
        FROM documents) t
), g AS (
  SELECT doc_id, lang, text, n_toks, {best} AS best,
         {', '.join('s_' + lg for lg in langs)}
  FROM scored
), guesses AS (
  SELECT doc_id, lang, text, n_toks,
         CASE WHEN best > 0 THEN {case} ELSE 'und' END AS guess
  FROM g
), keyed AS (
  SELECT doc_id, sha256(text) AS sha FROM documents WHERE text IS NOT NULL
), grp AS (
  SELECT sha, count(*) AS n, min(doc_id) AS keep
  FROM keyed GROUP BY sha HAVING count(*) > 1
)
SELECT CAST(doc_id AS VARCHAR) AS row_id, 'x-langid' AS keyword,
       '{langid_msg}' AS message, guess AS actual
FROM guesses
WHERE text IS NOT NULL AND lang IS NOT NULL AND n_toks >= 5
      AND guess <> 'und' AND guess <> lang
UNION ALL
SELECT CAST(k.doc_id AS VARCHAR), 'dedup',
       'Must be unique content (exact sha256 match): duplicate of `'
         || CAST(g2.keep AS VARCHAR) || '`',
       CAST(g2.keep AS VARCHAR)
FROM keyed k JOIN grp g2 ON k.sha = g2.sha
WHERE k.doc_id <> g2.keep
"""


_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)

_TEXT_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, text, length(text) AS n_chars_c,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe
  FROM documents
), r AS (
  SELECT doc_id, n_chars_c, len(toks) AS n_tokens, n_tokens_bpe,
         CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> lower(x) IN ({_STOPWORDS_SQL}))) * 1.0 / len(toks)
              ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars_c > 0
              THEN (n_chars_c - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / n_chars_c
              ELSE 0.0 END AS p_ratio,
         CASE WHEN len(toks) > 0 THEN n_chars_c * 1.0 / len(toks) ELSE 0.0 END AS mwl
  FROM t
)
SELECT doc_id, n_chars_c, n_tokens, n_tokens_bpe,
       round(stop_ratio, 6) AS stopword_ratio,
       round(p_ratio, 6) AS punct_ratio,
       round(
         (CASE WHEN n_chars_c BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END) * 0.3
         + (CASE WHEN mwl >= 2.5 AND mwl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.2
         + least(stop_ratio * 4, 1.0) * 0.3
         + (1.0 - least(p_ratio * 5, 1.0)) * 0.2, 6) AS quality_score
FROM r
"""

_HIST_EVENTS_CTE = """
  SELECT event_type AS side,
         CASE WHEN value IS NULL THEN NULL
              WHEN value < 0 THEN 0
              WHEN value >= 500 THEN 26
              ELSE CAST(floor(value / 20) + 1 AS BIGINT) END AS bucket,
         count(*) AS n
  FROM events
  WHERE event_type IN ('error', 'purchase') AND value IS NOT NULL
  GROUP BY 1, 2
"""

_KS_SQL = f"""
WITH h AS ({_HIST_EVENTS_CTE}),
spine AS (SELECT s.side, b.bucket
          FROM (SELECT DISTINCT side FROM h) s
          CROSS JOIN (SELECT unnest(range(0, 27)) AS bucket) b),
filled AS (SELECT sp.side, sp.bucket, coalesce(h.n, 0) AS n
           FROM spine sp LEFT JOIN h ON h.side = sp.side AND h.bucket = sp.bucket),
cdf AS (SELECT side, bucket,
        sum(n) OVER (PARTITION BY side ORDER BY bucket) * 1.0
          / sum(n) OVER (PARTITION BY side) AS cdf
        FROM filled)
SELECT round(max(abs(a.cdf - b.cdf)), 6) AS ks_stat
FROM cdf a JOIN cdf b USING (bucket)
WHERE a.side = 'error' AND b.side = 'purchase'
"""

_EMD_SQL = f"""
WITH h AS ({_HIST_EVENTS_CTE}),
spine AS (SELECT s.side, b.bucket
          FROM (SELECT DISTINCT side FROM h) s
          CROSS JOIN (SELECT unnest(range(0, 27)) AS bucket) b),
filled AS (SELECT sp.side, sp.bucket, coalesce(h.n, 0) AS n
           FROM spine sp LEFT JOIN h ON h.side = sp.side AND h.bucket = sp.bucket),
cdf AS (SELECT side, bucket,
        sum(n) OVER (PARTITION BY side ORDER BY bucket) * 1.0
          / sum(n) OVER (PARTITION BY side) AS cdf
        FROM filled)
SELECT round(sum(abs(a.cdf - b.cdf)) * 20.0, 6) AS emd
FROM cdf a JOIN cdf b USING (bucket)
WHERE a.side = 'error' AND b.side = 'purchase'
"""

_PSI_SQL = f"""
WITH h AS ({_HIST_EVENTS_CTE}),
p AS (SELECT side, bucket, n * 1.0 / sum(n) OVER (PARTITION BY side) AS p
      FROM h),
j AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
             greatest(coalesce(a.p, 0.0), 1e-6) AS p_a,
             greatest(coalesce(b.p, 0.0), 1e-6) AS p_b
      FROM (SELECT * FROM p WHERE side = 'error') a
      FULL OUTER JOIN (SELECT * FROM p WHERE side = 'purchase') b
      USING (bucket))
SELECT round(sum((p_a - p_b) * ln(p_a / p_b)), 6) AS psi FROM j
"""

_JSD_SQL = f"""
WITH h AS ({_HIST_EVENTS_CTE}),
p AS (SELECT side, bucket, n * 1.0 / sum(n) OVER (PARTITION BY side) AS p
      FROM h),
j AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
             coalesce(a.p, 0.0) AS p_a, coalesce(b.p, 0.0) AS p_b
      FROM (SELECT * FROM p WHERE side = 'error') a
      FULL OUTER JOIN (SELECT * FROM p WHERE side = 'purchase') b
      USING (bucket))
SELECT round(greatest(sum(
         0.5 * (CASE WHEN p_a > 0 THEN p_a * ln(p_a / ((p_a + p_b) / 2)) ELSE 0 END
                + CASE WHEN p_b > 0 THEN p_b * ln(p_b / ((p_a + p_b) / 2)) ELSE 0 END)
       ), 0.0), 6) AS jsd
FROM j
"""

_CVM_SQL = f"""
WITH h AS ({_HIST_EVENTS_CTE}),
spine AS (SELECT s.side, b.bucket
          FROM (SELECT DISTINCT side FROM h) s
          CROSS JOIN (SELECT unnest(range(0, 27)) AS bucket) b),
filled AS (SELECT sp.side, sp.bucket, coalesce(h.n, 0) AS n
           FROM spine sp LEFT JOIN h ON h.side = sp.side AND h.bucket = sp.bucket),
cdf AS (SELECT side, bucket, n,
        sum(n) OVER (PARTITION BY side ORDER BY bucket) * 1.0
          / sum(n) OVER (PARTITION BY side) AS cdf
        FROM filled)
SELECT round(sum((a.n + b.n) * (a.cdf - b.cdf) ^ 2)
             / (sum(a.n) + sum(b.n)), 6) AS cvm
FROM cdf a JOIN cdf b USING (bucket)
WHERE a.side = 'error' AND b.side = 'purchase'
"""

_COSINE_TOPK_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))), 5) AS score
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id
LIMIT 10
"""

_EMBED_PAIRS_SQL = """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
             5) AS score
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.30
"""

# embedding-space variant of the cluster oracle: same recursive closure
# over the blocked-cosine pair graph
_EMBED_CLUSTER_DEDUP_SQL = f"""
WITH RECURSIVE pr AS ({_EMBED_PAIRS_SQL}),
e AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION
  SELECT id_b, id_a FROM pr
),
reach(node, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node
),
comp AS (SELECT node, min(r) AS comp_id FROM reach GROUP BY node)
SELECT v.vec_id, v.label
FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.node
WHERE c.node IS NULL OR c.comp_id = v.vec_id
"""

# word-5-gram overlap between the benchmark slice (doc_id % 29 = 0) and
# the rest of the corpus — string-shingle intersection (the Spark side
# joins on xxhash64 of the same shingles; identical pairs absent a 64-bit
# collision)
_DECONTAMINATE_SQL = """
WITH t AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> ''), x -> lower(x)) AS toks
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3),
                                      i -> array_to_string(toks[i:i+4], ' ')))
           AS s
  FROM t WHERE len(toks) >= 5
)
SELECT c.doc_id, b.doc_id AS bench_id,
       CAST(len(list_intersect(c.s, b.s)) AS BIGINT) AS n_shared
FROM sh c JOIN sh b ON b.doc_id % 29 = 0 AND c.doc_id % 29 <> 0
WHERE len(list_intersect(c.s, b.s)) >= 1
"""

_CONTENT_SCHEMA_SQL = r"""
WITH ids AS (SELECT event_id, event_id % 3 AS r, event_id % 100 AS k
             FROM events), b AS (SELECT chr(8226) AS dot)
SELECT CAST(event_id AS VARCHAR) AS row_id,
       'events_content_schema:/props/k:type' AS constraint_id,
       'type' AS keyword, '/props/k' AS instance_path,
       'Must be integer ' || dot
         || ' #/properties/props/contentSchema/properties/k/type'
         AS message,
       CAST(k AS VARCHAR) AS actual
FROM ids, b WHERE r = 1
UNION ALL
SELECT CAST(event_id AS VARCHAR),
       'events_content_schema:/props/k:maximum', 'maximum', '/props/k',
       'Must be <= 60 ' || dot
         || ' #/properties/props/contentSchema/properties/k/maximum',
       CAST(k AS VARCHAR)
FROM ids, b WHERE r = 0 AND k > 60
UNION ALL
SELECT CAST(event_id AS VARCHAR),
       'events_content_schema:/props:contentMediaType',
       'contentMediaType', '/props',
       'Must be media type "application/json" ' || dot
         || ' #/properties/props/contentMediaType',
       'not json'
FROM ids, b WHERE r = 2
"""

_EMB_QUALITY_SQL = r"""
WITH src AS (
  SELECT vec_id,
    CASE WHEN vec_id % 7 = 1 THEN embedding[1:32]
         WHEN vec_id % 7 = 2 THEN list_concat(['NaN'::FLOAT],
                                              embedding[2:64])
         WHEN vec_id % 7 = 3 THEN list_transform(range(64),
                                                 x -> CAST(0.0 AS FLOAT))
         ELSE embedding END AS e
  FROM embeddings
),
m AS (
  SELECT vec_id, len(e) AS n,
         len(list_filter(e, x -> isnan(x) OR isinf(x))) AS n_bad,
         list_sum(list_transform(e,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS s2
  FROM src
),
b AS (SELECT chr(8226) AS dot)
SELECT CAST(vec_id AS VARCHAR) AS row_id,
       'emb_quality:/embedding:x-embedding-dim' AS constraint_id,
       'x-embedding-dim' AS keyword,
       'Must have embedding dimension 64 ' || dot
         || ' #/properties/embedding/x-embedding' AS message,
       CAST(n AS VARCHAR) AS actual
FROM m, b WHERE n != 64
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'emb_quality:/embedding:x-embedding-finite', 'x-embedding-finite',
       'Must contain only finite values ' || dot
         || ' #/properties/embedding/x-embedding',
       CAST(n_bad AS VARCHAR) || ' non-finite'
FROM m, b WHERE n_bad > 0
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'emb_quality:/embedding:x-embedding-nonzero', 'x-embedding-nonzero',
       'Must not be the zero vector ' || dot
         || ' #/properties/embedding/x-embedding',
       '0.0'
FROM m, b WHERE n_bad = 0 AND s2 = 0
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'emb_quality:/embedding:x-embedding-norm', 'x-embedding-norm',
       'Must be L2-normalized (|norm-1| <= 0.001) ' || dot
         || ' #/properties/embedding/x-embedding',
       CAST(round(sqrt(s2), 6) AS VARCHAR)
FROM m, b WHERE n_bad = 0 AND abs(sqrt(s2) - 1.0) > 0.001
"""

_UNEVAL_SQL = r"""
WITH ids AS (SELECT event_id, event_id % 5 AS r FROM events),
v(r, constraint_id, keyword, instance_path, message, actual) AS (
  VALUES
  (1, 'events_uneval:/m:anyOf', 'anyOf', '/m',
   'Must match a schema in anyOf ' || chr(8226) || ' #/properties/m/anyOf',
   '{lang -> en, x -> toolongg}'),
  (1, 'events_uneval:/m:unevaluatedProperties', 'unevaluatedProperties',
   '/m', 'Must NOT have unevaluated properties ' || chr(8226)
   || ' #/properties/m/unevaluatedProperties', 'x'),
  (3, 'events_uneval:/m/lang:enum', 'enum', '/m/lang',
   'Must be equal to one of the allowed values: `en`, `de` ' || chr(8226)
   || ' #/properties/m/properties/lang/enum', 'fr'),
  (3, 'events_uneval:/m:anyOf', 'anyOf', '/m',
   'Must match a schema in anyOf ' || chr(8226) || ' #/properties/m/anyOf',
   '{lang -> fr, zz -> 1}'),
  (3, 'events_uneval:/m:unevaluatedProperties', 'unevaluatedProperties',
   '/m', 'Must NOT have unevaluated properties ' || chr(8226)
   || ' #/properties/m/unevaluatedProperties', 'zz'),
  (4, 'events_uneval:/m:anyOf', 'anyOf', '/m',
   'Must match a schema in anyOf ' || chr(8226) || ' #/properties/m/anyOf',
   '{lang -> en}')
)
SELECT CAST(ids.event_id AS VARCHAR) AS row_id, v.constraint_id, v.keyword,
       v.instance_path, v.message, v.actual
FROM ids JOIN v USING (r)
"""

_DUP_NGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) u
  WHERE len(t) >= 5
),
c AS (SELECT g, count(*) AS n_docs FROM sh GROUP BY g),
p AS (SELECT doc_id, count(*) AS n_shingles,
             CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles
      FROM sh JOIN c USING (g) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(p.n_shingles, 0) AS n_shingles,
       coalesce(p.n_dup_shingles, 0) AS n_dup_shingles,
       CASE WHEN coalesce(p.n_shingles, 0) > 0
            THEN round(p.n_dup_shingles * 1.0 / p.n_shingles, 6) END
         AS dup_frac
FROM documents d LEFT JOIN p USING (doc_id)
"""

_GOPHER_SQL = r"""
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS txt FROM documents
), s AS (
  SELECT doc_id, txt,
         list_filter(string_split_regex(txt, '\s+'), x -> x <> '') AS toks,
         list_filter(list_transform(string_split(txt, chr(10)),
                                    l -> trim(l)), l -> l <> '') AS lines
  FROM t
), m AS (
  SELECT doc_id, txt, toks, lines,
         list_transform(toks, x -> lower(x)) AS toksl,
         len(toks) AS ntok, len(lines) AS nline
  FROM s
), r AS (
  SELECT doc_id, ntok AS word_count,
    CASE WHEN ntok > 0
         THEN list_aggregate(list_transform(toks, x -> length(x)), 'sum')
              * 1.0 / ntok
         ELSE 0.0 END AS mwl,
    CASE WHEN ntok > 0
         THEN ((length(txt) - length(replace(txt, '#', '')))
               + len(regexp_extract_all(txt, '\.\.\.|…'))) * 1.0 / ntok
         ELSE 0.0 END AS sym,
    CASE WHEN nline > 0
         THEN len(list_filter(lines,
                  l -> substr(l,1,1) IN ('•','‣','▪','-','*'))) * 1.0 / nline
         ELSE 0.0 END AS bul,
    CASE WHEN nline > 0
         THEN len(list_filter(lines,
                  l -> ends_with(l,'...') OR ends_with(l,'…'))) * 1.0 / nline
         ELSE 0.0 END AS ell,
    CASE WHEN ntok > 0
         THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
              * 1.0 / ntok
         ELSE 0.0 END AS alpha,
    len(list_filter(['the','be','to','of','and','that','have','with'],
                    w -> list_contains(toksl, w))) AS stop_hits,
    ntok, nline
  FROM m
)
SELECT doc_id, word_count,
       round(mwl, 6) AS mean_word_len,
       round(sym, 6) AS symbol_ratio,
       round(bul, 6) AS bullet_line_frac,
       round(ell, 6) AS ellipsis_line_frac,
       round(alpha, 6) AS alpha_word_frac,
       stop_hits AS stopword_hits,
       (ntok BETWEEN 50 AND 100000) AS g_word_count,
       (mwl >= 3.0 AND mwl <= 10.0) AS g_mean_word_len,
       (ntok > 0 AND sym <= 0.1) AS g_symbol_ratio,
       (bul <= 0.9) AS g_bullet_lines,
       (ell <= 0.3) AS g_ellipsis_lines,
       (ntok > 0 AND alpha >= 0.8) AS g_alpha_words,
       (stop_hits >= 2) AS g_stopwords,
       ((ntok BETWEEN 50 AND 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
        AND (ntok > 0 AND sym <= 0.1) AND (bul <= 0.9) AND (ell <= 0.3)
        AND (ntok > 0 AND alpha >= 0.8) AND (stop_hits >= 2)) AS gopher_pass
FROM r
"""

_PACK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n
  FROM documents WHERE text IS NOT NULL
), p AS (
  SELECT doc_id, n,
         CAST(coalesce(sum(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS pre
  FROM t WHERE n > 0
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, pre AS pre_sum,
       CAST(pre // 1024 AS BIGINT) AS bin_id,
       CAST(pre % 1024 AS BIGINT) AS offset_in_bin,
       ((pre % 1024) + n > 1024) AS straddles
FROM p
"""

_REDACT_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-123-4567 via 10.0.0.1'
              ELSE text END AS text
  FROM documents
), c AS (
  SELECT doc_id, text,
    coalesce(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')), 0) AS n_email,
    coalesce(len(regexp_extract_all(text,
        '\b(?:\d{1,3}\.){3}\d{1,3}\b')), 0) AS n_ipv4,
    coalesce(len(regexp_extract_all(text,
        '\+?\d[\d\- ]{7,14}\d')), 0) AS n_phone
  FROM t
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IPV4]', 'g'),
           '\+?\d[\d\- ]{7,14}\d', '[PHONE]', 'g') AS text_redacted,
       n_email, n_ipv4, n_phone,
       n_email + n_ipv4 + n_phone AS n_redactions
FROM c
"""

_C4_CLEAN_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN regexp_replace(text, '((?:\S+ ){4}\S+) ',
                                  '\1.' || chr(10), 'g')
                   || ' { var x = 1; }'
              ELSE regexp_replace(text, '((?:\S+ ){4}\S+) ',
                                  '\1.' || chr(10), 'g') END AS text
  FROM documents
), s AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(coalesce(text, ''),
                                                 chr(10)), l -> trim(l)),
                     l -> l <> '') AS lines
  FROM t
), k AS (
  SELECT doc_id, text, lines,
         list_filter(lines,
             l -> substr(l, -1, 1) IN ('.', '!', '?', '"')
                  AND len(string_split_regex(l, '\s+')) >= 5
                  AND NOT contains(lower(l), 'javascript')) AS kept
  FROM s
)
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            ELSE array_to_string(kept, chr(10)) END AS text_clean,
       len(kept) AS n_lines_kept,
       len(lines) - len(kept) AS n_lines_dropped,
       (len(regexp_extract_all(array_to_string(kept, chr(10)),
                               '[.!?]')) >= 3) AS g_sentences,
       coalesce(NOT contains(text, '{'), true) AS g_brace,
       coalesce(NOT contains(lower(text), 'lorem ipsum'), true) AS g_lorem,
       ((len(regexp_extract_all(array_to_string(kept, chr(10)),
                                '[.!?]')) >= 3)
        AND coalesce(NOT contains(text, '{'), true)
        AND coalesce(NOT contains(lower(text), 'lorem ipsum'), true))
         AS page_keep
FROM k
"""

_GROUP_SPLIT_SQL = r"""
SELECT doc_id, source,
       CASE WHEN source IS NULL THEN NULL
            WHEN substr(sha256('split:' || source), 1, 8) < 'cccccccc'
                 THEN 'train'
            WHEN substr(sha256('split:' || source), 1, 8) < 'e6666666'
                 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

_SPLIT_LEAKAGE_SQL = r"""
WITH a AS (
  SELECT source,
         CASE WHEN doc_id IS NULL THEN NULL
              WHEN substr(sha256('row:' || CAST(doc_id AS VARCHAR)), 1, 8)
                   < 'cccccccc' THEN 'train'
              WHEN substr(sha256('row:' || CAST(doc_id AS VARCHAR)), 1, 8)
                   < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT source,
       count(DISTINCT split) AS n_splits,
       count(*) AS n_rows,
       array_to_string(list_sort(list_distinct(list(split))), ',')
         AS splits_csv
FROM a
WHERE source IS NOT NULL AND split IS NOT NULL
GROUP BY source
HAVING count(DISTINCT split) > 1
"""

_DEDUP_LINES_SQL = r"""
WITH src AS (
  SELECT doc_id,
         regexp_replace(text, '((?:\S+ ){3}\S+) ', '\1' || chr(10), 'g')
           AS t2
  FROM documents
),
lines AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS line
  FROM (SELECT doc_id, string_split(t2, chr(10)) AS l
        FROM src WHERE t2 IS NOT NULL) s
),
c AS (
  SELECT lower(trim(line)) AS k, count(*) AS n
  FROM lines WHERE length(trim(line)) >= 12 GROUP BY k
),
tagged AS (
  SELECT l.doc_id, l.pos, l.line, coalesce(c.n, 0) >= 2 AS dropped
  FROM lines l LEFT JOIN c
    ON length(trim(l.line)) >= 12 AND lower(trim(l.line)) = c.k
),
reb AS (
  SELECT doc_id, count(*) AS n_lines,
         CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
         string_agg(CASE WHEN NOT dropped THEN line END, chr(10)
                    ORDER BY pos) AS joined
  FROM tagged GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(r.joined, '') END AS text_clean,
       coalesce(r.n_lines, 0) AS n_lines,
       coalesce(r.n_dropped, 0) AS n_dropped
FROM documents d LEFT JOIN reb r USING (doc_id)
"""

# ExactSubstr span dedup re-derived from first principles: positional
# 8-grams over the raw strings, survivor = row_number()==1 in (doc_id, p)
# order per gram, covered positions unioned, islands via the classic
# pos - row_number() grouping, text rebuilt by skipping covered positions
_DUP_SPANS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
),
occ AS (
  SELECT doc_id, i - 1 AS p, array_to_string(t[i:i+7], ' ') AS g
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) u
  WHERE len(t) >= 8
),
mk AS (
  SELECT doc_id, p,
         count(*) OVER (PARTITION BY g) AS n_occ,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
  FROM occ
),
cov AS (
  SELECT DISTINCT doc_id, p + o AS pos
  FROM (SELECT doc_id, p FROM mk WHERE n_occ >= 2 AND rn > 1) m,
       LATERAL (SELECT unnest(range(0, 8)) AS o) v
),
isl AS (
  SELECT doc_id, count(*) AS n_dup_tokens,
         count(DISTINCT pos - rn2) AS n_spans
  FROM (SELECT doc_id, pos,
               row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn2
        FROM cov) w
  GROUP BY doc_id
),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) w
),
reb AS (
  SELECT tp.doc_id,
         string_agg(CASE WHEN c.pos IS NULL THEN tp.tok END, ' '
                    ORDER BY tp.pos) AS joined
  FROM tokpos tp LEFT JOIN cov c
    ON tp.doc_id = c.doc_id AND tp.pos = c.pos
  GROUP BY tp.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(r.joined, '') END AS text_clean,
       CASE WHEN d.text IS NULL THEN 0
            ELSE coalesce(len(tk.t), 0) END AS n_tokens,
       coalesce(i.n_dup_tokens, 0) AS n_dup_tokens,
       coalesce(i.n_spans, 0) AS n_spans
FROM documents d
LEFT JOIN toks tk USING (doc_id)
LEFT JOIN isl i USING (doc_id)
LEFT JOIN reb r USING (doc_id)
"""

_NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, length(text) - 1),
                                      i -> text[i : i + 2])) AS s
  FROM documents WHERE length(text) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s)) * 1.0
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1.0
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.55
"""

# connected components as a recursive CTE: reach(node, r) closes over the
# symmetric pair graph; component id = min reachable node — the same
# "minimum node id of the component" contract the star-rounds converge to
_CLUSTER_COMP_SQL = f"""
WITH RECURSIVE pr AS ({_NGRAM_JACCARD_SQL}),
e AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION
  SELECT id_b, id_a FROM pr
),
reach(node, r) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node
),
comp AS (SELECT node, min(r) AS comp_id FROM reach GROUP BY node)
"""

_CLUSTERS_SQL = _CLUSTER_COMP_SQL + """
, labeled AS (
  SELECT d.doc_id, coalesce(c.comp_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labeled
"""

_CLUSTER_DEDUP_SQL = _CLUSTER_COMP_SQL + """
SELECT d.doc_id, d.lang
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
WHERE c.node IS NULL OR c.comp_id = d.doc_id
"""


_PROPS_VIOL_SQL = """
WITH p AS (
  SELECT event_id, props, json_extract_string(props, '$.k') AS k FROM events
), v AS (
  SELECT CAST(event_id AS VARCHAR) AS row_id,
         'events_props:/props_map:required' AS constraint_id,
         'required' AS keyword, '/props_map' AS instance_path,
         'Must have required property ''k'' • #/properties/props_map/required' AS message,
         CAST(NULL AS VARCHAR) AS actual
  FROM p WHERE props IS NOT NULL AND k IS NULL
  UNION ALL
  SELECT CAST(event_id AS VARCHAR),
         'events_props:/props_map/k:minimum', 'minimum', '/props_map/k',
         'Must be >= 10 • #/properties/props_map/properties/k/minimum',
         k
  FROM p WHERE k IS NOT NULL AND TRY_CAST(k AS DOUBLE) < 10
  UNION ALL
  SELECT CAST(event_id AS VARCHAR),
         'events_props:/props_map:additionalProperties', 'additionalProperties',
         '/props_map',
         'Must NOT have additional properties • #/properties/props_map/additionalProperties',
         array_to_string(list_filter(json_keys(props), x -> x <> 'k'), ',')
  FROM p WHERE props IS NOT NULL
        AND len(list_filter(json_keys(props), x -> x <> 'k')) > 0
)
SELECT row_id, constraint_id, keyword, instance_path, message, actual FROM v
"""

_VARIANT_VIOL_SQL = """
WITH src AS (
  SELECT event_id,
         CASE event_id % 7
           WHEN 0 THEN printf('{"k": %d, "name": "ok"}', event_id % 100)
           WHEN 1 THEN printf('{"k": "%d", "name": "ok"}', event_id % 100)
           WHEN 2 THEN '{"k": null, "name": "ok"}'
           WHEN 3 THEN '{"name": "ok"}'
           WHEN 4 THEN printf('{"k": %d.5, "name": "ok"}', event_id % 100)
           WHEN 5 THEN printf('{"k": %d, "name": "toolong_name_xx"}',
                              event_id % 100)
           ELSE printf('{"k": %d, "name": "ok", "z": true}', event_id % 100)
         END::JSON AS js
  FROM events
), typed AS (
  SELECT event_id, js,
         json_type(js, '$.k') AS kt,
         js->>'$.k' AS ks,
         TRY_CAST(js->>'$.k' AS DOUBLE) AS kd,
         js->>'$.name' AS name
  FROM src
), v AS (
  -- type integer: integral tag, or a float with zero fraction (Ajv)
  SELECT CAST(event_id AS VARCHAR) AS row_id,
         'events_variant:/props_v/k:type' AS constraint_id,
         'type' AS keyword, '/props_v/k' AS instance_path,
         'Must be integer • #/properties/props_v/properties/k/type' AS message,
         CASE WHEN kt = 'NULL' THEN 'null' ELSE ks END AS actual
  FROM typed
  WHERE kt IS NOT NULL
        AND NOT (kt IN ('UBIGINT', 'BIGINT')
                 OR (kt = 'DOUBLE' AND kd = floor(kd)))
  UNION ALL
  -- required fires on a MISSING key only; a present JSON null satisfies it
  SELECT CAST(event_id AS VARCHAR),
         'events_variant:/props_v:required', 'required', '/props_v',
         'Must have required property ''k'' • #/properties/props_v/required',
         CAST(NULL AS VARCHAR)
  FROM typed WHERE kt IS NULL
  UNION ALL
  -- numeric bound applies to JSON numbers only (never the string "10")
  SELECT CAST(event_id AS VARCHAR),
         'events_variant:/props_v/k:maximum', 'maximum', '/props_v/k',
         'Must be <= 60 • #/properties/props_v/properties/k/maximum',
         ks
  FROM typed WHERE kt IN ('UBIGINT', 'BIGINT', 'DOUBLE') AND kd > 60
  UNION ALL
  SELECT CAST(event_id AS VARCHAR),
         'events_variant:/props_v/name:maxLength', 'maxLength',
         '/props_v/name',
         'Must NOT have more than 8 characters • #/properties/props_v/properties/name/maxLength',
         name
  FROM typed
  WHERE json_type(js, '$.name') = 'VARCHAR' AND length(name) > 8
  UNION ALL
  SELECT CAST(event_id AS VARCHAR),
         'events_variant:/props_v:additionalProperties',
         'additionalProperties', '/props_v',
         'Must NOT have additional properties • #/properties/props_v/additionalProperties',
         array_to_string(list_filter(json_keys(js),
                                     x -> x NOT IN ('k', 'name')), ',')
  FROM typed
  WHERE len(list_filter(json_keys(js), x -> x NOT IN ('k', 'name'))) > 0
)
SELECT row_id, constraint_id, keyword, instance_path, message, actual FROM v
"""

_PART_COMP_SQL = """
WITH v AS (
  SELECT CAST(p_partkey AS VARCHAR) AS row_id,
         'part_comp:/p_size:anyOf' AS constraint_id,
         'anyOf' AS keyword, '/p_size' AS instance_path,
         'Must match a schema in anyOf • #/properties/p_size/anyOf' AS message
  FROM part WHERE p_size IS NOT NULL AND NOT (p_size <= 10 OR p_size >= 40)
  UNION ALL
  SELECT CAST(p_partkey AS VARCHAR),
         'part_comp:/p_type:oneOf', 'oneOf', '/p_type',
         'Must match exactly one schema in oneOf • #/properties/p_type/oneOf'
  FROM part WHERE p_type IS NOT NULL
        AND (CAST(regexp_matches(p_type, 'COPPER$') AS INT)
             + CAST(regexp_matches(p_type, '^PROMO') AS INT)) <> 1
  UNION ALL
  SELECT CAST(p_partkey AS VARCHAR),
         'part_comp:/p_brand:not', 'not', '/p_brand',
         'Must NOT be valid • #/properties/p_brand/not'
  FROM part WHERE p_brand IS NOT NULL AND p_brand IN ('Brand#33')
)
SELECT row_id, constraint_id, keyword, instance_path, message FROM v
"""


def _formats_oracle_sql() -> str:
    """Derived from the same FORMAT_REGEX constants as the Spark path."""
    from remark_lint_frontmatter_schema_spark.functions.formats import FORMAT_REGEX
    date_re = FORMAT_REGEX["date"]
    uuid_re = FORMAT_REGEX["uuid"]
    # the idn-email / json-pointer-uri-fragment patterns are lookahead-free
    # and use only \p{L}/\p{N} classes + inline (?i) — valid in both Java
    # regex (Spark rlike) and RE2 (DuckDB regexp_matches)
    email_re = FORMAT_REGEX["idn-email"].replace("'", "''")
    frag_re = FORMAT_REGEX["json-pointer-uri-fragment"].replace("'", "''")
    return f"""
WITH e AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN '2026-13-45'
              ELSE strftime(ts, '%Y-%m-%d') END AS event_date,
         CASE WHEN event_id % 11 = 0 THEN 'not-a-uuid'
              ELSE printf('%08x-0000-4000-8000-%012x', event_id, event_id)
              END AS event_uuid,
         CASE WHEN event_id % 5 = 0 THEN 'bad email@x'
              WHEN event_id % 5 = 1 THEN 'θσερ@εχαμπλε.ψομ'
              ELSE printf('u%d@ex.com', event_id) END AS event_contact,
         CASE WHEN event_id % 9 = 0 THEN '#/~2'
              ELSE printf('#/a/%d', event_id) END AS event_frag
  FROM events
), v AS (
  SELECT CAST(event_id AS VARCHAR) AS row_id,
         'events_fmt:/event_date:format' AS constraint_id,
         'format' AS keyword, '/event_date' AS instance_path,
         'Must match format "date" • #/properties/event_date/format' AS message,
         event_date AS actual
  FROM e WHERE event_date IS NOT NULL
        AND NOT regexp_matches(event_date, '{date_re}')
  UNION ALL
  SELECT CAST(event_id AS VARCHAR),
         'events_fmt:/event_uuid:format', 'format', '/event_uuid',
         'Must match format "uuid" • #/properties/event_uuid/format',
         event_uuid
  FROM e WHERE event_uuid IS NOT NULL
        AND NOT regexp_matches(event_uuid, '{uuid_re}')
  UNION ALL
  SELECT CAST(event_id AS VARCHAR),
         'events_fmt:/event_contact:format', 'format', '/event_contact',
         'Must match format "idn-email" • #/properties/event_contact/format',
         event_contact
  FROM e WHERE event_contact IS NOT NULL
        AND NOT regexp_matches(event_contact, '{email_re}')
  UNION ALL
  SELECT CAST(event_id AS VARCHAR),
         'events_fmt:/event_frag:format', 'format', '/event_frag',
         'Must match format "json-pointer-uri-fragment" • #/properties/event_frag/format',
         event_frag
  FROM e WHERE event_frag IS NOT NULL
        AND NOT regexp_matches(event_frag, '{frag_re}')
)
SELECT row_id, constraint_id, keyword, instance_path, message, actual FROM v
"""


_VIOL_SAMPLES_SQL = f"""
WITH v AS ({_ORDERS_VIOL_CTE}),
s AS (
  SELECT constraint_id, row_id,
         CAST(row_number() OVER (PARTITION BY constraint_id ORDER BY row_id)
              AS INT) AS rn
  FROM v
)
SELECT constraint_id, row_id, rn FROM s WHERE rn <= 3
"""


def _mojibake_oracle_sql() -> str:
    """Encoding-damage oracle: the same doc_id-residue corruption suffixes
    and the same literal-enumerated patterns (text.MOJIBAKE_PATTERNS) on
    DuckDB's RE2 — built by concatenation because the patterns carry
    literal unicode classes and a {2} quantifier."""
    pats = text.MOJIBAKE_PATTERNS
    src = ("WITH src AS (SELECT doc_id, text"
           " || CASE WHEN doc_id % 7 = 0 THEN ' cafÃ© menu' ELSE '' END"
           " || CASE WHEN doc_id % 11 = 0 THEN ' donâ€™t stop'"
           " ELSE '' END"
           " || CASE WHEN doc_id % 13 = 0 THEN ' bad' || chr(65533)"
           " || 'byte' || chr(133) ELSE '' END AS t2 FROM documents)")
    cnt = {name: ("len(regexp_extract_all(coalesce(t2, ''), '"
                  + rx + "'))")
           for name, rx in pats.items()}
    cols = ",\n       ".join(f"{c} AS n_{name}"
                             for name, c in cnt.items())
    flag = " OR ".join(f"{c} > 0" for c in cnt.values())
    return (src + "\nSELECT doc_id,\n       " + cols
            + ",\n       (" + flag + ") AS has_mojibake\nFROM src")


# shared by asof_events_purchase AND asof_bucketed_events_purchase — the
# driver proving both Spark physical paths against the one SQL string is
# the path-equivalence check (DuckDB ASOF LEFT JOIN: greatest r.ts <= l.ts
# per key, inclusive — the operator's documented tie semantics)
_ASOF_ORACLE = """
SELECT l.event_id, l.user_id, round(r.purchase_value, 5) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT user_id, ts, value AS purchase_value
                FROM events WHERE event_type = 'purchase') r
ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def oracle_sql() -> dict[str, str]:
    return {
        "validate_orders": _ORDERS_VIOL_SQL,
        "footer_profile_lineitem": """
SELECT col AS "column", n_rows, null_count, min_value, max_value FROM (
  SELECT 'l_orderkey' AS col, count(*) AS n_rows,
         count(*) - count(l_orderkey) AS null_count,
         min(l_orderkey) AS min_value, max(l_orderkey) AS max_value
  FROM lineitem
  UNION ALL
  SELECT 'l_partkey', count(*), count(*) - count(l_partkey),
         min(l_partkey), max(l_partkey) FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', count(*), count(*) - count(l_suppkey),
         min(l_suppkey), max(l_suppkey) FROM lineitem
  UNION ALL
  SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
         min(l_linenumber), max(l_linenumber) FROM lineitem
)
""",
        "validate_lineitem_pruned": """
SELECT CAST(l_orderkey AS VARCHAR) AS row_id,
       'pruned:/l_linenumber:maximum' AS constraint_id,
       'maximum' AS keyword, '/l_linenumber' AS instance_path,
       'Must be <= 5 • #/properties/l_linenumber/maximum' AS message
FROM lineitem WHERE l_linenumber IS NOT NULL AND l_linenumber > 5
UNION ALL
SELECT CAST(l_orderkey AS VARCHAR),
       'pruned:/l_linenumber:minimum', 'minimum', '/l_linenumber',
       'Must be >= 1 • #/properties/l_linenumber/minimum'
FROM lineitem WHERE l_linenumber IS NOT NULL AND l_linenumber < 1
UNION ALL
SELECT CAST(l_orderkey AS VARCHAR),
       'pruned:/l_suppkey:minimum', 'minimum', '/l_suppkey',
       'Must be >= 10 • #/properties/l_suppkey/minimum'
FROM lineitem WHERE l_suppkey IS NOT NULL AND l_suppkey < 10
UNION ALL
SELECT CAST(l_orderkey AS VARCHAR),
       'pruned:/:required', 'required', '',
       'Must have required property ''l_orderkey'' • #/required'
FROM lineitem WHERE l_orderkey IS NULL
""",
        "verdict_orders": """
SELECT o_orderstatus AS partition_id,
       count(*) AS n_rows,
       CAST(sum(
         CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F') THEN 1 ELSE 0 END
         + CASE WHEN o_totalprice IS NOT NULL AND o_totalprice <= 2000 THEN 1 ELSE 0 END
         + CASE WHEN o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-') THEN 1 ELSE 0 END
         + CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       CAST(sum(CASE WHEN
           (o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F'))
           OR (o_totalprice IS NOT NULL AND o_totalprice <= 2000)
           OR (o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-'))
           OR o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_failed_rows,
       sum(CASE WHEN
           (o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F'))
           OR (o_totalprice IS NOT NULL AND o_totalprice <= 2000)
           OR (o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-'))
           OR o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM orders GROUP BY o_orderstatus
""",
        "mask_gate_customer": """
WITH src AS (
  SELECT regexp_replace(regexp_replace(
           CASE WHEN c_custkey % 50 = 0 THEN c_name || '-x1'
                ELSE c_name END,
           '[0-9]+', '9', 'g'), '[A-Za-z]+', 'A', 'g') AS mask
  FROM customer WHERE c_name IS NOT NULL),
counts AS (SELECT mask, count(*) AS n FROM src GROUP BY 1),
stats AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(coalesce(sum(n) FILTER (mask = 'A#9'), 0) AS BIGINT) AS ok
  FROM counts),
top_bad AS (
  SELECT mask AS tb FROM counts WHERE mask <> 'A#9'
  ORDER BY n DESC, mask ASC LIMIT 1)
SELECT 'all' AS row_id, 'all' AS partition_id, 'engine' AS ruleset_id,
       'mask:c_name' AS constraint_id, 'x-mask' AS keyword,
       '/c_name' AS instance_path, '#/x-mask/c_name' AS schema_path,
       'Must match shape ''A#9'': only '
         || CAST(round(ok / CAST(total AS DOUBLE), 6) AS VARCHAR)
         || ' of values conform (limit 0.99); top offender '
         || coalesce(tb, '<none>') AS message,
       CAST(round(ok / CAST(total AS DOUBLE), 6) AS VARCHAR) AS actual,
       'A#9' AS expected,
       'warning' AS severity
FROM stats, top_bad
WHERE round(ok / CAST(total AS DOUBLE), 6) < 0.99
""",
        "mask_gate_by_customer": """
WITH src AS (
  SELECT c_mktsegment AS grp,
         regexp_replace(regexp_replace(
           CASE WHEN c_custkey % 25 = 0 THEN c_name || '-x1'
                ELSE c_name END,
           '[0-9]+', '9', 'g'), '[A-Za-z]+', 'A', 'g') AS mask
  FROM customer WHERE c_name IS NOT NULL),
counts AS (SELECT grp, mask, count(*) AS n FROM src GROUP BY 1, 2),
stats AS (
  SELECT grp, CAST(sum(n) AS BIGINT) AS total,
         CAST(coalesce(sum(n) FILTER (mask = 'A#9'), 0) AS BIGINT) AS ok
  FROM counts GROUP BY 1),
top_bad AS (
  SELECT grp, mask AS tb FROM (
    SELECT grp, mask,
           row_number() OVER (PARTITION BY grp
                              ORDER BY n DESC, mask ASC) AS rn
    FROM counts WHERE mask <> 'A#9') WHERE rn = 1)
SELECT coalesce(s.grp, '<null>') AS row_id,
       'all' AS partition_id, 'engine' AS ruleset_id,
       'mask:c_name:by=c_mktsegment' AS constraint_id,
       'x-mask' AS keyword,
       '/c_name' AS instance_path, '#/x-mask/c_name' AS schema_path,
       'Must match shape ''A#9'': only '
         || CAST(round(ok / CAST(total AS DOUBLE), 6) AS VARCHAR)
         || ' of values conform (limit 0.99); top offender '
         || coalesce(tb, '<none>') AS message,
       CAST(round(ok / CAST(total AS DOUBLE), 6) AS VARCHAR) AS actual,
       'A#9' AS expected,
       'warning' AS severity
FROM stats s LEFT JOIN top_bad t ON s.grp = t.grp
WHERE round(ok / CAST(total AS DOUBLE), 6) < 0.99
""",
        "corr_gate_by_lineitem": """
WITH c AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS grp,
         round(corr(l_extendedprice, l_quantity), 6) AS r
  FROM lineitem GROUP BY 1)
SELECT coalesce(grp, '<null>') AS row_id,
       'all' AS partition_id, 'engine' AS ruleset_id,
       'corr:l_extendedprice~l_quantity:by=l_returnflag' AS constraint_id,
       'x-corr' AS keyword,
       '/l_extendedprice' AS instance_path,
       '#/x-corr/l_extendedprice' AS schema_path,
       CASE WHEN r IS NULL THEN
         'Must correlate with ''l_quantity'': correlation undefined '
         || '(constant column or < 2 pairs)'
       ELSE
         'Must correlate with ''l_quantity'': |corr| = '
         || CAST(CAST(abs(r) AS DECIMAL(12,6)) AS VARCHAR)
         || ' below 0.3'
       END AS message,
       CAST(CAST(r AS DECIMAL(12,6)) AS VARCHAR) AS actual,
       'warning' AS severity
FROM c WHERE r IS NULL OR abs(r) < 0.3
""",
        "corr_gate_lineitem": """
WITH c AS (
  SELECT round(corr(l_extendedprice, l_quantity), 6) AS r FROM lineitem)
SELECT 'all' AS row_id, 'all' AS partition_id, 'engine' AS ruleset_id,
       'corr:l_extendedprice~l_quantity' AS constraint_id,
       'x-corr' AS keyword,
       '/l_extendedprice' AS instance_path,
       '#/x-corr/l_extendedprice' AS schema_path,
       CASE WHEN r IS NULL THEN
         'Must correlate with ''l_quantity'': correlation undefined '
         || '(constant column or < 2 pairs)'
       ELSE
         'Must correlate with ''l_quantity'': |corr| = '
         || CAST(CAST(abs(r) AS DECIMAL(12,6)) AS VARCHAR)
         || ' below 0.3'
       END AS message,
       CAST(CAST(r AS DECIMAL(12,6)) AS VARCHAR) AS actual,
       'warning' AS severity
FROM c WHERE r IS NULL OR abs(r) < 0.3
""",
        "mask_profile_customer": """
WITH pairs AS (
  SELECT 'c_name' AS "column",
         regexp_replace(regexp_replace(CAST(c_name AS VARCHAR),
           '[0-9]+', '9', 'g'), '[A-Za-z]+', 'A', 'g') AS mask
  FROM customer
  UNION ALL
  SELECT 'c_mktsegment',
         regexp_replace(regexp_replace(CAST(c_mktsegment AS VARCHAR),
           '[0-9]+', '9', 'g'), '[A-Za-z]+', 'A', 'g')
  FROM customer),
counts AS (
  SELECT "column", mask, count(*) AS n
  FROM pairs GROUP BY 1, 2),
ranked AS (
  SELECT "column", mask, n,
         round(n / CAST(sum(n) OVER (PARTITION BY "column") AS DOUBLE), 6)
           AS share,
         row_number() OVER (PARTITION BY "column"
                            ORDER BY n DESC, mask ASC NULLS LAST) AS rk
  FROM counts)
SELECT "column", mask, n, share FROM ranked WHERE rk <= 5
""",
        "corr_profile_lineitem": """
WITH pairs(col_a, col_b) AS (VALUES
  ('l_quantity', 'l_extendedprice'), ('l_quantity', 'l_discount'),
  ('l_quantity', 'l_tax'), ('l_extendedprice', 'l_discount'),
  ('l_extendedprice', 'l_tax'), ('l_discount', 'l_tax')),
c AS (
  SELECT round(corr(l_quantity, l_extendedprice), 6) AS qe,
         round(corr(l_quantity, l_discount), 6) AS qd,
         round(corr(l_quantity, l_tax), 6) AS qt,
         round(corr(l_extendedprice, l_discount), 6) AS ed,
         round(corr(l_extendedprice, l_tax), 6) AS et,
         round(corr(l_discount, l_tax), 6) AS dt
  FROM lineitem)
SELECT p.col_a, p.col_b,
       CASE p.col_a || '|' || p.col_b
         WHEN 'l_quantity|l_extendedprice' THEN qe
         WHEN 'l_quantity|l_discount' THEN qd
         WHEN 'l_quantity|l_tax' THEN qt
         WHEN 'l_extendedprice|l_discount' THEN ed
         WHEN 'l_extendedprice|l_tax' THEN et
         WHEN 'l_discount|l_tax' THEN dt
       END AS corr
FROM pairs p, c
""",
        "decontaminate_semantic_embeddings": """
WITH bench AS (
  SELECT vec_id AS bid, embedding AS bvec FROM embeddings
  WHERE vec_id % 10 = 0 AND vec_id < 5000),
hits AS (
  SELECT e.vec_id, b.bid,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(b.bvec AS DOUBLE[])) AS sim
  FROM embeddings e CROSS JOIN bench b),
ranked AS (
  SELECT vec_id, bid, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, bid ASC) AS rn
  FROM hits WHERE sim >= 0.99)
SELECT vec_id, bid AS nearest_bench, round(sim, 6) AS max_sim
FROM ranked WHERE rn = 1
""",
        "unique_multi_lineitem": """
WITH src AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE l_orderkey % 101 = 0)
SELECT l_orderkey, l_linenumber, count(*) AS n_occurrences
FROM src
WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
GROUP BY 1, 2 HAVING count(*) > 1
""",
        "benford_gate_events": """
WITH src AS (
  SELECT abs(CAST(value AS DOUBLE)) AS v FROM events
  WHERE value IS NOT NULL AND abs(value) > 0 AND isfinite(value)),
c AS (
  SELECT least(9, greatest(1,
           CAST(floor(v / pow(10, floor(log10(v)))) AS INT))) AS digit,
         count(*) AS n
  FROM src GROUP BY 1),
f AS (
  SELECT CAST(d.digit AS INT) AS digit, coalesce(c.n, 0) AS n
  FROM (SELECT unnest(range(1, 10)) AS digit) d
  LEFT JOIN c ON d.digit = c.digit),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f),
m AS (
  SELECT round(avg(abs(
           round(n / CAST(total AS DOUBLE), 6)
           - round(log10(1.0 + 1.0 / digit), 6))), 6) AS mad
  FROM f, t)
SELECT 'all' AS row_id, 'all' AS partition_id, 'engine' AS ruleset_id,
       'benford:value' AS constraint_id, 'x-benford' AS keyword,
       '/value' AS instance_path, '#/x-benford/value' AS schema_path,
       'Must conform to Benford''s law: first-digit MAD '
         || CAST(mad AS VARCHAR) || ' (limit 0.005)' AS message,
       CAST(mad AS VARCHAR) AS actual,
       'warning' AS severity
FROM m WHERE mad > 0.005
""",
        "drift_gate_by_events": """
WITH src AS (
  SELECT event_type AS grp,
         CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         CASE WHEN event_type = 'error' AND user_id % 2 = 1
              THEN value * 3 ELSE value END AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
h AS (
  SELECT grp, side,
         CASE WHEN v < 0 THEN 0
              WHEN v >= 500 THEN 26
              ELSE CAST(floor(v / 20) + 1 AS BIGINT) END AS bucket,
         count(*) AS n
  FROM src GROUP BY 1, 2, 3),
spine AS (
  SELECT g.grp, s.side, b.bucket
  FROM (SELECT DISTINCT grp FROM h) g
  CROSS JOIN (SELECT unnest(['a', 'b']) AS side) s
  CROSS JOIN (SELECT unnest(range(0, 27)) AS bucket) b),
filled AS (
  SELECT sp.grp, sp.side, sp.bucket, coalesce(h.n, 0) AS n
  FROM spine sp LEFT JOIN h
    ON h.grp = sp.grp AND h.side = sp.side AND h.bucket = sp.bucket),
cdf AS (
  SELECT grp, side, bucket,
         sum(n) OVER (PARTITION BY grp, side ORDER BY bucket) * 1.0
           / sum(n) OVER (PARTITION BY grp, side) AS cdf,
         n * 1.0 / sum(n) OVER (PARTITION BY grp, side) AS p
  FROM filled),
ks AS (
  SELECT a.grp, round(max(abs(a.cdf - b.cdf)), 6) AS ks_stat
  FROM cdf a JOIN cdf b ON a.grp = b.grp AND a.bucket = b.bucket
  WHERE a.side = 'a' AND b.side = 'b' GROUP BY a.grp),
psi AS (
  SELECT a.grp, round(sum(
           (greatest(a.p, 1e-6) - greatest(b.p, 1e-6))
           * ln(greatest(a.p, 1e-6) / greatest(b.p, 1e-6))), 6) AS psi
  FROM cdf a JOIN cdf b ON a.grp = b.grp AND a.bucket = b.bucket
  WHERE a.side = 'a' AND b.side = 'b' GROUP BY a.grp)
SELECT ks.grp AS row_id, 'all' AS partition_id, 'engine' AS ruleset_id,
       'drift:value:by=event_type' AS constraint_id,
       'drift' AS keyword,
       '/value' AS instance_path, '#/x-drift/value' AS schema_path,
       'Distribution drift on ''value'' (a vs b): ks>0.1 or psi>0.2'
         AS message,
       'ks=' || CAST(ks_stat AS VARCHAR) || ' psi='
         || CAST(psi.psi AS VARCHAR) AS actual,
       'warning' AS severity
FROM ks JOIN psi ON ks.grp = psi.grp
WHERE ks_stat > 0.1 OR psi.psi > 0.2
""",
        "benford_gate_by_events": """
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) AS grp,
         CASE WHEN value IS NOT NULL AND abs(value) > 0
                   AND isfinite(value)
              THEN least(9, greatest(1, CAST(floor(
                     abs(CAST(value AS DOUBLE))
                     / pow(10, floor(log10(abs(CAST(value AS DOUBLE))))))
                   AS INT)))
         END AS digit
  FROM events),
c AS (SELECT grp, digit, count(*) AS n FROM base
      WHERE digit IS NOT NULL GROUP BY 1, 2),
g AS (SELECT DISTINCT grp FROM base),
f AS (
  SELECT l.grp, CAST(l.digit AS INT) AS digit, coalesce(c.n, 0) AS n
  FROM (SELECT g.grp, d.digit
        FROM g, (SELECT unnest(range(1, 10)) AS digit) d) l
  LEFT JOIN c ON l.grp IS NOT DISTINCT FROM c.grp
             AND l.digit = c.digit),
t AS (SELECT grp, CAST(sum(n) AS BIGINT) AS total FROM f GROUP BY 1),
m AS (
  SELECT f.grp, round(avg(abs(
           round(n / CAST(total AS DOUBLE), 6)
           - round(log10(1.0 + 1.0 / digit), 6))), 6) AS mad
  FROM f JOIN t ON f.grp IS NOT DISTINCT FROM t.grp GROUP BY 1)
SELECT coalesce(grp, '<null>') AS row_id, 'all' AS partition_id,
       'engine' AS ruleset_id,
       'benford:value:by=event_type' AS constraint_id,
       'x-benford' AS keyword,
       '/value' AS instance_path, '#/x-benford/value' AS schema_path,
       CASE WHEN mad IS NULL THEN
         'Must conform to Benford''s law: no measurable first digits '
         || '(empty or all zero/NULL/non-finite)'
       ELSE
         'Must conform to Benford''s law: first-digit MAD '
         || CAST(mad AS VARCHAR) || ' (limit 0.0001)'
       END AS message,
       CAST(mad AS VARCHAR) AS actual,
       'warning' AS severity
FROM m WHERE mad IS NULL OR mad > 0.0001
""",
        "skew_gate_by_lineitem": """
WITH c AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS grp, l_suppkey AS k,
         count(*) AS cnt
  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1, 2),
m AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_rows,
         count(*) AS n_keys, CAST(max(cnt) AS BIGINT) AS max_count
  FROM c GROUP BY 1),
s AS (
  SELECT grp,
         round(max_count / CAST(n_rows AS DOUBLE), 6) AS max_share,
         CAST(least(1024, greatest(1, ceil(
           max_count * n_keys / CAST(n_rows AS DOUBLE)))) AS INT)
           AS salts
  FROM m)
SELECT coalesce(grp, '<null>') AS row_id, 'all' AS partition_id,
       'engine' AS ruleset_id,
       'skew:l_suppkey:by=l_returnflag' AS constraint_id,
       'x-skew' AS keyword,
       '/l_suppkey' AS instance_path,
       '#/x-skew/l_suppkey' AS schema_path,
       'Key ''l_suppkey'' is skewed: hottest value holds '
         || CAST(max_share AS VARCHAR)
         || ' of rows (limit 0.0001); shuffle on it with >= '
         || CAST(salts AS VARCHAR) || ' salts' AS message,
       CAST(max_share AS VARCHAR) AS actual,
       'warning' AS severity
FROM s WHERE max_share > 0.0001
""",
        "skew_profile_by_lineitem": """
WITH c AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS grp, l_suppkey AS k,
         count(*) AS cnt
  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1, 2),
m AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_rows,
         count(*) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_count,
         sum(cnt * log2(cnt)) AS clogc
  FROM c GROUP BY 1),
r AS (
  SELECT grp, cnt,
         row_number() OVER (PARTITION BY grp
                            ORDER BY cnt DESC, k ASC) AS rn
  FROM c),
t AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS top_sum
  FROM r WHERE rn <= 10 GROUP BY 1)
SELECT m.grp,
       'l_suppkey' AS key_col,
       n_rows, n_keys, max_count,
       round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_count,
       round(max_count / CAST(n_rows AS DOUBLE), 6) AS max_share,
       round(top_sum / CAST(n_rows AS DOUBLE), 6) AS top_k_share,
       CASE WHEN n_keys >= 2 THEN
         round((log2(n_rows) - clogc / n_rows) / log2(n_keys), 6)
       END AS entropy_norm,
       round(max_count * n_keys / CAST(n_rows AS DOUBLE), 6)
         AS skew_ratio,
       CAST(least(1024, greatest(1, ceil(
         max_count * n_keys / CAST(n_rows AS DOUBLE)))) AS INT)
         AS recommended_salts
FROM m JOIN t ON m.grp IS NOT DISTINCT FROM t.grp
""",
        "missing_dates_events": """
WITH src AS (
  SELECT date_trunc('day', ts) AS b FROM events
  WHERE ts IS NOT NULL AND day(ts) % 7 <> 3),
span AS (SELECT min(b) AS f, max(b) AS l FROM src),
grid AS (
  SELECT unnest(generate_series(f, l, INTERVAL 1 DAY)) AS bucket
  FROM span WHERE f IS NOT NULL)
SELECT bucket FROM grid
WHERE bucket NOT IN (SELECT DISTINCT b FROM src)
ORDER BY bucket
""",
        "missing_dates_by_events": """
WITH src AS (
  SELECT event_type AS grp, date_trunc('day', ts) AS b FROM events
  WHERE ts IS NOT NULL
    AND NOT (event_type = 'click' AND day(ts) % 7 = 3)),
span AS (SELECT grp, min(b) AS f, max(b) AS l FROM src GROUP BY 1),
grid AS (
  SELECT grp, unnest(generate_series(f, l, INTERVAL 1 DAY)) AS bucket
  FROM span WHERE f IS NOT NULL)
SELECT g.grp AS event_type, CAST(g.bucket AS TIMESTAMP) AS bucket
FROM grid g LEFT JOIN (SELECT DISTINCT grp, b FROM src) o
  ON g.grp = o.grp AND g.bucket = o.b
WHERE o.b IS NULL
ORDER BY event_type, bucket
""",
        "freshness_by_events": """
WITH newest AS (
  SELECT event_type AS grp, max(ts) AS n FROM events
  WHERE NOT (event_type = 'click' AND ts >= TIMESTAMP '2024-01-15 00:00:00')
  GROUP BY 1)
SELECT CAST(grp AS VARCHAR) AS row_id,
       'all' AS partition_id,
       'engine' AS ruleset_id,
       'freshness:ts' AS constraint_id,
       'x-freshness' AS keyword,
       '/ts' AS instance_path,
       '#/x-freshness/ts' AS schema_path,
       'Must be fresh: newest row is '
         || CAST(round(epoch(TIMESTAMP '2024-01-16 00:00:00')
                       - epoch(n), 1) AS VARCHAR)
         || ' s old (limit 3600.0)' AS message,
       CAST(n AS VARCHAR) AS actual,
       'warning' AS severity
FROM newest
WHERE n IS NULL
   OR epoch(TIMESTAMP '2024-01-16 00:00:00') - epoch(n) > 3600.0
""",
        "freshness_events": """
WITH newest AS (SELECT max(ts) AS n FROM events)
SELECT 'all' AS row_id,
       'all' AS partition_id,
       'engine' AS ruleset_id,
       'freshness:ts' AS constraint_id,
       'x-freshness' AS keyword,
       '/ts' AS instance_path,
       '#/x-freshness/ts' AS schema_path,
       'Must be fresh: newest row is '
         || CAST(round(epoch(TIMESTAMP '2024-02-01 00:00:00')
                       - epoch(n), 1) AS VARCHAR)
         || ' s old (limit 3600)' AS message,
       CAST(n AS VARCHAR) AS actual,
       'warning' AS severity
FROM newest
WHERE n IS NULL
   OR epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(n) > 3600
""",
        "benford_events": """
WITH src AS (
  SELECT abs(CAST(value AS DOUBLE)) AS v FROM events
  WHERE value IS NOT NULL AND abs(value) > 0 AND isfinite(value)),
c AS (
  SELECT least(9, greatest(1,
           CAST(floor(v / pow(10, floor(log10(v)))) AS INT))) AS digit,
         count(*) AS n
  FROM src GROUP BY 1),
f AS (
  SELECT CAST(d.digit AS INT) AS digit, coalesce(c.n, 0) AS n
  FROM (SELECT unnest(range(1, 10)) AS digit) d
  LEFT JOIN c ON d.digit = c.digit),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f),
scored AS (
  SELECT digit, n,
         round(n / CAST(total AS DOUBLE), 6) AS observed,
         round(log10(1.0 + 1.0 / digit), 6) AS expected,
         round(pow(n - total * log10(1.0 + 1.0 / digit), 2)
               / (total * log10(1.0 + 1.0 / digit)), 6) AS chi2_term,
         pow(n - total * log10(1.0 + 1.0 / digit), 2)
           / (total * log10(1.0 + 1.0 / digit)) AS raw
  FROM f, t)
SELECT digit, n, observed, expected, chi2_term,
       (SELECT round(sum(raw), 6) FROM scored) AS chi2
FROM scored ORDER BY digit
""",
        "reconcile_orders": """
WITH sums AS (
  SELECT l_orderkey AS k, CAST(sum(l_quantity) AS DOUBLE) AS s
  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
dim AS (
  SELECT o_orderkey AS k,
         coalesce(s.s, 42.0)
           + CASE WHEN o_orderkey % 97 = 0 THEN 7.0 ELSE 0.0 END AS stored,
         s.s AS actual
  FROM orders o LEFT JOIN sums s ON o.o_orderkey = s.k
  WHERE o_orderkey IS NOT NULL)
SELECT CAST(k AS VARCHAR) AS row_id,
       'all' AS partition_id,
       'engine' AS ruleset_id,
       'reconcile:stored' AS constraint_id,
       'x-reconcile' AS keyword,
       '/stored' AS instance_path,
       '#/x-reconcile/stored' AS schema_path,
       CASE WHEN actual IS NULL
            THEN 'Must reconcile: no fact rows support stored ''stored'''
            ELSE 'Must reconcile: sum(l_quantity) = '
                 || CAST(round(actual, 2) AS VARCHAR) || ', stored '
                 || CAST(round(stored, 2) AS VARCHAR) || ' (diff '
                 || CAST(round(actual - stored, 2) AS VARCHAR)
                 || ', tolerance 0.0)'
       END AS message,
       CAST(round(actual, 6) AS VARCHAR) AS actual,
       CAST(round(stored, 6) AS VARCHAR) AS expected,
       'warning' AS severity
FROM dim
WHERE actual IS NULL OR abs(actual - stored) > 0
""",
        "skew_profile_lineitem": """
WITH c AS (
  SELECT l_suppkey AS k, count(*) AS cnt
  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1),
m AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
         count(*) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_count,
         sum(cnt * log2(cnt)) AS clogc
  FROM c),
t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS top_sum
  FROM (SELECT cnt FROM c ORDER BY cnt DESC, k ASC LIMIT 10))
SELECT 'l_suppkey' AS key_col,
       n_rows, n_keys, max_count,
       round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_count,
       round(max_count / CAST(n_rows AS DOUBLE), 6) AS max_share,
       round(top_sum / CAST(n_rows AS DOUBLE), 6) AS top_k_share,
       CASE WHEN n_keys >= 2 THEN
         round((log2(n_rows) - clogc / n_rows) / log2(n_keys), 6)
       END AS entropy_norm,
       round(max_count * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew_ratio,
       CAST(least(1024, greatest(1, ceil(
         max_count * n_keys / CAST(n_rows AS DOUBLE)))) AS INT)
         AS recommended_salts
FROM m, t
""",
        "heavy_hitters_lineitem": """
SELECT CAST(l_suppkey AS VARCHAR) AS key,
       count(*) AS count_min,
       count(*) AS count_max
FROM lineitem WHERE l_suppkey IS NOT NULL
GROUP BY 1 ORDER BY count_min DESC, key ASC LIMIT 20
""",
        "stats_lineitem": """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls_qty,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       count(DISTINCT l_partkey) AS n_distinct_part,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag
""",
        "asof_events_purchase": _ASOF_ORACLE,
        "asof_bucketed_events_purchase": _ASOF_ORACLE,
        "profile_events_nonfinite": """
WITH inj AS (
  SELECT CASE WHEN event_id % 97 = 0 THEN 'NaN'::DOUBLE
              WHEN event_id % 101 = 0 THEN 'Infinity'::DOUBLE
              ELSE value END AS v
  FROM events)
SELECT 'v' AS column,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN v IS NOT NULL AND NOT isfinite(v)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
       round(min(CASE WHEN isfinite(v) THEN v END), 5) AS min_v,
       round(max(CASE WHEN isfinite(v) THEN v END), 5) AS max_v
FROM inj
""",
        "ref_asof_purchase_signup": """
SELECT p.event_id,
       'ref-asof:user_id->user_id@ts' AS constraint_id,
       'ref-asof' AS keyword,
       'Must reference a ''user_id'' effective at `ts`' AS message
FROM events p
WHERE p.event_type = 'purchase'
  AND p.user_id IS NOT NULL AND p.ts IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM events s
                  WHERE s.event_type = 'signup'
                    AND s.user_id = p.user_id AND s.ts <= p.ts)
""",
        "purchase_session_attribution": """
WITH s AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events WHERE event_type <> 'purchase'
), x AS (
  SELECT user_id, ts,
         CAST(sum(CASE WHEN prev IS NULL
                       OR epoch(ts) - epoch(prev) > 86400
                  THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_index
  FROM s
), iv AS (
  SELECT user_id,
         CAST(user_id AS VARCHAR) || '-'
           || CAST(session_index AS VARCHAR) AS session_id,
         min(ts) AS s, max(ts) AS e
  FROM x GROUP BY user_id, session_index
)
SELECT p.event_id, p.user_id, iv.session_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN iv ON p.user_id = iv.user_id AND p.ts BETWEEN iv.s AND iv.e
""",
        "ref_interval_purchase_sessions": """
WITH s AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events WHERE event_type <> 'purchase'
), x AS (
  SELECT user_id, ts,
         CAST(sum(CASE WHEN prev IS NULL
                       OR epoch(ts) - epoch(prev) > 86400
                  THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_index
  FROM s
), iv AS (
  SELECT user_id, min(ts) AS s, max(ts) AS e
  FROM x GROUP BY user_id, session_index
)
SELECT p.event_id,
       'ref-interval:user_id->user_id[s,e]' AS constraint_id,
       'ref-interval' AS keyword,
       'Must fall inside a ''user_id'' interval [s, e] at `ts`'
         AS message
FROM events p
WHERE p.event_type = 'purchase'
  AND p.user_id IS NOT NULL AND p.ts IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM iv
                  WHERE iv.user_id = p.user_id
                    AND p.ts BETWEEN iv.s AND iv.e)
""",
        "error_session_overlap": """
WITH sess AS (
  SELECT user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id, event_type <> 'error'
                       ORDER BY ts) AS prev
  FROM events WHERE event_type IN ('click', 'view', 'error')
), x AS (
  SELECT user_id, ts, event_type <> 'error' AS is_browse,
         CAST(sum(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >
                            (CASE WHEN event_type <> 'error'
                                  THEN 86400 ELSE 21600 END)
                  THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, event_type <> 'error'
                    ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_index
  FROM sess
), iv AS (
  SELECT user_id, is_browse,
         CAST(user_id AS VARCHAR) || '-'
           || CAST(session_index AS VARCHAR) AS session_id,
         min(ts) AS s, max(ts) AS e
  FROM x GROUP BY user_id, is_browse, session_index
)
SELECT er.user_id,
       er.session_id AS error_session_id,
       br.session_id AS browse_session_id
FROM (SELECT * FROM iv WHERE NOT is_browse) er
JOIN (SELECT * FROM iv WHERE is_browse) br
  ON er.user_id = br.user_id AND er.s <= br.e AND br.s <= er.e
""",
        "sessionize_events": """
WITH s AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), x AS (
  SELECT event_id, user_id,
         CAST(sum(CASE WHEN prev IS NULL
                       OR epoch(ts) - epoch(prev) > 1800
                  THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_index
  FROM s)
SELECT event_id, user_id, session_index,
       CAST(user_id AS VARCHAR) || '-'
         || CAST(session_index AS VARCHAR) AS session_id
FROM x
""",
        "profile_diff_orders": """
WITH n AS (
  SELECT CASE WHEN o_orderkey % 83 = 0 AND o_totalprice IS NOT NULL
           THEN o_totalprice + 100000.0 ELSE o_totalprice END AS p,
         CASE WHEN o_orderkey % 97 = 0 THEN NULL
           ELSE o_orderstatus END AS s
  FROM orders),
feats AS (SELECT
  (SELECT max(o_totalprice) FROM orders) AS omx,
  (SELECT max(p) FROM n) AS nmx,
  (SELECT min(o_totalprice) FROM orders) AS omn,
  (SELECT min(p) FROM n) AS nmn,
  (SELECT count(*) = count(o_orderstatus) AND count(*) > 0
   FROM orders) AS oreq,
  (SELECT count(*) = count(s) AND count(*) > 0 FROM n) AS nreq,
  (SELECT string_agg(v, ',' ORDER BY v) FROM
   (SELECT DISTINCT o_orderstatus v FROM orders
    WHERE o_orderstatus IS NOT NULL) t) AS oenum,
  (SELECT string_agg(v, ',' ORDER BY v) FROM
   (SELECT DISTINCT s v FROM n WHERE s IS NOT NULL) t) AS nenum)
SELECT 'o_totalprice' AS col_name, 'maximum' AS keyword,
       'changed' AS change, 'num_value' AS changed_cols
FROM feats WHERE omx <> nmx
UNION ALL SELECT 'o_totalprice', 'minimum', 'changed', 'num_value'
FROM feats WHERE omn <> nmn
UNION ALL SELECT 'o_orderstatus', 'required', 'changed', 'str_value'
FROM feats WHERE oreq <> nreq
UNION ALL SELECT 'o_orderstatus', 'enum', 'changed', 'str_value'
FROM feats WHERE oenum IS DISTINCT FROM nenum
""",
        "gap_events_by_user": """
WITH s AS (
  SELECT event_id, user_id,
         epoch(ts) - lag(epoch(ts)) OVER
           (PARTITION BY user_id ORDER BY ts) AS g
  FROM events WHERE ts IS NOT NULL
)
SELECT CAST(event_id AS VARCHAR) AS row_id,
       'gap:ts' AS constraint_id,
       'x-gap' AS keyword,
       'Must not gap more than 14400 s within ''user_id''' AS message,
       CAST(round(g, 3) AS VARCHAR) AS actual
FROM s WHERE g > 14400
""",
        "gibberish_documents": """
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS t
  FROM documents
), big AS (
  SELECT doc_id, substring(t, CAST(i AS INTEGER), 2) AS bg
  FROM norm, unnest(generate_series(1, length(t) - 1)) AS u(i)
  WHERE length(t) >= 2
), counts AS (
  SELECT bg, count(*) AS n FROM big GROUP BY bg
), model AS (
  SELECT bg, ln(n * 1.0 / (SELECT sum(n) FROM counts)) AS logp FROM counts
), scored AS (
  SELECT doc_id, count(*) AS nb, round(avg(logp), 6) AS al
  FROM big JOIN model USING (bg) GROUP BY doc_id
)
SELECT d.doc_id, s.nb AS n_bigrams, s.al AS avg_logp
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
""",
        "normalize_documents": """
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN replace(text, 'e', 'e' || chr(769))
              ELSE text END AS text
  FROM documents
)
SELECT doc_id AS id, nfc_normalize(text) AS text_norm,
       NOT (nfc_normalize(text) IS NOT DISTINCT FROM text) AS changed
FROM inj
""",
        "bm25_documents": """
WITH q(query_id, term) AS (
  VALUES ('q_scan', 'fast'), ('q_scan', 'table'), ('q_scan', 'scan'),
         ('q_window', 'window'), ('q_window', 'sort'),
         ('q_window', 'order'),
         ('q_join', 'hash'), ('q_join', 'join'), ('q_join', 'spark'),
         ('q_join', 'query')
), post AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents,
       unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                          x -> x <> '')) AS t(term)
  WHERE text IS NOT NULL
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
m AS (SELECT p.* FROM post p WHERE p.term IN (SELECT DISTINCT term FROM q)),
dft AS (SELECT term, count(*) AS df FROM m GROUP BY term),
s AS (
  SELECT q.query_id, m.doc_id,
         sum(ln(1.0 + (c.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * (m.tf * 2.2
                / (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / c.avgdl))))
           AS score
  FROM m JOIN q ON m.term = q.term
         JOIN dft ON m.term = dft.term
         JOIN dl ON m.doc_id = dl.doc_id
         CROSS JOIN c
  GROUP BY q.query_id, m.doc_id
)
SELECT query_id, rank, doc_id, score FROM (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC)
              AS INT) AS rank
  FROM s)
WHERE rank <= 15
""",
        "er_pairs_part": """
WITH d AS (SELECT DISTINCT p_name FROM part),
b AS (SELECT p_name,
             list_extract(string_split(p_name, ' '), -1) AS blk FROM d)
SELECT a.p_name AS name_a, c.p_name AS name_b,
       levenshtein(a.p_name, c.p_name) AS edit
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) <= 4
""",
        "er_golden_part": """
WITH RECURSIVE d AS (
  SELECT p_name, count(*) AS n_rows FROM part GROUP BY p_name
), b AS (
  SELECT p_name, list_extract(string_split(p_name, ' '), -1) AS blk
  FROM d
), pr AS (
  SELECT a.p_name AS id_a, c.p_name AS id_b
  FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
  WHERE levenshtein(a.p_name, c.p_name) <= 4
), e AS (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION SELECT id_b, id_a FROM pr
), reach(node, r) AS (
  SELECT src, src FROM e
  UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.node
), comp AS (SELECT node, min(r) AS comp_id FROM reach GROUP BY node),
labeled AS (
  SELECT d.p_name, d.n_rows, coalesce(c.comp_id, d.p_name) AS entity_id
  FROM d LEFT JOIN comp c ON d.p_name = c.node
)
SELECT p_name, entity_id, n_rows,
       row_number() OVER (PARTITION BY entity_id
                          ORDER BY n_rows DESC, p_name ASC) = 1
         AS is_survivor
FROM labeled
""",
        "funnel_events": """
WITH t1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t
    AND (epoch(e.ts) - epoch(t1.t)) * 1000.0 <= 604800000
  GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t
    AND (epoch(e.ts) - epoch(t2.t)) * 1000.0 <= 604800000
  GROUP BY e.user_id
)
SELECT 1 AS step, 'signup' AS name,
       (SELECT count(*) FROM t1) AS users_reached
UNION ALL
SELECT 2, 'click', (SELECT count(*) FROM t2)
UNION ALL
SELECT 3, 'purchase', (SELECT count(*) FROM t3)
""",
        "resample_events": """
WITH obs AS (
  SELECT user_id, bucket, value FROM (
    SELECT user_id, date_trunc('day', ts) AS bucket, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts IS NOT NULL) WHERE rn = 1
), last AS (SELECT max(bucket) AS last_b FROM obs),
span AS (SELECT user_id, min(bucket) AS first_b FROM obs GROUP BY user_id),
grid AS (
  SELECT user_id,
         unnest(generate_series(first_b, (SELECT last_b FROM last),
                                INTERVAL 1 DAY)) AS bucket
  FROM span
)
SELECT g.user_id, g.bucket, f.value,
       o.user_id IS NOT NULL AS is_observed
FROM grid g
LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket
ASOF LEFT JOIN obs f ON f.user_id = g.user_id AND g.bucket >= f.bucket
""",
        "lm_ppl_documents": """
WITH toks AS (
  SELECT doc_id,
         list_prepend('<s>', list_filter(
           str_split(trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')),
                     ' '), x -> x <> '')) AS ts
  FROM documents
), pairs AS (
  SELECT t.doc_id,
         t.ts[CAST(u.i AS INTEGER)] AS ctx,
         t.ts[CAST(u.i AS INTEGER) + 1] AS tok
  FROM toks t, unnest(generate_series(1, len(t.ts) - 1)) AS u(i)
  WHERE len(t.ts) >= 2
), counts AS (
  SELECT ctx, tok, count(*) AS n FROM pairs GROUP BY ctx, tok
), ctxc AS (
  SELECT ctx, sum(n) AS cn FROM counts GROUP BY ctx
), vocab AS (
  SELECT count(DISTINCT tok) + 1 AS v FROM counts
), scored AS (
  SELECT p.doc_id, count(*) AS n_ngrams,
         avg(ln((coalesce(c.n, 0) + 0.5) /
                (coalesce(x.cn, 0) + 0.5 * (SELECT v FROM vocab)))) AS al
  FROM pairs p
  LEFT JOIN counts c ON p.ctx = c.ctx AND p.tok = c.tok
  LEFT JOIN ctxc x ON p.ctx = x.ctx
  GROUP BY p.doc_id
)
SELECT d.doc_id, s.n_ngrams,
       round(s.al, 6) AS avg_logp,
       round(exp(-s.al), 6) AS ppl
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
""",
        "url_dedup_documents": """
WITH synth AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN 'https://example.com/p' || CAST(doc_id % 50 AS VARCHAR)
      WHEN 1 THEN 'HTTPS://EXAMPLE.com:443/p' || CAST(doc_id % 50 AS VARCHAR)
                  || '#frag'
      WHEN 2 THEN 'https://example.com/p' || CAST(doc_id % 50 AS VARCHAR)
                  || '?utm_source=feed&b=2&a=1'
      ELSE 'https://example.com/p' || CAST(doc_id % 50 AS VARCHAR) || '/'
    END AS url
  FROM documents
), nofrag AS (
  SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS u2 FROM synth
), parts AS (
  SELECT doc_id,
    lower(regexp_extract(u2, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(u2, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
  FROM nofrag
), hp AS (
  SELECT doc_id, scheme,
    lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
    substr(rest, length(regexp_extract(rest, '^([^/?]*)', 1)) + 1) AS pathq
  FROM parts
), comps AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
         ELSE hostport END AS host,
    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path,
    regexp_extract(pathq, '\\?(.*)$', 1) AS query
  FROM hp
), canon AS (
  SELECT doc_id, scheme || '://' || host || path ||
    CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canon_url
  FROM (SELECT *, array_to_string(list_sort(list_filter(
            str_split(query, '&'),
            p -> p <> '' AND NOT regexp_matches(p,
              '^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|ref_src)(=.*)?$'))),
          '&') AS cq
        FROM comps) t
)
SELECT canon_url, count(*) AS n_urls, min(doc_id) AS keep_id
FROM canon GROUP BY canon_url HAVING count(*) > 1
""",
        "induce_orders": """
SELECT 'o_orderstatus' AS col_name, 'required' AS keyword,
       CAST(NULL AS DOUBLE) AS num_value,
       (SELECT CASE WHEN count(*) = count(o_orderstatus) AND count(*) > 0
               THEN 'true' ELSE 'false' END FROM orders) AS str_value
UNION ALL
SELECT 'o_orderstatus', 'enum', NULL,
       (SELECT string_agg(v, ',' ORDER BY v)
        FROM (SELECT DISTINCT o_orderstatus AS v FROM orders
              WHERE o_orderstatus IS NOT NULL) t)
UNION ALL
SELECT 'o_orderpriority', 'required', NULL,
       (SELECT CASE WHEN count(*) = count(o_orderpriority) AND count(*) > 0
               THEN 'true' ELSE 'false' END FROM orders)
UNION ALL
SELECT 'o_orderpriority', 'enum', NULL,
       (SELECT string_agg(v, ',' ORDER BY v)
        FROM (SELECT DISTINCT o_orderpriority AS v FROM orders
              WHERE o_orderpriority IS NOT NULL) t)
UNION ALL
SELECT 'o_totalprice', 'required', NULL,
       (SELECT CASE WHEN count(*) = count(o_totalprice) AND count(*) > 0
               THEN 'true' ELSE 'false' END FROM orders)
UNION ALL
SELECT 'o_totalprice', 'minimum',
       (SELECT min(o_totalprice) FROM orders), NULL
UNION ALL
SELECT 'o_totalprice', 'maximum',
       (SELECT max(o_totalprice) FROM orders), NULL
UNION ALL
SELECT 'o_custkey', 'required', NULL,
       (SELECT CASE WHEN count(*) = count(o_custkey) AND count(*) > 0
               THEN 'true' ELSE 'false' END FROM orders)
UNION ALL
SELECT 'o_custkey', 'minimum',
       (SELECT CAST(min(o_custkey) AS DOUBLE) FROM orders), NULL
UNION ALL
SELECT 'o_custkey', 'maximum',
       (SELECT CAST(max(o_custkey) AS DOUBLE) FROM orders), NULL
""",
        "fd_discover_lineitem": """
WITH c1 AS (SELECT l_returnflag d, l_linestatus v, count(*) cnt
            FROM lineitem
            WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
            GROUP BY 1, 2),
g1 AS (SELECT d, sum(cnt) n, max(cnt) m FROM c1 GROUP BY d),
c2 AS (SELECT l_orderkey d, l_returnflag v, count(*) cnt
       FROM lineitem
       WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
       GROUP BY 1, 2),
g2 AS (SELECT d, sum(cnt) n, max(cnt) m FROM c2 GROUP BY d),
c3 AS (SELECT l_orderkey d1, l_linenumber d2, l_quantity v, count(*) cnt
       FROM lineitem
       WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
         AND l_quantity IS NOT NULL
       GROUP BY 1, 2, 3),
g3 AS (SELECT d1, d2, sum(cnt) n, max(cnt) m FROM c3 GROUP BY d1, d2)
SELECT 'l_returnflag' AS determinant, 'l_linestatus' AS dependent,
       CAST((SELECT sum(n) FROM g1) AS BIGINT) AS n_rows,
       CAST((SELECT sum(n - m) FROM g1) AS BIGINT) AS n_violations
UNION ALL
SELECT 'l_orderkey', 'l_returnflag',
       CAST((SELECT sum(n) FROM g2) AS BIGINT),
       CAST((SELECT sum(n - m) FROM g2) AS BIGINT)
UNION ALL
SELECT 'l_orderkey,l_linenumber', 'l_quantity',
       CAST((SELECT sum(n) FROM g3) AS BIGINT),
       CAST((SELECT sum(n - m) FROM g3) AS BIGINT)
""",
        "diff_orders": """
WITH o AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0),
     n AS (SELECT o_orderkey,
                  (o_orderkey % 83 = 0 AND o_totalprice IS NOT NULL)
                    AS price_changed
           FROM orders WHERE o_orderkey % 89 <> 0)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change,
       CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
            THEN 'o_totalprice' ELSE '' END AS changed_cols
FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR n.price_changed
""",
        "fd_lineitem": """
WITH scoped AS (
  SELECT l_returnflag AS det, l_linestatus AS dep,
         concat(CAST(l_orderkey AS VARCHAR), '-',
                CAST(l_linenumber AS VARCHAR)) AS rid
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
), counts AS (
  SELECT det, dep, count(*) AS cnt FROM scoped GROUP BY det, dep
), maj AS (
  SELECT det, (array_agg(dep ORDER BY cnt DESC, dep ASC))[1] AS majority,
         count(*) AS n_variants
  FROM counts GROUP BY det
)
SELECT s.rid AS row_id,
       'fd:l_returnflag->l_linestatus' AS constraint_id,
       'fd' AS keyword,
       'Must be functionally determined by `l_returnflag`: expected `'
         || m.majority || '` for (' || s.det || '), got `' || s.dep
         || '`' AS message,
       s.dep AS actual
FROM scoped s JOIN maj m ON s.det = m.det
WHERE m.n_variants > 1 AND s.dep <> m.majority
""",
        "unique_lineitem_orderkey": """
SELECT l_orderkey, count(*) AS n_occurrences
FROM lineitem WHERE l_orderkey IS NOT NULL
GROUP BY l_orderkey HAVING count(*) > 1
""",
        "ref_orders_customer": """
SELECT o.o_orderkey, o.o_custkey
FROM orders o
WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal >= 0)
""",
        "ref_orders_customer_bloom": """
SELECT o.o_orderkey, o.o_custkey
FROM orders o
WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal >= 0)
""",
        "hist_events": f"SELECT side, bucket, n FROM ({_HIST_EVENTS_CTE}) h",
        "drift_events_ks": _KS_SQL,
        "drift_events_psi": _PSI_SQL,
        "drift_events_emd": _EMD_SQL,
        "drift_type_psi_by_dow": """
WITH h AS (
  SELECT CAST(dayofweek(ts) + 1 AS INT) AS grp,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'early'
              ELSE 'late' END AS side,
         event_type AS bucket, count(*) AS n
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2, 3),
p AS (SELECT grp, side, bucket,
             n * 1.0 / sum(n) OVER (PARTITION BY grp, side) AS p
      FROM h),
j AS (SELECT coalesce(a.grp, b.grp) AS grp,
             greatest(coalesce(a.p, 0.0), 1e-6) AS p_a,
             greatest(coalesce(b.p, 0.0), 1e-6) AS p_b
      FROM (SELECT * FROM p WHERE side = 'early') a
      FULL OUTER JOIN (SELECT * FROM p WHERE side = 'late') b
      USING (grp, bucket))
SELECT grp AS dow, round(sum((p_a - p_b) * ln(p_a / p_b)), 6) AS psi
FROM j GROUP BY grp
""",
        "drift_events_jsd": _JSD_SQL,
        "drift_events_cvm": _CVM_SQL,
        "drift_events_ks_by_type": """
WITH h AS (
  SELECT event_type AS grp,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'early'
              ELSE 'late' END AS side,
         CASE WHEN value < 0 THEN 0
              WHEN value >= 500 THEN 26
              ELSE CAST(floor(value / 20) + 1 AS BIGINT) END AS bucket,
         count(*) AS n
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2, 3
), spine AS (
  SELECT g.grp, s.side, b.bucket
  FROM (SELECT DISTINCT grp FROM h) g
  CROSS JOIN (SELECT DISTINCT side FROM h) s
  CROSS JOIN (SELECT unnest(range(0, 27)) AS bucket) b
), filled AS (
  SELECT sp.grp, sp.side, sp.bucket, coalesce(h.n, 0) AS n
  FROM spine sp LEFT JOIN h
    ON h.grp = sp.grp AND h.side = sp.side AND h.bucket = sp.bucket
), cdf AS (
  SELECT grp, side, bucket,
         sum(n) OVER (PARTITION BY grp, side ORDER BY bucket) * 1.0
           / sum(n) OVER (PARTITION BY grp, side) AS cdf
  FROM filled
)
SELECT a.grp AS event_type, round(max(abs(a.cdf - b.cdf)), 6) AS ks_stat
FROM cdf a JOIN cdf b ON a.grp = b.grp AND a.bucket = b.bucket
WHERE a.side = 'early' AND b.side = 'late'
GROUP BY a.grp
""",
        "drift_events_type_psi": """
WITH h AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'early'
         ELSE 'late' END AS side,
         event_type AS bucket, count(*) AS n
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
), p AS (
  SELECT side, bucket, n * 1.0 / sum(n) OVER (PARTITION BY side) AS p
  FROM h
), j AS (
  SELECT greatest(coalesce(a.p, 0.0), 1e-6) AS pa,
         greatest(coalesce(b.p, 0.0), 1e-6) AS pb
  FROM (SELECT * FROM p WHERE side = 'early') a
  FULL OUTER JOIN (SELECT * FROM p WHERE side = 'late') b
  USING (bucket))
SELECT round(sum((pa - pb) * ln(pa / pb)), 6) AS psi FROM j
""",
        "drift_events_chi2": f"""
WITH h AS ({_HIST_EVENTS_CTE}),
grid AS (
  SELECT b.bucket, s.side
  FROM (SELECT DISTINCT bucket FROM h) b
  CROSS JOIN (SELECT DISTINCT side FROM h) s
),
full_h AS (
  SELECT g.side, g.bucket, coalesce(h.n, 0) AS n
  FROM grid g LEFT JOIN h ON h.side = g.side AND h.bucket = g.bucket
),
e AS (
  SELECT side, bucket, n,
         sum(n) OVER (PARTITION BY bucket) * sum(n) OVER (PARTITION BY side)
           * 1.0 / sum(n) OVER () AS expected
  FROM full_h
)
SELECT round(sum((n - expected) * (n - expected) / expected), 4) AS chi2
FROM e
""",
        "drift_events_windowed_psi": """
WITH h AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS ws,
         CASE WHEN value < 0 THEN 0
              WHEN value >= 500 THEN 26
              ELSE CAST(floor(value / 20) + 1 AS BIGINT) END AS bucket,
         count(*) AS n
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), p AS (
  SELECT ws, bucket, n * 1.0 / sum(n) OVER (PARTITION BY ws) AS p FROM h
), pairs AS (
  SELECT coalesce(c.ws, pv.ws + INTERVAL '1 day') AS ws,
         coalesce(c.p, 0.0) AS p_cur,
         coalesce(pv.p, 0.0) AS p_prev
  FROM p c
  FULL OUTER JOIN p pv
    ON c.ws = pv.ws + INTERVAL '1 day' AND c.bucket = pv.bucket
), valid AS (
  SELECT ws FROM h GROUP BY ws
  HAVING ws - INTERVAL '1 day' IN (SELECT DISTINCT ws FROM h)
)
SELECT CAST(CAST(ws AS DATE) AS VARCHAR) AS day,
       round(sum((greatest(p_cur, 1e-6) - greatest(p_prev, 1e-6))
                 * ln(greatest(p_cur, 1e-6) / greatest(p_prev, 1e-6))), 6)
       AS psi
FROM pairs WHERE ws IN (SELECT ws FROM valid)
GROUP BY 1
""",
        "topn_flag_violation_rate": """
WITH r AS (
  SELECT l_returnflag,
         round(avg(CASE WHEN l_quantity > 45 THEN 1.0 ELSE 0.0 END), 6) AS rate
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, rate,
       CAST(dense_rank() OVER (ORDER BY rate DESC) AS INT) AS rnk
FROM r
""",
        "funnel_ci_events": """
WITH t1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t
    AND (epoch(e.ts) - epoch(t1.t)) * 1000.0 <= 604800000
  GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t
    AND (epoch(e.ts) - epoch(t2.t)) * 1000.0 <= 604800000
  GROUP BY e.user_id
), f AS (
  SELECT 1 AS step, 'signup' AS name,
         (SELECT count(*) FROM t1) AS users_reached
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)
), lagd AS (
  SELECT step, name,
         lag(users_reached) OVER (ORDER BY step) AS n,
         users_reached AS k
  FROM f
), w AS (
  SELECT step, name, n, k, k * 1.0 / n AS p,
         1.959963984540054 AS z,
         1.959963984540054 * 1.959963984540054 AS z2
  FROM lagd WHERE n IS NOT NULL
)
SELECT step, name, n, k,
       round(CASE WHEN n > 0 THEN p END, 6) AS rate,
       round(CASE WHEN n > 0 THEN
         least(greatest((p + z2 / (2 * n)
                         - z * sqrt(p * (1 - p) / n
                                    + z2 / (4.0 * n * n)))
                        / (1 + z2 / n), 0.0), p) END, 6) AS ci_lo,
       round(CASE WHEN n > 0 THEN
         greatest(least((p + z2 / (2 * n)
                         + z * sqrt(p * (1 - p) / n
                                    + z2 / (4.0 * n * n)))
                        / (1 + z2 / n), 1.0), p) END, 6) AS ci_hi
FROM w
""",
        "quantile_gate_lineitem": """
WITH a AS (
  SELECT round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.99), 6) AS qv
  FROM lineitem)
SELECT 'all' AS row_id, 'all' AS partition_id, 'engine' AS ruleset_id,
       'quantile:l_quantity:0.99' AS constraint_id,
       'x-quantile' AS keyword,
       '/l_quantity' AS instance_path,
       '#/x-quantile/l_quantity' AS schema_path,
       CASE WHEN qv IS NULL
            THEN 'Must have p99 <= 45: no non-NULL values to measure'
            ELSE 'Must have p99 <= 45: got ' || CAST(qv AS VARCHAR)
       END AS message,
       CAST(qv AS VARCHAR) AS actual,
       '<= 45' AS expected,
       'warning' AS severity
FROM a WHERE qv IS NULL OR qv > 45
""",
        "cm_counts_lineitem": """
WITH base AS (
  SELECT l_suppkey AS k FROM lineitem WHERE l_suppkey IS NOT NULL),
seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
cells AS (
  SELECT seed,
         CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                                  || CAST(k AS VARCHAR)), 1, 8))
              AS BIGINT) % 256 AS bucket,
         count(*) AS n
  FROM base, seeds GROUP BY 1, 2),
keys AS (SELECT DISTINCT k FROM base),
probe AS (
  SELECT k, seed,
         CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
                                  || CAST(k AS VARCHAR)), 1, 8))
              AS BIGINT) % 256 AS bucket
  FROM keys, seeds),
est AS (
  SELECT p.k, min(coalesce(c.n, 0)) AS est
  FROM probe p LEFT JOIN cells c USING (seed, bucket) GROUP BY 1),
exact AS (SELECT k, count(*) AS exact FROM base GROUP BY 1)
SELECT est.k AS key, CAST(est.est AS BIGINT) AS est,
       CAST(exact.exact AS BIGINT) AS exact,
       CAST(est.est - exact.exact AS BIGINT) AS overcount
FROM est JOIN exact USING (k)
""",
        "mean_shift_events": """
WITH b AS (
  SELECT date_trunc('day', ts) AS bucket, count(*) AS n_rows,
         avg(value) AS mv
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1),
s AS (SELECT avg(mv) AS gm, stddev_samp(mv) AS sd,
             count(*) AS nb FROM b),
c AS (SELECT b.bucket, b.n_rows, b.mv, s.gm, s.sd, s.nb,
             sum(b.mv - s.gm) OVER (ORDER BY b.bucket) AS cusum
      FROM b, s)
SELECT bucket, n_rows, round(mv, 6) AS mean_value,
       round(cusum, 6) + 0.0 AS cusum,
       round(CASE WHEN nb >= 2 AND sd > 0
                  THEN abs(cusum) / (sd * sqrt(nb)) END, 6) AS norm_cusum
FROM c
""",
        "stickiness_events": """
WITH du AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id AS u
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
days AS (SELECT DISTINCT day AS d FROM du)
SELECT d AS day,
       count(DISTINCT CASE WHEN du.day = d THEN du.u END) AS dau,
       count(DISTINCT du.u) AS wau,
       round(count(DISTINCT CASE WHEN du.day = d THEN du.u END) * 1.0
             / count(DISTINCT du.u), 6) AS stickiness
FROM days JOIN du
  ON du.day BETWEEN d - INTERVAL 6 DAY AND d
GROUP BY d
""",
        "top_paths_events": """
WITH s AS (
  SELECT event_id, user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), x AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(sum(CASE WHEN prev IS NULL
                       OR epoch(ts) - epoch(prev) > 1800
                  THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_index
  FROM s
), p AS (
  SELECT CAST(user_id AS VARCHAR) || '-'
           || CAST(session_index AS VARCHAR) AS session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM x GROUP BY 1
)
SELECT path, count(*) AS n FROM p
GROUP BY path ORDER BY n DESC, path LIMIT 20
""",
        "cohort_retention_events": """
WITH base AS (
  SELECT user_id, ts FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
fe AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
       FROM base GROUP BY 1),
act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS period
        FROM base),
cs AS (SELECT cohort, count(*) AS cohort_size FROM fe GROUP BY 1),
cells AS (
  SELECT f.cohort,
         CAST(date_diff('day', CAST(f.cohort AS DATE),
                        CAST(a.period AS DATE)) / 7 AS INT)
           AS period_offset,
         count(*) AS n_active
  FROM act a JOIN fe f USING (user_id)
  GROUP BY 1, 2)
SELECT c.cohort, c.period_offset, c.n_active, cs.cohort_size,
       round(c.n_active * 1.0 / cs.cohort_size, 6) AS retention
FROM cells c JOIN cs USING (cohort)
""",
        "markov_events": """
WITH s AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        AND ts IS NOT NULL)
SELECT src, dst, count(*) AS n,
       round(count(*) * 1.0
             / sum(count(*)) OVER (PARTITION BY src), 6) AS p
FROM s WHERE dst IS NOT NULL GROUP BY 1, 2
""",
        "rate_ci_orders": """
WITH a AS (
  SELECT o_orderpriority AS grp, count(*) AS n,
         CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM orders GROUP BY 1
), w AS (
  SELECT grp, n, k,
         k * 1.0 / n AS p,
         1.959963984540054 AS z,
         1.959963984540054 * 1.959963984540054 AS z2
  FROM a
)
SELECT grp, n, k, round(p, 6) AS rate,
       round(least(greatest((p + z2 / (2 * n)
                             - z * sqrt(p * (1 - p) / n
                                        + z2 / (4.0 * n * n)))
                            / (1 + z2 / n), 0.0), p), 6) AS ci_lo,
       round(greatest(least((p + z2 / (2 * n)
                             + z * sqrt(p * (1 - p) / n
                                        + z2 / (4.0 * n * n)))
                            / (1 + z2 / n), 1.0), p), 6) AS ci_hi
FROM w
""",
        "text_stats_documents": _TEXT_STATS_SQL,
        "langid_documents": _langid_oracle_sql(),
        "keywords_documents": r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS nd FROM documents WHERE text IS NOT NULL),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         round(tf.tf * ln(n.nd * 1.0 / dfq.df), 6) AS score
  FROM tf JOIN dfq USING (term), n
  WHERE dfq.df >= 2 AND dfq.df <= n.nd * 0.5),
rk AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM sc)
SELECT doc_id, CAST(rank AS INT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
FROM rk WHERE rank <= 3
""",
        "lang_confusion_documents": f"""
WITH g AS ({_langid_oracle_sql()})
SELECT d.lang AS declared, g.lang_guess AS guessed, count(*) AS n
FROM documents d JOIN g USING (doc_id)
GROUP BY 1, 2
""",
        "fingerprint_documents": """
SELECT doc_id,
       sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                  ' +', ' ', 'g'))) AS fingerprint
FROM documents
""",
        "dedup_exact_documents": """
SELECT sha256(text) AS text_sha, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents WHERE text IS NOT NULL GROUP BY sha256(text)
""",
        "ann_cosine_topk": _COSINE_TOPK_SQL,
        "embed_sim_pairs": _EMBED_PAIRS_SQL,
        "containment_documents": r"""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(t) - 4, 0) + 1),
           i -> array_to_string(t[i:i+4], ' '))) AS s
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS t
        FROM documents)
  WHERE len(t) >= 5),
post AS (SELECT doc_id, unnest(s) AS g FROM sh),
rare AS (SELECT g FROM post GROUP BY g HAVING count(*) <= 20),
rp AS (SELECT p.doc_id, p.g FROM post p JOIN rare USING (g)),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rp a JOIN rp b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2),
v AS (
  SELECT c.id_a, c.id_b, sa.s AS s_a, sb.s AS s_b,
         len(list_intersect(sa.s, sb.s)) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b)
SELECT CASE WHEN len(s_a) < len(s_b)
                 OR (len(s_a) = len(s_b) AND id_a < id_b)
            THEN id_a ELSE id_b END AS id_small,
       CASE WHEN len(s_a) < len(s_b)
                 OR (len(s_a) = len(s_b) AND id_a < id_b)
            THEN id_b ELSE id_a END AS id_big,
       round(inter * 1.0 / least(len(s_a), len(s_b)), 6) AS containment,
       round(inter * 1.0 / (len(s_a) + len(s_b) - inter), 6) AS jaccard
FROM v
WHERE inter * 1.0 / least(len(s_a), len(s_b)) >= 0.4
""",
        "winnow_pairs_documents": r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE text IS NOT NULL),
occ AS (
  SELECT doc_id, i AS pos, substr(md5(substr(t, i, 12)), 1, 16) AS fp
  FROM norm, LATERAL (SELECT unnest(range(1, length(t) - 10)) AS i) u
  WHERE length(t) >= 12),
keyed AS (
  SELECT doc_id, pos,
         fp || '|' || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0')
           AS key
  FROM occ),
sel AS (
  SELECT DISTINCT k1.doc_id, min(k2.key) AS key
  FROM keyed k1 JOIN keyed k2
    ON k1.doc_id = k2.doc_id AND k2.pos BETWEEN k1.pos AND k1.pos + 15
  GROUP BY k1.doc_id, k1.pos
  HAVING count(*) = 16),
fps AS (SELECT DISTINCT doc_id, substr(key, 1, 16) AS fp FROM sel),
elig AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM fps a JOIN fps b USING (fp) JOIN elig USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
""",
        "dim_profile_embeddings": """
WITH x AS (
  SELECT unnest(list_transform(embedding::DOUBLE[],
                               (v, i) -> {'d': i - 1, 'v': v})) AS s
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64)
SELECT CAST(s.d AS INT) AS dim, count(*) AS n,
       round(avg(s.v), 6) AS mean,
       round(var_samp(s.v), 6) AS variance,
       round(min(s.v), 6) AS min,
       round(max(s.v), 6) AS max
FROM x GROUP BY 1
""",
        "hubness_embeddings": """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS qid, e AS qe FROM v
      WHERE vec_id % 4 = 0 AND vec_id < 2000),
sc AS (
  SELECT q.qid, v.vec_id,
         round(list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(q.qe, q.qe))), 5) AS score
  FROM v, q WHERE v.vec_id <> q.qid),
tk AS (SELECT qid, vec_id FROM (
         SELECT qid, vec_id,
                row_number() OVER (
                  PARTITION BY qid ORDER BY score DESC, vec_id) AS rk
         FROM sc) WHERE rk <= 10),
occ AS (SELECT v.vec_id, count(tk.qid) AS n_k
        FROM v LEFT JOIN tk ON tk.vec_id = v.vec_id GROUP BY 1)
SELECT n_k, count(*) AS n_vecs FROM occ GROUP BY 1
""",
        "ngram_jaccard_documents": _NGRAM_JACCARD_SQL,
        "dup_ngram_documents": _DUP_NGRAM_SQL,
        "validate_events_unevaluated": _UNEVAL_SQL,
        "validate_embeddings_quality": _EMB_QUALITY_SQL,
        "validate_events_content_schema": _CONTENT_SCHEMA_SQL,
        "dedup_lines_documents": _DEDUP_LINES_SQL,
        "dup_spans_documents": _DUP_SPANS_SQL,
        "gopher_documents": _GOPHER_SQL,
        "pack_documents": _PACK_SQL,
        "redact_documents": _REDACT_SQL,
        "group_split_documents": _GROUP_SPLIT_SQL,
        "split_leakage_documents": _SPLIT_LEAKAGE_SQL,
        "c4_clean_documents": _C4_CLEAN_SQL,
        "edit_sim_documents": r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' ')))
           AS s
  FROM toks WHERE len(t) >= 3
),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.s, b.s)) * 1.0
               / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.s, b.s)) * 1.0
              / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.55
),
t AS (SELECT doc_id, substring(text, 1, 64) AS tt
      FROM documents WHERE text IS NOT NULL)
SELECT pr.id_a, pr.id_b, pr.jaccard,
       levenshtein(a.tt, b.tt) AS dist,
       round(1 - levenshtein(a.tt, b.tt) * 1.0
             / greatest(length(a.tt), length(b.tt)), 6) AS edit_sim
FROM pr
JOIN t a ON a.doc_id = pr.id_a
JOIN t b ON b.doc_id = pr.id_b
""",
        "dedup_clusters_documents": _CLUSTERS_SQL,
        "cluster_dedup_documents": _CLUSTER_DEDUP_SQL,
        "validate_documents_content": _content_viol_sql(),
        "embed_cluster_dedup": _EMBED_CLUSTER_DEDUP_SQL,
        "decontaminate_documents": _DECONTAMINATE_SQL,
        "decontaminate_bloom_documents": _DECONTAMINATE_SQL,
        "validate_events_props": _PROPS_VIOL_SQL,
        "validate_events_variant": _VARIANT_VIOL_SQL,
        "validate_part_composition": _PART_COMP_SQL,
        "validate_events_formats": _formats_oracle_sql(),
        "validate_events_pattern_props": """
SELECT CAST(event_id AS VARCHAR) AS row_id,
       'events_pp:/pm:patternProperties' AS constraint_id,
       'patternProperties' AS keyword, '/pm' AS instance_path,
       'Properties matching pattern "^x_" must be valid • #/properties/pm/patternProperties' AS message,
       'x_flag' AS actual
FROM events WHERE event_id % 5 = 0
UNION ALL
SELECT CAST(event_id AS VARCHAR),
       'events_pp:/pm:additionalProperties', 'additionalProperties', '/pm',
       'Additional properties must be valid • #/properties/pm/additionalProperties',
       'note'
FROM events WHERE event_id % 3 = 0
""",
        "validate_embeddings_tuple": """
SELECT CAST(vec_id AS VARCHAR) AS row_id,
       'embt:/embedding/0:items' AS constraint_id, 'items' AS keyword,
       '/embedding/0' AS instance_path,
       'Must have valid item at position 0 • #/properties/embedding/items' AS message
FROM embeddings
WHERE embedding IS NOT NULL AND len(embedding) > 0
  AND embedding[1] < CAST(-0.1 AS DOUBLE)
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'embt:/embedding/1:items', 'items', '/embedding/1',
       'Must have valid item at position 1 • #/properties/embedding/items'
FROM embeddings
WHERE embedding IS NOT NULL AND len(embedding) > 1
  AND embedding[2] > CAST(0.1 AS DOUBLE)
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'embt:/embedding/2:items', 'items', '/embedding/2',
       'Must have valid item at position 2 • #/properties/embedding/items'
FROM embeddings
WHERE embedding IS NOT NULL AND len(embedding) > 2
  AND embedding[3] <= CAST(-0.2 AS DOUBLE)
""",
        "violation_samples_orders": _VIOL_SAMPLES_SQL,
        "validate_embeddings_array": """
SELECT CAST(vec_id AS VARCHAR) AS row_id,
       'emb:/embedding:contains' AS constraint_id,
       'contains' AS keyword,
       'Must contain at least 2 valid item(s) • #/properties/embedding/contains' AS message
FROM embeddings
WHERE embedding IS NOT NULL
  AND len(list_filter(embedding, x -> x IS NULL OR x >= CAST(0.2 AS DOUBLE))) < 2
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'emb:/embedding:maxContains', 'maxContains',
       'Must contain at most 6 valid item(s) • #/properties/embedding/maxContains'
FROM embeddings
WHERE embedding IS NOT NULL
  AND len(list_filter(embedding, x -> x IS NULL OR x >= CAST(0.2 AS DOUBLE))) > 6
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'emb:/embedding:uniqueItems', 'uniqueItems',
       'Must NOT have duplicate items • #/properties/embedding/uniqueItems'
FROM embeddings
WHERE embedding IS NOT NULL
  -- Spark's array_distinct keeps one NULL; DuckDB's list_distinct drops all
  AND len(list_distinct(embedding))
      + CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0 THEN 1 ELSE 0 END
      < len(embedding)
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'emb:/embedding:minItems', 'minItems',
       'Must NOT have fewer than 64 items • #/properties/embedding/minItems'
FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) < 64
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'emb:/embedding:maxItems', 'maxItems',
       'Must NOT have more than 64 items • #/properties/embedding/maxItems'
FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 64
UNION ALL
SELECT CAST(vec_id AS VARCHAR),
       'emb:/:required', 'required',
       'Must have required property ''embedding'' • #/required'
FROM embeddings WHERE embedding IS NULL
""",
        "validate_orders_conditional": """
SELECT CAST(o_orderkey AS VARCHAR) AS row_id,
       'ordcond:/:if' AS constraint_id, 'if' AS keyword,
       'Must match "then" schema • #/if' AS message
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice IS NOT NULL
  AND o_totalprice > 400000
UNION ALL
SELECT CAST(o_orderkey AS VARCHAR),
       'ordcond:/:if#2', 'if',
       'Must match "else" schema • #/if'
FROM orders
WHERE (o_orderstatus IS NULL OR o_orderstatus <> 'F')
  AND o_orderpriority IS NOT NULL
  AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
UNION ALL
SELECT CAST(o_orderkey AS VARCHAR),
       'ordcond:/:dependentRequired', 'dependentRequired',
       'Must have property o_custkey when property o_orderkey is present • #/dependentRequired'
FROM orders WHERE o_orderkey IS NOT NULL AND o_custkey IS NULL
""",
        "curate_documents": _curate_oracle_sql(),
        "mojibake_documents": _mojibake_oracle_sql(),
        "pii_scan_documents": """
SELECT doc_id,
       len(regexp_extract_all(coalesce(text, ''),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(coalesce(text, ''),
           '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n_ipv4,
       len(regexp_extract_all(coalesce(text, ''),
           '\\+?\\d[\\d\\- ]{7,14}\\d')) AS n_phone,
       (len(regexp_extract_all(coalesce(text, ''),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
        OR len(regexp_extract_all(coalesce(text, ''),
           '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) > 0
        OR len(regexp_extract_all(coalesce(text, ''),
           '\\+?\\d[\\d\\- ]{7,14}\\d')) > 0) AS has_pii
FROM documents
""",
        "repetition_documents": """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), chr(10)), x -> x <> '')
           AS lines,
         list_transform(
           list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                       x -> x <> ''),
           x -> lower(x)) AS toksl
  FROM documents
)
SELECT doc_id,
       round(CASE WHEN len(lines) > 0
             THEN 1.0 - len(list_distinct(lines)) * 1.0 / len(lines)
             ELSE 0.0 END, 6) AS dup_line_frac,
       round(CASE WHEN len(toksl) > 0
             THEN 1.0 - len(list_distinct(toksl)) * 1.0 / len(toksl)
             ELSE 0.0 END, 6) AS dup_word_frac,
       round(CASE WHEN len(toksl) > 0
             THEN list_max(list_transform(list_distinct(toksl),
                  w -> len(list_filter(toksl, x -> x = w)))) * 1.0
                  / len(toksl)
             ELSE 0.0 END, 6) AS top_word_frac
FROM t
""",
        "sample_documents": """
SELECT doc_id FROM documents
WHERE substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
""",
        "weighted_sample_documents": """
SELECT doc_id, w FROM (
  SELECT doc_id, w,
         pow(CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 13)
                  AS BIGINT) / 4503599627370496.0,
             1.0 / w) AS aes_key
  FROM (SELECT doc_id, CAST(length(text) AS DOUBLE) AS w
        FROM documents WHERE text IS NOT NULL)
  WHERE w > 0)
ORDER BY aes_key DESC, doc_id ASC LIMIT 100
""",
        "temperature_sample_documents": """
WITH c AS (
  SELECT lang, count(*) AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
s AS (
  SELECT lang, n / CAST(total AS DOUBLE) AS share,
         pow(n / CAST(total AS DOUBLE), 0.3) AS w
  FROM c, t),
ws AS (SELECT sum(w) AS wsum FROM s),
q AS (SELECT lang, (w / wsum) / share AS ratio FROM s, ws),
rmax AS (SELECT max(ratio) AS rmx FROM q),
rates AS (SELECT lang, ratio / rmx AS rate FROM q, rmax)
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE CAST('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 13)
           AS BIGINT) / 4503599627370496.0 < r.rate
""",
        "zipf_documents": """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents WHERE text IS NOT NULL),
c AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
top AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank
  FROM c ORDER BY cnt DESC, tok ASC LIMIT 500)
SELECT count(*) AS n_fit,
       CAST(sum(cnt) AS BIGINT) AS top_mass,
       round(regr_slope(ln(cnt), ln(rank)), 6) AS slope,
       round(regr_intercept(ln(cnt), ln(rank)), 6) AS intercept,
       round(regr_r2(ln(cnt), ln(rank)), 6) AS r2
FROM top
""",
        "readability_documents": """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '')) AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
           AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       CASE WHEN n_words > 0
            THEN round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                       - 84.6 * (n_syllables * 1.0 / n_words), 6)
       END AS flesch
FROM t
""",
        "lexdiv_documents": """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents),
c AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(count(*) * 1.0 / sum(cnt), 6) AS ttr,
       round(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS hapax_ratio
FROM c GROUP BY doc_id
""",
        "heaps_documents": """
WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents),
nt AS (SELECT least(CAST(floor(doc_id * 100 / m) AS BIGINT), 99) AS bucket,
              count(*) AS n_toks
       FROM toks, mx GROUP BY 1),
fo AS (SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY 1),
nn AS (SELECT least(CAST(floor(doc_id * 100 / m) AS BIGINT), 99) AS bucket,
              count(*) AS n_new
       FROM fo, mx GROUP BY 1),
cum AS (SELECT coalesce(nt.bucket, nn.bucket) AS bucket,
               sum(coalesce(n_toks, 0))
                 OVER (ORDER BY coalesce(nt.bucket, nn.bucket)) AS n_cum,
               sum(coalesce(n_new, 0))
                 OVER (ORDER BY coalesce(nt.bucket, nn.bucket)) AS v_cum
        FROM nt FULL OUTER JOIN nn ON nt.bucket = nn.bucket)
SELECT count(*) AS n_points_fit,
       round(regr_slope(ln(v_cum), ln(n_cum)), 6) AS beta,
       round(exp(regr_intercept(ln(v_cum), ln(n_cum))), 6) AS k,
       round(regr_r2(ln(v_cum), ln(n_cum)), 6) AS r2
FROM cum WHERE n_cum > 0 AND v_cum > 0
""",
        "stratified_documents": """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 40
""",
        "budget_documents": """
SELECT doc_id FROM (
  SELECT doc_id,
         sum(length(text)) OVER (
           ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM documents
) WHERE cum <= 60000
""",
        "validate_events_drift_declarative": f"""
WITH k AS ({_KS_SQL}), p AS ({_PSI_SQL})
SELECT 'error~purchase' AS row_id,
       'drift:value' AS constraint_id,
       'drift' AS keyword,
       '/value' AS instance_path,
       'Distribution drift on ''value'' (error vs purchase): ks>0.01 or psi>0.01' AS message,
       'ks=' || CAST(k.ks_stat AS VARCHAR) || ' psi=' || CAST(p.psi AS VARCHAR) AS actual
FROM k, p
WHERE k.ks_stat > 0.01 OR p.psi > 0.01
""",
        "validate_lineitem_declarative": """
SELECT concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)) AS row_id,
       'lifull:/l_quantity:minimum' AS constraint_id, 'minimum' AS keyword,
       'Must be >= 1 • #/properties/l_quantity/minimum' AS message
FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity < 1
UNION ALL
SELECT concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)),
       'lifull:/l_quantity:maximum', 'maximum',
       'Must be <= 49 • #/properties/l_quantity/maximum'
FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity > 49
UNION ALL
SELECT CAST(l_orderkey AS VARCHAR),
       'unique:l_orderkey', 'unique',
       'Must be unique: ''l_orderkey'' occurs ' || CAST(cnt AS VARCHAR) || ' times'
FROM (SELECT l_orderkey, count(*) AS cnt FROM lineitem
      WHERE l_orderkey IS NOT NULL GROUP BY 1 HAVING count(*) > 1)
UNION ALL
SELECT concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)),
       'ref:l_suppkey->s_suppkey', 'ref',
       'Must reference an existing ''s_suppkey'''
FROM lineitem l
WHERE l.l_suppkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal >= 0)
""",
        "stats_rollup_lineitem": """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       round(avg(l_extendedprice), 4) AS avg_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "windowed_verdicts_events": """
WITH v AS (
  SELECT ts,
         (CASE WHEN value IS NOT NULL AND value > 400 THEN 1 ELSE 0 END
        + CASE WHEN event_type IS NOT NULL
               AND event_type NOT IN ('error','view','purchase','click','signup')
               THEN 1 ELSE 0 END
        + CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nv
  FROM events
)
SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
       time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS window_end,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed_rows,
       CAST(sum(nv) AS BIGINT) AS n_violations
FROM v GROUP BY 1, 2
""",
        "profile_lineitem": """
WITH cols("column") AS (VALUES ('l_quantity'), ('l_extendedprice'), ('l_returnflag'))
SELECT l_linestatus AS partition_id, c."column" AS "column",
       count(*) AS n_rows,
       CAST(sum(CASE c."column"
                WHEN 'l_quantity' THEN CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END
                WHEN 'l_extendedprice' THEN CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END
                ELSE CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END END) AS BIGINT) AS n_nulls,
       round(sum(CASE c."column"
                WHEN 'l_quantity' THEN CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END
                WHEN 'l_extendedprice' THEN CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END
                ELSE CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END END) * 1.0 / count(*), 6) AS null_rate,
       CASE c."column"
            WHEN 'l_quantity' THEN CAST(min(l_quantity) AS VARCHAR)
            WHEN 'l_extendedprice' THEN CAST(min(l_extendedprice) AS VARCHAR)
            ELSE min(l_returnflag) END AS min_value,
       CASE c."column"
            WHEN 'l_quantity' THEN CAST(max(l_quantity) AS VARCHAR)
            WHEN 'l_extendedprice' THEN CAST(max(l_extendedprice) AS VARCHAR)
            ELSE max(l_returnflag) END AS max_value
FROM lineitem CROSS JOIN cols c
GROUP BY l_linestatus, c."column"
""",
        # minhash/simhash/ivf/approx-stats: seeded-hash / approximate ->
        # rows-only checks (documented in SURVEY.md §5)
        "outliers_events_by_type": """
WITH med AS (
  SELECT event_type, median(value) AS med
  FROM events GROUP BY event_type),
mad AS (
  SELECT e.event_type,
         median(abs(e.value - med.med)) AS mad,
         any_value(med.med) AS med
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type)
SELECT CAST(e.event_id AS VARCHAR) AS row_id,
       e.event_type,
       e.value,
       ROUND(CASE WHEN m.mad > 0
                  THEN 0.6745 * abs(e.value - m.med) / m.mad END, 6) AS z
FROM events e JOIN mad m USING (event_type)
WHERE e.value IS NOT NULL
  AND CASE WHEN m.mad > 0
           THEN 0.6745 * abs(e.value - m.med) / m.mad > 3.5
           ELSE e.value != m.med END
""",
        "content_json_events": """
SELECT CAST(event_id AS VARCHAR) AS row_id,
       CASE WHEN props IS NOT NULL THEN json_valid(props) END AS props_ok,
       CASE WHEN props IS NOT NULL
            THEN json_valid(substr(props, 1, length(props) - 1))
       END AS mangled_ok
FROM events
""",
        "repair_log_orders": """
WITH c AS (
  SELECT 'o_orderstatus' AS col, 'nullify_enum' AS action, count(*) AS n
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F')
  UNION ALL
  SELECT 'o_orderstatus', 'fill_default', count(*) FROM orders
  WHERE o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F')
  UNION ALL
  SELECT 'o_totalprice', 'clamp_min', count(*) FROM orders
  WHERE o_totalprice < 50000
  UNION ALL
  SELECT 'o_totalprice', 'clamp_max', count(*) FROM orders
  WHERE o_totalprice > 300000
  UNION ALL
  SELECT 'o_orderpriority', 'truncate', count(*) FROM orders
  WHERE length(o_orderpriority) > 8
  UNION ALL
  SELECT 'o_orderpriority', 'nullify_pattern', count(*) FROM orders
  WHERE o_orderpriority IS NOT NULL
    AND NOT regexp_matches(
          CASE WHEN length(o_orderpriority) > 8
               THEN substring(o_orderpriority, 1, 8)
               ELSE o_orderpriority END, '^[1-3]-'))
SELECT col AS "column", action, n FROM c WHERE n > 0
""",
        "mix_documents": """
WITH wts AS (
  SELECT * FROM (VALUES ('src0', 0.4), ('src1', 0.3),
                        ('src2', 0.2), ('src3', 0.1)) AS t(source, w)
), c AS (
  SELECT d.source, w, count(*) AS n
  FROM documents d JOIN wts USING (source)
  GROUP BY d.source, w
), t AS (
  SELECT min(n / w) AS feasible FROM c
), ranked AS (
  SELECT doc_id, d.source, w,
         row_number() OVER (PARTITION BY d.source
             ORDER BY substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8),
                      doc_id) AS rk
  FROM documents d JOIN wts USING (source)
)
SELECT doc_id, source
FROM ranked, t
WHERE rk <= CAST(floor(w * feasible) AS BIGINT)
""",
        "chunk_documents": r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk
  FROM documents
  WHERE text IS NOT NULL AND regexp_matches(text, '\S')
), sized AS (
  SELECT doc_id, tk,
         CASE WHEN len(tk) <= 64 THEN 1
              ELSE 1 + CAST(ceil((len(tk) - 64) / 56.0) AS INT)
         END AS n_chunks
  FROM toks
), exploded AS (
  SELECT doc_id, tk, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
  FROM sized
)
SELECT doc_id, chunk_idx,
       len(tk[chunk_idx*56+1 : chunk_idx*56+64]) AS n_tokens,
       array_to_string(tk[chunk_idx*56+1 : chunk_idx*56+64], ' ') AS chunk
FROM exploded
""",
        "monotonic_events_by_user": """
WITH seq AS (
  SELECT event_id,
         lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev,
         value
  FROM events
  WHERE value IS NOT NULL AND event_id IS NOT NULL
)
SELECT CAST(event_id AS VARCHAR) AS row_id,
       'all' AS partition_id,
       'engine' AS ruleset_id,
       'monotonic:value' AS constraint_id,
       'x-monotonic' AS keyword,
       '/value' AS instance_path,
       '#/x-monotonic/value' AS schema_path,
       'Must be non-decreasing over ''event_id'' within ''user_id''' AS message,
       'warning' AS severity
FROM seq WHERE prev IS NOT NULL AND NOT (value >= prev)
""",
        "monotonic_events_global": """
WITH seq AS (
  SELECT event_id,
         lag(value) OVER (ORDER BY event_id) AS prev,
         value
  FROM events
  WHERE value IS NOT NULL AND event_id IS NOT NULL
)
SELECT CAST(event_id AS VARCHAR) AS row_id,
       'all' AS partition_id,
       'engine' AS ruleset_id,
       'monotonic:value' AS constraint_id,
       'x-monotonic' AS keyword,
       '/value' AS instance_path,
       '#/x-monotonic/value' AS schema_path,
       'Must be non-decreasing over ''event_id''' AS message,
       'warning' AS severity
FROM seq WHERE prev IS NOT NULL AND NOT (value >= prev)
""",
        "volume_anomaly_events": """
WITH b AS (
  SELECT date_trunc('hour', ts) AS bucket, CAST(count(*) AS DOUBLE) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1),
s AS (SELECT quantile_cont(n, 0.5) AS med FROM b),
m AS (SELECT quantile_cont(abs(n - s.med), 0.5) AS mad,
             any_value(s.med) AS med
      FROM b, s)
SELECT CAST(b.bucket AS VARCHAR) AS bucket, b.n AS value,
       ROUND(CASE WHEN m.mad > 0
                  THEN 0.6745 * abs(b.n - m.med) / m.mad END, 6) AS z
FROM b, m
WHERE CASE WHEN m.mad > 0 THEN 0.6745 * abs(b.n - m.med) / m.mad > 3.5
           ELSE b.n != m.med END
""",
        "validate_lineitem_fused": """
WITH uq AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
qn AS (
  SELECT round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.99), 6) AS q
  FROM lineitem),
vb AS (
  SELECT date_trunc('month', l_shipdate) AS bucket,
         CAST(count(*) AS DOUBLE) AS n
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1),
vs AS (SELECT quantile_cont(n, 0.5) AS med FROM vb),
vm AS (SELECT quantile_cont(abs(n - vs.med), 0.5) AS mad,
              any_value(vs.med) AS med
       FROM vb, vs)
SELECT CAST(k AS VARCHAR) AS row_id, 'all' AS partition_id,
       'fused' AS ruleset_id, 'unique:l_partkey' AS constraint_id,
       'unique' AS keyword, '/l_partkey' AS instance_path,
       '#/x-unique/l_partkey' AS schema_path,
       'Must be unique: ''l_partkey'' occurs ' || CAST(n AS VARCHAR)
         || ' times' AS message,
       CAST(k AS VARCHAR) AS actual, 'warning' AS severity
FROM uq WHERE n > 1
UNION ALL
SELECT 'all', 'all', 'fused', 'quantile:l_quantity:0.99',
       'x-quantile', '/l_quantity', '#/x-quantile/l_quantity',
       CASE WHEN q IS NULL
            THEN 'Must have p99 <= 45: no non-NULL values to measure'
            ELSE 'Must have p99 <= 45: got ' || CAST(q AS VARCHAR) END,
       CAST(q AS VARCHAR), 'warning'
FROM qn WHERE q IS NULL OR q > 45.0
UNION ALL
SELECT CAST(CAST(vb.bucket AS TIMESTAMP) AS VARCHAR), 'all', 'fused',
       'volume:l_shipdate', 'x-volume', '/l_shipdate',
       '#/x-volume/l_shipdate',
       'Must have typical month row volume (median/MAD |z| <= 2): '
         || 'bucket has ' || CAST(CAST(vb.n AS BIGINT) AS VARCHAR)
         || ' rows'
         || CASE WHEN vm.mad > 0
                 THEN ' (z=' || CAST(round(round(
                        0.6745 * abs(vb.n - vm.med) / vm.mad, 6), 2)
                        AS VARCHAR) || ')'
                 ELSE '' END,
       CAST(CAST(vb.n AS BIGINT) AS VARCHAR), 'warning'
FROM vb, vm
WHERE CASE WHEN vm.mad > 0
           THEN 0.6745 * abs(vb.n - vm.med) / vm.mad > 2.0
           ELSE vb.n != vm.med END
UNION ALL
SELECT 'all', 'all', 'fused', 'mask:l_returnflag', 'x-mask',
       '/l_returnflag', '#/x-mask/l_returnflag',
       'Must match shape ''9'': only '
         || CAST(round(ok / CAST(total AS DOUBLE), 6) AS VARCHAR)
         || ' of values conform (limit 0.99); top offender '
         || coalesce(tb, '<none>'),
       CAST(round(ok / CAST(total AS DOUBLE), 6) AS VARCHAR), 'warning'
FROM (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(coalesce(sum(n) FILTER (mask = '9'), 0) AS BIGINT) AS ok
  FROM (SELECT regexp_replace(regexp_replace(l_returnflag,
               '[0-9]+', '9', 'g'), '[A-Za-z]+', 'A', 'g') AS mask,
               count(*) AS n
        FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1)) s
LEFT JOIN (
  SELECT mask AS tb FROM
    (SELECT regexp_replace(regexp_replace(l_returnflag,
            '[0-9]+', '9', 'g'), '[A-Za-z]+', 'A', 'g') AS mask,
            count(*) AS n
     FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1)
  WHERE mask <> '9' ORDER BY n DESC, mask ASC LIMIT 1) t ON TRUE
WHERE total IS NULL OR round(ok / CAST(total AS DOUBLE), 6) < 0.99
UNION ALL
SELECT 'all', 'all', 'fused', 'skew:l_returnflag', 'x-skew',
       '/l_returnflag', '#/x-skew/l_returnflag',
       'Key ''l_returnflag'' is skewed: hottest value holds '
         || CAST(round(max_count / CAST(n_rows AS DOUBLE), 6) AS VARCHAR)
         || ' of rows (limit 0.2); shuffle on it with >= '
         || CAST(CAST(least(1024, greatest(1, ceil(
              max_count * n_keys / CAST(n_rows AS DOUBLE)))) AS INT)
              AS VARCHAR)
         || ' salts',
       CAST(round(max_count / CAST(n_rows AS DOUBLE), 6) AS VARCHAR),
       'warning'
FROM (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_count
  FROM (SELECT l_returnflag AS k, count(*) AS cnt FROM lineitem
        WHERE l_returnflag IS NOT NULL GROUP BY 1))
WHERE round(max_count / CAST(n_rows AS DOUBLE), 6) > 0.2
UNION ALL
SELECT 'all', 'all', 'fused', 'freshness:l_shipdate', 'x-freshness',
       '/l_shipdate', '#/x-freshness/l_shipdate',
       'Must be fresh: newest row is '
         || CAST(round(epoch(TIMESTAMP '2001-12-01 00:00:00')
                       - epoch(newest), 1) AS VARCHAR)
         || ' s old (limit 3600.0)',
       CAST(newest AS VARCHAR), 'warning'
FROM (SELECT max(l_shipdate) AS newest FROM lineitem)
WHERE newest IS NULL
   OR epoch(TIMESTAMP '2001-12-01 00:00:00') - epoch(newest) > 3600.0
""",
        "volume_by_events": """
WITH src AS (
  SELECT ts, event_type FROM events WHERE ts IS NOT NULL
  UNION ALL
  SELECT ts, event_type FROM events, (SELECT 1 UNION ALL SELECT 2
                                      UNION ALL SELECT 3)
  WHERE ts IS NOT NULL AND event_type = 'click'
    AND date_part('day', ts) = 5),
b AS (
  SELECT event_type AS grp, date_trunc('day', ts) AS bucket,
         CAST(count(*) AS DOUBLE) AS n
  FROM src GROUP BY 1, 2),
s AS (SELECT grp, quantile_cont(n, 0.5) AS med FROM b GROUP BY 1),
m AS (SELECT b.grp, quantile_cont(abs(b.n - s.med), 0.5) AS mad,
             any_value(s.med) AS med
      FROM b JOIN s ON b.grp = s.grp GROUP BY 1),
bad AS (
  SELECT b.grp, b.bucket, b.n,
         ROUND(CASE WHEN m.mad > 0
                    THEN 0.6745 * abs(b.n - m.med) / m.mad END, 6) AS z
  FROM b JOIN m ON b.grp = m.grp
  WHERE CASE WHEN m.mad > 0 THEN 0.6745 * abs(b.n - m.med) / m.mad > 3.5
             ELSE b.n != m.med END)
SELECT CAST(CAST(bucket AS TIMESTAMP) AS VARCHAR) AS row_id,
       grp AS partition_id,
       'engine' AS ruleset_id,
       'volume:ts:by=event_type' AS constraint_id,
       'x-volume' AS keyword,
       '/ts' AS instance_path,
       '#/x-volume/ts' AS schema_path,
       'Must have typical day row volume (median/MAD |z| <= 3.5): '
         || 'bucket has ' || CAST(CAST(n AS BIGINT) AS VARCHAR)
         || ' rows'
         || CASE WHEN z IS NOT NULL
                 THEN ' (z=' || CAST(round(z, 2) AS VARCHAR) || ')'
                 ELSE '' END AS message,
       CAST(CAST(n AS BIGINT) AS VARCHAR) AS actual,
       'warning' AS severity
FROM bad
""",
        "outliers_events": """
WITH s AS (SELECT median(value) AS med FROM events),
m AS (SELECT median(abs(value - s.med)) AS mad, any_value(s.med) AS med
      FROM events, s)
SELECT CAST(event_id AS VARCHAR) AS row_id,
       value,
       ROUND(CASE WHEN m.mad > 0
                  THEN 0.6745 * abs(value - m.med) / m.mad END, 6) AS z
FROM events, m
WHERE value IS NOT NULL
  AND CASE WHEN m.mad > 0 THEN 0.6745 * abs(value - m.med) / m.mad > 3.5
           ELSE value != m.med END
""",
        "repair_orders": """
WITH t AS (
  SELECT *,
         CASE WHEN length(o_orderpriority) > 8
              THEN substring(o_orderpriority, 1, 8)
              ELSE o_orderpriority END AS pri_trunc
  FROM orders)
SELECT o_orderkey AS row_id,
       CASE WHEN o_orderstatus IS NULL THEN 'O'
            WHEN o_orderstatus NOT IN ('O', 'F') THEN 'O'
            ELSE o_orderstatus END AS o_orderstatus,
       ROUND(CASE WHEN o_totalprice IS NULL THEN NULL
                  ELSE LEAST(GREATEST(o_totalprice, 50000), 300000)
             END, 2) AS o_totalprice,
       CASE WHEN pri_trunc IS NULL THEN NULL
            WHEN NOT regexp_matches(pri_trunc, '^[1-3]-') THEN NULL
            ELSE pri_trunc END AS o_orderpriority
FROM t
""",
    }
