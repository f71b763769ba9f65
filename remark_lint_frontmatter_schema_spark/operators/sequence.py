"""Sequence/ordering validation: a column must be monotone over an
ordering key, optionally within groups (``x-monotonic`` in the DSL).

The constraint class event/audio tables actually need: "per user, event
time never goes backwards", "per speaker, clip sequence numbers strictly
increase", "the global ingest watermark is non-decreasing over file id".
JSON Schema has no row-relating keyword (Ajv's unit of work is a single
document — the reference validates one file at a time,
``/root/reference/index.ts:201-320``), so this is a table-level
declaration like ``x-unique``/``x-drift``, compiled into
``CompiledRuleset.table_checks`` and run as its own relational pass.

Semantics: rows where ``column`` or ``order_by`` is NULL are absent from
the sequence (the engine's NULL == absent rule); among the remaining
rows, ordered by ``order_by`` (within each ``by`` group when given), each
adjacent pair must satisfy the direction predicate. A violation is
attributed to the LATER row of the failing pair, with ``actual`` carrying
``"prev -> cur"``. Deterministic verdicts require ``order_by`` to be
unique within its group (ties make "previous row" undefined); the events
driver query orders by the table's unique id.

Scale design:

* **Grouped** (``by`` given): one shuffle on the group key, then a
  per-group window — the window sorts each group in its reducer, so a
  pathologically hot group serializes its own sort (same bound as
  ``sampling.stratified_topn``; pre-filter hot groups there if that
  matters). The shuffle carries (row_id, column, order_by, by) only —
  never payload columns.
* **Global** (``by`` omitted): the naive ``Window.orderBy(...)`` with no
  partition drags every row into ONE task — the classic global-window
  scale-killer. Instead: ``repartitionByRange(n_buckets, order_by)``
  (range partitioner keeps equal keys together and buckets balanced),
  within-bucket windows keyed on ``spark_partition_id()``, plus a
  boundary pass over the n_buckets-row summary relation (last value of
  bucket p vs first value of bucket p+1). Every adjacent pair in the
  total order is checked exactly once — within a bucket or at a
  boundary — so the violation set equals the single-task global window's
  byte-for-byte, at any bucket count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .validate import violation_rows

DIRECTIONS = ("non-decreasing", "increasing", "non-increasing", "decreasing")

# cur-vs-prev "pair is fine" predicates
_OK = {
    "non-decreasing": lambda cur, prev: cur >= prev,
    "increasing": lambda cur, prev: cur > prev,
    "non-increasing": lambda cur, prev: cur <= prev,
    "decreasing": lambda cur, prev: cur < prev,
}


def _pairs_grouped(df: DataFrame, column: str, order_by: str, by: str,
                   row_id: str) -> DataFrame:
    w = Window.partitionBy(by).orderBy(order_by)
    # dict.fromkeys: column may BE order_by (gap_violations orders a
    # column by itself) — a duplicate name in the projection would make
    # every later F.col(column) ambiguous
    return (df.select(*dict.fromkeys([row_id, column, order_by, by]))
              .where(F.col(column).isNotNull()
                     & F.col(order_by).isNotNull())
              .select(row_id, column,
                      F.lag(column).over(w).alias("_prev")))


def _pairs_global(df: DataFrame, column: str, order_by: str, row_id: str,
                  n_buckets: int) -> DataFrame:
    slim = (df.select(*dict.fromkeys([row_id, column, order_by]))
              .where(F.col(column).isNotNull()
                     & F.col(order_by).isNotNull())
              .repartitionByRange(n_buckets, F.col(order_by))
              .withColumn("_bkt", F.spark_partition_id()))
    w = Window.partitionBy("_bkt").orderBy(order_by)
    within = slim.select(row_id, column,
                         F.lag(column).over(w).alias("_prev"))
    # bucket summary: n_buckets rows — the cross-bucket adjacencies.
    # min_by/max_by give the first/last row in order_by order per bucket;
    # the tiny window over bucket ids pairs bucket p's last value with
    # bucket p+1's first row (attribution target).
    summary = slim.groupBy("_bkt").agg(
        F.min_by(row_id, order_by).alias("_first_row"),
        F.min_by(column, order_by).alias("_first_val"),
        F.max_by(column, order_by).alias("_last_val"))
    bw = Window.orderBy("_bkt")  # n_buckets rows: single-task is the point
    boundary = summary.select(
        F.col("_first_row").alias(row_id),
        F.col("_first_val").alias(column),
        F.lag("_last_val").over(bw).alias("_prev"))
    return within.unionByName(boundary)


def gap_violations(
    df: DataFrame,
    column: str,
    *,
    row_id: str,
    max_seconds: float,
    by: str | None = None,
    n_buckets: int = 64,
    ruleset_name: str = "engine",
    severity: str = "warning",
) -> DataFrame:
    """Continuity check (``x-gap``): consecutive values of a timestamp /
    numeric column (ordered by ITSELF, per ``by`` group when given) may
    not be more than ``max_seconds`` apart — the heartbeat/session-gap
    constraint ("no sensor silent for an hour", "clip sequence has no
    recording hole"). The violation attributes to the row AFTER the gap,
    ``actual`` carrying the gap size in seconds.

    Same plan shapes as :func:`monotonic_violations` (one slim grouped
    window, or range-bucketed windows + an n_buckets boundary pass —
    never a single-task global window). Timestamps compare as epoch
    seconds (``cast double``); NULLs are absent from the sequence."""
    if not max_seconds > 0:
        raise ValueError(f"max_seconds must be > 0, got {max_seconds!r}")
    if by is not None:
        pairs = _pairs_grouped(df, column, column, by, row_id)
    else:
        pairs = _pairs_global(df, column, column, row_id, n_buckets)

    from pyspark.sql import types as T
    dt = df.schema[column].dataType

    def _secs(c):
        # TIMESTAMP_NTZ refuses a direct double cast (Spark 4 ANSI); the
        # session is pinned to UTC (session.py) so the timestamp cast is
        # value-preserving and unix_micros keeps sub-second precision
        if isinstance(dt, T.TimestampNTZType):
            return F.unix_micros(c.cast("timestamp")) / F.lit(1e6)
        return c.cast("double")

    gap = _secs(F.col(column)) - _secs(F.col("_prev"))
    bad = pairs.where(F.col("_prev").isNotNull() & (gap > max_seconds))
    scope = f" within '{by}'" if by else ""
    return violation_rows(
        bad, row_id=F.col(row_id), constraint_id=f"gap:{column}",
        keyword="x-gap", instance_path=f"/{column}",
        schema_path=f"#/x-gap/{column}",
        message=f"Must not gap more than {max_seconds:g} s{scope}",
        actual=F.round(gap, 3), expected=[f"<= {max_seconds:g}"],
        ruleset_name=ruleset_name, severity=severity)


def sessionize(
    df: DataFrame,
    ts_col: str,
    *,
    by: str,
    gap_seconds: float,
    session_col: str = "session_id",
    index_col: str = "session_index",
) -> DataFrame:
    """The constructive twin of :func:`gap_violations`: split each
    ``by``-group's timeline into sessions at every gap larger than
    ``gap_seconds``. Adds ``index_col`` (1-based session ordinal within
    the group) and ``session_col`` (``"<group>-<ordinal>"`` — globally
    unique, stable across reruns) to every row; rows with NULL ``ts_col``
    or NULL group get NULL in both (absent from any session).

    Plan: ONE shuffle on the group key, then a per-group window computing
    the gap flag and its running sum — the shuffle carries the input
    row (sessionization annotates, so the full row rides; project first
    if only keys are needed downstream). Sessionization is inherently
    per-entity — there is deliberately no global form (a global timeline
    session is `gap_violations(by=None)`'s domain as a CHECK; as an
    assignment it would force a total order)."""
    if not gap_seconds > 0:
        raise ValueError(f"gap_seconds must be > 0, got {gap_seconds!r}")

    from pyspark.sql import types as T
    dt = df.schema[ts_col].dataType

    def _secs(c):
        if isinstance(dt, T.TimestampNTZType):
            return F.unix_micros(c.cast("timestamp")) / F.lit(1e6)
        return c.cast("double")

    # NULL timestamps sort FIRST (pinned — engines differ on the default)
    # and contribute 0 to the running flag sum, so they can never shift a
    # real session's ordinal; the first valid row still flags 1 because
    # its lag (a NULL-ts predecessor or nothing) is NULL either way
    w = Window.partitionBy(by).orderBy(F.asc_nulls_first(ts_col))
    in_scope = F.col(ts_col).isNotNull() & F.col(by).isNotNull()
    prev = F.lag(ts_col).over(w)
    new_sess = F.when(
        F.col(ts_col).isNotNull()
        & (prev.isNull()
           | (_secs(F.col(ts_col)) - _secs(prev) > gap_seconds)),
        F.lit(1)).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx = F.sum(new_sess).over(run)
    return df.withColumn(
        index_col, F.when(in_scope, idx)).withColumn(
        session_col,
        F.when(in_scope, F.concat(F.col(by).cast("string"), F.lit("-"),
                                  F.col(index_col).cast("string"))))


def monotonic_violations(
    df: DataFrame,
    column: str,
    *,
    order_by: str,
    row_id: str,
    by: str | None = None,
    direction: str = "non-decreasing",
    n_buckets: int = 64,
    ruleset_name: str = "engine",
    severity: str = "warning",
) -> DataFrame:
    """Violation rows for adjacent-pair ordering failures."""
    if direction not in _OK:
        raise ValueError(f"direction must be one of {DIRECTIONS}, "
                         f"got {direction!r}")
    if by is not None:
        pairs = _pairs_grouped(df, column, order_by, by, row_id)
    else:
        pairs = _pairs_global(df, column, order_by, row_id, n_buckets)
    ok = _OK[direction](F.col(column), F.col("_prev"))
    bad = pairs.where(F.col("_prev").isNotNull() & ~ok)
    scope = f" within '{by}'" if by else ""
    return violation_rows(
        bad, row_id=F.col(row_id), constraint_id=f"monotonic:{column}",
        keyword="x-monotonic", instance_path=f"/{column}",
        schema_path=f"#/x-monotonic/{column}",
        message=f"Must be {direction} over '{order_by}'{scope}",
        actual=F.concat(F.col("_prev").cast("string"), F.lit(" -> "),
                        F.col(column).cast("string")),
        ruleset_name=ruleset_name, severity=severity)


def resample_fill(
    df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    by: str,
    unit: str = "day",
    tie_break: str | None = None,
) -> DataFrame:
    """Per-group time-grid resample with forward fill: bucket ``ts_col``
    to a fixed ``unit`` grid, keep the LAST observed ``value_col`` of
    each bucket, then materialize every bucket from the group's first
    observation to the CORPUS's last bucket, carrying the most recent
    value forward (churned groups keep reporting their last state — the
    classic daily-snapshot build).

    Output: (``by``, bucket, value, is_observed). Ties inside a bucket
    are broken by max ``ts_col`` then max ``tie_break`` (pass the
    table's unique id for total determinism).

    Scale shape: one groupBy((by, bucket)) aggregate (map-side partial,
    carries (key, ts, value) only), a 1-row global-max relation joined
    by broadcast, a per-group ``sequence()`` explode to build the grid
    (output-proportional, no driver loop), and the forward fill as a
    window partitioned BY GROUP — never a global window. The grid
    explode makes output size explicit: groups x buckets rows, the same
    cardinality any snapshot table has.

    SQL twin: DuckDB ``generate_series`` + ``ASOF LEFT JOIN`` (grid.ts
    >= obs.ts picks the latest prior observation == forward fill), so
    driver queries over this operator are fully oracle-checked."""
    if unit not in ("day", "hour", "week", "month", "minute"):
        raise ValueError(f"unsupported resample unit {unit!r}")
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    tb = tie_break if tie_break is not None else ts_col
    obs = (df.where(F.col(ts_col).isNotNull())
             .select(F.col(by).alias("grp"), bucket,
                     F.col(ts_col).alias("_ts"),
                     F.col(tb).alias("_tb"),
                     F.col(value_col).alias("value"))
             .groupBy("grp", "bucket")
             .agg(F.max_by("value", F.struct(F.col("_ts"), F.col("_tb")))
                  .alias("value")))
    # corpus-wide last bucket: 1-row relation, broadcast into the grid
    last = obs.agg(F.max("bucket").alias("_last"))
    span = (obs.groupBy("grp").agg(F.min("bucket").alias("_first"))
               .crossJoin(F.broadcast(last)))
    step = {"day": "interval 1 day", "hour": "interval 1 hour",
            "week": "interval 7 day", "month": "interval 1 month",
            "minute": "interval 1 minute"}[unit]
    grid = span.select(
        "grp",
        F.explode(F.expr(f"sequence(_first, _last, {step})"))
         .alias("bucket"))
    w = (Window.partitionBy("grp").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (grid.join(obs, ["grp", "bucket"], "left")
            .withColumn("is_observed", F.col("value").isNotNull())
            .withColumn("value",
                        F.last("value", ignorenulls=True).over(w))
            .select(F.col("grp").alias(by), "bucket", "value",
                    "is_observed"))


def _bucket_span_expr(first_col: str, last_col: str, unit: str):
    """Approximate bucket count of [first, last] WITHOUT materializing
    the sequence array — the span guard's arithmetic."""
    micros = {"minute": 60e6, "hour": 3.6e9, "day": 86.4e9,
              "week": 604.8e9}.get(unit)
    if micros is not None:
        return ((F.unix_micros(F.col(last_col).cast("timestamp"))
                 - F.unix_micros(F.col(first_col).cast("timestamp")))
                / F.lit(micros))
    return F.months_between(F.col(last_col), F.col(first_col))


def missing_buckets(df: DataFrame, ts_col: str, *, unit: str = "day",
                    by: str | None = None,
                    max_buckets: int = 100_000) -> DataFrame:
    """Calendar completeness: time buckets between the observed min and
    max that contain NO rows — the partition-level hole x-gap's row-gap
    check reports as one big gap but operations teams want as a bucket
    list ("which days are missing from the feed").

    Global form: one aggregate collapses the table to (min, max) bucket
    bounds, the calendar grid explodes from that single row
    (driver-scale), and the observed bucket relation (distinct buckets —
    a map-side-combined aggregate whose shuffle is n_buckets rows) anti
    joins against it. ``by`` gives per-group calendars spanning each
    group's own min..max. Output: (group?, bucket timestamp) rows,
    one per missing bucket.

    Span guard (``max_buckets``, eagerly checked with one driver-scale
    job): ONE corrupt outlier timestamp (an epoch-zero sentinel, a year
    9999) would otherwise inflate the sequence() array to millions of
    elements inside a single row — the defect to report is the sentinel
    row, not an OOM, so an over-long span fails loudly and names the
    observed bounds.
    """
    step = {"day": "interval 1 day", "hour": "interval 1 hour",
            "week": "interval 7 day", "month": "interval 1 month",
            "minute": "interval 1 minute"}.get(unit)
    if step is None:
        raise ValueError(f"unsupported unit {unit!r}")
    if max_buckets <= 0:
        raise ValueError("max_buckets must be > 0")
    bucket = F.date_trunc(unit, F.col(ts_col))
    src = df.where(F.col(ts_col).isNotNull())
    n_span = _bucket_span_expr("_first", "_last", unit)
    if by is None:
        obs = src.select(bucket.alias("bucket")).distinct()
        span = obs.agg(F.min("bucket").alias("_first"),
                       F.max("bucket").alias("_last"))
        probe = span.select("_first", "_last",
                            n_span.alias("_n")).first()
        if probe is not None and probe["_n"] is not None \
                and probe["_n"] > max_buckets:
            raise ValueError(
                f"missing_buckets: span {probe['_first']} .. "
                f"{probe['_last']} is ~{int(probe['_n'])} {unit} buckets "
                f"(> max_buckets={max_buckets}) — almost certainly an "
                "outlier timestamp; find it with x-outlier/column_stats "
                "and filter, or raise max_buckets deliberately")
        grid = span.where(F.col("_first").isNotNull()).select(
            F.explode(F.expr(f"sequence(_first, _last, {step})"))
             .alias("bucket"))
        return grid.join(obs, "bucket", "left_anti").orderBy("bucket")
    obs = src.select(F.col(by).alias("grp"), bucket.alias("bucket")) \
             .distinct()
    span = obs.groupBy("grp").agg(F.min("bucket").alias("_first"),
                                  F.max("bucket").alias("_last"))
    worst = span.select(F.col("grp"), n_span.alias("_n")) \
                .orderBy(F.col("_n").desc()).first()
    if worst is not None and worst["_n"] is not None \
            and worst["_n"] > max_buckets:
        raise ValueError(
            f"missing_buckets: group {worst['grp']!r} spans "
            f"~{int(worst['_n'])} {unit} buckets "
            f"(> max_buckets={max_buckets}) — almost certainly an "
            "outlier timestamp; find it with x-outlier/column_stats "
            "and filter, or raise max_buckets deliberately")
    grid = span.select(
        "grp", F.explode(F.expr(f"sequence(_first, _last, {step})"))
                .alias("bucket"))
    return (grid.join(obs, ["grp", "bucket"], "left_anti")
            .select(F.col("grp").alias(by), "bucket")
            .orderBy(by, "bucket"))


def calendar_violations(df: DataFrame, ts_col: str, *,
                        unit: str = "day", by: str | None = None,
                        max_buckets: int = 100_000,
                        ruleset_name: str = "engine",
                        severity: str = "warning") -> DataFrame:
    """Violation rows (x-calendar) — one per missing calendar bucket."""
    miss = missing_buckets(df, ts_col, unit=unit, by=by,
                           max_buckets=max_buckets)
    rid = (F.col(by).cast("string") if by is not None
           else F.lit("all"))
    return violation_rows(
        miss, row_id=rid, constraint_id=f"calendar:{ts_col}",
        keyword="x-calendar", instance_path=f"/{ts_col}",
        schema_path=f"#/x-calendar/{ts_col}",
        message=F.concat(F.lit(f"Must cover every {unit}: no rows in "),
                         F.col("bucket").cast("string")),
        actual=F.col("bucket"), ruleset_name=ruleset_name,
        severity=severity)


def freshness_violations(df: DataFrame, ts_col: str, *,
                         max_age_seconds: float, as_of=None,
                         by: str | None = None,
                         ruleset_name: str = "engine",
                         severity: str = "warning") -> DataFrame:
    """Data freshness (x-freshness): the newest row (per group with
    ``by``) must be no older than ``max_age_seconds`` at ``as_of``
    (a timestamp Column/literal string; defaults to current_timestamp()
    — pass it explicitly for reproducible runs and oracles). One
    max-aggregate — shuffle is one row per group. A group whose rows are
    all NULL-timestamped violates with actual NULL (no evidence of
    freshness is staleness, fail-closed)."""
    if max_age_seconds <= 0:
        raise ValueError("max_age_seconds must be > 0")
    if by is None:
        agg = df.agg(F.max(F.col(ts_col)).alias("_newest"))
        rid = F.lit("all")
    else:
        agg = df.groupBy(F.col(by)).agg(
            F.max(F.col(ts_col)).alias("_newest"))
        rid = F.col(by).cast("string")
    as_of_c = (F.current_timestamp() if as_of is None
               else (F.lit(as_of).cast("timestamp")
                     if isinstance(as_of, str) else as_of))
    # NTZ columns cast through the UTC-pinned session timestamp so the
    # age matches the oracle's epoch() (same policy as asof._ord_expr)
    age = (F.unix_micros(as_of_c.cast("timestamp")) / 1e6
           - F.unix_micros(F.col("_newest").cast("timestamp")) / 1e6)
    stale = agg.where(F.col("_newest").isNull()
                      | (age > F.lit(float(max_age_seconds))))
    return violation_rows(
        stale, row_id=rid, constraint_id=f"freshness:{ts_col}",
        keyword="x-freshness", instance_path=f"/{ts_col}",
        schema_path=f"#/x-freshness/{ts_col}",
        message=F.when(F.col("_newest").isNull(),
                       F.lit(f"Must be fresh: no non-NULL '{ts_col}' rows"))
        .otherwise(F.concat(F.lit("Must be fresh: newest row is "),
                            F.round(age, 1).cast("string"),
                            F.lit(f" s old (limit {max_age_seconds})"))),
        actual=F.col("_newest"), ruleset_name=ruleset_name,
        severity=severity)
