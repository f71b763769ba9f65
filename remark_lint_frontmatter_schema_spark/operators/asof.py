"""Distributed as-of (nearest-predecessor/successor) temporal join.

Joins each left row to the single right row with the greatest timestamp
``<=`` the left row's timestamp (``direction="backward"``, the default —
inclusive, matching DuckDB/pandas ``ASOF JOIN`` semantics) or the smallest
timestamp ``>=`` it (``"forward"``), per join key. The canonical
training-data uses: attach to every clip/event the most recent
configuration, label, consent, or model-version row in force at its
timestamp.

Reference parity: the reference engine (remark-lint-frontmatter-schema,
``/root/reference/index.ts``) has no temporal operators; this belongs to
the training-data operator family the north-star adds.

Two physical strategies, identical results (a test pins equivalence and
the driver runs both against the same DuckDB ``ASOF JOIN`` oracle):

* :func:`asof_join` — union both sides, one window per key ordered by
  (ts, side) taking the running last right payload. ONE shuffle, on the
  join key alone. Right for modest per-key row counts; a pathologically
  hot key becomes a single (spillable, but serial) window task.
* :func:`asof_join_bucketed` — the 100 TB skew path. Rows hash by
  ``(key, time_bucket)`` so no task ever sees more than one bucket of one
  key. Within-bucket as-of runs exactly as above; matches that cross a
  bucket boundary are restored by a carry relation — the last right row
  of every ``(key, bucket)`` (one groupBy ``max_by``), cumulated per key
  over *buckets* (a window whose partitions are tiny: one row per
  key x bucket), range-joined back as "latest strictly-earlier bucket".
  Cost: the one big shuffle is on ``(key, bucket)``; everything keyed
  only by ``key`` is bucket-granular, i.e. ~rows/bucket_span smaller.

Neither path compares every left row to every right row — no range join,
no cross product, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .validate import violation_rows

__all__ = ["asof_join", "asof_join_bucketed", "asof_ref_violations"]

_ORD = "_asof_ord"
_SIDE = "_asof_side"
_PAY = "_asof_pay"
_BKT = "_asof_bkt"


def _ord_expr(df: DataFrame, ts_col: str, direction: str):
    """Numeric, direction-normalized ordering key.

    Timestamps become microseconds since epoch so bucket arithmetic and
    range frames work; ``forward`` negates so "greatest <=" uniformly
    means "nearest at-or-before in ordering space". Returns (column,
    units_per_second, kind) — ``ups`` converts a seconds-valued
    ``bucket`` / ``tolerance`` for timestamp columns (1.0 for numeric
    columns, whose units are the caller's own); ``kind`` lets callers
    refuse to mix ordinal spaces (epoch-micros vs epoch-seconds vs raw
    numbers) whose comparison would be silently meaningless.
    """
    dt = df.schema[ts_col].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # NTZ: unix_micros wants an instant; the zoneless wall-clock is
        # order-isomorphic under any fixed zone, so pin UTC. NTZ gets its
        # OWN kind: mixing a zoned and a zoneless column across sides
        # would derive the NTZ ordinal via a session-timezone cast,
        # silently shifting matches by the session's UTC offset —
        # _check_same_kind refuses the mix instead.
        c = F.col(ts_col)
        if isinstance(dt, T.TimestampNTZType):
            c = F.to_utc_timestamp(c.cast("timestamp"), "UTC")
            ord_c, ups, kind = F.unix_micros(c), 1_000_000.0, "timestamp_ntz"
        else:
            ord_c, ups, kind = F.unix_micros(c), 1_000_000.0, "timestamp"
    elif isinstance(dt, T.DateType):
        ord_c, ups, kind = (F.col(ts_col).cast("timestamp").cast("long"),
                            1.0, "date")
    elif isinstance(dt, (T.NumericType,)):
        ord_c, ups, kind = F.col(ts_col).cast("double"), 1.0, "numeric"
    else:
        raise TypeError(
            f"asof_join: unsupported timestamp column type {dt} "
            f"for {ts_col!r} (timestamp, date, or numeric)")
    if direction == "forward":
        ord_c = -ord_c
    elif direction != "backward":
        raise ValueError("direction must be 'backward' or 'forward'")
    return ord_c, ups, kind


def _check_same_kind(*labeled_kinds):
    """Refuse mixed ordinal spaces: (label, kind) pairs must agree."""
    kinds = {k for _, k in labeled_kinds}
    if len(kinds) > 1:
        detail = ", ".join(f"{lbl}={k}" for lbl, k in labeled_kinds)
        raise TypeError(
            "temporal join: time columns use different units "
            f"({detail}) — epoch-micros vs raw numbers would compare "
            "meaninglessly; cast both sides to one type first")


def _prepare(left: DataFrame, right: DataFrame, on: list[str],
             left_ts: str, right_ts: str, payload: list[str],
             direction: str):
    """Union-ready sides: right collapsed to (keys, ord, side=0, payload
    struct incl. its own ord for tolerance), left intact with side=1."""
    for c in (_ORD, _SIDE, _PAY, _BKT):
        if c in left.columns:
            raise ValueError(f"asof_join: left side already has {c!r}")
    lo, ups, lkind = _ord_expr(left, left_ts, direction)
    ro, _, rkind = _ord_expr(right, right_ts, direction)
    _check_same_kind((f"left.{left_ts}", lkind), (f"right.{right_ts}", rkind))
    # SQL join semantics: a NULL key matches NOTHING — but a window
    # partitionBy groups NULLs together, so NULL-key right rows must be
    # dropped here (NULL-key left rows then sit in an empty partition
    # and come out unmatched, exactly like DuckDB's ASOF LEFT JOIN)
    r_keys_ok = F.lit(True)
    for k in on:
        r_keys_ok = r_keys_ok & F.col(k).isNotNull()
    r = (right.where(F.col(right_ts).isNotNull() & r_keys_ok)
              .select(*on, ro.alias(_ORD), F.lit(0).alias(_SIDE),
                      F.struct(ro.alias("_rts"),
                               *[F.col(p) for p in payload]).alias(_PAY)))
    l = left.select("*", lo.alias(_ORD), F.lit(1).alias(_SIDE))
    return l, r, ups


def _emit(matched, left_cols: list[str], payload: list[str],
          tolerance, ups: float, suffix: str) -> DataFrame:
    """Project left columns + matched payload fields (suffixed on name
    collision), applying the tolerance cut (match older/farther than
    ``tolerance`` counts as no match)."""
    m = F.col(_PAY)
    if tolerance is not None:
        m = F.when(F.col(_ORD) - F.col(_PAY)["_rts"]
                   <= float(tolerance) * ups, m)
    out_cols = [F.col(c) for c in left_cols]
    for p in payload:
        name = p + suffix if p in left_cols else p
        out_cols.append(m[p].alias(name))
    return matched.where(F.col(_SIDE) == 1).select(*out_cols)


def asof_join(left: DataFrame, right: DataFrame, *, on: list[str] | str,
              left_ts: str, right_ts: str | None = None,
              payload: list[str] | None = None,
              direction: str = "backward",
              tolerance: float | None = None,
              suffix: str = "_asof") -> DataFrame:
    """Left as-of join: every left row, plus ``payload`` columns from the
    nearest right row at-or-before (``backward``) / at-or-after
    (``forward``) its timestamp within the same ``on`` key; NULL payload
    when no such row exists (or it is farther than ``tolerance`` seconds
    for timestamp columns / key units for numeric ones).

    Physical plan: union(left, right-projected) -> one shuffle on ``on``
    -> running ``last(payload, ignorenulls)`` over (ts, side) order. The
    side tiebreak makes equal timestamps inclusive (right visible to left
    at the same instant), matching DuckDB ``ASOF JOIN ... ON l.ts >=
    r.ts``. The payload travels as ONE struct so a right row whose
    payload fields are genuinely NULL still wins over an older row.
    """
    on = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    if payload is None:
        payload = [c for c in right.columns if c not in (*on, right_ts)]
    l, r, ups = _prepare(left, right, on, left_ts, right_ts, payload,
                         direction)
    u = l.unionByName(r, allowMissingColumns=True)
    w = (Window.partitionBy(*on).orderBy(_ORD, _SIDE)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = u.withColumn(_PAY, F.last(_PAY, ignorenulls=True).over(w))
    return _emit(matched, left.columns, payload, tolerance, ups, suffix)


def asof_join_bucketed(left: DataFrame, right: DataFrame, *,
                       on: list[str] | str, left_ts: str, bucket: float,
                       right_ts: str | None = None,
                       payload: list[str] | None = None,
                       direction: str = "backward",
                       tolerance: float | None = None,
                       suffix: str = "_asof",
                       reuse: bool = True) -> DataFrame:
    """:func:`asof_join` semantics with ``(key, time-bucket)`` shuffle
    granularity — the skew-proof scale path. ``bucket`` is in seconds for
    timestamp columns, key units for numeric ones.

    Three stages: (1) within-bucket as-of exactly as the simple path but
    partitioned by (key, bucket); (2) per-(key, bucket) last right row
    (``max_by`` groupBy — map-side combinable); (3) a per-key window over
    *buckets* with ``rangeBetween(unboundedPreceding, -1)`` yields the
    carry-in state of each left bucket (strictly-earlier buckets only —
    same-bucket rows were already decided in stage 1), joined back on
    (key, bucket) and coalesced under the within-bucket match. Stage 3's
    window partitions hold one row per key x bucket, so a key hot enough
    to break the simple path costs buckets-not-rows here.
    """
    on = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    if payload is None:
        payload = [c for c in right.columns if c not in (*on, right_ts)]
    if bucket <= 0:
        raise ValueError("bucket must be > 0")
    l, r, ups = _prepare(left, right, on, left_ts, right_ts, payload,
                         direction)
    # r feeds two subtrees (the union AND the bucket-finals groupBy) and
    # Spark never dedupes aliased subtrees — persist the narrow right
    # projection so the dim side is read once (reuse=False opts out).
    # l is deliberately NOT persisted: its second subtree (left_bkts) is
    # a column-pruned distinct over keys+ts — far cheaper than
    # materializing the full left relation at the 10^12-row design point.
    from .dedup import _persist, _track
    if reuse:
        r = _persist(r)
    bkt = F.floor(F.col(_ORD) / F.lit(float(bucket) * ups))

    u = (l.unionByName(r, allowMissingColumns=True)
          .withColumn(_BKT, bkt))
    win = (Window.partitionBy(*on, _BKT).orderBy(_ORD, _SIDE)
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    within = (u.withColumn(_PAY, F.last(_PAY, ignorenulls=True).over(win))
               .where(F.col(_SIDE) == 1))

    finals = (r.withColumn(_BKT, bkt)
               .groupBy(*on, _BKT)
               .agg(F.max_by(_PAY, _ORD).alias("_fin")))
    left_bkts = (l.where(F.col(_ORD).isNotNull())
                  .select(*on, bkt.alias(_BKT)).distinct()
                  .withColumn("_fin", F.lit(None).cast(
                      finals.schema["_fin"].dataType))
                  .withColumn("_is_left", F.lit(1)))
    cw = (Window.partitionBy(*on).orderBy(_BKT)
                .rangeBetween(Window.unboundedPreceding, -1))
    carry = (finals.withColumn("_is_left", F.lit(0))
             .unionByName(left_bkts)
             .withColumn("_carry", F.last("_fin", ignorenulls=True).over(cw))
             .where(F.col("_is_left") == 1)
             .select(*on, _BKT, "_carry"))

    matched = (within.join(carry, [*on, _BKT], "left")
                     .withColumn(_PAY, F.coalesce(_PAY, "_carry")))
    out = _emit(matched, left.columns, payload, tolerance, ups, suffix)
    return _track(out, r) if reuse else out


def asof_ref_violations(fact: DataFrame, fact_key: str, dim: DataFrame,
                        dim_key: str, *, ts_col: str, dim_ts: str,
                        row_id: str, tolerance: float | None = None,
                        direction: str = "backward",
                        bucket: float | None = None,
                        ruleset_name: str = "engine",
                        severity: str = "warning") -> DataFrame:
    """TEMPORAL referential integrity — the ``x-ref-asof`` table check:
    every fact row must have a ``dim`` row with the same key IN FORCE at
    its timestamp (a dim row at-or-before ``ts_col``, within
    ``tolerance`` seconds if given; ``direction="forward"`` flips to
    at-or-after). The training-data canon: "every clip must have a
    consent/config/label-schema record effective at record time" —
    plain ``x-ref`` can't see that a key exists but only LATER.

    NULL fact key or NULL fact ts never violates here (``required`` /
    ``type`` own those findings). ``bucket`` switches to the
    skew-proof :func:`asof_join_bucketed` plan.

    Reference parity: composes the reference's Ajv-shaped violation row
    (message/keyword/paths mirroring ``index.ts:201-320``'s VFile
    messages) with a temporal relation the single-document reference
    cannot express.
    """
    # dict.fromkeys: row_id may BE the key or ts column — a duplicate
    # name in the projection would make every later reference ambiguous
    # (the fd.py / sequence.py lesson)
    left = (fact.select(*dict.fromkeys([row_id, fact_key, ts_col]))
                .where(F.col(fact_key).isNotNull()
                       & F.col(ts_col).isNotNull()))
    right = dim.select(F.col(dim_key).alias(fact_key),
                       F.col(dim_ts).alias("_dim_ts"),
                       F.lit(True).alias("_matched"))
    kw = dict(on=[fact_key], left_ts=ts_col, right_ts="_dim_ts",
              payload=["_matched"], direction=direction,
              tolerance=tolerance)
    joined = (asof_join_bucketed(left, right, bucket=bucket, **kw)
              if bucket else asof_join(left, right, **kw))
    when = "at" if direction == "backward" else "by"
    tol = f" within {tolerance:g}s" if tolerance is not None else ""
    return violation_rows(
        joined.where(F.col("_matched").isNull()), row_id=F.col(row_id),
        constraint_id=f"ref-asof:{fact_key}->{dim_key}@{dim_ts}",
        keyword="ref-asof", instance_path=f"/{fact_key}",
        schema_path=f"#/x-ref-asof/{fact_key}",
        message=(f"Must reference a '{dim_key}' effective {when} "
                 f"`{ts_col}`{tol}"),
        actual=F.concat_ws("@", F.col(fact_key).cast("string"),
                           F.col(ts_col).cast("string")),
        ruleset_name=ruleset_name, severity=severity)
