"""Bucketed range joins: point-in-interval and interval-overlap.

Spark has no native range/interval join — a naive ``a.join(b, a.s <= b.e
AND b.s <= a.e)`` plans as BroadcastNestedLoopJoin or CartesianProduct,
O(|a| x |b|) at 10^12 rows. The classic fix (pgrouting / TimescaleDB /
"bucketed interval join"): quantize time into fixed buckets, explode each
interval to the buckets it covers, and equi-join on ``(key, bucket)`` so
Catalyst plans an ordinary shuffled hash/sort-merge join; the range
predicate then runs only within bucket-collocated candidates.

De-duplication without a distinct: an overlapping pair shares every
bucket their intersection covers, so the join would emit it once per
shared bucket — each pair is instead counted ONLY in the first bucket of
the overlap (``bucket == floor(max(starts)/width)``), a pure predicate,
no shuffle. A point lives in exactly one bucket, so the point-in-interval
form needs no dedup at all.

Bucket sizing is the caller's scale lever: ~the typical interval length.
Too small explodes long intervals (guarded — an interval spanning more
than ``max_span_buckets`` fails loudly rather than OOMing an executor);
too large degrades toward per-key cross products. Everything here is
JVM Column expressions (sequence/explode/equi-join) — no Python stage.

Reference parity: the reference engine (remark-lint-frontmatter-schema,
``/root/reference/index.ts``) has no temporal operators; this is part of
the training-data operator family (attribute events to sessions, align
audio chunk spans with annotation spans) the north-star adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .asof import _check_same_kind, _ord_expr
from .validate import violation_rows

__all__ = ["point_in_interval_join", "interval_overlap_join",
           "interval_ref_violations"]


def _guarded_buckets(s_ord, e_ord, width: float, max_span_buckets: int):
    """``sequence(floor(s/w), floor(e/w))`` with a loud per-row guard: the
    assert rides INSIDE the sequence bounds (coalesce of assert_true's
    NULL) so column pruning can never silently drop it."""
    fs, fe = F.floor(s_ord / width), F.floor(e_ord / width)
    ok = F.coalesce(
        F.assert_true(
            fe - fs < F.lit(int(max_span_buckets)),
            F.lit("interval_join: interval spans > "
                  f"{max_span_buckets} buckets — raise `bucket` or "
                  "max_span_buckets"),
        ).cast("long"),
        F.lit(0))
    return F.sequence(fs + ok, fe)


def _ords(df: DataFrame, col: str):
    return _ord_expr(df, col, "backward")


def _check_reserved(df: DataFrame, names: tuple, side: str) -> None:
    """Mirror asof._prepare's guard: inputs already carrying a temp
    column name would produce an ambiguous-column analysis error (or a
    silently wrong join) — fail loudly instead."""
    clash = [c for c in names if c in df.columns]
    if clash:
        raise ValueError(
            f"interval join: {side} side already has reserved column(s) "
            f"{clash} — rename them before joining")


def point_in_interval_join(points: DataFrame, intervals: DataFrame, *,
                           on: list[str] | str, point_ts: str,
                           start_col: str, end_col: str, bucket: float,
                           payload: list[str] | None = None,
                           how: str = "inner", suffix: str = "_iv",
                           max_span_buckets: int = 4096) -> DataFrame:
    """Join each point row to every interval row (same ``on`` key) whose
    ``[start_col, end_col]`` contains ``point_ts`` — both ends inclusive.
    ``bucket`` is in seconds for timestamp columns, key units for numeric.

    Plan: intervals explode to covered buckets (guarded), points compute
    their single bucket; one equi-join on ``(on, bucket)`` + the between
    predicate. A point inside k intervals yields k rows (``inner``) —
    with ``how="left"`` unmatched points survive with NULL payload.
    Intervals with NULL/inverted bounds match nothing; NULL-ts points
    match nothing (kept under ``left``).
    """
    on = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    if bucket <= 0:
        raise ValueError("bucket must be > 0")
    if payload is None:
        payload = [c for c in intervals.columns
                   if c not in (*on, start_col, end_col)]
    _check_reserved(points, ("_pt_ord", "_iv_bkt"), "points")
    _check_reserved(intervals, ("_iv_s", "_iv_e", "_iv_pay", "_iv_bkt"),
                    "intervals")
    p_ord, ups, pk = _ords(points, point_ts)
    s_ord, _, sk = _ords(intervals, start_col)
    e_ord, _, ek = _ords(intervals, end_col)
    _check_same_kind((f"points.{point_ts}", pk),
                     (f"intervals.{start_col}", sk),
                     (f"intervals.{end_col}", ek))
    width = float(bucket) * ups

    iv = (intervals
          .where(F.col(start_col).isNotNull() & F.col(end_col).isNotNull())
          .where(s_ord <= e_ord)
          .select(*on, s_ord.alias("_iv_s"), e_ord.alias("_iv_e"),
                  F.struct(*[F.col(c) for c in payload]).alias("_iv_pay"))
          .withColumn("_iv_bkt", F.explode(
              _guarded_buckets(F.col("_iv_s"), F.col("_iv_e"), width,
                               max_span_buckets))))
    pts = points.select("*", p_ord.alias("_pt_ord"),
                        F.floor(p_ord / width).alias("_iv_bkt"))
    cond = [pts[k] == iv[k] for k in on] + [
        pts["_iv_bkt"] == iv["_iv_bkt"],
        pts["_pt_ord"] >= iv["_iv_s"],
        pts["_pt_ord"] <= iv["_iv_e"],
    ]
    joined = pts.join(iv, cond, how)
    out_cols = [pts[c] for c in points.columns]
    for c in payload:
        name = c + suffix if c in points.columns else c
        out_cols.append(iv["_iv_pay"][c].alias(name))
    return joined.select(*out_cols)


def interval_overlap_join(a: DataFrame, b: DataFrame, *,
                          on: list[str] | str,
                          a_start: str, a_end: str,
                          b_start: str, b_end: str, bucket: float,
                          a_keep: list[str], b_keep: list[str],
                          suffix: str = "_b",
                          max_span_buckets: int = 4096) -> DataFrame:
    """All (a-row, b-row) pairs with the same ``on`` key whose closed
    intervals overlap (``a_start <= b_end AND b_start <= a_end``).
    Output columns: ``on`` keys + ``a_keep`` + ``b_keep`` (b's suffixed on
    name collision).

    Both sides explode to covered buckets and equi-join on ``(on,
    bucket)``; each overlapping pair is emitted exactly once — only in
    the first bucket of the overlap (``bucket ==
    floor(greatest(starts)/width)``), a predicate instead of a distinct,
    so no extra shuffle. NULL/inverted intervals never pair.
    """
    on = [on] if isinstance(on, str) else list(on)
    if bucket <= 0:
        raise ValueError("bucket must be > 0")
    _check_reserved(a, ("_ov_bkt", "_a_s", "_a_e", "_a_pay"), "a")
    _check_reserved(b, ("_ov_bkt", "_b_s", "_b_e", "_b_pay"), "b")

    def _side(df, s_col, e_col, keep, tag):
        s_ord, ups, sk = _ords(df, s_col)
        e_ord, _, ek = _ords(df, e_col)
        _check_same_kind((f"{tag}.{s_col}", sk), (f"{tag}.{e_col}", ek))
        kind = sk
        width = float(bucket) * ups
        return (df.where(F.col(s_col).isNotNull()
                         & F.col(e_col).isNotNull())
                  .where(s_ord <= e_ord)
                  .select(*on, s_ord.alias(f"_{tag}_s"),
                          e_ord.alias(f"_{tag}_e"),
                          F.struct(*[F.col(c) for c in keep])
                           .alias(f"_{tag}_pay"))
                  .withColumn("_ov_bkt", F.explode(_guarded_buckets(
                      F.col(f"_{tag}_s"), F.col(f"_{tag}_e"), width,
                      max_span_buckets)))), width, kind

    ax, width, a_kind = _side(a, a_start, a_end, a_keep, "a")
    bx, b_width, b_kind = _side(b, b_start, b_end, b_keep, "b")
    _check_same_kind((f"a.{a_start}", a_kind), (f"b.{b_start}", b_kind))
    if width != b_width:
        raise TypeError(
            "interval_overlap_join: sides use different time units "
            "(timestamp vs numeric) — bucket grids would not align")
    cond = [ax[k] == bx[k] for k in on] + [
        ax["_ov_bkt"] == bx["_ov_bkt"],
        ax["_a_s"] <= bx["_b_e"],
        bx["_b_s"] <= ax["_a_e"],
        # count each pair only in the first bucket of its overlap
        ax["_ov_bkt"] == F.floor(F.greatest(ax["_a_s"], bx["_b_s"])
                                 / F.lit(width)),
    ]
    joined = ax.join(bx, cond, "inner")
    out = [ax[k] for k in on]
    out += [ax["_a_pay"][c].alias(c) for c in a_keep]
    for c in b_keep:
        name = c + suffix if c in a_keep or c in on else c
        out.append(bx["_b_pay"][c].alias(name))
    return joined.select(*out)


def interval_ref_violations(fact: DataFrame, fact_key: str,
                            dim: DataFrame, dim_key: str, *, ts_col: str,
                            start_col: str, end_col: str, bucket: float,
                            row_id: str, ruleset_name: str = "engine",
                            severity: str = "warning",
                            max_span_buckets: int = 4096) -> DataFrame:
    """INTERVAL referential integrity — the ``x-ref-interval`` table
    check: every fact row's timestamp must fall inside at least one
    ``dim`` interval (closed ``[start_col, end_col]``) with the same
    key. The training-data canon: "every clip must lie inside a
    licensed-collection / consent-validity window of its speaker" —
    x-ref-asof sees only the most recent boundary, not windows that
    have since CLOSED.

    NULL fact key or NULL fact ts never violates here (``required`` /
    ``type`` own those); NULL/inverted dim intervals cover nothing.
    Runs on :func:`point_in_interval_join` (``how="left"``) so the plan
    is the bucketed equi-join, never a cartesian; an unmatched point
    appears exactly once.

    Reference parity: composes the reference's Ajv-shaped violation row
    (``/root/reference/index.ts:201-320`` message shape) with a range
    relation the single-document reference cannot express.
    """
    # dict.fromkeys: row_id may BE the key or ts column (the fd.py /
    # asof.py lesson)
    pts = (fact.select(*dict.fromkeys([row_id, fact_key, ts_col]))
               .where(F.col(fact_key).isNotNull()
                      & F.col(ts_col).isNotNull()))
    iv = dim.select(F.col(dim_key).alias(fact_key),
                    F.col(start_col), F.col(end_col),
                    F.lit(True).alias("_covered"))
    joined = point_in_interval_join(
        pts, iv, on=[fact_key], point_ts=ts_col, start_col=start_col,
        end_col=end_col, bucket=bucket, payload=["_covered"], how="left",
        max_span_buckets=max_span_buckets)
    return violation_rows(
        joined.where(F.col("_covered").isNull()), row_id=F.col(row_id),
        constraint_id=(f"ref-interval:{fact_key}->{dim_key}"
                       f"[{start_col},{end_col}]"),
        keyword="ref-interval", instance_path=f"/{fact_key}",
        schema_path=f"#/x-ref-interval/{fact_key}",
        message=(f"Must fall inside a '{dim_key}' interval "
                 f"[{start_col}, {end_col}] at `{ts_col}`"),
        actual=F.concat_ws("@", F.col(fact_key).cast("string"),
                           F.col(ts_col).cast("string")),
        ruleset_name=ruleset_name, severity=severity)
