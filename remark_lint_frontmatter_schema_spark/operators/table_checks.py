"""Run a compiled ruleset's table-level declarations (x-unique / x-ref /
x-drift / x-dedup / ...) and union them with the row-level violations —
the full north_star check set (expressions + codec UDFs + uniqueness +
referential + drift + duplicate-content) driven by ONE declarative
document.

Row-level checks stay in the one-projection scan (operators/validate.py);
each table check is its own relational pass (salted aggregate / broadcast
anti-join / window) whose violation rows share the exact row-relation
shape, so the union is a plain ``unionByName``. Folding a check into the
validation projection is deliberately NOT done — a groupBy/join there
would force the whole row payload through the shuffle.

One strategy: independent, column-pruned passes, one per check. Each
pass reads only the columns its own check names (ids, keys, timestamps;
a test pins each parquet scan's ReadSchema) and leaves shuffle merging
to map-side combine and AQE. Nothing is persisted here. Two
alternatives were measured and deleted:

* a tagged explode that ran every aggregation check through ONE shared
  groupBy — it multiplies rows by the check count before the partial
  aggregate, to merge shuffles that are already tiny after map-side
  combine;
* a persisted narrow projection shared by every narrow check (one live
  fact read) — the cache build and its columnar reads cost more than the
  pruned re-scans they save.

Measured on an 8-check ruleset with byte-identical violation rows (all
runs in BASELINE.md): x40 stress lineitem (24M rows, local[32])
independent 8.9 s, shared cache 14.0 s, explode 24.2 s; sf0.1 lineitem
on a 4-core host 4.4 s, 6.7 s and 14.1 s.

Dispatch is one table, ``kind -> runner(df, column, params, ctx)``.
Kinds that join another relation name it through one param
(:data:`_DIM_PARAM`) and share one missing-dim guard.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.compiler import CompiledRuleset
from .validate import ValidationResult, validate


@dataclass
class TableValidationResult:
    row: ValidationResult
    table_violations: DataFrame | None   # union of x-unique / x-ref passes
    violations: DataFrame                # row ∪ table


@dataclass(frozen=True)
class _Ctx:
    ruleset_name: str
    row_id: str
    dims: dict

    def kw(self, params: dict) -> dict:
        """The ``ruleset_name``/``severity`` pair every runner passes."""
        return {"ruleset_name": self.ruleset_name,
                "severity": params.get("severity", "warning")}


def _unique(df, column, p, ctx):
    from .uniqueness import uniqueness_violations
    return uniqueness_violations(df, column, **ctx.kw(p))


def _unique_multi(df, column, p, ctx):
    from .uniqueness import uniqueness_violations_multi
    return uniqueness_violations_multi(df, p["keys"], **ctx.kw(p))


def _ref(df, column, p, ctx):
    from .referential import referential_violations
    return referential_violations(
        df, column, ctx.dims[p["dim"]], p["key"], row_id=ctx.row_id,
        use_bloom=p["bloom"], n_items_hint=p.get("n_items"), **ctx.kw(p))


def _ref_asof(df, column, p, ctx):
    from .asof import asof_ref_violations
    return asof_ref_violations(
        df, column, ctx.dims[p["dim"]], p["key"], ts_col=p["ts"],
        dim_ts=p["dim_ts"], row_id=ctx.row_id,
        tolerance=p.get("tolerance"),
        direction=p.get("direction", "backward"), bucket=p.get("bucket"),
        **ctx.kw(p))


def _ref_interval(df, column, p, ctx):
    from .intervals import interval_ref_violations
    return interval_ref_violations(
        df, column, ctx.dims[p["dim"]], p["key"], ts_col=p["ts"],
        start_col=p["start"], end_col=p["end"], bucket=p["bucket"],
        row_id=ctx.row_id, **ctx.kw(p))


def _reconcile(df, column, p, ctx):
    from .reconcile import reconcile_violations
    return reconcile_violations(
        ctx.dims[p["fact"]], df, key=p["key"], fact_key=p.get("fact_key"),
        fact_value=p["fact_value"], dim_value=column,
        agg=p.get("agg", "sum"), tolerance=p.get("tolerance", 0.0),
        on_missing=p.get("on_missing", "violate"), **ctx.kw(p))


def _decontaminate(df, column, p, ctx):
    from .decontaminate import contamination_violations
    return contamination_violations(
        df, ctx.dims[p["bench"]], column, p["id"],
        bench_text_col=p.get("bench_text_col"),
        bench_id_col=p.get("bench_id_col"), n=p["n"],
        min_shared=p["min_shared"], use_bloom=p.get("bloom", False),
        n_items_hint=p.get("n_items"), **ctx.kw(p))


def _mask(df, column, p, ctx):
    from .stats import mask_violations
    return mask_violations(df, column, expect=p["expect"],
                           min_share=p["min_share"], by=p.get("by"),
                           **ctx.kw(p))


def _corr(df, column, p, ctx):
    from .stats import correlation_violations
    return correlation_violations(df, column, p["with"],
                                  min_abs=p["min_abs"], by=p.get("by"),
                                  **ctx.kw(p))


def _quantile(df, column, p, ctx):
    from .stats import quantile_violations
    return quantile_violations(df, column, q=p["q"], lo=p["lo"],
                               hi=p["hi"], by=p.get("by"),
                               approx=p.get("approx", False), **ctx.kw(p))


def _benford(df, column, p, ctx):
    from .drift import benford_violations
    return benford_violations(df, column, max_mad=p["max_mad"],
                              by=p.get("by"), **ctx.kw(p))


def _drift(df, column, p, ctx):
    from .drift import drift_violations
    return drift_violations(df, column, ruleset_name=ctx.ruleset_name, **p)


def _calendar(df, column, p, ctx):
    from .sequence import calendar_violations
    return calendar_violations(df, column, unit=p.get("unit", "day"),
                               by=p.get("by"),
                               max_buckets=p.get("max_buckets", 100_000),
                               **ctx.kw(p))


def _freshness(df, column, p, ctx):
    from .sequence import freshness_violations
    return freshness_violations(df, column,
                                max_age_seconds=p["max_age_seconds"],
                                as_of=p.get("as_of"), by=p.get("by"),
                                **ctx.kw(p))


def _gap(df, column, p, ctx):
    from .sequence import gap_violations
    return gap_violations(df, column, row_id=p.get("id") or ctx.row_id,
                          max_seconds=p["max_seconds"], by=p.get("by"),
                          n_buckets=p["n_buckets"], **ctx.kw(p))


def _monotonic(df, column, p, ctx):
    from .sequence import monotonic_violations
    return monotonic_violations(df, column, order_by=p["order_by"],
                                row_id=p.get("id") or ctx.row_id,
                                by=p.get("by"), direction=p["direction"],
                                n_buckets=p["n_buckets"], **ctx.kw(p))


def _skew(df, column, p, ctx):
    from .skew import skew_violations
    return skew_violations(df, column, max_share=p["max_share"],
                           top_k=p.get("top_k", 10), by=p.get("by"),
                           **ctx.kw(p))


def _outlier(df, column, p, ctx):
    from .outliers import outlier_violations
    return outlier_violations(df, column, row_id=p["id"] or ctx.row_id,
                              k=p["k"], group_col=p.get("by"),
                              approx=p["approx"], **ctx.kw(p))


def _volume(df, column, p, ctx):
    from .outliers import volume_violations
    return volume_violations(df, column, unit=p.get("unit", "day"),
                             k=p.get("k", 3.5), by=p.get("by"),
                             **ctx.kw(p))


def _fd(df, column, p, ctx):
    from .fd import fd_violations
    return fd_violations(df, column, p["determined_by"],
                         row_id=p.get("id") or ctx.row_id, **ctx.kw(p))


def _readability(df, column, p, ctx):
    from .text import readability_violations
    return readability_violations(df, column, p["id"], lo=p["lo"],
                                  hi=p["hi"], **ctx.kw(p))


def _gibberish(df, column, p, ctx):
    from .text import gibberish_violations
    return gibberish_violations(df, column, p["id"],
                                min_logp=p["min_logp"], **ctx.kw(p))


def _gopher(df, column, p, ctx):
    from .text import gopher_violations
    return gopher_violations(df, column, p["id"], rules=p.get("rules"),
                             **ctx.kw(p))


def _c4(df, column, p, ctx):
    from .text import c4_violations
    return c4_violations(df, column, p["id"],
                         min_words_per_line=p["min_words_per_line"],
                         min_sentences=p["min_sentences"], **ctx.kw(p))


def _lm_ppl(df, column, p, ctx):
    from .lm import lm_ppl_violations
    return lm_ppl_violations(df, column, p["id"], max_ppl=p["max_ppl"],
                             n=p.get("n", 2), k=p.get("k", 0.5),
                             **ctx.kw(p))


def _dedup(df, column, p, ctx):
    from .clusters import dedup_violations
    return dedup_violations(df, column, p["id"], method=p["method"],
                            block_col=p.get("block"), n=p["n"],
                            threshold=p["threshold"],
                            max_distance=p.get("max_distance", 3),
                            **ctx.kw(p))


def _dup_ngram(df, column, p, ctx):
    from .dedup import dup_ngram_violations
    return dup_ngram_violations(df, column, p["id"], n=p["n"],
                                max_frac=p["max_frac"], **ctx.kw(p))


def _leakage(df, column, p, ctx):
    from .sampling import leakage_violations
    return leakage_violations(df, column, p["group"], **ctx.kw(p))


def _label_conflict(df, column, p, ctx):
    from ..functions.audio import transcript_conflict_violations
    clips = df.select(F.col(p["id"]).cast("string").alias("clip_id"),
                      F.col(column).alias("bytes"), F.col(p["transcript"]))
    return transcript_conflict_violations(
        clips, transcript_col=p["transcript"],
        max_distance=p["max_distance"],
        grade_with_edit_sim=p.get("grade", False),
        contradiction_below=p.get("contradiction_below", 0.5), **ctx.kw(p))


_RUNNERS = {
    "unique": _unique, "unique_multi": _unique_multi,
    "ref": _ref, "ref_asof": _ref_asof, "ref_interval": _ref_interval,
    "reconcile": _reconcile, "decontaminate": _decontaminate,
    "mask": _mask, "corr": _corr, "quantile": _quantile,
    "benford": _benford, "drift": _drift, "skew": _skew,
    "calendar": _calendar, "freshness": _freshness, "gap": _gap,
    "monotonic": _monotonic, "outlier": _outlier, "volume": _volume,
    "fd": _fd, "readability": _readability, "gibberish": _gibberish,
    "gopher": _gopher, "c4": _c4, "lm_ppl": _lm_ppl, "dedup": _dedup,
    "dup_ngram": _dup_ngram, "leakage": _leakage,
    "label_conflict": _label_conflict,
}

# kinds that join a relation passed in ``dims``: kind -> the param naming it
_DIM_PARAM = {"ref": "dim", "ref_asof": "dim", "ref_interval": "dim",
              "reconcile": "fact", "decontaminate": "bench"}


def table_check_violations(
    df: DataFrame,
    compiled: CompiledRuleset,
    *,
    row_id: str,
    dims: dict[str, DataFrame] | None = None,
    on_missing_dim=None,
) -> DataFrame | None:
    """Union of every declared table check's violation rows (None if the
    ruleset declares none) — one independent, column-pruned pass per
    check. The shared engine behind :func:`validate_with_table_checks`,
    the routing layer, the CLI and streaming validation.

    ``on_missing_dim`` — called with the dim name when an ``x-ref``,
    ``x-reconcile`` or ``x-decontaminate`` declaration references a
    dim/fact/benchmark not provided in ``dims``; the check is skipped
    (the routing layer records an error artifact, G2-style). Without the
    callback a missing dim raises KeyError at plan time. A kind with no
    runner raises ValueError naming it — a declaration is never silently
    dropped.
    """
    ctx = _Ctx(ruleset_name=compiled.name, row_id=row_id, dims=dims or {})
    extras: list[DataFrame] = []
    for kind, column, params in compiled.table_checks:
        runner = _RUNNERS.get(kind)
        if runner is None:
            raise ValueError(f"unknown table-check kind {kind!r} "
                             f"(ruleset {compiled.name!r})")
        dim = params[_DIM_PARAM[kind]] if kind in _DIM_PARAM else None
        if dim is not None and dim not in ctx.dims \
                and on_missing_dim is not None:
            on_missing_dim(dim)
            continue
        extras.append(runner(df, column, params, ctx))
    if not extras:
        return None
    table_v = extras[0]
    for e in extras[1:]:
        table_v = table_v.unionByName(e)
    return table_v


def validate_with_table_checks(
    df: DataFrame,
    compiled: CompiledRuleset,
    *,
    row_id: str,
    dims: dict[str, DataFrame] | None = None,
    partition_col: str | None = None,
    run_id: str = "run_0",
) -> TableValidationResult:
    """validate() plus every declared table check
    (:func:`table_check_violations`).

    ``dims`` maps the dim names referenced by ``x-ref`` declarations to
    DataFrames. A declaration naming a missing dim raises KeyError at plan
    time (config error — the G2 guard belongs to the routing layer which
    catches compile/lookup failures into its error report).
    """
    row_res = validate(df, compiled, row_id=row_id,
                       partition_col=partition_col, run_id=run_id)
    table_v = table_check_violations(df, compiled, row_id=row_id,
                                     dims=dims)
    all_v = row_res.violations
    if table_v is not None:
        all_v = all_v.unionByName(
            table_v.select(*row_res.violations.columns))
    return TableValidationResult(row=row_res, table_violations=table_v,
                                 violations=all_v)
