"""Every table-level check kind (x-unique / x-ref / x-drift / x-dedup /
...), declared once next to its runner, and the engine that runs a
compiled ruleset's table checks and unions them with the row-level
violations — the full north_star check set (expressions + codec UDFs +
uniqueness + referential + drift + duplicate-content) driven by ONE
declarative document.

One declaration per kind (:data:`TABLE_CHECKS`) holds its DSL keyword,
where it may be placed, its parameters (type, range, default), its
cross-field rule, the param naming a joined relation, and its runner.
The compiler derives from it the keyword's shape check, the compiled
``params`` dict and the misplaced-use unknowns; :func:`table_check_violations`
dispatches through it.

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
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # the compiler imports this module for TABLE_CHECKS
    from ..plans.compiler import CompiledRuleset
    from .validate import ValidationResult


@dataclass
class TableValidationResult:
    row: ValidationResult
    table_violations: DataFrame | None   # union of the table-check passes
    violations: DataFrame                # row ∪ table


@dataclass(frozen=True)
class _Ctx:
    ruleset_name: str
    row_id: str
    dims: dict

    def kw(self, params: dict) -> dict:
        """The ``ruleset_name``/``severity`` pair every runner passes."""
        return {"ruleset_name": self.ruleset_name,
                "severity": params["severity"]}


_REQUIRED = object()


@dataclass(frozen=True)
class Param:
    """One declared parameter. ``ok`` is the shape rule for a present,
    non-null value; ``to`` converts it for the compiled params (None
    keeps the value as written). An absent key and an explicit null
    (YAML ``k:``) both mean ``default``; a required param accepts
    neither."""

    name: str
    ok: Callable[[object], bool]
    default: object = _REQUIRED
    to: Callable | None = None

    @property
    def required(self) -> bool:
        return self.default is _REQUIRED


def read_params(params: tuple, v: dict) -> dict:
    """The compiled params of a shape-valid dict, defaults filled in."""
    return {p.name: p.default if v.get(p.name) is None
            else p.to(v[p.name]) if p.to else v[p.name] for p in params}


def params_ok(params: tuple, v, rule: Callable | None = None) -> bool:
    """``v`` is a dict that every param's shape rule accepts, and the
    cross-field ``rule(v, compiled params)`` holds on it."""
    return isinstance(v, dict) and all(
        not p.required if v.get(p.name) is None else p.ok(v[p.name])
        for p in params) and (rule is None or rule(v, read_params(params, v)))


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _str(name, default=_REQUIRED) -> Param:
    return Param(name, lambda v: isinstance(v, str), default)


def _num(name, default=_REQUIRED, within=lambda x: True, to=float) -> Param:
    return Param(name, lambda v: _is_num(v) and within(v), default, to)


def _int(name, default=_REQUIRED, within=lambda x: x > 0) -> Param:
    return Param(name, lambda v: _is_int(v) and within(v), default, int)


def _bool(name, default=False) -> Param:
    return Param(name, lambda v: isinstance(v, bool), default)


def _choice(name, choices, default) -> Param:
    return Param(name, lambda v: v in choices, default)


def _any(name) -> Param:
    return Param(name, lambda v: True)


_BY = _str("by", None)          # per-segment form: one verdict per group
_ID = _str("id")                # the document id column the runner reports
_OPT_ID = _str("id", None)      # None: the caller's row_id at run time
_DIM, _KEY = _str("dim"), _str("key")
_UNITS = ("minute", "hour", "day", "week", "month")
_GOPHER_RULES = {"word_count", "mean_word_len", "symbol_ratio",
                 "bullet_lines", "ellipsis_lines", "alpha_words",
                 "stopwords"}


# a cross-field rule sees the value as written (``v``) and the compiled
# params (``p``, defaults filled in), so a bound left to its default is
# checked too
def _band(v: dict, p: dict) -> bool:
    """lo or hi is given, and lo <= hi once both are known"""
    return (v.get("lo") is not None or v.get("hi") is not None) and (
        p["lo"] is None or p["hi"] is None or p["lo"] <= p["hi"])


def _drift_rule(v: dict, p: dict) -> bool:
    """lo < hi, and the per-segment form carries ks/psi only (emd/jsd/
    cvm are global)"""
    return p["lo"] < p["hi"] and (p["by"] is None or all(
        p[k] is None
        for k in ("emd_threshold", "jsd_threshold", "cvm_threshold")))


# placements: where in the schema tree a declaration compiles (anything
# else is recorded in ``unknown`` as (instance_path, keyword)). Table
# checks aggregate or join whole columns, which a nested struct field or
# a composition branch cannot be conditioned on. A column placement is
# the tuple of column types the runner reads, so a declaration on any
# other type lands in ``unknown`` instead of failing while its plan is
# built. NUMERIC kinds cast the column to double, so on a non-numeric
# column they would see all-NULL and vacuously pass.
TOP = (T.DataType,)                  # any top-level column
NUMERIC = (T.NumericType,)
STRING = (T.StringType,)
# date_trunc / sequence over a timestamp (a string or date casts to one)
_TRUNC = (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)
# the newest value cast to a timestamp
_INSTANT = _TRUNC + NUMERIC
# the value cast to double (x-gap reads TIMESTAMP_NTZ as epoch micros)
_DOUBLE = (T.StringType, T.TimestampType) + NUMERIC
ROOT = "root"          # the root, every key a column of the table


def _dedup_types(p: dict) -> tuple:
    """exact groups hash the column with sha2, which reads bytes"""
    return (T.StringType, T.BinaryType) if p["method"] == "exact" else TOP


# the keyword of both x-unique forms: `true` on a column, a key list at
# the root (``false`` declares nothing)
_X_UNIQUE = "x-unique"


@dataclass(frozen=True)
class TableCheck:
    """One table-check kind, declared once."""

    keyword: str                  # the DSL keyword
    kind: str                     # names it in the compiled tuples
    run: Callable                 # runner(df, column, params, ctx)
    # placement: ROOT, the column types the runner reads, or a function
    # of the compiled params that returns them
    where: tuple | str | Callable = TOP
    params: tuple = ()            # Param declarations, in params order
    rule: Callable | None = None  # cross-field predicate(v, params)
    column: str | None = None     # param naming a column that must exist
    dim: str | None = None        # param naming the relation in ``dims``
    form: str = "params"          # or x-unique's "flag" / "keys"

    def shape_ok(self, v) -> bool:
        """The keyword's malformed-value check (compile error if False)."""
        if self.form == "flag":
            return isinstance(v, bool)
        if self.form == "keys":
            return (isinstance(v, list) and len(v) >= 2
                    and all(isinstance(k, str) for k in v)
                    and len(set(v)) == len(v))
        return params_ok(self.params, v, self.rule)

    def column_types(self, p: dict) -> tuple:
        """The column types a declaration with params ``p`` reads."""
        return self.where(p) if callable(self.where) else self.where

    def declares(self, v) -> bool:
        """A shape-valid value of the keyword declares this kind."""
        if self.form == "flag":
            return v is True
        return isinstance(v, list if self.form == "keys" else dict)

    def compile(self, v, severity: str) -> dict:
        """The params dict of a shape-valid declaration."""
        if self.form == "keys":
            out = {"keys": list(v)}
        else:
            out = read_params(self.params, v)
        out["severity"] = severity
        return out


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
        use_bloom=p["bloom"], n_items_hint=p["n_items"], **ctx.kw(p))


def _ref_asof(df, column, p, ctx):
    from .asof import asof_ref_violations
    return asof_ref_violations(
        df, column, ctx.dims[p["dim"]], p["key"], ts_col=p["ts"],
        dim_ts=p["dim_ts"], row_id=ctx.row_id,
        tolerance=p["tolerance"], direction=p["direction"],
        bucket=p["bucket"], **ctx.kw(p))


def _ref_interval(df, column, p, ctx):
    from .intervals import interval_ref_violations
    return interval_ref_violations(
        df, column, ctx.dims[p["dim"]], p["key"], ts_col=p["ts"],
        start_col=p["start"], end_col=p["end"], bucket=p["bucket"],
        row_id=ctx.row_id, **ctx.kw(p))


def _reconcile(df, column, p, ctx):
    from .reconcile import reconcile_violations
    return reconcile_violations(
        ctx.dims[p["fact"]], df, key=p["key"], fact_key=p["fact_key"],
        fact_value=p["fact_value"], dim_value=column,
        agg=p["agg"], tolerance=p["tolerance"],
        on_missing=p["on_missing"], **ctx.kw(p))


def _decontaminate(df, column, p, ctx):
    from .decontaminate import contamination_violations
    return contamination_violations(
        df, ctx.dims[p["bench"]], column, p["id"],
        bench_text_col=p["bench_text_col"],
        bench_id_col=p["bench_id_col"], n=p["n"],
        min_shared=p["min_shared"], use_bloom=p["bloom"],
        n_items_hint=p["n_items"], **ctx.kw(p))


def _mask(df, column, p, ctx):
    from .stats import mask_violations
    return mask_violations(df, column, expect=p["expect"],
                           min_share=p["min_share"], by=p["by"],
                           **ctx.kw(p))


def _corr(df, column, p, ctx):
    from .stats import correlation_violations
    return correlation_violations(df, column, p["with"],
                                  min_abs=p["min_abs"], by=p["by"],
                                  **ctx.kw(p))


def _quantile(df, column, p, ctx):
    from .stats import quantile_violations
    return quantile_violations(df, column, q=p["q"], lo=p["lo"],
                               hi=p["hi"], by=p["by"],
                               approx=p["approx"], **ctx.kw(p))


def _benford(df, column, p, ctx):
    from .drift import benford_violations
    return benford_violations(df, column, max_mad=p["max_mad"],
                              by=p["by"], **ctx.kw(p))


def _drift(df, column, p, ctx):
    from .drift import drift_violations
    return drift_violations(df, column, ruleset_name=ctx.ruleset_name, **p)


def _calendar(df, column, p, ctx):
    from .sequence import calendar_violations
    return calendar_violations(df, column, unit=p["unit"],
                               by=p["by"],
                               max_buckets=p["max_buckets"],
                               **ctx.kw(p))


def _freshness(df, column, p, ctx):
    from .sequence import freshness_violations
    return freshness_violations(df, column,
                                max_age_seconds=p["max_age_seconds"],
                                as_of=p["as_of"], by=p["by"],
                                **ctx.kw(p))


def _gap(df, column, p, ctx):
    from .sequence import gap_violations
    return gap_violations(df, column, row_id=p["id"] or ctx.row_id,
                          max_seconds=p["max_seconds"], by=p["by"],
                          n_buckets=p["n_buckets"], **ctx.kw(p))


def _monotonic(df, column, p, ctx):
    from .sequence import monotonic_violations
    return monotonic_violations(df, column, order_by=p["order_by"],
                                row_id=p["id"] or ctx.row_id,
                                by=p["by"], direction=p["direction"],
                                n_buckets=p["n_buckets"], **ctx.kw(p))


def _skew(df, column, p, ctx):
    from .skew import skew_violations
    return skew_violations(df, column, max_share=p["max_share"],
                           top_k=p["top_k"], by=p["by"],
                           **ctx.kw(p))


def _outlier(df, column, p, ctx):
    from .outliers import outlier_violations
    return outlier_violations(df, column, row_id=p["id"] or ctx.row_id,
                              k=p["k"], group_col=p["by"],
                              approx=p["approx"], **ctx.kw(p))


def _volume(df, column, p, ctx):
    from .outliers import volume_violations
    return volume_violations(df, column, unit=p["unit"],
                             k=p["k"], by=p["by"],
                             **ctx.kw(p))


def _fd(df, column, p, ctx):
    from .fd import fd_violations
    return fd_violations(df, column, p["determined_by"],
                         row_id=p["id"] or ctx.row_id, **ctx.kw(p))


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
    return gopher_violations(df, column, p["id"], rules=p["rules"],
                             **ctx.kw(p))


def _c4(df, column, p, ctx):
    from .text import c4_violations
    return c4_violations(df, column, p["id"],
                         min_words_per_line=p["min_words_per_line"],
                         min_sentences=p["min_sentences"], **ctx.kw(p))


def _lm_ppl(df, column, p, ctx):
    from .lm import lm_ppl_violations
    return lm_ppl_violations(df, column, p["id"], max_ppl=p["max_ppl"],
                             n=p["n"], k=p["k"],
                             **ctx.kw(p))


def _dedup(df, column, p, ctx):
    from .clusters import dedup_violations
    return dedup_violations(df, column, p["id"], method=p["method"],
                            block_col=p["block"], n=p["n"],
                            threshold=p["threshold"],
                            max_distance=p["max_distance"],
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
        grade_with_edit_sim=p["grade"],
        contradiction_below=p["contradiction_below"], **ctx.kw(p))


# Declaration order is compile order: it fixes the order of
# ``CompiledRuleset.table_checks`` (the union order of violation rows).
TABLE_CHECKS = {s.kind: s for s in (
    TableCheck(_X_UNIQUE, "unique", _unique, form="flag"),
    TableCheck(_X_UNIQUE, "unique_multi", _unique_multi, ROOT,
               form="keys"),
    # n_items: optional dim row count, sizes the Bloom bitmap without an
    # extra dim scan (referential.build_bloom)
    TableCheck("x-ref", "ref", _ref, params=(
        _DIM, _KEY, _bool("bloom"), _int("n_items", None)), dim="dim"),
    # temporal referential: a dim row with this key must be IN FORCE at
    # the fact row's timestamp
    TableCheck("x-ref-asof", "ref_asof", _ref_asof, params=(
        _DIM, _KEY, _str("ts"), _str("dim_ts"),
        _num("tolerance", None, lambda x: x > 0, to=None),
        _choice("direction", ("backward", "forward"), "backward"),
        _num("bucket", None, lambda x: x > 0, to=None)), dim="dim"),
    # interval referential: the row's timestamp must fall inside a dim
    # interval of its key
    TableCheck("x-ref-interval", "ref_interval", _ref_interval, params=(
        _DIM, _KEY, _str("ts"), _str("start"), _str("end"),
        _num("bucket", within=lambda x: x > 0)), dim="dim"),
    # robust outlier: median/MAD modified z-score
    TableCheck("x-outlier", "outlier", _outlier, NUMERIC, params=(
        _OPT_ID, _num("k", 3.5, lambda x: x > 0), _BY, _bool("approx"))),
    # the hottest value holds more than max_share of the rows: the
    # declarative "salt before you shuffle on this" warning
    TableCheck("x-skew", "skew", _skew, params=(
        _num("max_share", within=lambda x: 0 < x <= 1),
        _int("top_k", 10), _BY)),
    # the stored per-key value must equal the aggregate recomputed from
    # the fact table named in `fact`
    TableCheck("x-reconcile", "reconcile", _reconcile, NUMERIC, params=(
        _str("fact"), _KEY, _str("fact_key", None), _str("fact_value"),
        _choice("agg", ("sum", "count", "avg", "min", "max"), "sum"),
        _num("tolerance", 0.0, lambda x: x >= 0),
        _choice("on_missing", ("violate", "ignore"), "violate")),
        dim="fact"),
    TableCheck("x-monotonic", "monotonic", _monotonic, params=(
        _str("order_by"), _BY,
        _choice("direction", ("non-decreasing", "increasing",
                              "non-increasing", "decreasing"),
                "non-decreasing"),
        _int("n_buckets", 64), _OPT_ID)),
    # time buckets with outlier row counts
    TableCheck("x-volume", "volume", _volume, _TRUNC, params=(
        _choice("unit", _UNITS, "day"), _num("k", 3.5, lambda x: x > 0),
        _BY)),
    TableCheck("x-quantile", "quantile", _quantile, NUMERIC, params=(
        _num("q", within=lambda x: 0 <= x <= 1), _num("lo", None),
        _num("hi", None), _BY, _bool("approx")), rule=_band, column="by"),
    # Flesch reading-ease band
    TableCheck("x-readability", "readability", _readability, STRING,
               params=(_ID, _num("lo", 0.0), _num("hi", 121.0)),
               rule=_band),
    TableCheck("x-gibberish", "gibberish", _gibberish, params=(
        _ID, _num("min_logp"))),
    # n-gram LM perplexity trained on the whole corpus (CCNet)
    TableCheck("x-lm-ppl", "lm_ppl", _lm_ppl, params=(
        _ID, _num("max_ppl", within=lambda x: x > 0),
        _int("n", 2, lambda x: x >= 2), _num("k", 0.5, lambda x: x > 0))),
    # the dominant value mask must cover min_share of the rows
    TableCheck("x-mask", "mask", _mask, params=(
        Param("expect", lambda v: isinstance(v, str) and v != ""),
        _num("min_share", 0.99, lambda x: 0 < x <= 1), _BY)),
    # |corr(this, with)| >= min_abs
    TableCheck("x-corr", "corr", _corr, NUMERIC, params=(
        _str("with"), _num("min_abs", within=lambda x: 0 < x <= 1), _BY),
        column="with"),
    # Benford first-digit conformance, MAD-thresholded
    TableCheck("x-benford", "benford", _benford, NUMERIC, params=(
        _num("max_mad", 0.015, lambda x: x > 0), _BY)),
    # every time bucket between the observed min and max has rows
    TableCheck("x-calendar", "calendar", _calendar, _TRUNC, params=(
        _choice("unit", _UNITS, "day"), _BY, _int("max_buckets", 100_000))),
    # the newest row (per group) is younger than max_age_seconds at as_of
    # (run time when omitted)
    TableCheck("x-freshness", "freshness", _freshness, _INSTANT, params=(
        _num("max_age_seconds", within=lambda x: x > 0),
        _str("as_of", None), _BY)),
    TableCheck("x-gap", "gap", _gap, _DOUBLE + (T.TimestampNTZType,),
               params=(
        _num("max_seconds", within=lambda x: x > 0), _BY,
        _int("n_buckets", 64), _OPT_ID)),
    # functional dependency: one value per determinant group
    TableCheck("x-fd", "fd", _fd, params=(
        Param("determined_by", lambda v: isinstance(v, list) and len(v) > 0
              and all(isinstance(c, str) for c in v), to=list),
        _OPT_ID)),
    # KS / PSI between two partitions; emd (1-D Wasserstein, in the
    # value's units), jsd (finite under disjoint supports) and cvm (L2 of
    # the CDF gap) are optional, None = not checked
    TableCheck("x-drift", "drift", _drift, _DOUBLE, params=(
        _str("partition_col"), _any("side_a"), _any("side_b"),
        _num("lo"), _num("hi"), _num("n_buckets", 25, to=int),
        _num("ks_threshold", 0.1), _num("psi_threshold", 0.2),
        _num("emd_threshold", None), _num("jsd_threshold", None),
        _num("cvm_threshold", None), _BY), rule=_drift_rule),
    # exact sha256 groups, n-gram Jaccard near-dup clusters, acoustic-
    # fingerprint clusters over a binary audio column, or canonical-URL
    # groups
    TableCheck("x-dedup", "dedup", _dedup, _dedup_types, params=(
        _ID, _choice("method", ("exact", "jaccard", "acoustic", "url"),
                     "exact"),
        _str("block", None), _int("n", 3), _num("threshold", 0.55),
        _int("max_distance", 3, lambda x: 0 <= x <= 7))),
    # documents whose duplicated word-n-gram fraction exceeds max_frac
    TableCheck("x-dup-ngram", "dup_ngram", _dup_ngram, params=(
        _ID, _int("n", 5), _num("max_frac", 0.5, lambda x: 0 <= x < 1))),
    # Gopher quality rules (Rae et al. 2021), map-only per row but run as
    # a table check because the rules read a whole text column; C4 below
    # for the same reason
    TableCheck("x-gopher", "gopher", _gopher, params=(
        _ID, Param("rules", lambda v: isinstance(v, list) and len(v) > 0
                   and all(isinstance(r, str) for r in v)
                   and set(v) <= _GOPHER_RULES, None, list))),
    # on the split column: groups spanning more than one split
    TableCheck("x-leakage", "leakage", _leakage, params=(_str("group"),)),
    TableCheck("x-c4", "c4", _c4, params=(
        _ID, _int("min_words_per_line", 5), _int("min_sentences", 3))),
    # benchmark overlap; `bench` names the benchmark table in dims
    TableCheck("x-decontaminate", "decontaminate", _decontaminate, params=(
        _ID, _str("bench"), _str("bench_text_col", None),
        _str("bench_id_col", None), _int("n", 8), _int("min_shared", 1),
        _bool("bloom"), _int("n_items", None)), dim="bench"),
    # transcript vs acoustic near-dup consistency on the binary audio
    # column; with `grade`, a contradiction (edit similarity below the
    # knee) escalates to error while ASR noise stays a warning
    TableCheck("x-label-conflict", "label_conflict", _label_conflict,
               params=(_ID, _str("transcript"),
                       _int("max_distance", 2, lambda x: 0 <= x <= 7),
                       _bool("grade"),
                       _num("contradiction_below", 0.5,
                            lambda x: 0 <= x <= 1))),
)}


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
    declaration raises ValueError naming it — a declaration is never
    silently dropped.
    """
    ctx = _Ctx(ruleset_name=compiled.name, row_id=row_id, dims=dims or {})
    extras: list[DataFrame] = []
    for kind, column, params in compiled.table_checks:
        spec = TABLE_CHECKS.get(kind)
        if spec is None:
            raise ValueError(f"unknown table-check kind {kind!r} "
                             f"(ruleset {compiled.name!r})")
        dim = params[spec.dim] if spec.dim else None
        if dim is not None and dim not in ctx.dims \
                and on_missing_dim is not None:
            on_missing_dim(dim)
            continue
        extras.append(spec.run(df, column, params, ctx))
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
    from .validate import validate

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
