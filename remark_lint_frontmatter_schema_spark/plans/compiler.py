"""Compile a JSON-Schema-shaped constraint document into Spark Columns.

This is the engine's analog of the reference's Ajv JIT compile
(``/root/reference/index.ts:322`` — ``ajv.compile(schema)`` generates a
specialized validator function). Here the "specialized function" is a set
of Catalyst Column expressions: one boolean ``violated`` expression per
constraint plus fully-precomputed message metadata, later assembled into a
single projection (see ``operators/validate.py``) so that **all checks run
in one scan with no short-circuit** — the reference's ``allErrors: true``
semantics (``index.ts:312``).

Message fidelity mirrors ``pushErrors`` (``index.ts:105-119``):

    reason = Capitalize(ajv_message) + [": `v1`, `v2`"] + [" • schemaRelPath"] + " • " + schemaPath

Every message is schema-determined, so templates are baked at compile time
(the reference recomputes them per error; at 10^12 rows they must be
literals that Catalyst constant-folds).

Like Ajv, which defines each keyword once, every keyword is declared
once, in ``_KEYWORDS``: its shape rule, where its subschemas sit, its
route on a variant node, its compile function and, for the row ``x-*``
keywords, its params (``operators/table_checks.Param``). The table's
order is the compile order, which fixes the constraint ids. The
meta-validation pre-pass (``_shape_walk``), the per-node pre-check, the
variant routing and the compile loop are all derived from it; the
table-check keywords enter it from ``operators/table_checks.TABLE_CHECKS``.

Unknown keywords warn-don't-fail, mirroring Ajv ``strict: false``
(``index.ts:313``); they are collected into ``CompiledRuleset.unknown``.
"""

from __future__ import annotations

import hashlib
import json
import operator
import re
from dataclasses import dataclass, field, replace as _dc_replace
from functools import reduce
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bundler import RulesetCompileError, resolve_internal_ref
from . import variant as _vr
from ..functions import content as _content
from ..operators.table_checks import (ROOT, TABLE_CHECKS, Param, _bool,
                                      _int, _is_int, _is_num, _num, _str,
                                      params_ok, read_params)
from ..functions.formats import (FORMAT_ALWAYS_OK, FORMAT_FINITE,
                                 FORMAT_NUMERIC_RANGE, FORMAT_REGEX,
                                 FORMAT_UDF_CHECKERS)

# JSON type name -> predicate over a Spark DataType: "statically satisfied"
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_NUMERIC = _INTEGRAL + (T.FloatType, T.DoubleType, T.DecimalType)

_STATIC_TYPE_OK = {
    "string": lambda t: isinstance(t, T.StringType),
    "integer": lambda t: isinstance(t, _INTEGRAL),
    "number": lambda t: isinstance(t, _NUMERIC),
    "boolean": lambda t: isinstance(t, T.BooleanType),
    "array": lambda t: isinstance(t, T.ArrayType),
    "object": lambda t: isinstance(t, (T.StructType, T.MapType)),
    "null": lambda t: False,
}

# table-level declarations (uniqueness / referential / drift / ...): each
# kind is declared once in operators/table_checks.py, compiles into
# CompiledRuleset.table_checks and runs as a separate relational pass.
# keyword -> its declarations (x-unique has two forms)
_TABLE_KEYWORDS: dict = {}
for _spec in TABLE_CHECKS.values():
    _TABLE_KEYWORDS.setdefault(_spec.keyword, []).append(_spec)


@dataclass(frozen=True)
class Check:
    """One compiled constraint — the unit that becomes a violation struct."""

    constraint_id: str
    keyword: str
    instance_path: str   # Ajv instancePath, e.g. "/props/take" (index.ts:123)
    schema_path: str     # two-part provenance "file.yaml#/ptr" (pipeline.ts:74-79)
    message: str         # fully-assembled reason, reference format (index.ts:105-119)
    violated: Column     # boolean Column: True => emit violation row
    actual: Column       # offending value stringified (index.ts:139)
    expected: tuple | None = None  # allowed values (enum/const, index.ts:168,173)
    severity: str = "warning"


@dataclass
class CompiledRuleset:
    name: str
    checks: list = field(default_factory=list)
    static_failures: list = field(default_factory=list)  # (path, keyword, why)
    static_passes: list = field(default_factory=list)
    unknown: list = field(default_factory=list)          # strict:false analog
    columns_read: set = field(default_factory=set)       # for column pruning
    # table-level declarations (x-unique / x-ref): not row expressions —
    # they need aggregates/joins, so validate() ignores them and
    # operators.table_checks runs them as separate relational passes
    table_checks: list = field(default_factory=list)     # (kind, column, params)
    # (name, Column) pairs to project BELOW the checks projection (see
    # operators.validate.stage_columns): variant expressions are
    # CodegenFallback — interpreted — so tag/string/double views of each
    # variant node are computed once here instead of once per keyword;
    # x-spark-checks that call a Python UDF are staged too, so each
    # crosses to Python once per row instead of once per consumer
    staged: list = field(default_factory=list)
    ruleset_hash: str = ""
    options: dict = field(default_factory=dict)          # ajvOptions analog

    def summary(self) -> dict:
        return {
            "name": self.name,
            "n_checks": len(self.checks),
            "static_failures": self.static_failures,
            "static_passes": self.static_passes,
            "unknown_keywords": self.unknown,
            "columns_read": sorted(self.columns_read),
            "ruleset_hash": self.ruleset_hash,
        }


@dataclass
class _Ctx:
    """Compilation context for one schema node."""

    col: Column | None          # Column expr for the instance at this node (None = root row)
    dtype: T.DataType | None    # Spark type at this node (None = root / unknown)
    instance_path: str          # "/codec"
    schema_path: str            # "#/properties/codec"
    schema_file: str            # provenance file prefix ("" on embed path, index.ts:181-183)
    df_schema: T.StructType
    root_schema: dict
    out: CompiledRuleset
    extra_checks: dict          # name -> callable(Column) -> Column for x-spark-check
    silent: bool = False        # True while compiling anyOf/oneOf/not children
    severity: str = "warning"   # x-severity, inherited down the node tree
    # staging registrar `(hint, Column) -> Column` writing into
    # out.staged, or None where staging is illegal (inside HOF lambdas,
    # probe rulesets — their checks are folded into one expression and
    # the probe's staged list would be discarded)
    stage: object = None
    # per-variant-node staged views {"t": tag, "s": string, "d": double,
    # "actual": rendered actual} — set by _compile_variant_node, consumed
    # by the keyword views (_string_view, _number_view), _type_check and
    # _add
    vstage: dict | None = None


def balanced_reduce(op, cols: list):
    """Fold ``cols`` with ``op`` as a BALANCED tree, not a left-deep chain.

    Catalyst codegen recurses once per tree level; a 500-term ``a+b+c+...``
    chain is ~500 frames deep and intermittently blows the executor thread
    stack (observed as StackOverflowError in BinaryArithmetic codegen on
    the 500-constraint stress test). Balanced pairing makes the depth
    log2(n) (~9 for 500 terms) — same result, codegen-safe at any ruleset
    width."""
    assert cols
    while len(cols) > 1:
        cols = [op(cols[i], cols[i + 1]) if i + 1 < len(cols) else cols[i]
                for i in range(0, len(cols), 2)]
    return cols[0]


def _cap(msg: str) -> str:
    """Capitalize first letter (reference index.ts:106-109)."""
    return msg[:1].upper() + msg[1:]


def _reason(ajv_message: str, ctx: _Ctx, kw: str, expected=None) -> str:
    """Assemble the reason string exactly as index.ts:105-119."""
    expected_part = ""
    if expected:
        expected_part = ": " + ", ".join(f"`{v}`" for v in expected)
    s_path = f" • {ctx.schema_file}" if ctx.schema_file else ""
    schema_ptr = f"{ctx.schema_path}/{kw}"
    return f"{_cap(ajv_message)}{expected_part}{s_path} • {schema_ptr}"


def _schema_path(ctx: _Ctx, kw: str) -> str:
    """Two-part schema provenance: 'file.yaml#/ptr/keyword' (pipeline.ts:74-79)."""
    ptr = f"{ctx.schema_path}/{kw}"
    return f"{ctx.schema_file}{ptr}" if ctx.schema_file else ptr


def _actual_str(col: Column | None, dtype: T.DataType | None) -> Column:
    """Stringify the incriminated value (index.ts:139 node.toString()).

    Binary payloads are truncated to a hex prefix — never carry audio bytes
    into the violations relation (payload discipline at 10^12 rows).
    """
    if col is None:
        return F.lit(None).cast("string")
    if isinstance(dtype, T.BinaryType):
        return F.hex(F.substring(col, 1, 16))
    if _vr.is_variant(dtype):
        # bare value for scalars, JSON text for object/array; a present
        # JSON null renders as "null" (Ajv's node.toString()), not SQL NULL
        return F.when(_vr.is_json_null(col), F.lit("null")) \
                .otherwise(_vr.as_string(col))
    if isinstance(dtype, (T.MapType, T.ArrayType)) and _has_variant(dtype):
        # variant object/array VIEWS: cast-to-string has no variant path,
        # to_json does
        return F.to_json(col)
    return col.cast("string")


def _has_variant(dtype: T.DataType) -> bool:
    """Variant anywhere inside a (possibly nested) complex type."""
    if _vr.is_variant(dtype):
        return True
    if isinstance(dtype, T.ArrayType):
        return _has_variant(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _has_variant(dtype.keyType) or _has_variant(dtype.valueType)
    if isinstance(dtype, T.StructType):
        return any(_has_variant(f.dataType) for f in dtype.fields)
    return False


def _add(ctx: _Ctx, kw: str, violated: Column, message: str,
         expected=None, actual: Column | None = None,
         instance_path: str | None = None) -> Column:
    """Register a check (unless compiling silently) and return its predicate."""
    ipath = ctx.instance_path if instance_path is None else instance_path
    if not ctx.silent:
        cid = f"{ctx.out.name}:{ipath or '/'}:{kw}"
        # disambiguate duplicate ids (e.g. two allOf branches constraining same key)
        existing = {c.constraint_id for c in ctx.out.checks}
        if cid in existing:
            i = 2
            while f"{cid}#{i}" in existing:
                i += 1
            cid = f"{cid}#{i}"
        ctx.out.checks.append(
            Check(
                constraint_id=cid,
                keyword=kw,
                instance_path=ipath,
                schema_path=_schema_path(ctx, kw),
                message=message,
                violated=violated,
                actual=actual if actual is not None
                else (ctx.vstage["actual"] if ctx.vstage is not None
                      else _actual_str(ctx.col, ctx.dtype)),
                expected=tuple(str(v) for v in expected) if expected else None,
                severity=ctx.severity,
            )
        )
    return violated


# ---------------------------------------------------------------------------
# keyword compilers — ``fn(ctx, schema, k)`` compiles keyword ``k`` (its
# declaration in ``_KEYWORDS``) of the node ``schema``: it registers checks
# through ``_add`` or records static passes, static failures and unknowns,
# and returns nothing
# ---------------------------------------------------------------------------

def _present(ctx: _Ctx) -> Column:
    """Instance exists at this path — Ajv skips value keywords on missing
    properties (only `required` fires); NULL column == absent property."""
    return ctx.col.isNotNull()


def _guarded(ctx: _Ctx, violated: Column) -> Column:
    """Composition keywords at a property node are guarded by presence:
    Ajv skips all value keywords on an absent property (only the parent's
    `required` fires), and an absent value makes every child schema
    vacuously valid — without the guard, oneOf (n_ok == len(children) !=
    1) and not would fire on NULLs."""
    return violated if ctx.col is None else _present(ctx) & violated


def _severity(ctx: _Ctx, schema: dict, k) -> None:
    """Severity annotation: applies to every check compiled at this node
    and below (engine extension; the reference's messages are uniformly
    warnings — remark-lint message() semantics)."""
    ctx.severity = schema[k.name]


def _ref(ctx: _Ctx, schema: dict, k) -> None:
    if isinstance(schema[k.name], str):
        sub = resolve_internal_ref(ctx.root_schema, schema[k.name])
        # shallow ctx copy: keywords inside the $ref'd subtree (notably
        # x-severity) must not leak into the referring node's remaining
        # keywords via the shared mutable ctx
        _compile_keywords(sub, _dc_replace(ctx))


def _type_check(ctx: _Ctx, schema: dict, k) -> None:
    json_type = schema[k.name]
    types = json_type if isinstance(json_type, list) else [json_type]
    msg = _reason(f"must be {types[0] if len(types) == 1 else ','.join(types)}",
                  ctx, "type")
    if ctx.col is None:  # root node — a row is always an object
        if "object" in types:
            ctx.out.static_passes.append((ctx.instance_path, "type"))
        else:
            # a well-formed but unsatisfiable root type (e.g. "string"):
            # statically violated for every row, never a compile crash
            ctx.out.static_failures.append(
                (ctx.instance_path, "type",
                 f"root is always an object, never {types}"))
            _add(ctx, "type", F.lit(True), msg)
        return
    dtype = ctx.dtype
    ok_static = dtype is not None and any(
        _STATIC_TYPE_OK.get(t, lambda _: False)(dtype) for t in types
    )
    if ok_static:
        # "null" in JSON-Schema union adds nothing: absent == NULL already skips
        ctx.out.static_passes.append((ctx.instance_path, "type"))
        return
    # dynamic check paths
    if isinstance(dtype, T.StringType):
        casts = []
        for t in types:
            if t == "integer":
                casts.append(ctx.col.try_cast("bigint").isNotNull())
            elif t == "number":
                casts.append(ctx.col.try_cast("double").isNotNull())
            elif t == "boolean":
                casts.append(F.lower(ctx.col).isin("true", "false"))
            elif t == "null":
                casts.append(F.lit(False))
        if casts:
            _add(ctx, "type", _present(ctx) & ~reduce(operator.or_, casts),
                 msg)
            return
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)) \
            and "integer" in types:
        # JSON Schema: 1.0 is a valid integer (zero fractional part).
        # `in` not `==`: a union like ["integer", "null"] or
        # ["integer", "string"] on a float column reduces to the integer
        # check (a number can never satisfy the non-numeric alternatives,
        # "null" is the presence guard) — the == spelling sent unions to
        # the always-violated fallthrough
        _add(ctx, "type", _present(ctx) & (ctx.col != F.floor(ctx.col)), msg)
        return
    if _vr.is_variant(dtype):
        # variant keeps the value's own JSON type per row
        # (schema_of_variant tag), so this is the one column kind where
        # `type` has exact Ajv semantics dynamically: "10" is a string,
        # 10 is a number/integer, JSON null is type "null" (present)
        vs = ctx.vstage or {}
        oks = [ok for t in types
               if (ok := _vr.type_ok(ctx.col, t, t=vs.get("t"),
                                     d=vs.get("d"))) is not None]
        if not oks:
            ctx.out.static_failures.append(
                (ctx.instance_path, "type",
                 f"no JSON type in {types} is testable"))
            _add(ctx, "type", _present(ctx), msg)
            return
        _add(ctx, "type", _present(ctx) & ~reduce(operator.or_, oks), msg)
        return
    # statically impossible (e.g. int column where string required):
    # every present value violates
    ctx.out.static_failures.append((ctx.instance_path, "type",
                                    f"column type {dtype} never satisfies {types}"))
    _add(ctx, "type", _present(ctx), msg)


def _variant_eq(ctx: _Ctx, v) -> Column | None:
    """JSON equality of a variant node with the literal ``v`` (None for
    an object/array literal: JSON equality is key-order insensitive, a
    serialized compare would not be)."""
    vs = ctx.vstage or {}
    return _vr.value_eq(ctx.col, v, t=vs.get("t"), s=vs.get("s"),
                        d=vs.get("d"))


def _enum(ctx: _Ctx, schema: dict, k) -> None:
    if ctx.col is None:
        return
    allowed = schema[k.name]
    if _vr.is_variant(ctx.dtype):
        eqs = [_variant_eq(ctx, v) for v in allowed]
        if any(e is None for e in eqs):
            ctx.out.unknown.append(
                (ctx.instance_path, f"{k.name}:variant-composite-literal"))
            return
        ok = reduce(operator.or_, eqs)
    else:
        # a present typed value is never JSON null, so a null member
        # allows nothing (isin against NULL would make the check NULL)
        members = [v for v in allowed if v is not None]
        ok = ctx.col.isin(*members) if members else None
    msg = _reason("must be equal to one of the allowed values", ctx, k.name,
                  expected=allowed)
    _add(ctx, k.name, _present(ctx) if ok is None else _present(ctx) & ~ok,
         msg, expected=allowed)


def _const(ctx: _Ctx, schema: dict, k) -> None:
    if ctx.col is None:
        return
    v = schema[k.name]
    if _vr.is_variant(ctx.dtype):
        eq = _variant_eq(ctx, v)
        if eq is None:
            ctx.out.unknown.append(
                (ctx.instance_path, f"{k.name}:variant-composite-literal"))
            return
        violated = _present(ctx) & ~eq
    elif v is None:
        # a present typed value is never JSON null
        violated = _present(ctx)
    else:
        violated = _present(ctx) & (ctx.col != F.lit(v))
    msg = _reason("must be equal to constant", ctx, k.name, expected=[v])
    _add(ctx, k.name, violated, msg, expected=[v])


# Views: the operand a keyword compares, and the guard under which it
# applies (None: the keyword is vacuous at this node). One definition per
# keyword serves every node kind; the typed and variant paths differ only
# in the view. On a variant node the per-row JSON type tag is part of the
# guard: Ajv applies string keywords to strings only and numeric keywords
# to numbers only (the unguarded string/double views would coerce "10"
# vs 10, and true).

def _string_view(ctx: _Ctx):
    if not _vr.is_variant(ctx.dtype):
        return ctx.col, _present(ctx)
    vs = ctx.vstage or {}
    s = vs["s"] if vs.get("s") is not None else _vr.as_string(ctx.col)
    return s, _present(ctx) & _vr.is_string(ctx.col, vs.get("t"))


def _length_view(ctx: _Ctx):
    if ctx.col is None:
        return None
    s, guard = _string_view(ctx)
    return F.length(s), guard


def _number_view(ctx: _Ctx):
    if ctx.col is None:
        return None
    if _vr.is_variant(ctx.dtype):
        vs = ctx.vstage or {}
        d = vs["d"] if vs.get("d") is not None else _vr.as_double(ctx.col)
        return d, _present(ctx) & _vr.is_numeric(ctx.col, vs.get("t"))
    if isinstance(ctx.dtype, T.StringType):
        return ctx.col.try_cast("double"), _present(ctx)
    return ctx.col, _present(ctx)


def _size_view(ctx: _Ctx):
    if ctx.col is None or not isinstance(ctx.dtype, T.ArrayType):
        return None
    return F.size(ctx.col), _present(ctx)


def _property_count_view(ctx: _Ctx):
    n_props = _property_count(ctx)
    if n_props is None:
        return None
    return n_props, None if ctx.col is None else _present(ctx)


def _compare(view, op, txt: str):
    """A keyword whose check is ``op(view operand, value)``, with the
    message ``txt`` formatted with the value."""
    def compile_(ctx: _Ctx, schema: dict, k) -> None:
        got = view(ctx)
        if got is None:
            return
        operand, guard = got
        n = schema[k.name]
        violated = op(operand, F.lit(n))
        _add(ctx, k.name, violated if guard is None else guard & violated,
             _reason(txt.format(n), ctx, k.name))
    return compile_


def _pattern(ctx: _Ctx, schema: dict, k) -> None:
    if ctx.col is None:
        return
    p = schema[k.name]
    s, guard = _string_view(ctx)
    # Ajv `pattern` is an unanchored search; rlike has identical semantics
    _add(ctx, k.name, guard & ~s.rlike(p),
         _reason(f'must match pattern "{p}"', ctx, k.name))


def _format(ctx: _Ctx, schema: dict, k) -> None:
    if ctx.col is None:
        return
    f = schema[k.name]
    msg = _reason(f'must match format "{f}"', ctx, k.name)
    s, guard = _string_view(ctx)
    if f in FORMAT_REGEX:
        _add(ctx, k.name, guard & ~s.rlike(FORMAT_REGEX[f]), msg)
    elif f in FORMAT_ALWAYS_OK:
        # ajv-formats registers these as unconditionally valid
        ctx.out.static_passes.append((ctx.instance_path, f"format:{f}"))
    elif _vr.is_variant(ctx.dtype):
        # numeric-range / finite / UDF formats stay typed-column-only
        ctx.out.unknown.append((ctx.instance_path, f"format:{f}:variant"))
    elif f in FORMAT_NUMERIC_RANGE and isinstance(ctx.dtype, _NUMERIC):
        # ajv-formats type:"number" formats — integral + in-range
        lo, hi = FORMAT_NUMERIC_RANGE[f]
        bad = (ctx.col < F.lit(lo)) | (ctx.col > F.lit(hi))
        if not isinstance(ctx.dtype, _INTEGRAL):
            bad = bad | (ctx.col != F.floor(ctx.col))
        _add(ctx, k.name, _present(ctx) & bad, msg)
    elif f in FORMAT_FINITE:
        if isinstance(ctx.dtype, (T.FloatType, T.DoubleType)):
            bad = F.isnan(ctx.col) | (F.abs(ctx.col) == float("inf"))
            _add(ctx, k.name, _present(ctx) & bad, msg)
        elif isinstance(ctx.dtype, _NUMERIC):
            # integral/decimal values are always finite
            ctx.out.static_passes.append(
                (ctx.instance_path, f"format:{f}"))
        else:
            ctx.out.unknown.append((ctx.instance_path, f"format:{f}"))
    elif f in FORMAT_UDF_CHECKERS:
        # vectorized Python probe (e.g. `regex` = re.compile validity):
        # an Arrow-batched pandas UDF in an otherwise pure-JVM
        # projection — opt-in via the udf_formats engine option
        if ctx.out.options.get("udf_formats"):
            ok = FORMAT_UDF_CHECKERS[f](ctx.col)
            _add(ctx, k.name,
                 _present(ctx) & ~F.coalesce(ok, F.lit(False)), msg)
        else:
            ctx.out.unknown.append(
                (ctx.instance_path, f"format:{f}:requires-udf_formats"))
    else:
        ctx.out.unknown.append((ctx.instance_path, f"format:{f}"))


# draft-07 content keywords — ASSERTED, a documented deviation from
# Ajv's annotate-only default (functions/content.py module docstring);
# unverifiable encodings/types fall to `unknown`, never vacuous-pass

def _content_encoding(ctx: _Ctx, schema: dict, k) -> None:
    if ctx.col is None:
        return
    enc = schema[k.name]
    if (isinstance(ctx.dtype, T.StringType)
            and enc in _content.SUPPORTED_ENCODINGS):
        msg = _reason(f'must be {enc} encoded', ctx, k.name)
        _add(ctx, k.name, _present(ctx) & ~_content.base64_ok(ctx.col), msg)
    else:
        ctx.out.unknown.append((ctx.instance_path, f"{k.name}:{enc}"))


def _content_media_type(ctx: _Ctx, schema: dict, k) -> None:
    if ctx.col is None:
        return
    mt = schema[k.name]
    enc = schema.get("contentEncoding")
    msg = _reason(f'must be media type "{mt}"', ctx, k.name)
    ok = None
    if isinstance(ctx.dtype, T.BinaryType):
        # binary instance: sniff the payload's own magic bytes
        ok = _content.magic_ok(ctx.col, mt)
    elif isinstance(ctx.dtype, T.StringType) and enc == "base64":
        if mt == "application/json":
            # full decode is unavoidable for JSON; the CASE guard
            # keeps unbase64 off malformed payloads
            ok = F.when(
                _content.base64_ok(ctx.col),
                _content.json_ok(F.unbase64(ctx.col).cast("string")))
        else:
            ok = _content.magic_ok(_content.b64_probe(ctx.col), mt)
    elif isinstance(ctx.dtype, T.StringType) and enc is None \
            and mt == "application/json":
        ok = _content.json_ok(ctx.col)
    if ok is not None:
        _add(ctx, k.name, _present(ctx) & ~F.coalesce(ok, F.lit(False)), msg)
    else:
        ctx.out.unknown.append((ctx.instance_path, f"{k.name}:{mt}"))


def _content_schema(ctx: _Ctx, schema: dict, k) -> None:
    """2019-09 contentSchema: validate the EMBEDDED document against a
    schema. Spark-4 composition: try_parse_json -> VariantType -> the
    whole variant keyword machinery (exact JSON types, staged views)
    applies to the parsed content. Unparsable content stays vacuous here
    — contentMediaType is the wellformedness check, so the two keywords
    layer exactly like Ajv's annotations would."""
    if ctx.col is None:
        return
    sub = schema[k.name]
    enc = schema.get("contentEncoding")
    if (schema.get("contentMediaType") == "application/json"
            and isinstance(ctx.dtype, T.StringType) and _vr.HAVE_VARIANT):
        raw = (F.unbase64(ctx.col).cast("string") if enc == "base64"
               else ctx.col)
        _compile_keywords(sub, _dc_replace(
            ctx, col=F.try_parse_json(raw), dtype=_vr.VariantType(),
            schema_path=f"{ctx.schema_path}/{k.name}", vstage=None))
    else:
        ctx.out.unknown.append((ctx.instance_path, k.name))


def _finite(ctx: _Ctx, schema: dict, k) -> None:
    if schema[k.name] is not True:
        return
    if ctx.col is not None and isinstance(ctx.dtype,
                                          (T.FloatType, T.DoubleType)):
        # NaN/±Inf slip through minimum alone (NaN sorts above every
        # double so `>= min` holds); JSON has no non-finite numbers,
        # so the reference's Ajv never faces them — table columns do
        msg = _reason("must be finite", ctx, k.name)
        _add(ctx, k.name,
             _present(ctx) & (F.isnan(ctx.col)
                              | (F.abs(ctx.col) == F.lit(float("inf")))),
             msg)
    elif not ctx.silent:
        # non-float columns cannot hold NaN/Inf — surface the no-op
        # declaration instead of a silent vacuous pass
        ctx.out.unknown.append((ctx.instance_path, k.name))


def _required(ctx: _Ctx, schema: dict, k) -> None:
    for prop in schema[k.name]:
        child_col, child_t, exists = _child(ctx, prop)
        msg = _reason(f"must have required property '{prop}'", ctx, k.name)
        if not exists:
            # property absent from the schema entirely: statically
            # violated — but only when the enclosing object EXISTS
            # (Ajv skips the whole subschema on an absent object; an
            # unguarded lit(True) fired on NULL parents too)
            ctx.out.static_failures.append(
                (ctx.instance_path, k.name, f"no column for {prop!r}"))
            violated = F.lit(True) if ctx.col is None \
                else ctx.col.isNotNull()
        elif isinstance(ctx.dtype, T.MapType):
            violated = ~F.map_contains_key(ctx.col, prop)
            if ctx.col is not None:
                violated = ctx.col.isNotNull() & violated
        else:
            violated = child_col.isNull()
            if ctx.col is not None:
                # nested object: required fires only when the object exists
                violated = ctx.col.isNotNull() & violated
        # Ajv reports required at the *object's* path with param
        # missingProperty (index.ts:175-177)
        _add(ctx, k.name, violated, msg, actual=F.lit(None).cast("string"))


def _properties(ctx: _Ctx, schema: dict, k) -> None:
    for prop, sub in schema[k.name].items():
        child_col, child_t, exists = _child(ctx, prop)
        if not exists:
            # property constrained but column missing: value keywords are
            # vacuous on an absent property (Ajv semantics) — skip. But
            # unknown keywords must still surface (a typo'd keyword is a
            # schema bug whether or not the column exists today; Ajv
            # strict flags it at compile time, data-independent)
            for kw in sub if isinstance(sub, dict) else ():
                if kw not in _BY_NAME:
                    ctx.out.unknown.append(
                        (f"{ctx.instance_path}/{prop}", kw))
            ctx.out.static_passes.append(
                (f"{ctx.instance_path}/{prop}", "absent-column"))
            continue
        _compile_keywords(sub, _dc_replace(
            ctx, col=child_col, dtype=child_t,
            instance_path=f"{ctx.instance_path}/{prop}",
            schema_path=f"{ctx.schema_path}/{k.name}/{prop}",
            schema_file=_sub_file(ctx, sub)))


def _prefix_items(ctx: _Ctx, schema: dict, k) -> None:
    """2020-12 positional form: `items` (dict) is the TAIL schema when
    prefixItems is present (same role additionalItems plays in draft-07);
    compiled through the shared tuple path."""
    if ctx.col is None or not isinstance(ctx.dtype, T.ArrayType):
        return
    tail = schema["items"] if isinstance(schema.get("items"), dict) \
        else schema.get("additionalItems")
    _tuple_items_check(ctx, schema[k.name], tail, kw=k.name)


def _items(ctx: _Ctx, schema: dict, k) -> None:
    if "prefixItems" in schema or ctx.col is None \
            or not isinstance(ctx.dtype, T.ArrayType):
        return
    if isinstance(schema[k.name], dict):
        _items_check(ctx, schema[k.name])
    elif isinstance(schema[k.name], list):
        _tuple_items_check(ctx, schema[k.name],
                           schema.get("additionalItems"))


def _all_of(ctx: _Ctx, schema: dict, k) -> None:
    for i, sub in enumerate(schema[k.name]):
        _compile_keywords(sub, _dc_replace(
            ctx, schema_path=f"{ctx.schema_path}/{k.name}/{i}",
            schema_file=_sub_file(ctx, sub)))


def _any_of(ctx: _Ctx, schema: dict, k) -> None:
    vals = [_validity(sub, ctx, f"{ctx.schema_path}/{k.name}/{i}")
            for i, sub in enumerate(schema[k.name])]
    msg = _reason("must match a schema in anyOf", ctx, k.name)
    _add(ctx, k.name, _guarded(ctx, ~reduce(operator.or_, vals)), msg)


def _one_of(ctx: _Ctx, schema: dict, k) -> None:
    vals = [_validity(sub, ctx, f"{ctx.schema_path}/{k.name}/{i}")
            for i, sub in enumerate(schema[k.name])]
    n_ok = balanced_reduce(lambda a, b: a + b,
                           [v.cast("int") for v in vals])
    msg = _reason("must match exactly one schema in oneOf", ctx, k.name)
    _add(ctx, k.name, _guarded(ctx, n_ok != 1), msg)


def _not(ctx: _Ctx, schema: dict, k) -> None:
    ok = _validity(schema[k.name], ctx, f"{ctx.schema_path}/{k.name}")
    _add(ctx, k.name, _guarded(ctx, ok),
         _reason("must NOT be valid", ctx, k.name))


def _unique_items(ctx: _Ctx, schema: dict, k) -> None:
    if schema[k.name] is not True or ctx.col is None \
            or not isinstance(ctx.dtype, T.ArrayType):
        return
    msg = _reason("must NOT have duplicate items", ctx, k.name)
    _add(ctx, k.name,
         _present(ctx) & (F.size(F.array_distinct(ctx.col))
                          < F.size(ctx.col)), msg)


def _contains(ctx: _Ctx, schema: dict, k) -> None:
    if ctx.col is None or not isinstance(ctx.dtype, T.ArrayType):
        return
    elem_ok = _element_validity_fn(ctx, schema[k.name],
                                   f"{ctx.schema_path}/{k.name}")
    n_match = F.size(F.filter(ctx.col, elem_ok))
    lo = schema.get("minContains", 1)
    if lo > 0:
        msg = _reason(f"must contain at least {lo} valid item(s)",
                      ctx, k.name)
        _add(ctx, k.name, _present(ctx) & (n_match < lo), msg)
    if "maxContains" in schema:
        hi = schema["maxContains"]
        msg = _reason(f"must contain at most {hi} valid item(s)",
                      ctx, "maxContains")
        _add(ctx, "maxContains", _present(ctx) & (n_match > hi), msg)


def _dependencies(ctx: _Ctx, schema: dict, k) -> None:
    """dependentRequired / dependentSchemas (2019-09) and draft-07
    ``dependencies`` (either form)."""
    for trigger, reqs in (schema[k.name] or {}).items():
        t_col, _t, t_exists = _child(ctx, trigger)
        if not t_exists:
            ctx.out.static_passes.append(
                (f"{ctx.instance_path}/{trigger}", k.name))
            continue
        t_present = (F.map_contains_key(ctx.col, trigger)
                     if isinstance(ctx.dtype, T.MapType)
                     else t_col.isNotNull())
        if isinstance(reqs, dict):  # dependencies schema form
            dep_ok = _validity(reqs, ctx,
                               f"{ctx.schema_path}/{k.name}/{trigger}")
            msg = _reason(f'must match "{trigger}" dependency schema',
                          ctx, k.name)
            _add(ctx, k.name, t_present & ~dep_ok, msg)
            continue
        for req in reqs:
            r_col, _rt, r_exists = _child(ctx, req)
            msg = _reason(
                f"must have property {req} when property {trigger} "
                f"is present", ctx, k.name)
            if not r_exists:
                violated = t_present
            elif isinstance(ctx.dtype, T.MapType):
                violated = t_present & ~F.map_contains_key(ctx.col, req)
            else:
                violated = t_present & r_col.isNull()
            _add(ctx, k.name, violated, msg,
                 actual=F.lit(None).cast("string"))


def _if(ctx: _Ctx, schema: dict, k) -> None:
    cond_ok = _validity(schema[k.name], ctx, f"{ctx.schema_path}/{k.name}")
    if "then" in schema:
        then_ok = _validity(schema["then"], ctx, f"{ctx.schema_path}/then")
        msg = _reason('must match "then" schema', ctx, k.name)
        _add(ctx, k.name, _guarded(ctx, cond_ok & ~then_ok), msg)
    if "else" in schema:
        else_ok = _validity(schema["else"], ctx, f"{ctx.schema_path}/else")
        msg = _reason('must match "else" schema', ctx, k.name)
        _add(ctx, k.name, _guarded(ctx, ~cond_ok & ~else_ok), msg)


def _table_check(ctx: _Ctx, schema: dict, k) -> None:
    """A table-level declaration (operators/table_checks.py): it
    aggregates or joins whole columns, so it compiles only at its
    declared placement; any other use lands in ``unknown`` so strict mode
    flags the dropped declaration. Not compiled inside a composition
    probe (``_probe_validity`` reports it there)."""
    if ctx.silent:
        return
    v = schema[k.name]
    names = ctx.df_schema.fieldNames()
    top = ctx.instance_path.count("/") == 1 and ctx.col is not None
    for spec in _TABLE_KEYWORDS[k.name]:
        if v is None or not spec.declares(v):
            continue
        p = spec.compile(v, ctx.severity)
        if spec.where == ROOT:
            placed = ctx.instance_path == "" and all(
                key in names for key in p["keys"])
        else:
            placed = (top and isinstance(ctx.dtype, spec.column_types(p))
                      and (spec.column is None or p[spec.column] is None
                           or p[spec.column] in names))
        if placed:
            ctx.out.table_checks.append(
                (spec.kind, ctx.instance_path[1:], p))
        else:
            ctx.out.unknown.append((ctx.instance_path, spec.keyword))


def _langid(ctx: _Ctx, schema: dict, k) -> None:
    """Declared-vs-detected language consistency: a pure row expression
    (marker-token argmax, operators/text.lang_guess) so it rides the
    one-projection scan — no extra pass."""
    if ctx.col is None:
        return
    from ..operators import text as _text

    p = read_params(k.params, schema[k.name])
    declared = p["declared"]
    if declared not in ctx.df_schema.fieldNames():
        # declared column absent from the table: can't evaluate —
        # surfaced, never silently vacuous
        ctx.out.unknown.append((ctx.instance_path, f"{k.name}:{declared}"))
        return
    if not ctx.silent:
        ctx.out.columns_read.add(declared)
    dcol = F.col(declared)
    guess = _text.lang_guess(ctx.col)
    violated = (_present(ctx) & dcol.isNotNull()
                & (_text.token_count(ctx.col) >= p["min_tokens"])
                & (guess != F.lit("und"))
                & (guess != dcol))
    msg = _reason(f'must match declared language in "{declared}"', ctx,
                  k.name)
    _add(ctx, k.name, violated, msg, actual=guess)


def _rate(ctx: _Ctx, schema: dict, k) -> None:
    """Transcript-vs-duration plausibility (the audio-tier cross-field
    check, functions/audio.speaking_rate_violations as a DSL row
    expression): chars/sec of this string column against a declared
    millisecond duration column must land in [lo, hi]."""
    if ctx.col is None:
        return
    p = read_params(k.params, schema[k.name])
    dur_name, lo, hi = p["duration"], p["lo"], p["hi"]
    if dur_name not in ctx.df_schema.fieldNames():
        ctx.out.unknown.append((ctx.instance_path, f"{k.name}:{dur_name}"))
        return
    if not ctx.silent:
        ctx.out.columns_read.add(dur_name)
    dur = F.col(dur_name)
    rate = F.length(ctx.col) / (dur / F.lit(1000.0))
    violated = (_present(ctx) & dur.isNotNull() & (dur > 0)
                & ((rate < lo) | (rate > hi)))
    msg = _reason(
        f'must have plausible speaking rate ({lo}-{hi} chars/sec '
        f'against "{dur_name}")', ctx, k.name)
    _add(ctx, k.name, violated, msg, actual=F.round(rate, 2).cast("string"))


def _encoding(ctx: _Ctx, schema: dict, k) -> None:
    """Encoding-damage gate (operators/text.MOJIBAKE_PATTERNS): total
    mojibake-artifact occurrences in this string column must not exceed
    max_artifacts. Pure-JVM regexp_count sum — rides the one-projection
    pass like every row check."""
    if ctx.col is None:
        return
    from ..operators.text import MOJIBAKE_PATTERNS

    p = read_params(k.params, schema[k.name])
    names = p["patterns"] or list(MOJIBAKE_PATTERNS)
    unknown_pats = [n for n in names if n not in MOJIBAKE_PATTERNS]
    if unknown_pats:
        ctx.out.unknown.append(
            (ctx.instance_path, f"{k.name}:" + ",".join(unknown_pats)))
        return
    total = balanced_reduce(
        lambda a, b: a + b,
        [F.coalesce(F.regexp_count(ctx.col, F.lit(MOJIBAKE_PATTERNS[n])),
                    F.lit(0)) for n in names])
    msg = _reason(
        f"must contain at most {p['max_artifacts']} encoding-damage "
        f"artifact(s) ({'/'.join(names)})", ctx, k.name)
    _add(ctx, k.name, _present(ctx) & (total > p["max_artifacts"]), msg,
         actual=total.cast("string"))


def _embedding(ctx: _Ctx, schema: dict, k) -> None:
    """``x-embedding``: quality invariants of an embedding column — the
    validation surface an embeddings table needs before any ANN/near-dup
    pass will behave (similarity.py assumes finite, consistently-sized,
    optionally L2-normalized vectors). All pure row-level Column
    expressions (probes inside compositions work), presence-guarded:

    * ``dim``        — exact dimensionality
    * ``finite``     — no NaN/Inf elements
    * ``nonzero``    — not the all-zero vector
    * ``normalized`` — |L2 norm − 1| ≤ ``norm_tol``; only
      tested on finite vectors (NaN norms already fail ``finite``, and
      NaN comparison semantics differ across engines)
    """
    if ctx.col is None:
        return
    if not isinstance(ctx.dtype, T.ArrayType) or not isinstance(
            ctx.dtype.elementType, (T.FloatType, T.DoubleType, T.DecimalType)):
        # declared on a non-float-array column: config bug, surface it
        ctx.out.unknown.append((ctx.instance_path, k.name))
        return
    p = read_params(k.params, schema[k.name])
    c = ctx.col.cast("array<double>")
    present = _present(ctx)
    n_bad = F.size(F.filter(
        c, lambda x: F.isnan(x) | (F.abs(x) == float("inf"))))
    finite_ok = n_bad == 0
    if p["dim"] is not None:
        d = p["dim"]
        msg = _reason(f"must have embedding dimension {d}", ctx,
                      "x-embedding")
        _add(ctx, "x-embedding-dim", present & (F.size(c) != d), msg,
             actual=F.size(c).cast("string"))
    if p["finite"]:
        msg = _reason("must contain only finite values", ctx, "x-embedding")
        _add(ctx, "x-embedding-finite", present & ~finite_ok, msg,
             actual=F.concat(n_bad.cast("string"), F.lit(" non-finite")))
    norm2 = F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    if p["nonzero"]:
        msg = _reason("must not be the zero vector", ctx, "x-embedding")
        _add(ctx, "x-embedding-nonzero",
             present & finite_ok & (norm2 == 0.0), msg,
             actual=F.lit("0.0"))
    if p["normalized"]:
        tol = p["norm_tol"]
        msg = _reason(f"must be L2-normalized (|norm-1| <= {tol:g})", ctx,
                      "x-embedding")
        _add(ctx, "x-embedding-norm",
             present & finite_ok
             & (F.abs(F.sqrt(norm2) - 1.0) > tol), msg,
             actual=F.round(F.sqrt(norm2), 6).cast("string"))


def _spark_check(ctx: _Ctx, schema: dict, k) -> None:
    if ctx.col is None:
        return
    name = schema[k.name]
    fn = ctx.extra_checks.get(name)
    if fn is None:
        ctx.out.unknown.append((ctx.instance_path, f"{k.name}:{name}"))
        return
    msg = _reason(f'must pass check "{name}"', ctx, k.name)
    ok = fn(ctx.col)
    if ctx.stage is not None and _calls_python(ok):
        # inline, every consumer of the predicate (the violations
        # prefilter and the explode) gets its own Python crossing;
        # staged, the check crosses once per row
        ok = ctx.stage(f"{ctx.instance_path}.check", ok)
    _add(ctx, k.name, _present(ctx) & ~ok, msg)


def _regex_ok(p) -> bool:
    """Compile-time regex validation (Ajv fails compile on a bad regex,
    index.ts:335-340 guard; without this the error surfaces as an executor
    PatternSyntaxException mid-job). The check uses the JVM's own
    ``java.util.regex.Pattern`` when a session is up (the authoritative
    dialect, since ``rlike`` executes Java regex — Python ``re`` would
    reject Java-valid patterns like ``\\p{Lu}+`` and accept Java-invalid
    ones); falls back to Python ``re`` only when no JVM is available."""
    if not isinstance(p, str):
        return False
    try:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
    except Exception:
        spark = None
    if spark is not None:
        try:
            spark._jvm.java.util.regex.Pattern.compile(p)  # noqa: SLF001
            return True
        except Exception:
            return False
    try:
        re.compile(p)
        return True
    except re.error:
        return False


def _calls_python(col: Column) -> bool:
    """True iff ``col`` evaluates a Python UDF. Decided on the JVM
    expression tree (its PYTHON_UDF pattern bit), so no Spark job runs.
    A Column this cannot inspect counts as JVM-only and stays inline."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    jvm = SparkContext._jvm
    try:
        conv = getattr(getattr(jvm.org.apache.spark.sql.classic,
                               "ColumnNodeToExpressionConverter$"), "MODULE$")
        return bool(conv.apply(col._jc.node()).containsPattern(
            jvm.org.apache.spark.sql.catalyst.trees.TreePattern.PYTHON_UDF()))
    except (AttributeError, Py4JError):
        return False


def _items_check(ctx: _Ctx, items_schema: dict) -> None:
    """Array element checks via F.exists — one violation per array, not per
    element (the reference emits per-element errors with /path/0 instance
    paths; at table scale we aggregate to the array's path, actual carries
    the whole array)."""
    elem_ok = _element_validity_fn(ctx, items_schema,
                                   f"{ctx.schema_path}/items")
    msg = _reason("must have valid items", ctx, "items")
    _add(ctx, "items",
         _present(ctx) & F.exists(ctx.col, lambda e: ~elem_ok(e)), msg)


def _tuple_items_check(ctx: _Ctx, items_list: list, additional,
                       kw: str = "items") -> None:
    """Tuple-form (positional) ``items`` + draft-07 ``additionalItems``.
    Also serves 2020-12 ``prefixItems`` (``kw="prefixItems"``, with dict
    ``items`` as the tail schema).

    Each position i gets its own check against ``items[i]`` (Ajv reports
    per-element errors at ``/path/i``; same here via the instance path),
    firing only when the array actually has an element at that position —
    a shorter array is valid positionally (minItems is the length
    constraint). ``additionalItems: false`` caps the length at
    ``len(items)``; a schema validates every element beyond the tuple
    prefix. Previously this form compiled to nothing, silently — a
    positional schema was vacuously valid with no ``unknown`` record.
    """
    elem_t = ctx.dtype.elementType
    n = len(items_list)
    for i, sub in enumerate(items_list):
        # try_element_at: ANSI mode's element_at throws on short arrays;
        # the size guard below makes the NULL unreachable anyway
        elem = F.try_element_at(ctx.col, F.lit(i + 1))
        ok = _probe_validity(sub, ctx, col=elem, dtype=elem_t,
                             schema_path=f"{ctx.schema_path}/{kw}/{i}")
        msg = _reason(f"must have valid item at position {i}", ctx, kw)
        _add(ctx, kw,
             _present(ctx) & (F.size(ctx.col) > i) & ~ok, msg,
             actual=_actual_str(elem, elem_t),
             instance_path=f"{ctx.instance_path}/{i}")
    if additional is False:
        msg = _reason(f"must NOT have more than {n} items", ctx,
                      "additionalItems")
        _add(ctx, "additionalItems",
             _present(ctx) & (F.size(ctx.col) > n), msg)
    elif isinstance(additional, dict):
        elem_ok = _element_validity_fn(ctx, additional,
                                       f"{ctx.schema_path}/additionalItems")
        tail = F.when(F.size(ctx.col) > n,
                      F.slice(ctx.col, n + 1, F.size(ctx.col) - n)) \
                .otherwise(F.array().cast(ctx.dtype))
        msg = _reason("must have valid additional items", ctx,
                      "additionalItems")
        _add(ctx, "additionalItems",
             _present(ctx) & F.exists(tail, lambda e: ~elem_ok(e)), msg)


def _pattern_properties(ctx: _Ctx, schema: dict, k) -> None:
    """``patternProperties``: every property whose NAME matches a pattern
    (unanchored search, Ajv semantics) must have a value valid under that
    pattern's schema.

    Struct/root nodes have schema-static property names, so matching runs
    at compile time in the JVM regex dialect (the same dialect ``rlike``
    uses at runtime) and each matching property compiles like a normal
    ``properties`` entry — full per-keyword checks and messages. Map nodes
    have data-dependent keys: one aggregated check per pattern via a
    runtime forall over ``map_entries`` (matching keys with invalid values
    are listed in ``actual``).
    """
    pp = schema[k.name]
    if ctx.col is None or isinstance(ctx.dtype, T.StructType):
        names = (ctx.df_schema.fieldNames() if ctx.col is None
                 else ctx.dtype.fieldNames())
        for pattern, sub in pp.items():
            matched = [nm for nm in names
                       if _java_regex_search(pattern, nm)]
            if not matched:
                ctx.out.static_passes.append(
                    (ctx.instance_path, f"patternProperties:{pattern}"))
            for nm in matched:
                child_col, child_t, _exists = _child(ctx, nm)
                _compile_keywords(sub, _dc_replace(
                    ctx, col=child_col, dtype=child_t,
                    instance_path=f"{ctx.instance_path}/{nm}",
                    schema_path=f"{ctx.schema_path}/{k.name}/{pattern}",
                    schema_file=_sub_file(ctx, sub), stage=None,
                    vstage=None))
        return
    if isinstance(ctx.dtype, T.MapType):
        val_t = ctx.dtype.valueType

        def bad_entry_fn(pat, sub_schema):
            # closure, not default args: pyspark HOF lambdas must have
            # exactly one parameter (extra params are parsed as the
            # array-index variable / rejected)
            def f(e):
                ok = _probe_validity(
                    sub_schema, ctx, col=e.getField("value"), dtype=val_t,
                    schema_path=f"{ctx.schema_path}/patternProperties/{pat}")
                return e.getField("key").rlike(pat) & ~ok
            return f

        for pattern, sub in pp.items():
            bad = F.filter(F.map_entries(ctx.col), bad_entry_fn(pattern, sub))
            msg = _reason(
                f'properties matching pattern "{pattern}" must be valid',
                ctx, "patternProperties")
            _add(ctx, "patternProperties",
                 _present(ctx) & (F.size(bad) > 0), msg,
                 actual=F.concat_ws(
                     ",", F.transform(bad, lambda e: e.getField("key"))))
        return
    # other node types: property keywords are vacuous (no properties)
    ctx.out.static_passes.append((ctx.instance_path, "patternProperties"))


def _probe_validity(sub_schema: dict, ctx: _Ctx, *, col, dtype,
                    schema_path: str) -> Column:
    """Validity of the instance at (col, dtype) against ``sub_schema`` —
    the one shared probe: compiles into a discarded ruleset, folds
    ``~violated`` NULL-safely, and surfaces the probe's unknown keywords
    AND column reads into the real ruleset (strict mode must see unknowns
    anywhere in the tree; pruning to ``columns_read`` must stay sound for
    columns referenced only inside if/then/else/dependencies branches)."""
    probe = CompiledRuleset(name=ctx.out.name)
    # inherit engine options: udf_formats-gated formats inside a
    # composition branch must compile (not fall to unknown/vacuous) when
    # the caller enabled them
    probe.options = ctx.out.options
    sub_ctx = _Ctx(col=col, dtype=dtype, instance_path=ctx.instance_path,
                   schema_path=schema_path, schema_file=ctx.schema_file,
                   df_schema=ctx.df_schema, root_schema=ctx.root_schema,
                   out=probe, extra_checks=ctx.extra_checks, silent=False)
    _compile_keywords(sub_schema, sub_ctx)
    for u in probe.unknown:
        if u not in ctx.out.unknown:
            ctx.out.unknown.append(u)
    # x-unique / x-ref declared inside a composition branch (anyOf/oneOf/
    # not/if/then/else/dependencies) have no relational-pass semantics —
    # the probe's verdict is a row expression, but a table check is a whole
    # separate aggregate/join pass that cannot be conditioned per-row.
    # Surface them as unknown so strict mode flags the dropped declaration
    # instead of silently discarding it with the probe ruleset.
    for kind, column, _params in probe.table_checks:
        # a table check lands at a top-level column or, with column "",
        # at the root
        u = (f"/{column}" if column else "",
             f"{TABLE_CHECKS[kind].keyword}:in-composition")
        if u not in ctx.out.unknown:
            ctx.out.unknown.append(u)
    ctx.out.columns_read.update(probe.columns_read)
    ok = F.lit(True)
    for c in probe.checks:
        ok = ok & ~F.coalesce(c.violated, F.lit(False))
    if probe.static_failures:
        ok = F.lit(False)
    return ok


def _element_validity_fn(ctx: _Ctx, sub_schema: dict, schema_path: str):
    """Return ``elem -> Column[bool]`` validity of one array element against
    ``sub_schema`` (shared by ``contains``/``minContains``/``maxContains``).

    NULL elements follow the engine's documented NULL==absent semantics:
    value keywords are presence-guarded, so a NULL element is vacuously
    valid (mirrors JSON Schema, where e.g. ``minimum`` ignores non-numbers).
    """
    elem_t = ctx.dtype.elementType
    return lambda e: _probe_validity(sub_schema, ctx, col=e, dtype=elem_t,
                                     schema_path=schema_path)


def _property_count(ctx: _Ctx) -> Column | None:
    """Number of present properties at this node (NULL == absent).

    Root/struct: sum of non-NULL fields (root reads every column — noted in
    columns_read so pruning stays honest). Map: entry count. Other types:
    keyword is vacuous (None).
    """
    if ctx.col is None:
        fields = ctx.df_schema.fieldNames()
        ctx.out.columns_read.update(fields)
        cols = [F.col(f).isNotNull().cast("int") for f in fields]
    elif isinstance(ctx.dtype, T.StructType):
        cols = [ctx.col.getField(f).isNotNull().cast("int")
                for f in ctx.dtype.fieldNames()]
    elif isinstance(ctx.dtype, T.MapType):
        return F.size(ctx.col)
    else:
        return None
    if not cols:
        return F.lit(0)
    return balanced_reduce(lambda a, b: a + b, cols)


# the keyword subset propertyNames enforces — identical on BOTH the runtime
# (map-key) and static (struct/root name) paths, so one ruleset cannot give
# different verdicts depending on node type. `type` is handled specially:
# property names are always strings (JSON Schema core), so type:"string" is
# vacuous and any type excluding "string" fails every name.
_PNAME_KEYWORDS = ("pattern", "maxLength", "minLength", "enum", "const",
                   "format")


def _pname_type_ok(sub: dict) -> bool:
    types = sub.get("type")
    if types is None:
        return True
    tl = types if isinstance(types, list) else [types]
    return "string" in tl


def _java_regex_search(pattern: str, s: str) -> bool:
    """Unanchored regex search in the JVM's own dialect — the authoritative
    one, since runtime checks execute via ``rlike`` (java.util.regex).
    Falls back to Python ``re`` only when no JVM is up (same policy as
    :func:`_regex_ok`)."""
    try:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
    except Exception:
        spark = None
    if spark is not None:
        p = spark._jvm.java.util.regex.Pattern.compile(pattern)  # noqa: SLF001
        return bool(p.matcher(s).find())
    return re.search(pattern, s) is not None


def _static_name_ok(name: str, sub: dict) -> bool:
    """Evaluate the supported keyword subset against a literal property
    name (struct/root property names are schema-static). Regexes run in
    the JVM dialect so the static path agrees with the map-key ``rlike``
    path."""
    if not _pname_type_ok(sub):
        return False
    if "pattern" in sub and not _java_regex_search(sub["pattern"], name):
        return False
    if "maxLength" in sub and len(name) > sub["maxLength"]:
        return False
    if "minLength" in sub and len(name) < sub["minLength"]:
        return False
    if "enum" in sub and name not in sub["enum"]:
        return False
    if "const" in sub and name != sub["const"]:
        return False
    if "format" in sub and sub["format"] in FORMAT_REGEX \
            and not _java_regex_search(FORMAT_REGEX[sub["format"]], name):
        return False
    return True


def _property_names(ctx: _Ctx, schema: dict, k) -> None:
    """`propertyNames`: every property name satisfies ``sub``. Map keys are
    data -> runtime forall over map_keys; struct/root names are static.
    Both paths enforce exactly ``_PNAME_KEYWORDS`` (+ the string-type
    rule)."""
    sub = schema[k.name]
    msg = _reason("property name must be valid", ctx, "propertyNames")
    for kw in sub:
        if kw not in _PNAME_KEYWORDS + ("type",):
            ctx.out.unknown.append(
                (ctx.instance_path, f"propertyNames:{kw}"))
    if ctx.col is not None and isinstance(ctx.dtype, T.MapType):
        sub_eff = {k: v for k, v in sub.items() if k in _PNAME_KEYWORDS}
        if not _pname_type_ok(sub):
            # no string can satisfy: any non-empty map violates
            _add(ctx, "propertyNames",
                 _present(ctx) & (F.size(ctx.col) > 0), msg,
                 actual=F.concat_ws(",", F.map_keys(ctx.col)))
            return

        def key_ok(k: Column) -> Column:
            return _probe_validity(
                sub_eff, ctx, col=k, dtype=T.StringType(),
                schema_path=f"{ctx.schema_path}/propertyNames")

        bad = F.exists(F.map_keys(ctx.col), lambda k: ~key_ok(k))
        _add(ctx, "propertyNames", _present(ctx) & bad, msg,
             actual=F.concat_ws(",", F.filter(F.map_keys(ctx.col),
                                              lambda k: ~key_ok(k))))
        return
    # static name sets: table columns at root, struct fields below
    if ctx.col is None:
        names = list(ctx.df_schema.fieldNames())
    elif isinstance(ctx.dtype, T.StructType):
        names = list(ctx.dtype.fieldNames())
    else:
        return
    bad_names = [n for n in names if not _static_name_ok(n, sub)]
    if bad_names:
        ctx.out.static_failures.append(
            (ctx.instance_path, "propertyNames", f"bad names {bad_names}"))
        # fires only when the struct exists (NULL parent == absent object)
        _add(ctx, "propertyNames",
             F.lit(True) if ctx.col is None else _present(ctx), msg,
             actual=F.lit(",".join(bad_names)))
    else:
        ctx.out.static_passes.append((ctx.instance_path, "propertyNames"))


def _covers_name_static(schema: dict, nm: str) -> bool:
    """`nm` is covered by this node's own properties/patternProperties."""
    if nm in (schema.get("properties") or {}):
        return True
    return any(_java_regex_search(p, nm)
               for p in (schema.get("patternProperties") or {}))


def _in_place_branches(ctx: _Ctx, schema: dict) -> list:
    """(sub_schema, schema_path, extra_cond|None) for every in-place
    applicator whose annotations can mark properties *evaluated*
    (2019-09): $ref, allOf/anyOf/oneOf members, if/then/else (then/else
    gated on the if outcome), dependentSchemas / dict-form dependencies
    (gated on trigger presence). `not` contributes no annotations."""
    out = []
    if isinstance(schema.get("$ref"), str):
        out.append((resolve_internal_ref(ctx.root_schema, schema["$ref"]),
                    f"{ctx.schema_path}/$ref", None))
    for kw in ("allOf", "anyOf", "oneOf"):
        for i, sub in enumerate(schema.get(kw) or []):
            if isinstance(sub, dict):
                out.append((sub, f"{ctx.schema_path}/{kw}/{i}", None))
    if isinstance(schema.get("if"), dict):
        if_ok = _validity(schema["if"], ctx, f"{ctx.schema_path}/if")
        out.append((schema["if"], f"{ctx.schema_path}/if", None))
        if isinstance(schema.get("then"), dict):
            out.append((schema["then"], f"{ctx.schema_path}/then", if_ok))
        if isinstance(schema.get("else"), dict):
            out.append((schema["else"], f"{ctx.schema_path}/else", ~if_ok))
    for kw in ("dependentSchemas", "dependencies"):
        for trigger, sub in (schema.get(kw) or {}).items():
            if not isinstance(sub, dict):
                continue
            t_col, _t, t_exists = _child(ctx, trigger)
            if not t_exists:
                continue  # never applied
            t_present = (F.map_contains_key(ctx.col, trigger)
                         if isinstance(ctx.dtype, T.MapType)
                         else t_col.isNotNull())
            out.append((sub, f"{ctx.schema_path}/{kw}/{trigger}",
                        t_present))
    return out


def _evaluated_cond(ctx: _Ctx, schema: dict, nm: str, *, _top: bool = False):
    """True | Column | None: is property `nm` *evaluated* at this node
    (2019-09 annotation semantics — an applicator branch contributes its
    coverage only when that branch VALIDATES). None = never evaluated."""
    covered = (_covers_name_static(schema, nm)
               or "additionalProperties" in schema
               or (not _top and "unevaluatedProperties" in schema))
    if covered:
        return True
    conds = []
    for sub, path, extra in _in_place_branches(ctx, schema):
        c = _evaluated_cond(ctx, sub, nm)
        if c is None:
            continue
        ok = _validity(sub, ctx, path)
        cond = ok if c is True else (ok & c)
        if extra is not None:
            cond = cond & extra
        conds.append(cond)
    if not conds:
        return None
    return balanced_reduce(lambda a, b: a | b, conds)


def _key_evaluated_fn(ctx: _Ctx, schema: dict, *, _top: bool = False):
    """Runtime-key twin of :func:`_evaluated_cond` for map-typed nodes:
    returns ``f(key_col) -> Column``, True (all keys evaluated) or None
    (never). Branch-validity Columns are row-level outer references —
    legal inside the HOF lambda the caller builds."""
    if ("additionalProperties" in schema
            or (not _top and "unevaluatedProperties" in schema)):
        return True
    names = list((schema.get("properties") or {}).keys())
    pats = list((schema.get("patternProperties") or {}).keys())
    parts = []  # (True | f(k), validity Column | None)
    if names or pats:
        def local(k, names=tuple(names), pats=tuple(pats)):
            c = k.isin(*names) if names else F.lit(False)
            for p in pats:
                c = c | k.rlike(p)
            return c
        parts.append((local, None))
    for sub, path, extra in _in_place_branches(ctx, schema):
        f = _key_evaluated_fn(ctx, sub)
        if f is None:
            continue
        ok = _validity(sub, ctx, path)
        if extra is not None:
            ok = ok & extra
        parts.append((f, ok))
    if not parts:
        return None

    def combined(k):
        c = F.lit(False)
        for f, ok in parts:
            cov = F.lit(True) if f is True else f(k)
            c = c | (cov if ok is None else (ok & cov))
        return c
    return combined


_COV_ALL = 1 << 30  # "covers every index" sentinel (arrays are far smaller)


def _item_coverage(ctx: _Ctx, schema: dict, *, _top: bool = False):
    """Array-item evaluation coverage of one node (2019-09 annotations):
    returns ``(cov_len_exprs, elem_preds)`` where ``cov_len_exprs`` are
    int Columns (indexes below their max are evaluated; branch
    contributions collapse to -1 when the branch fails) and
    ``elem_preds`` are ``fn(elem) -> Column`` for per-element coverage
    from ``contains`` (conditioned on branch validity by construction)."""
    covs, preds = [], []
    local = 0
    its = schema.get("items")
    if isinstance(its, dict) or isinstance(schema.get("additionalItems"),
                                           dict) \
            or (not _top and "unevaluatedItems" in schema):
        local = _COV_ALL
    elif isinstance(its, list):
        local = len(its)
    if isinstance(schema.get("prefixItems"), list):
        local = max(local, len(schema["prefixItems"]))
    if local:
        covs.append(F.lit(local))
    if isinstance(schema.get("contains"), dict):
        fn = _element_validity_fn(ctx, schema["contains"],
                                  f"{ctx.schema_path}/contains")
        preds.append(fn)
    for sub, path, extra in _in_place_branches(ctx, schema):
        sub_covs, sub_preds = _item_coverage(ctx, sub)
        if not sub_covs and not sub_preds:
            continue
        ok = _validity(sub, ctx, path)
        if extra is not None:
            ok = ok & extra
        for c in sub_covs:
            covs.append(F.when(ok, c).otherwise(F.lit(-1)))
        for fn in sub_preds:
            preds.append((lambda f, o: lambda e: o & f(e))(fn, ok))
    return covs, preds


def _unevaluated_items(ctx: _Ctx, schema: dict, k) -> None:
    """2019-09 ``unevaluatedItems``: indexes below a validating branch's
    prefix/items coverage (or matching a ``contains`` schema) are
    evaluated; the rest must be absent (``false``) or match the given
    schema. Non-array nodes are vacuous."""
    ui = schema[k.name]
    msg = _reason("must NOT have unevaluated items", ctx,
                  "unevaluatedItems")
    if ui is True or ctx.col is None \
            or not isinstance(ctx.dtype, T.ArrayType):
        ctx.out.static_passes.append(
            (ctx.instance_path, "unevaluatedItems"))
        return
    covs, preds = _item_coverage(ctx, schema, _top=True)
    max_cov = (balanced_reduce(F.greatest, covs) if len(covs) > 1
               else (covs[0] if covs else F.lit(0)))

    def uneval(x, i):
        u = i >= max_cov
        for fn in preds:
            u = u & ~F.coalesce(fn(x), F.lit(False))
        return u

    if isinstance(ui, dict):
        sub_ok = _element_validity_fn(ctx, ui,
                                      f"{ctx.schema_path}/unevaluatedItems")

        def bad(x, i):
            return uneval(x, i) & ~F.coalesce(sub_ok(x), F.lit(False))
    else:
        bad = uneval
    n_bad = F.size(F.filter(ctx.col, bad))
    _add(ctx, "unevaluatedItems", _present(ctx) & (n_bad > 0), msg,
         actual=n_bad.cast("string"))


def _unevaluated_properties(ctx: _Ctx, schema: dict, k) -> None:
    """2019-09 ``unevaluatedProperties``: like additionalProperties but
    seeing THROUGH in-place applicators — a property declared by a
    validating allOf/anyOf/oneOf/then/else/$ref branch counts as
    evaluated. ``false`` forbids unevaluated properties; a schema
    validates their values; ``true`` is vacuous."""
    up = schema[k.name]
    msg = _reason("must NOT have unevaluated properties", ctx,
                  "unevaluatedProperties")
    if up is True:
        ctx.out.static_passes.append(
            (ctx.instance_path, "unevaluatedProperties"))
        return

    if ctx.col is None or isinstance(ctx.dtype, T.StructType):
        names = (ctx.df_schema.fieldNames() if ctx.col is None
                 else ctx.dtype.fieldNames())
        any_check = False
        for nm in names:
            cond = _evaluated_cond(ctx, schema, nm, _top=True)
            if cond is True:
                continue
            any_check = True
            child_col, child_t, _e = _child(ctx, nm)
            present = child_col.isNotNull()
            if ctx.col is not None:
                present = ctx.col.isNotNull() & present
            uneval = (present if cond is None
                      else present & ~F.coalesce(cond, F.lit(False)))
            if isinstance(up, dict):
                ok = _probe_validity(
                    up, ctx, col=child_col, dtype=child_t,
                    schema_path=f"{ctx.schema_path}/unevaluatedProperties")
                violated = uneval & ~ok
            else:
                violated = uneval
            _add(ctx, "unevaluatedProperties", violated, msg,
                 actual=F.lit(nm))
        if not any_check:
            ctx.out.static_passes.append(
                (ctx.instance_path, "unevaluatedProperties"))
        return

    if isinstance(ctx.dtype, T.MapType):
        fcomb = _key_evaluated_fn(ctx, schema, _top=True)
        if fcomb is True:
            ctx.out.static_passes.append(
                (ctx.instance_path, "unevaluatedProperties"))
            return
        val_t = ctx.dtype.valueType

        def bad(e):
            u = (F.lit(True) if fcomb is None
                 else ~F.coalesce(fcomb(e.getField("key")), F.lit(False)))
            if isinstance(up, dict):
                ok = _probe_validity(
                    up, ctx, col=e.getField("value"), dtype=val_t,
                    schema_path=f"{ctx.schema_path}/unevaluatedProperties")
                return u & ~ok
            return u

        bad_keys = F.transform(F.filter(F.map_entries(ctx.col), bad),
                               lambda e: e.getField("key"))
        _add(ctx, "unevaluatedProperties",
             _present(ctx) & (F.size(bad_keys) > 0), msg,
             actual=F.concat_ws(",", bad_keys))
        return

    # non-object node: vacuous (JSON Schema object keywords)
    ctx.out.static_passes.append(
        (ctx.instance_path, "unevaluatedProperties"))


def _additional_properties(ctx: _Ctx, schema: dict, k) -> None:
    """``additionalProperties``: a property is *additional* when its name
    is neither in ``properties`` nor matched by any ``patternProperties``
    regex (JSON Schema core). ``false`` forbids additional properties;
    a schema validates their values (previously the dict form compiled to
    nothing, silently). ``true`` is vacuous."""
    ap = schema[k.name]
    if ap is not False and not isinstance(ap, dict):
        return
    allowed = list(schema.get("properties", {}).keys())
    patterns = list(schema.get("patternProperties", {}).keys())
    msg = _reason("must NOT have additional properties", ctx,
                  "additionalProperties")

    def is_extra_name(nm: str) -> bool:
        return nm not in allowed and not any(
            _java_regex_search(p, nm) for p in patterns)

    # static name sets: table columns at root, struct fields below
    if ctx.col is None or isinstance(ctx.dtype, T.StructType):
        names = (ctx.df_schema.fieldNames() if ctx.col is None
                 else ctx.dtype.fieldNames())
        extra = [f for f in names if is_extra_name(f)]
        if isinstance(ap, dict):
            # schema form: each extra property compiles against `ap`, same
            # shape as a patternProperties static match
            for nm in extra:
                child_col, child_t, _exists = _child(ctx, nm)
                _compile_keywords(ap, _dc_replace(
                    ctx, col=child_col, dtype=child_t,
                    instance_path=f"{ctx.instance_path}/{nm}",
                    schema_path=f"{ctx.schema_path}/{k.name}",
                    schema_file=_sub_file(ctx, ap), stage=None,
                    vstage=None))
            if not extra:
                ctx.out.static_passes.append((ctx.instance_path,
                                              "additionalProperties"))
            return
        if not extra:
            ctx.out.static_passes.append((ctx.instance_path,
                                          "additionalProperties"))
            return
        if ctx.col is None:
            ctx.out.static_failures.append(
                (ctx.instance_path, "additionalProperties",
                 f"extra columns {extra}"))
            _add(ctx, "additionalProperties", F.lit(True), msg,
                 actual=F.lit(",".join(extra)))
        else:
            _add(ctx, "additionalProperties", _present(ctx), msg,
                 actual=F.lit(",".join(extra)))
        return

    if isinstance(ctx.dtype, T.MapType):
        def key_extra(k):
            e = ~k.isin(*allowed) if allowed else F.lit(True)
            for p in patterns:
                e = e & ~k.rlike(p)
            return e

        if ap is False and not patterns:
            # fast path: array_except is a regular codegen-able expression;
            # the F.filter lambda below is CodegenFallback and would drop
            # the whole validation projection out of whole-stage codegen
            # (measured 2.3x on the events-props suite query)
            extra_keys = F.array_except(
                F.map_keys(ctx.col),
                F.array(*[F.lit(k) for k in allowed])
                if allowed else F.array().cast("array<string>"))
            _add(ctx, "additionalProperties",
                 _present(ctx) & (F.size(extra_keys) > 0), msg,
                 actual=F.concat_ws(",", extra_keys))
            return
        if isinstance(ap, dict):
            val_t = ctx.dtype.valueType

            def entry_bad(e):
                ok = _probe_validity(
                    ap, ctx, col=e.getField("value"), dtype=val_t,
                    schema_path=f"{ctx.schema_path}/additionalProperties")
                return key_extra(e.getField("key")) & ~ok

            bad = F.filter(F.map_entries(ctx.col), entry_bad)
            msg = _reason("additional properties must be valid", ctx,
                          "additionalProperties")
            _add(ctx, "additionalProperties",
                 _present(ctx) & (F.size(bad) > 0), msg,
                 actual=F.concat_ws(
                     ",", F.transform(bad, lambda e: e.getField("key"))))
            return
        extra_keys = F.filter(F.map_keys(ctx.col), key_extra)
        _add(ctx, "additionalProperties",
             _present(ctx) & (F.size(extra_keys) > 0), msg,
             actual=F.concat_ws(",", extra_keys))


# ---------------------------------------------------------------------------
# the keyword table
# ---------------------------------------------------------------------------

# where a keyword's subschemas sit (``_shape_walk`` descends into them)
SCHEMA = "schema"  # the value is a schema, or a list of schemas
MAP = "map"        # the value maps names to schemas
PROPS = "props"    # like MAP, but a value that is not a schema is an error

# how a keyword compiles on a Spark-4 VariantType node (plans/variant.py):
# scalars compile against per-row JSON type tags; object/array keywords
# reuse the generic MapType/ArrayType machinery through typed views;
# composition re-enters the generic body on the variant column itself.
# UNSUPPORTED keywords are surfaced in `unknown` (strict mode flags them),
# never a silent vacuous pass. None: the keyword adds no check there.
SCALAR = "scalar"
ARRAY_VIEW = "array"
OBJECT_VIEW = "object"
PASSTHROUGH = "passthrough"
UNSUPPORTED = "unsupported"


@dataclass(frozen=True)
class _Keyword:
    """One keyword, declared once."""

    name: str
    shape: object = None             # the value's type(s), a predicate or
    #                                  None (any value)
    subs: str | None = None          # where its subschemas sit
    route: str | None = None         # its compile on a variant node
    compile: Callable | None = None  # fn(ctx, schema, k); None: another
    #                                  entry reads it, or an annotation
    params: tuple = ()               # x-* keywords: table_checks.Param
    rule: Callable | None = None     # cross-field predicate(v, params)

    def shape_ok(self, v) -> bool:
        if self.params:
            return params_ok(self.params, v, self.rule)
        if isinstance(self.shape, (type, tuple)):
            return isinstance(v, self.shape)
        return self.shape is None or self.shape(v)


def _nonneg(v) -> bool:
    return v >= 0


def _count(v) -> bool:
    return _is_int(v) and v >= 0


def _strings(v) -> bool:
    return isinstance(v, list) and all(isinstance(s, str) for s in v)


def _schemas(v) -> bool:
    return isinstance(v, list) and all(isinstance(s, dict) for s in v)


def _table_keyword(kw: str) -> _Keyword:
    """A table-check keyword, derived from its operators/table_checks.py
    declarations (x-unique has two forms)."""
    specs = _TABLE_KEYWORDS[kw]
    return _Keyword(kw, lambda v: any(s.shape_ok(v) for s in specs),
                    route=UNSUPPORTED, compile=_table_check)


# Every keyword, in compile order: the order sets the constraint ids (and
# their #2 suffixes) and the `unknown` order, so it is part of the output.
# Keywords whose compile reads a companion (prefixItems/items ->
# additionalItems, contains -> minContains/maxContains, if -> then/else)
# declare the companion with no compile of its own.
_KEYWORDS = (
    _Keyword("x-severity", lambda v: v in ("error", "warning", "info"),
             route=SCALAR, compile=_severity),
    _Keyword("$ref", route=SCALAR, compile=_ref),
    _Keyword("type", lambda v: isinstance(v, str) or _strings(v),
             route=SCALAR, compile=_type_check),
    _Keyword("enum", lambda v: isinstance(v, list) and len(v) > 0,
             route=SCALAR, compile=_enum),
    _Keyword("const", route=SCALAR, compile=_const),
    _Keyword("maxLength", _is_int, route=SCALAR, compile=_compare(
        _length_view, operator.gt, "must NOT have more than {} characters")),
    _Keyword("minLength", _is_int, route=SCALAR, compile=_compare(
        _length_view, operator.lt, "must NOT have fewer than {} characters")),
    _Keyword("pattern", _regex_ok, route=SCALAR, compile=_pattern),
    _Keyword("format", str, route=SCALAR, compile=_format),
    # content keywords are typed-column operators
    _Keyword("contentEncoding", str, route=UNSUPPORTED,
             compile=_content_encoding),
    _Keyword("contentMediaType", str, route=UNSUPPORTED,
             compile=_content_media_type),
    _Keyword("contentSchema", dict, SCHEMA, UNSUPPORTED,
             _content_schema),
    _Keyword("minimum", _is_num, route=SCALAR, compile=_compare(
        _number_view, operator.lt, "must be >= {}")),
    _Keyword("maximum", _is_num, route=SCALAR, compile=_compare(
        _number_view, operator.gt, "must be <= {}")),
    _Keyword("exclusiveMinimum", _is_num, route=SCALAR, compile=_compare(
        _number_view, operator.le, "must be > {}")),
    _Keyword("exclusiveMaximum", _is_num, route=SCALAR, compile=_compare(
        _number_view, operator.ge, "must be < {}")),
    _Keyword("multipleOf", lambda v: _is_num(v) and v > 0, route=SCALAR,
             compile=_compare(_number_view,
                              lambda c, n: F.pmod(c, n) != 0,
                              "must be multiple of {}")),
    # float and double columns only: anywhere else, a variant node
    # included, it lands in `unknown`
    _Keyword("x-finite", bool, route=UNSUPPORTED, compile=_finite),
    _Keyword("maxItems", _is_int, route=ARRAY_VIEW, compile=_compare(
        _size_view, operator.gt, "must NOT have more than {} items")),
    _Keyword("minItems", _is_int, route=ARRAY_VIEW, compile=_compare(
        _size_view, operator.lt, "must NOT have fewer than {} items")),
    _Keyword("required", _strings, route=OBJECT_VIEW, compile=_required),
    _Keyword("properties", dict, PROPS, OBJECT_VIEW, _properties),
    _Keyword("patternProperties", lambda v: isinstance(v, dict) and all(
        _regex_ok(p) and isinstance(s, dict) for p, s in v.items()),
        MAP, OBJECT_VIEW, _pattern_properties),
    _Keyword("prefixItems", _schemas, SCHEMA, ARRAY_VIEW, _prefix_items),
    _Keyword("items", lambda v: isinstance(v, dict) or _schemas(v),
             SCHEMA, ARRAY_VIEW, _items),
    _Keyword("additionalItems", (bool, dict), SCHEMA, ARRAY_VIEW),
    _Keyword("additionalProperties", None, SCHEMA, OBJECT_VIEW,
             _additional_properties),
    _Keyword("unevaluatedProperties", (bool, dict), SCHEMA, OBJECT_VIEW,
             _unevaluated_properties),
    _Keyword("unevaluatedItems", (bool, dict), SCHEMA, ARRAY_VIEW,
             _unevaluated_items),
    _Keyword("allOf", _schemas, SCHEMA, PASSTHROUGH, _all_of),
    _Keyword("anyOf", lambda v: _schemas(v) and len(v) > 0, SCHEMA,
             PASSTHROUGH, _any_of),
    _Keyword("oneOf", lambda v: _schemas(v) and len(v) > 0, SCHEMA,
             PASSTHROUGH, _one_of),
    _Keyword("not", dict, SCHEMA, PASSTHROUGH, _not),
    # value equality: Catalyst defines no ordering on VARIANT
    _Keyword("uniqueItems", bool, route=UNSUPPORTED,
             compile=_unique_items),
    _Keyword("contains", dict, SCHEMA, ARRAY_VIEW, _contains),
    _Keyword("minContains", _count, route=ARRAY_VIEW),
    _Keyword("maxContains", _count, route=ARRAY_VIEW),
    _Keyword("minProperties", _count, route=OBJECT_VIEW, compile=_compare(
        _property_count_view, operator.lt,
        "must NOT have fewer than {} properties")),
    _Keyword("maxProperties", _count, route=OBJECT_VIEW, compile=_compare(
        _property_count_view, operator.gt,
        "must NOT have more than {} properties")),
    _Keyword("dependentRequired", lambda v: isinstance(v, dict) and all(
        _strings(r) for r in v.values()),
        route=OBJECT_VIEW, compile=_dependencies),
    # draft-07: array form (property deps) or dict form (schema deps)
    _Keyword("dependencies", lambda v: isinstance(v, dict) and all(
        _strings(r) or isinstance(r, dict) for r in v.values()),
        MAP, OBJECT_VIEW, _dependencies),
    _Keyword("dependentSchemas", lambda v: isinstance(v, dict) and all(
        isinstance(r, dict) for r in v.values()),
        MAP, OBJECT_VIEW, _dependencies),
    _Keyword("if", dict, SCHEMA, PASSTHROUGH, _if),
    _Keyword("then", dict, SCHEMA, PASSTHROUGH),
    _Keyword("else", dict, SCHEMA, PASSTHROUGH),
    _Keyword("propertyNames", dict, SCHEMA, OBJECT_VIEW,
             _property_names),
    # table-level declarations, in operators/table_checks.py order (the
    # union order of their violation rows)
    *map(_table_keyword, _TABLE_KEYWORDS),
    # engine extension points (reference analog: custom Ajv keywords via
    # ajvOptions, index.ts:49): the row-level x- keywords, typed-column
    # operators all but the named vectorized check, whose callable
    # receives the variant Column itself
    _Keyword("x-langid", route=UNSUPPORTED, compile=_langid, params=(
        _str("declared"), _int("min_tokens", 5, within=_nonneg))),
    _Keyword("x-rate", route=UNSUPPORTED, compile=_rate, params=(
        _str("duration"), _num("lo", 1.0), _num("hi", 40.0)),
        rule=lambda v, p: p["lo"] < p["hi"]),
    _Keyword("x-encoding", route=UNSUPPORTED, compile=_encoding, params=(
        _int("max_artifacts", 0, within=_nonneg),
        Param("patterns", lambda v: isinstance(v, list) and len(v) > 0
              and _strings(v), None))),
    _Keyword("x-embedding", route=UNSUPPORTED, compile=_embedding, params=(
        _int("dim", None), _bool("finite", True), _bool("nonzero"),
        _bool("normalized"),
        _num("norm_tol", 1e-3, within=lambda x: x > 0))),
    _Keyword("x-spark-check", route=PASSTHROUGH, compile=_spark_check),
    # per-property opt-out consumed by operators/repair.py
    _Keyword("x-repair", route=UNSUPPORTED),
    # identifiers and annotations (Ajv collects, never validates): known
    # so strict mode doesn't false-flag documented schemas
    *(_Keyword(kw) for kw in (
        "$schema", "$id", "$anchor", "$bundled_from", "title",
        "description", "default", "examples", "$comment", "readOnly",
        "writeOnly", "deprecated")),
    _Keyword("definitions", subs=MAP),
    _Keyword("$defs", subs=MAP),
)
_BY_NAME = {k.name: k for k in _KEYWORDS}


def _shape_walk(schema: dict, path: str = "#") -> None:
    """Meta-validate the whole schema tree BEFORE binding to columns.

    Ajv compiles the full schema up front, so a malformed keyword fails
    even inside a subtree the instance never reaches (e.g. a property
    whose column is absent). The per-node checks in ``_check_node``
    can't see skipped subtrees, hence this pure pre-pass: every known
    keyword's shape rule, then a descent into the subschemas of each
    keyword declared with ``subs``, in table order.
    """
    for kw, v in schema.items():
        if kw in _BY_NAME and not _BY_NAME[kw].shape_ok(v):
            raise RulesetCompileError(
                f"JSON schema malformed: bad value for {kw!r} at {path}: {v!r}")
    for k in _KEYWORDS:
        v = schema.get(k.name)
        if k.subs is None or v is None:
            continue
        at = f"{path}/{k.name}"
        if k.subs == SCHEMA and isinstance(v, dict):
            _shape_walk(v, at)
        elif k.subs == SCHEMA and isinstance(v, list):
            for i, sub in enumerate(v):
                if isinstance(sub, dict):
                    _shape_walk(sub, f"{at}/{i}")
        elif k.subs != SCHEMA:
            for name, sub in (v or {}).items():
                if isinstance(sub, dict):
                    _shape_walk(sub, f"{at}/{name}")
                elif k.subs == PROPS:
                    raise RulesetCompileError(
                        f"JSON schema malformed: schema for property "
                        f"{name!r} at {path} is not an object: {sub!r}")


def _check_node(schema: dict, ctx: _Ctx, variant: bool = False) -> None:
    """The node pre-check: unknown keywords warn-don't-fail (Ajv
    ``strict: false``), a malformed known one fails the compile, and on a
    variant node a keyword with no variant compile is surfaced."""
    for kw, v in schema.items():
        k = _BY_NAME.get(kw)
        if k is None:
            ctx.out.unknown.append((ctx.instance_path, kw))
        elif not k.shape_ok(v):
            raise RulesetCompileError(
                f"JSON schema malformed: bad value for {kw!r} at "
                f"{ctx.instance_path or '/'}: {v!r}")
        elif variant and k.route == UNSUPPORTED:
            ctx.out.unknown.append((ctx.instance_path, f"{kw}:variant"))


def _run_keywords(schema: dict, ctx: _Ctx, names=None) -> None:
    """Compile the node's keywords, or those in ``names``, in table order
    (no short-circuit). Each compile function sees the whole node."""
    for k in _KEYWORDS:
        if k.compile is not None \
                and k.name in (schema if names is None else names):
            k.compile(ctx, schema, k)


def _compile_keywords(schema: dict, ctx: _Ctx) -> None:
    """Compile every keyword of one schema node."""
    if ctx.col is not None and _vr.is_variant(ctx.dtype):
        # Spark-4 VariantType node: scalar keywords compile against
        # per-row JSON type tags; object/array keywords reuse this very
        # body through map<string,variant> / array<variant> views
        # (plans/variant.py module docstring)
        _compile_variant_node(schema, ctx)
        return
    _check_node(schema, ctx)
    _run_keywords(schema, ctx)


def _compile_variant_node(schema: dict, ctx: _Ctx) -> None:
    """One schema node bound to a VariantType column.

    The value's own JSON type survives per row, so this path has exact
    Ajv type semantics (``type: "number"`` fires on the JSON string
    ``"10"``) — the fidelity the ``from_json``-to-map path coerces away.
    Null-vs-missing is exact too: a missing property is SQL NULL (value
    keywords vacuous, ``required`` fires), JSON ``null`` is a present
    VOID variant (``required`` satisfied, ``type`` fires).
    """
    _check_node(schema, ctx, variant=True)
    # Stage this node's expensive views once (variant expressions are
    # CodegenFallback; without staging every keyword re-walks the binary —
    # the SimHash/text-profile inlining trap, plans/variant.py docstring).
    # Only at row-level contexts: inside HOF lambdas / probes stage is None.
    if ctx.stage is not None and ctx.col is not None and ctx.vstage is None:
        hint = ctx.instance_path or "root"
        vcol = ctx.stage(hint, ctx.col)
        t_st = ctx.stage(f"{hint}.tag", _vr.tag(vcol))
        s_st = ctx.stage(f"{hint}.str", _vr.as_string(vcol))
        d_st = ctx.stage(f"{hint}.dbl", _vr.as_double(vcol))
        act = F.when(t_st == "VOID", F.lit("null")).otherwise(s_st)
        ctx = _dc_replace(ctx, col=vcol,
                          vstage={"t": t_st, "s": s_st, "d": d_st,
                                  "actual": act})
    routed: dict = {}
    for kw, v in schema.items():
        if kw in _BY_NAME:
            routed.setdefault(_BY_NAME[kw].route, {})[kw] = v
    _run_keywords(routed.get(SCALAR, {}), ctx)
    if ARRAY_VIEW in routed:
        # array<variant> view: NULL for non-arrays, so array keywords are
        # vacuous there (JSON Schema semantics); element probes recurse
        # back through the variant entry
        arr_view = _vr.as_array(ctx.col)
        if ctx.stage is not None:
            arr_view = ctx.stage(f"{ctx.instance_path or 'root'}.arr",
                                 arr_view)
        # the view's keywords see the whole node: unevaluatedItems counts
        # what a validating allOf/anyOf/oneOf/$ref/if branch evaluated
        _run_keywords(schema, _dc_replace(
            ctx, col=arr_view, vstage=None,
            dtype=T.ArrayType(_vr.VariantType())), routed[ARRAY_VIEW])
    if OBJECT_VIEW in routed:
        # map<string,variant> view: keeps a JSON-null field as a PRESENT
        # entry, so map_contains_key == Ajv `required`; property values
        # are variants that recurse back through the variant entry
        obj_view = _vr.as_object(ctx.col)
        if ctx.stage is not None:
            obj_view = ctx.stage(f"{ctx.instance_path or 'root'}.obj",
                                 obj_view)
        _run_keywords(schema, _dc_replace(
            ctx, col=obj_view, vstage=None,
            dtype=T.MapType(T.StringType(), _vr.VariantType())),
            routed[OBJECT_VIEW])
    # composition probes need the variant column itself; probe recursion
    # into sub-schemas comes back through the variant entry as usual
    _run_keywords(routed.get(PASSTHROUGH, {}), ctx)


def _validity(schema: dict, ctx: _Ctx, schema_path: str) -> Column:
    """Full-node validity expression (for anyOf/oneOf/not/if composition)."""
    return _probe_validity(schema, ctx, col=ctx.col, dtype=ctx.dtype,
                           schema_path=schema_path)


def _child(ctx: _Ctx, prop: str):
    """Resolve a property name to (Column, DataType, exists) under ctx."""
    if ctx.col is None:
        if prop in ctx.df_schema.fieldNames():
            f = ctx.df_schema[prop]
            ctx.out.columns_read.add(prop)
            return F.col(prop), f.dataType, True
        return None, None, False
    if isinstance(ctx.dtype, T.StructType):
        if prop in ctx.dtype.fieldNames():
            f = ctx.dtype[prop]
            return ctx.col.getField(prop), f.dataType, True
        return None, None, False
    if isinstance(ctx.dtype, T.MapType):
        return ctx.col.getItem(prop), ctx.dtype.valueType, True
    return None, None, False


def _sub_file(ctx: _Ctx, sub) -> str:
    """Bundled external refs keep their file-path prefix in schemaPath
    provenance (reference demo/pipeline.ts:74-79)."""
    if isinstance(sub, dict) and "$bundled_from" in sub:
        return sub["$bundled_from"]
    return ctx.schema_file


def ruleset_hash(schema: dict) -> str:
    """Canonical content hash of a ruleset document — THE identity the
    resume manifest keys on and that ``run_with_resume`` uses to verify
    a ``ruleset_doc`` matches its compiled form. One definition: any
    change to the recipe invalidates manifests, so both sites must move
    together."""
    return hashlib.sha256(
        json.dumps(schema, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def _schema_depth(dtype) -> int:
    """Max nesting depth of a Spark type (struct/array/map levels) —
    the unroll bound for dynamic references."""
    if isinstance(dtype, T.StructType):
        return 1 + max((_schema_depth(f.dataType) for f in dtype.fields),
                       default=0)
    if isinstance(dtype, T.ArrayType):
        return 1 + _schema_depth(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return 1 + _schema_depth(dtype.valueType)
    return 0


def compile_ruleset(
    schema: dict,
    df_schema: T.StructType,
    *,
    name: str = "ruleset",
    schema_file: str = "",
    extra_checks: dict | None = None,
    exclude_columns: tuple = (),
    options: dict | None = None,
) -> CompiledRuleset:
    """Compile a bundled JSON-Schema-shaped document against a table schema.

    ``exclude_columns`` reproduces the reference's routing-key removal:
    ``delete yamlJS.$schema`` (index.ts:300-302) runs only on the
    file-association path, so callers pass ``("ruleset_id",)`` when the
    ruleset was routed by column and ``()`` on the embed path (the quirk
    where an embedded ``additionalProperties:false`` schema flags
    ``$schema`` is thereby preserved).

    ``options`` is the ``Settings.ajvOptions`` analog (index.ts:49,
    310-317): ``strict`` (default False, like the reference's Ajv ctor
    ``strict: false`` at index.ts:313) makes unknown keywords a compile
    error instead of a collected warning; ``all_errors`` (default True,
    index.ts:312) is consumed by :func:`operators.validate.validate` —
    False keeps only the first violation per row, Ajv's non-allErrors
    mode.
    """
    options = options or {}
    unknown_opts = set(options) - {"strict", "all_errors", "udf_formats",
                                   "stage_variant"}
    if unknown_opts:
        raise RulesetCompileError(
            f"unknown engine options: {sorted(unknown_opts)}")
    if not isinstance(schema, dict):
        raise RulesetCompileError(f"JSON schema malformed: {schema!r}")
    if exclude_columns:
        df_schema = T.StructType(
            [f for f in df_schema.fields if f.name not in exclude_columns])
    out = CompiledRuleset(name=name)
    out.ruleset_hash = ruleset_hash(schema)
    # draft 2019-09/2020-12 dynamic references: statically unroll to the
    # bound table schema's nesting depth + 1 — Spark struct types are
    # finitely nested, so a recursive schema meets at most that much
    # real data and the residual expansion is vacuous (bundler docstring
    # records the single-resource resolution model). Unresolvable names
    # stay in place and surface in `unknown` as before.
    from .bundler import unroll_dynamic_refs
    schema = unroll_dynamic_refs(schema, _schema_depth(df_schema) + 1)
    stage = None
    if options.get("stage_variant", True):
        # short name-hash suffix: two rulesets whose sanitized/truncated
        # names agree still get distinct staged column names, so a staged
        # column in a plan holding several routes' passes names one
        # ruleset's expression only
        prefix = (re.sub(r"\W+", "_", name)[:24] + "_"
                  + hashlib.sha256(name.encode()).hexdigest()[:4])

        def stage(hint: str, expr: Column) -> Column:  # noqa: F811
            col_name = f"_vst_{prefix}_{len(out.staged)}"
            out.staged.append((col_name, expr))
            return F.col(col_name)
    ctx = _Ctx(col=None, dtype=None, instance_path="", schema_path="#",
               schema_file=schema_file, df_schema=df_schema,
               root_schema=schema, out=out,
               extra_checks=extra_checks or {}, stage=stage)
    out.options = dict(options)
    try:
        _shape_walk(schema)
        _compile_keywords(schema, ctx)
    except RulesetCompileError:
        raise
    except Exception as exc:  # malformed schema -> guard, not crash (index.ts:335-340)
        raise RulesetCompileError(f"JSON schema malformed: {exc}") from exc
    if options.get("strict") and out.unknown:
        raise RulesetCompileError(
            f"strict mode: unknown keywords {out.unknown!r}")
    return out


