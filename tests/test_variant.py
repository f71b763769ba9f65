"""Spark-4 VariantType-native validation (plans/variant.py + compiler
variant entry).

Why this path exists: the ``from_json`` -> ``map<string,string>`` route
(SURVEY §2.1 S2) coerces every JSON value to a string, so Ajv's exact
type semantics are unrecoverable there ("10" vs 10). ``parse_json`` into
``VariantType`` keeps the value's own JSON type per row, and the compiler
enforces it via ``schema_of_variant`` tags — the same verdicts Ajv gives
the reference on parsed YAML/JSON (``/root/reference/index.ts:322``).

The main test is a seeded property oracle: randomized heterogeneous JSON
documents, engine verdict on the variant column vs the ``jsonschema``
package on the parsed Python object. Mixed types, JSON nulls, missing
keys, nested objects, arrays — the cases the map path cannot represent.

Generator note: floats with zero fraction (5.0) are never emitted —
JSON Schema (and Ajv, and this engine) treat them as valid integers but
the ``jsonschema`` package's Draft7 type checker is isinstance-based and
does not; the engine's Ajv-faithful floor-equality semantics are pinned
by the explicit fidelity tests instead.
"""

import json
import random

import jsonschema
import pytest
from pyspark.sql import functions as F

from remark_lint_frontmatter_schema_spark import compile_ruleset, validate

pytestmark = pytest.mark.usefixtures("spark")


DOC_SCHEMA = {
    "type": "object",
    "required": ["k", "name"],
    "properties": {
        "k": {"type": "number", "minimum": 0, "exclusiveMaximum": 100},
        "name": {"type": "string", "minLength": 2, "maxLength": 8,
                 "pattern": "^[a-z]+$"},
        "mode": {"enum": ["fast", "slow", 3]},
        "flag": {"type": "boolean"},
        "tags": {"type": "array", "minItems": 1, "maxItems": 3,
                 "items": {"type": "string", "maxLength": 4}},
        "nest": {"type": "object", "required": ["inner"],
                 "properties": {"inner": {"type": "string"},
                                "depth": {"type": "integer"}},
                 "minProperties": 1, "maxProperties": 3},
        "ver": {"const": 2},
        "comp": {"anyOf": [{"type": "string", "maxLength": 2},
                           {"type": "number", "minimum": 50}]},
    },
    "additionalProperties": False,
}

RULESET = {"type": "object", "properties": {"doc": DOC_SCHEMA}}

# pools are biased ~4:1 valid so the corpus exercises both verdicts;
# each bad entry targets a distinct keyword/type-confusion
_NAMES = ["ab", "abcdef", "xyz", "abba", "abc", "cdef", "dd", "ee",
          "ABC", "toolongvalue"]
_KS = [5, 42, 99.5, 0.25, 7, 63, 12.75, 31,
       -3, "10", None, True]
_MODES = ["fast", "slow", 3, "fast", "slow", 3, "off", 3.5]
_TAGS = [["a", "bb"], ["ccc", "d"], ["abcd"], ["a", "b", "c"],
         [], ["toolong5", "b"], ["a", 3], "notanarray"]
_NESTS = [{"inner": "s"}, {"inner": "t", "depth": 2}, {"inner": "u"},
          {"inner": "s", "depth": 1},
          {"inner": 5}, {"depth": 2}, {"inner": None},
          {"inner": "s", "depth": 1, "x": 1, "y": 2}, [1, 2]]
_COMPS = ["ab", "x", 60, 99, "abcdef", 10, None]


def _gen_doc(rnd: random.Random) -> dict:
    doc = {}

    def maybe(key, pool, p=0.8):
        if rnd.random() < p:
            doc[key] = rnd.choice(pool)

    maybe("k", _KS, p=0.92)
    maybe("name", _NAMES, p=0.92)
    maybe("mode", _MODES, p=0.5)
    maybe("flag", [True, False, True, False, "true", 1], p=0.4)
    maybe("tags", _TAGS, p=0.5)
    maybe("nest", _NESTS, p=0.5)
    maybe("ver", [2, 2, 2, 3, "2", 2.5], p=0.4)
    maybe("comp", _COMPS, p=0.5)
    if rnd.random() < 0.08:
        doc["extra"] = rnd.choice(["boom", 1, None])
    return doc


def _variant_df(spark, rows):
    return spark.createDataFrame(rows, "id string, js string").select(
        "id", F.parse_json("js").alias("doc"))


def test_variant_verdicts_match_jsonschema(spark):
    rnd = random.Random(20260818)
    docs = {f"r{i}": _gen_doc(rnd) for i in range(300)}
    rows = [(rid, json.dumps(doc)) for rid, doc in docs.items()]
    df = _variant_df(spark, rows)
    compiled = compile_ruleset(RULESET, df.schema, name="vprop")
    assert compiled.unknown == []
    res = validate(df, compiled, row_id="id")
    engine_passed = {r.id: r.passed
                     for r in res.annotated.select("id", "passed").collect()}

    validator = jsonschema.Draft7Validator(RULESET)
    n_fail = 0
    for rid, doc in docs.items():
        oracle_ok = not list(validator.iter_errors({"doc": doc}))
        n_fail += not oracle_ok
        assert engine_passed[rid] == oracle_ok, (
            f"verdict mismatch for {doc!r}: engine={engine_passed[rid]} "
            f"jsonschema={oracle_ok}")
    assert 0 < n_fail < len(docs)


def _violations(spark, js_rows, doc_schema, **opts):
    df = _variant_df(spark, [(f"r{i}", js) for i, js in enumerate(js_rows)])
    compiled = compile_ruleset({"type": "object",
                                "properties": {"doc": doc_schema}},
                               df.schema, name="vt", **opts)
    res = validate(df, compiled, row_id="id")
    out = {}
    for r in res.violations.collect():
        out.setdefault(r.row_id, []).append((r.keyword, r.instance_path,
                                             r.actual))
    return compiled, out


def test_variant_type_fidelity(spark):
    """The reason this path exists: per-row JSON types are exact. The
    map<string,string> route cannot distinguish "10" from 10; variant
    must."""
    schema = {"properties": {"k": {"type": "integer"}}}
    _, viol = _violations(spark, [
        '{"k": 5}',        # r0 integer
        '{"k": "10"}',     # r1 string -> violation
        '{"k": 5.5}',      # r2 fraction -> violation
        '{"k": 5.0}',      # r3 zero fraction: valid integer (Ajv)
        '{"k": 1e3}',      # r4 scientific notation integer: valid (Ajv)
        '{"k": true}',     # r5 boolean is not a number -> violation
        '{"k": 6.00}',     # r6 trailing zeros -> valid integer
    ], schema)
    assert set(viol) == {"r1", "r2", "r5"}
    assert viol["r1"] == [("type", "/doc/k", "10")]
    assert viol["r2"][0][2] == "5.5"


def test_variant_null_vs_missing(spark):
    """JSON null is PRESENT (satisfies required, fails type); a missing
    key is ABSENT (required fires, value keywords vacuous)."""
    schema = {"required": ["k"], "properties": {"k": {"type": "number"}}}
    _, viol = _violations(spark, [
        '{"k": 1}',      # r0 fine
        '{"k": null}',   # r1 required OK, type fires with actual "null"
        '{}',            # r2 required fires, type does not
        None,            # r3 doc absent entirely: vacuous
    ], schema)
    assert set(viol) == {"r1", "r2"}
    assert viol["r1"] == [("type", "/doc/k", "null")]
    assert [k for k, _, _ in viol["r2"]] == ["required"]


def test_variant_string_and_numeric_guards(spark):
    """Value keywords apply only to instances of their JSON type — the
    coercing casts (string "10" -> 10.0, true -> 1.0) must not leak."""
    schema = {"properties": {"k": {"minimum": 50},
                             "s": {"minLength": 3}}}
    _, viol = _violations(spark, [
        '{"k": 10, "s": "ab"}',     # r0: both fire
        '{"k": "10", "s": 10000}',  # r1: wrong types, both vacuous
        '{"k": true, "s": true}',   # r2: vacuous
        '{"k": 60, "s": "abc"}',    # r3: fine
    ], schema)
    assert set(viol) == {"r0"}
    assert {k for k, _, _ in viol["r0"]} == {"minimum", "minLength"}


def test_variant_enum_const_typed_equality(spark):
    """Variant has no Catalyst equality; enum/const compare through the
    tag guard + typed view, so 3 != "3" != 3.0-is-3 (JSON number
    equality) and true never equals 1."""
    schema = {"properties": {"m": {"enum": ["fast", 3, True, None]}}}
    _, viol = _violations(spark, [
        '{"m": "fast"}', '{"m": 3}', '{"m": 3.0}', '{"m": true}',
        '{"m": null}',                       # r0-r4 all valid
        '{"m": "3"}', '{"m": 1}', '{"m": "true"}', '{"m": false}',  # r5-r8
    ], schema)
    assert set(viol) == {"r5", "r6", "r7", "r8"}


def test_variant_composition_and_nested(spark):
    schema = {"properties": {
        "v": {"oneOf": [{"type": "string", "pattern": "^a"},
                        {"type": "number", "multipleOf": 2}]},
        "nest": {"properties": {
            "arr": {"items": {"type": "integer", "minimum": 0}}}},
    }}
    _, viol = _violations(spark, [
        '{"v": "ax", "nest": {"arr": [1, 2]}}',    # r0 fine
        '{"v": 4, "nest": {"arr": [1, -2]}}',      # r1 items fires
        '{"v": "b"}',                              # r2 oneOf: matches none
        '{"v": 3}',                                # r3 oneOf: odd number
        '{"v": true}',                             # r4 oneOf: neither type
    ], schema)
    assert set(viol) == {"r1", "r2", "r3", "r4"}
    assert viol["r1"] == [("items", "/doc/nest/arr", "[1,-2]")]


def test_variant_unsupported_keywords_surface_not_vacuous(spark):
    """uniqueItems (no variant ordering in Catalyst) and the relational
    x- declarations have no variant compile — they must land in
    `unknown` (strict mode flags them), never silently pass."""
    df = _variant_df(spark, [("r0", '{"k": [1, 1]}')])
    compiled = compile_ruleset(
        {"type": "object",
         "properties": {"doc": {"uniqueItems": True,
                                "x-unique": True}}},
        df.schema, name="vu")
    kws = {kw for _, kw in compiled.unknown}
    assert kws == {"uniqueItems:variant", "x-unique:variant"}


def test_variant_x_finite_surfaces_in_strict_mode(spark):
    """x-finite has no variant compile: it lands in `unknown` and strict
    mode refuses the ruleset, rather than dropping the check silently."""
    from remark_lint_frontmatter_schema_spark.plans.bundler import (
        RulesetCompileError)
    df = _variant_df(spark, [("r0", '{"k": 1.5}')])
    schema = {"properties": {"doc": {"x-finite": True}}}
    compiled = compile_ruleset(schema, df.schema, name="vf")
    assert compiled.unknown == [("/doc", "x-finite:variant")]
    with pytest.raises(RulesetCompileError, match="x-finite:variant"):
        compile_ruleset(schema, df.schema, name="vf",
                        options={"strict": True})

def test_variant_plan_is_map_only_jvm(spark):
    """The whole variant validation projection is scalar Catalyst
    expressions: no shuffle, no Python UDF stage."""
    df = _variant_df(spark, [("r0", '{"k": 5, "name": "ab"}')])
    compiled = compile_ruleset(RULESET, df.schema, name="vplan")
    plan = validate(df, compiled, row_id="id") \
        .annotated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_variant_staging_parity_and_plan(spark):
    """The staged compile (default) and the inline compile
    (stage_variant=False) must emit byte-identical violations; the staged
    plan's check expressions reference only staged attributes (no inline
    schema_of_variant re-walks), and the heavy staged views must NOT be
    pushed down into the scan's DataFilters (the nv>0 prefilter is
    dropped for staged rulesets precisely to prevent that)."""
    rnd = random.Random(7)
    rows = [(f"r{i}", json.dumps(_gen_doc(rnd))) for i in range(300)]
    df = _variant_df(spark, rows)
    c_staged = compile_ruleset(RULESET, df.schema, name="vstage")
    c_inline = compile_ruleset(RULESET, df.schema, name="vstage",
                               options={"stage_variant": False})
    assert c_staged.staged and not c_inline.staged
    cols = ["row_id", "constraint_id", "keyword", "instance_path",
            "message", "actual"]
    key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
    a = sorted((tuple(r) for r in validate(df, c_staged, row_id="id")
                .violations.select(cols).collect()), key=key)
    b = sorted((tuple(r) for r in validate(df, c_inline, row_id="id")
                .violations.select(cols).collect()), key=key)
    assert a == b and len(a) > 50
    # scalar checks of the staged compile read staged attributes only
    # (array-element probes inside HOF lambdas cannot stage — lambda
    # variables are not row-level columns — and legitimately re-derive
    # tags per element)
    scalar_kws = {"type", "enum", "const", "minimum", "maximum",
                  "exclusiveMinimum", "exclusiveMaximum", "multipleOf",
                  "minLength", "maxLength", "pattern", "required"}
    for c in c_staged.checks:
        if c.keyword in scalar_kws and "/tags" not in c.instance_path:
            assert "schema_of_variant" not in str(c.violated), \
                c.constraint_id
    # staged views never land in the scan (pushdown regression)
    plan = validate(df, c_staged, row_id="id") \
        .violations._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Scan" in line and "DataFilters" in line:
            assert "SchemaOfVariant" not in line


@pytest.mark.parametrize("node", [
    {"allOf": [{"properties": {"a": {}}}], "unevaluatedProperties": False},
    {"anyOf": [{"properties": {"a": {"type": "integer"}}}, {"minimum": 0}],
     "unevaluatedProperties": {"type": "string"}},
    {"if": {"required": ["a"]}, "then": {"properties": {"b": {}}},
     "properties": {"a": {}}, "unevaluatedProperties": False},
    {"allOf": [{"prefixItems": [{}]}], "unevaluatedItems": False},
    {"oneOf": [{"prefixItems": [{"type": "string"}]},
               {"prefixItems": [{}, {}]}],
     "unevaluatedItems": {"type": "integer"}},
])
def test_variant_unevaluated_sees_in_place_applicators(spark, node):
    """On a variant node, unevaluatedProperties / unevaluatedItems count
    what a validating allOf/anyOf/oneOf/if branch evaluated, as
    jsonschema (2020-12) does."""
    docs = [{"a": 1}, {"a": 1, "b": 2}, {"a": "x", "c": "y"}, {"c": 3},
            {}, [1], [1, 2], ["s", 2], ["s", "t"], [], 5, "a", None]
    df = _variant_df(spark, [(f"r{i}", json.dumps(d))
                             for i, d in enumerate(docs)])
    compiled = compile_ruleset({"properties": {"doc": node}}, df.schema,
                               name="vu")
    assert compiled.unknown == []
    passed = {r.id: r.passed for r in validate(
        df, compiled, row_id="id").annotated.collect()}
    validator = jsonschema.Draft202012Validator(node)
    want = {f"r{i}": validator.is_valid(d) for i, d in enumerate(docs)}
    assert passed == want
    assert not all(want.values())
