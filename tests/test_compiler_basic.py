"""Core keyword semantics: each check fires exactly where Ajv would.

Fixture values transpose the reference demo corpus (see docstrings)."""

import pyspark.sql.types as T
import pytest

from remark_lint_frontmatter_schema_spark import compile_ruleset, validate

SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("transcript", T.StringType()),
    T.StructField("props", T.MapType(T.StringType(), T.StringType())),
    T.StructField("part", T.StringType()),
])

RULESET = {
    "type": "object",
    "properties": {
        "codec": {"enum": ["pcm_s16le", "flac", "opus"]},
        "sr_hz": {"type": "integer", "minimum": 8000, "maximum": 48000},
        "dur_ms": {"minimum": 200, "maximum": 30000},
        "transcript": {"type": "string", "maxLength": 40,
                       "pattern": "^[A-Za-z0-9 ,.'?!-]+$"},
        "props": {
            "required": ["lang"],
            "properties": {"take": {"type": "integer"},
                           "lang": {"enum": ["en", "de", "fr"]}},
        },
    },
    "required": ["clip_id", "transcript", "codec"],
}


def rows():
    ok = ("c1", 16000, 500, "flac", "hello world", {"lang": "en", "take": "3"}, "p0")
    return [
        ok,
        # enum violation — `category: Video game` analog
        # (demo/content/creative-work/behind-the-gare-st-lazare__local-broken.md:6)
        ("c2", 16000, 500, "divx", "hi", {"lang": "en"}, "p0"),
        # required violation — missing `title` analog (page.schema.yaml:22-23)
        ("c3", 16000, 500, "flac", None, {"lang": "en"}, "p0"),
        # string-where-number — `complex.time: '1859'` analog
        # (the-shipwreck__global-broken.md:6)
        ("c4", 16000, 500, "flac", "ok", {"lang": "en", "take": "eighteen"}, "p1"),
        # range + nested-required + pattern, several at once (allErrors)
        ("c5", 3, -5, "flac", "bad\x07ctl", {"take": "1"}, "p1"),
        # maxLength
        ("c6", 16000, 500, "opus", "x" * 50, {"lang": "fr"}, "p1"),
    ]


@pytest.fixture(scope="module")
def result(spark):
    df = spark.createDataFrame(rows(), SCHEMA)
    compiled = compile_ruleset(RULESET, df.schema, name="clip")
    return validate(df, compiled, row_id="clip_id", partition_col="part")


def _by_row(result):
    out = {}
    for r in result.violations.collect():
        out.setdefault(r.row_id, []).append(r)
    return out


def test_valid_row_has_zero_violations(result):
    # guten-nachte__local-correct.md analog: zero messages
    assert "c1" not in _by_row(result)


def test_enum(result):
    v = [r for r in _by_row(result)["c2"] if r.keyword == "enum"
         and r.instance_path == "/codec"]
    assert len(v) == 1
    assert v[0].actual == "divx"
    assert v[0].expected == ["pcm_s16le", "flac", "opus"]
    # message format per index.ts:105-119
    assert v[0].message == ("Must be equal to one of the allowed values: "
                            "`pcm_s16le`, `flac`, `opus` • #/properties/codec/enum")


def test_null_enum_and_const_members_on_typed_columns(spark):
    """A present typed value is never JSON null: a null enum member
    allows nothing and ``const: null`` rejects every present value; a
    NULL cell is an absent property, so neither fires on it."""
    df = spark.createDataFrame([("r1", "a"), ("r2", "b"), ("r3", None)],
                               "id string, s string")
    for node, bad in (({"enum": [None, "a"]}, {"r2"}),
                      ({"enum": [None]}, {"r1", "r2"}),
                      ({"const": None}, {"r1", "r2"})):
        compiled = compile_ruleset({"properties": {"s": node}}, df.schema)
        res = validate(df, compiled, row_id="id")
        assert {r.row_id for r in res.violations.collect()} == bad, node


def test_required(result):
    v = [r for r in _by_row(result)["c3"] if r.keyword == "required"]
    assert len(v) == 1
    assert "Must have required property 'transcript'" in v[0].message


def test_type_on_map_value(result):
    v = [r for r in _by_row(result)["c4"] if r.keyword == "type"]
    assert len(v) == 1
    assert v[0].instance_path == "/props/take"
    assert v[0].actual == "eighteen"


def test_all_errors_no_short_circuit(result):
    # c5 violates minimum(sr), minimum(dur), pattern, nested required at once
    kws = {(r.keyword, r.instance_path) for r in _by_row(result)["c5"]}
    assert ("minimum", "/sr_hz") in kws
    assert ("minimum", "/dur_ms") in kws
    assert ("pattern", "/transcript") in kws
    assert ("required", "/props") in kws


def test_maxlength(result):
    v = [r for r in _by_row(result)["c6"] if r.keyword == "maxLength"]
    assert len(v) == 1
    assert "Must NOT have more than 40 characters" in v[0].message


def test_verdicts(result):
    verdicts = {r.partition_id: r for r in result.verdicts.collect()}
    assert verdicts["p0"].n_rows == 3
    assert verdicts["p0"].n_failed_rows == 2
    assert not verdicts["p0"].passed
    assert verdicts["p1"].n_failed_rows == 3
    # severity tally (vfile-reporter "N warnings, M errors"): default
    # severity is warning, so every violation lands in n_warnings
    for v in verdicts.values():
        assert v.n_errors + v.n_warnings == v.n_violations
        assert v.n_errors == 0


def test_verdict_severity_split(spark):
    df = spark.createDataFrame(
        [(1, -5, "x"), (2, 3, "toolongvalue"), (3, 4, "ok")],
        "id int, v int, s string")
    compiled = compile_ruleset(
        {"properties": {
            "v": {"minimum": 0, "x-severity": "error"},
            "s": {"maxLength": 5},
        }}, df.schema, name="sev")
    res = validate(df, compiled, row_id="id")
    v = res.verdicts.collect()[0]
    assert (v.n_errors, v.n_warnings, v.n_violations) == (1, 1, 2)


def test_static_type_pass_is_free(spark):
    df = spark.createDataFrame(rows(), SCHEMA)
    compiled = compile_ruleset(RULESET, df.schema, name="clip")
    # sr_hz is already INT: type check must be statically satisfied, not a runtime check
    assert ("/sr_hz", "type") in compiled.static_passes
    assert all(c.keyword != "type" or c.instance_path != "/sr_hz"
               for c in compiled.checks)
    # only referenced columns are read (bytes-style pruning discipline)
    assert "part" not in compiled.columns_read


def test_large_ruleset_end_to_end(spark, tmp_path):
    """500-constraint ruleset over a 250-column table: compiles, chunks
    past codegen method limits, and evaluates in one pass (SURVEY §7 hard
    part (b)). The input MUST be a materialized table: validating 250
    *derived* columns in the same projection makes CollapseProject inline
    each derivation into every referencing check (tree blowup) — which is
    exactly why the engine validates scans, not expression pyramids."""
    from pyspark.sql import functions as F
    n = 250
    p = str(tmp_path / "wide")
    spark.range(0, 100).select(
        F.col("id"),
        *[(F.col("id") + j).cast("string").alias(f"c{j}") for j in range(n)]
    ).write.parquet(p)
    df = spark.read.parquet(p)
    props = {f"c{i}": {"minimum": i, "maxLength": 10} for i in range(n)}
    compiled = compile_ruleset({"properties": props}, df.schema, name="big")
    assert len(compiled.checks) == 2 * n
    res = validate(df, compiled, row_id="id")
    # c_j = id + j >= j always; maxLength 10 never exceeded -> clean
    assert res.violations.count() == 0
    # minimum i+1 leaves every column of row id=0 short by exactly 1
    props2 = {f"c{i}": {"minimum": i + 1} for i in range(n)}
    compiled2 = compile_ruleset({"properties": props2}, df.schema,
                                name="big2")
    res2 = validate(df.where("id = 0"), compiled2, row_id="id")
    assert res2.violations.count() == n


def test_type_union_integer_on_float_column(spark):
    """["integer", "null"] on a double column must accept whole values
    (Ajv: 1.0 is a valid integer) — the union spelling used to fall to
    always-violated."""
    df = spark.createDataFrame([("1", 3.0), ("2", 3.5), ("3", None)],
                               "id string, d double")
    rs = {"properties": {"d": {"type": ["integer", "null"]}}}
    compiled = compile_ruleset(rs, df.schema, name="tu")
    got = {r.row_id for r in
           validate(df, compiled, row_id="id").violations.collect()}
    assert got == {"2"}
    import jsonschema
    v = jsonschema.Draft7Validator(rs)
    assert not list(v.iter_errors({"d": 3.0}))
    assert list(v.iter_errors({"d": 3.5}))


def test_required_missing_field_guarded_by_parent_presence(spark):
    """required for a field absent from a nested struct fires only when
    the struct itself exists (Ajv skips subschemas of absent objects)."""
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("meta", T.StructType([T.StructField("y", T.IntegerType())])),
    ])
    df = spark.createDataFrame([("1", {"y": 1}), ("2", None)], schema)
    rs = {"properties": {"meta": {"required": ["x"]}}}
    compiled = compile_ruleset(rs, df.schema, name="req")
    got = {r.row_id for r in
           validate(df, compiled, row_id="id").violations.collect()}
    assert got == {"1"}  # struct present but field missing; NULL skipped


def test_root_non_object_type_compiles_statically_violated(spark):
    """{"type": "string"} at root is well-formed JSON Schema (a row is
    never a string): statically violated per row, not a compile crash."""
    df = spark.createDataFrame([("1",)], "id string")
    compiled = compile_ruleset({"type": "string"}, df.schema, name="rt")
    assert compiled.static_failures
    assert validate(df, compiled, row_id="id").violations.count() == 1


def test_probe_inherits_udf_formats_option(spark):
    """udf_formats-gated formats inside anyOf must compile when the
    option is on (the probe used to drop options -> vacuous branch +
    spurious strict failure)."""
    df = spark.createDataFrame(
        [("1", "[bad"), ("2", "ok.*"), ("3", "also(ok)")],
        "id string, pat string")
    rs = {"properties": {"pat": {"anyOf": [{"format": "regex"},
                                           {"maxLength": 3}]}}}
    compiled = compile_ruleset(rs, df.schema, name="pf",
                               options={"strict": True, "udf_formats": True})
    assert not compiled.unknown
    got = {r.row_id for r in
           validate(df, compiled, row_id="id").violations.collect()}
    # "[bad": invalid regex AND longer than 3 -> violates anyOf;
    # "ok.*" (valid regex) and "also(ok)" (valid regex) pass
    assert got == {"1"}


def test_unknown_keyword_surfaces_under_absent_column(spark):
    """A typo'd keyword is a schema bug whether or not the column exists:
    the absent-column skip path must still collect unknown keywords
    (Ajv strict flags them at compile time, data-independently)."""
    df = spark.createDataFrame([("1",)], "id string")
    rs = {"properties": {"ghost": {"frobnicate": 1, "maxLength": 3}}}
    compiled = compile_ruleset(rs, df.schema, name="absent-unknown")
    assert ("/ghost", "frobnicate") in compiled.unknown
    # the known keyword stays vacuous (absent property), recorded honestly
    assert ("/ghost", "absent-column") in compiled.static_passes
    assert validate(df, compiled, row_id="id").violations.count() == 0


def test_dynamic_refs_resolve_by_static_unrolling(spark):
    """Round 4: $dynamicRef/$recursiveRef resolve by unrolling to the
    bound type's nesting depth (a Spark struct is finitely nested, so
    the residual expansion is vacuous) — a recursive tree schema
    validates every materialized level."""
    df = spark.createDataFrame(
        [(1, ("ok", ("deep", ("x", None)))),
         (2, ("fine", None))],
        "id int, tree struct<label:string, child:struct<"
        "label:string, child:struct<label:string, child:string>>>")
    rs = {"type": "object",
          "properties": {"tree": {
              "$dynamicAnchor": "node",
              "type": "object",
              "properties": {
                  "label": {"type": "string", "minLength": 2},
                  "child": {"$dynamicRef": "#node"}}}}}
    compiled = compile_ruleset(rs, df.schema, name="dyn")
    assert not [u for u in compiled.unknown if "$dynamic" in u[1]]
    v = validate(df, compiled, row_id="id").violations.collect()
    # row 1's depth-3 label "x" violates minLength at the unrolled path
    assert [(r.row_id, r.instance_path) for r in v] \
        == [("1", "/tree/child/child/label")]


def test_recursive_ref_resolves_to_root(spark):
    df = spark.createDataFrame(
        [("root-label", ("y", None)), ("ok", ("also ok", None))],
        "label string, child struct<label:string, child:string>")
    rs = {"type": "object", "$recursiveAnchor": True,
          "properties": {"label": {"minLength": 2},
                         "child": {"$recursiveRef": "#"}}}
    compiled = compile_ruleset(rs, df.schema, name="rec")
    assert not [u for u in compiled.unknown if "$recursive" in u[1]]
    v = validate(df, compiled,
                 row_id="label").violations.collect()
    assert [(r.row_id, r.instance_path) for r in v] \
        == [("root-label", "/child/label")]


def test_cross_resource_dynamic_ref_stays_unknown(spark):
    """Round 5 (advisor): in a bundle embedding a nested resource
    (non-root $id), a $dynamicRef whose preorder-first anchor lives in
    a DIFFERENT resource is NOT resolved by the single-resource
    approximation — it surfaces as unknown instead of silently binding
    to a possibly-wrong anchor. Same-resource refs still unroll."""
    df = spark.createDataFrame(
        [(1, ("o", ("x", None)), "a")],
        "id int, tree struct<label:string, child:struct<"
        "label:string, child:string>>, s string")
    rs = {"type": "object",
          # root-resource anchor named 'node'
          "$dynamicAnchor": "node",
          "properties": {
              # nested RESOURCE: its $dynamicRef '#node' must NOT bind
              # to the root's preorder-first anchor across the boundary
              "tree": {"$id": "https://example.org/embedded",
                       "type": "object",
                       "properties": {
                           "label": {"minLength": 2},
                           "child": {"$dynamicRef": "#node"}}},
              "s": {"minLength": 2}}}
    compiled = compile_ruleset(rs, df.schema, name="xres")
    assert any(kw == "$dynamicRef" for _, kw in compiled.unknown)
    # the unresolved child subtree gets NO checks (depth-1 label "x"
    # is unchecked — the honest refusal), while sibling checks in both
    # resources still validate
    v = validate(df, compiled, row_id="id").violations.collect()
    assert sorted((r.row_id, r.instance_path) for r in v) \
        == [("1", "/s"), ("1", "/tree/label")]


def test_same_resource_dynamic_ref_inside_nested_id_unrolls(spark):
    """A nested resource whose $dynamicRef targets an anchor in the
    SAME resource keeps the full unrolling behavior."""
    df = spark.createDataFrame(
        [(1, ("ok", ("x", None)))],
        "id int, tree struct<label:string, child:struct<"
        "label:string, child:string>>")
    rs = {"type": "object",
          "properties": {"tree": {
              "$id": "https://example.org/embedded",
              "$dynamicAnchor": "node",
              "type": "object",
              "properties": {
                  "label": {"minLength": 2},
                  "child": {"$dynamicRef": "#node"}}}}}
    compiled = compile_ruleset(rs, df.schema, name="sameres")
    assert not [u for u in compiled.unknown if "$dynamic" in u[1]]
    v = validate(df, compiled, row_id="id").violations.collect()
    assert [(r.row_id, r.instance_path) for r in v] \
        == [("1", "/tree/child/label")]


def test_unresolvable_dynamic_ref_stays_unknown(spark):
    """A $dynamicRef naming no anchor keeps the round-3 behavior:
    collected into `unknown`, sibling keywords still validate."""
    df = spark.createDataFrame([(1, "x")], "id int, s string")
    rs = {"type": "object",
          "properties": {"s": {"$dynamicRef": "#missing",
                               "minLength": 1}}}
    compiled = compile_ruleset(rs, df.schema, name="dyn")
    assert ("/s", "$dynamicRef") in compiled.unknown
    assert validate(df, compiled, row_id="id").violations.count() == 0
