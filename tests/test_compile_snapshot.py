"""Compile snapshot: what the compiler emits for every table-check keyword.

Compiles (never runs) each ruleset in ``rulesets/`` and a matrix of the 28
table-check keywords — a minimal and a full param dict at seven placements —
and compares the ``table_checks`` tuples, ``unknown`` and the row
constraint ids with ``compile_snapshot.json``. Malformed param dicts (one
per rejected shape rule) pin the ``RulesetCompileError`` message prefix.

Two behaviours are deliberately left out because they are defined
elsewhere: an explicit ``null`` param (``test_table_check_specs.py``)
and a table check inside a composition at a property node.

The row keywords (every JSON-Schema keyword and every row ``x-*``
keyword) have their own matrix at ten placements: a string, integral,
double, binary, ``array<string>``, ``array<double>``, struct and
``map<string,string>`` column, the root and a variant column. Each case
pins every compiled check in full (ids, paths, message, expected,
severity and the printed ``violated`` and ``actual`` Columns) plus the
staged columns, ``unknown``, the static passes and failures and
``columns_read``, in ``compile_snapshot_rows.json``. Lambda variables
print with a JVM-global counter (``x_17``), so they are renumbered in
order of appearance, and a binary literal's identity hash is dropped.

Regenerate the expectations with ``python tests/test_compile_snapshot.py``
only when a compile output changes on purpose.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from pyspark.sql import types as T

from remark_lint_frontmatter_schema_spark.plans.bundler import (
    RulesetCompileError, bundle)
from remark_lint_frontmatter_schema_spark.plans.compiler import (
    compile_ruleset)
from remark_lint_frontmatter_schema_spark.sources.fixtures import (
    CLIPS_SCHEMA)

SNAPSHOT = Path(__file__).with_name("compile_snapshot.json")
ROW_SNAPSHOT = Path(__file__).with_name("compile_snapshot_rows.json")
RULESETS = Path(__file__).resolve().parent.parent / "rulesets"

# table schemas as DDL, parsed once a session is up
CLIP = CLIPS_SCHEMA
# the clip table plus a struct column, so a nested field can be placed,
# and a variant column (table checks on variant nodes land in unknown)
MATRIX = (CLIPS_SCHEMA
          + ", meta struct<take:int,note:string>, doc variant")
EVENTS = ("event_id long, ts timestamp, user_id long, event_type string, "
          "value double, props map<string,string>")

_ID = {"id": "clip_id"}

# keyword -> (minimal value, full value)
FORMS = {
    "x-unique": (True, ["clip_id", "codec"]),
    "x-ref": ({"dim": "speakers", "key": "speaker_id"},
              {"dim": "speakers", "key": "speaker_id", "bloom": True,
               "n_items": 1000}),
    "x-ref-asof": ({"dim": "d", "key": "k", "ts": "part_date",
                    "dim_ts": "valid_from"},
                   {"dim": "d", "key": "k", "ts": "part_date",
                    "dim_ts": "valid_from", "tolerance": 86400,
                    "direction": "forward", "bucket": 3600}),
    "x-ref-interval": ({"dim": "d", "key": "k", "ts": "part_date",
                        "start": "s", "end": "e", "bucket": 86400},
                       {"dim": "d", "key": "k", "ts": "part_date",
                        "start": "s", "end": "e", "bucket": 3600.5}),
    "x-outlier": ({}, {"id": "clip_id", "k": 4, "by": "codec",
                       "approx": True}),
    "x-skew": ({"max_share": 0.5}, {"max_share": 1, "top_k": 3,
                                    "by": "codec"}),
    "x-reconcile": ({"fact": "facts", "key": "clip_id",
                     "fact_value": "amount"},
                    {"fact": "facts", "key": "clip_id", "fact_key": "cid",
                     "fact_value": "amount", "agg": "avg", "tolerance": 1,
                     "on_missing": "ignore"}),
    "x-monotonic": ({"order_by": "part_date"},
                    {"order_by": "part_date", "by": "codec",
                     "direction": "increasing", "n_buckets": 8,
                     "id": "clip_id"}),
    "x-volume": ({}, {"unit": "hour", "k": 2, "by": "codec"}),
    "x-quantile": ({"q": 0.5, "lo": 1},
                   {"q": 1, "lo": 0, "hi": 5, "by": "codec",
                    "approx": True}),
    "x-readability": ({**_ID, "hi": 80}, {**_ID, "lo": 10, "hi": 90.5}),
    "x-gibberish": ({**_ID, "min_logp": -5}, {**_ID, "min_logp": -3.5}),
    "x-lm-ppl": ({**_ID, "max_ppl": 1000},
                 {**_ID, "max_ppl": 500.5, "n": 3, "k": 1}),
    "x-mask": ({"expect": "Aa"}, {"expect": "Aa", "min_share": 0.5,
                                  "by": "codec"}),
    "x-corr": ({"with": "sr_hz", "min_abs": 0.5},
               {"with": "sr_hz", "min_abs": 1, "by": "codec"}),
    "x-benford": ({}, {"max_mad": 0.02, "by": "codec"}),
    "x-calendar": ({}, {"unit": "week", "by": "codec",
                        "max_buckets": 500}),
    "x-freshness": ({"max_age_seconds": 3600},
                    {"max_age_seconds": 60.5,
                     "as_of": "2026-01-01T00:00:00", "by": "codec"}),
    "x-gap": ({"max_seconds": 60},
              {"max_seconds": 1.5, "by": "codec", "n_buckets": 4,
               "id": "clip_id"}),
    "x-fd": ({"determined_by": ["speaker_id"]},
             {"determined_by": ["speaker_id", "codec"], "id": "clip_id"}),
    "x-drift": ({"partition_col": "part_date", "side_a": "2026-01-01",
                 "side_b": "2026-01-02", "lo": 0, "hi": 100},
                {"partition_col": "part_date", "side_a": "2026-01-01",
                 "side_b": "2026-01-02", "lo": 0.5, "hi": 100,
                 "n_buckets": 10, "ks_threshold": 1, "psi_threshold": 0.3,
                 "emd_threshold": 1, "jsd_threshold": 0.1,
                 "cvm_threshold": 0.05}),
    "x-dedup": (dict(_ID), {**_ID, "method": "jaccard", "block": "codec",
                            "n": 4, "threshold": 1, "max_distance": 5}),
    "x-dup-ngram": (dict(_ID), {**_ID, "n": 3, "max_frac": 0}),
    "x-gopher": (dict(_ID), {**_ID, "rules": ["word_count", "stopwords"]}),
    "x-leakage": ({"group": "speaker_id"},
                  {"group": "speaker_id", "note": "ignored key"}),
    "x-c4": (dict(_ID), {**_ID, "min_words_per_line": 2,
                         "min_sentences": 1}),
    "x-decontaminate": ({**_ID, "bench": "bench"},
                        {**_ID, "bench": "bench", "bench_text_col": "text",
                         "bench_id_col": "bid", "n": 13, "min_shared": 2,
                         "bloom": True, "n_items": 100}),
    "x-label-conflict": ({**_ID, "transcript": "transcript"},
                         {**_ID, "transcript": "transcript",
                          "max_distance": 4, "grade": True,
                          "contradiction_below": 0}),
}


def _placements(kw: str, v) -> dict:
    """placement name -> ruleset holding ``{kw: v}`` there"""
    node = {kw: v}
    return {
        "top_string": {"properties": {"transcript": node}},
        "top_numeric": {"properties": {"dur_ms": node}},
        "top_binary": {"properties": {"bytes": node}},
        "nested": {"properties": {"meta": {"properties": {"take": node}}}},
        "root": dict(node),
        "root_anyOf": {"anyOf": [node]},
        "variant": {"properties": {"doc": node}},
    }


def _matrix_cases() -> dict:
    cases = {}
    for kw, forms in FORMS.items():
        for form, v in zip(("min", "full"), forms):
            for where, rs in _placements(kw, v).items():
                if kw == "x-unique" and form == "full" \
                        and where == "root_anyOf":
                    # the key-list form inside a root composition names
                    # its unknown by column; defined by
                    # test_table_check_specs.py, not pinned here
                    continue
                cases[f"{kw}-{form}-{where}"] = (rs, MATRIX)
    return cases


# placement edges and node-order pins beyond the matrix
EXTRA = {
    "quantile-by-missing": {"properties": {"dur_ms": {
        "x-quantile": {"q": 0.5, "hi": 3, "by": "nope"}}}},
    "corr-with-missing": {"properties": {"dur_ms": {
        "x-corr": {"with": "nope", "min_abs": 0.5}}}},
    "unique-multi-key-missing": {"x-unique": ["clip_id", "nope"]},
    "unique-false": {"properties": {"clip_id": {"x-unique": False}}},
    "unique-list-at-column": {"properties": {"clip_id": {
        "x-unique": ["clip_id", "codec"]}}},
    "drift-by": {"properties": {"dur_ms": {"x-drift": {
        "partition_col": "part_date", "side_a": "a", "side_b": "b",
        "lo": 0, "hi": 1, "by": "codec"}}}},
    "readability-lo-only": {"properties": {"transcript": {
        "x-readability": {"id": "clip_id", "lo": 30}}}},
    "severity-inherited": {"x-severity": "error", "properties": {
        "dur_ms": {"x-skew": {"max_share": 0.5}},
        "codec": {"x-severity": "info", "x-unique": True}}},
    "root-anyOf-property": {"anyOf": [{"properties": {
        "dur_ms": {"x-outlier": {}}, "codec": {"x-unique": True}}}]},
    "mixed-row-and-table-same-node": {
        "x-unique": ["clip_id", "codec"],
        "required": ["clip_id"],
        "properties": {
            "dur_ms": {
                "x-quantile": {"q": 0.9, "hi": 30000},
                "type": "integer",
                "x-outlier": {"k": 5},
                "minimum": 0,
                "x-skew": {"max_share": 0.5},
                "x-benford": {},
                "maximum": 60000,
                "x-drift": {"partition_col": "part_date", "side_a": "a",
                            "side_b": "b", "lo": 0, "hi": 1},
            },
            "transcript": {
                "x-c4": {"id": "clip_id"},
                "maxLength": 400,
                "x-gopher": {"id": "clip_id"},
                "x-langid": {"declared": "codec"},
                "x-dedup": {"id": "clip_id", "method": "jaccard"},
                "x-unique": True,
                "x-readability": {"id": "clip_id", "hi": 100},
            },
            "clip_id": {"pattern": "^clip_", "x-unique": True,
                        "x-fd": {"determined_by": ["speaker_id"]}},
        },
    },
}

# keyword -> one malformed value per rejected shape rule
MALFORMED = {
    "x-unique": ["yes", 1, ["clip_id"], ["clip_id", "clip_id"], [1, 2]],
    "x-ref": ["speakers", {"key": "k"}, {"dim": 1, "key": "k"},
              {"dim": "d"}, {"dim": "d", "key": "k", "n_items": 0},
              {"dim": "d", "key": "k", "n_items": 1.5},
              {"dim": "d", "key": "k", "n_items": True}],
    "x-ref-asof": [
        [], {"key": "k", "ts": "t", "dim_ts": "v"},
        {"dim": "d", "ts": "t", "dim_ts": "v"},
        {"dim": "d", "key": "k", "dim_ts": "v"},
        {"dim": "d", "key": "k", "ts": "t"},
        {"dim": "d", "key": "k", "ts": "t", "dim_ts": "v", "tolerance": 0},
        {"dim": "d", "key": "k", "ts": "t", "dim_ts": "v",
         "tolerance": "1"},
        {"dim": "d", "key": "k", "ts": "t", "dim_ts": "v",
         "direction": "sideways"},
        {"dim": "d", "key": "k", "ts": "t", "dim_ts": "v", "bucket": 0},
        {"dim": "d", "key": "k", "ts": "t", "dim_ts": "v",
         "bucket": True}],
    "x-ref-interval": [
        {"key": "k", "ts": "t", "start": "s", "end": "e", "bucket": 1},
        {"dim": "d", "ts": "t", "start": "s", "end": "e", "bucket": 1},
        {"dim": "d", "key": "k", "start": "s", "end": "e", "bucket": 1},
        {"dim": "d", "key": "k", "ts": "t", "end": "e", "bucket": 1},
        {"dim": "d", "key": "k", "ts": "t", "start": "s", "bucket": 1},
        {"dim": "d", "key": "k", "ts": "t", "start": "s", "end": "e"},
        {"dim": "d", "key": "k", "ts": "t", "start": "s", "end": "e",
         "bucket": 0},
        {"dim": "d", "key": "k", "ts": "t", "start": "s", "end": "e",
         "bucket": True},
        {"dim": "d", "key": "k", "ts": "t", "start": "s", "end": "e",
         "bucket": "1"}],
    "x-outlier": [True, {"id": 1}, {"k": 0}, {"k": "2"}, {"k": True},
                  {"approx": "yes"}, {"by": 1}],
    "x-skew": [{}, {"max_share": 0}, {"max_share": 1.5},
               {"max_share": True}, {"max_share": "0.5"},
               {"max_share": 0.5, "top_k": 0},
               {"max_share": 0.5, "top_k": 1.5},
               {"max_share": 0.5, "by": 1}],
    "x-reconcile": [
        {"key": "k", "fact_value": "v"}, {"fact": "f", "fact_value": "v"},
        {"fact": "f", "key": "k"},
        {"fact": "f", "key": "k", "fact_value": "v", "fact_key": 1},
        {"fact": "f", "key": "k", "fact_value": "v", "agg": "median"},
        {"fact": "f", "key": "k", "fact_value": "v", "tolerance": -1},
        {"fact": "f", "key": "k", "fact_value": "v", "tolerance": True},
        {"fact": "f", "key": "k", "fact_value": "v",
         "on_missing": "skip"}],
    "x-monotonic": [{}, {"order_by": 1}, {"order_by": "t", "by": 1},
                    {"order_by": "t", "id": 1},
                    {"order_by": "t", "direction": "up"},
                    {"order_by": "t", "n_buckets": 0},
                    {"order_by": "t", "n_buckets": 2.5}],
    "x-volume": ["day", {"unit": "year"}, {"k": 0}, {"k": "a"},
                 {"by": 1}],
    "x-quantile": [{"lo": 1}, {"q": 1.5, "lo": 1}, {"q": True, "lo": 1},
                   {"q": 0.5}, {"q": 0.5, "lo": "a"},
                   {"q": 0.5, "lo": 2, "hi": 1},
                   {"q": 0.5, "lo": 1, "by": 1},
                   {"q": 0.5, "lo": 1, "approx": "yes"}],
    "x-readability": [{"hi": 80}, {"id": "i"}, {"id": "i", "lo": "a"},
                      {"id": "i", "lo": 90, "hi": 10}],
    "x-gibberish": [{"min_logp": -5}, {"id": "i"},
                    {"id": "i", "min_logp": True}],
    "x-lm-ppl": [{"max_ppl": 10}, {"id": "i"}, {"id": "i", "max_ppl": 0},
                 {"id": "i", "max_ppl": 10, "n": 1},
                 {"id": "i", "max_ppl": 10, "n": 2.5},
                 {"id": "i", "max_ppl": 10, "k": 0}],
    "x-mask": [{}, {"expect": ""}, {"expect": "A", "min_share": 0},
               {"expect": "A", "min_share": 1.5},
               {"expect": "A", "by": 1}],
    "x-corr": [{"min_abs": 0.5}, {"with": "sr_hz"},
               {"with": "sr_hz", "min_abs": 0},
               {"with": "sr_hz", "min_abs": 1.5},
               {"with": "sr_hz", "min_abs": 0.5, "by": 1}],
    "x-benford": [{"max_mad": 0}, {"max_mad": "a"}, {"by": 1}],
    "x-calendar": [{"unit": "year"}, {"by": 1}, {"max_buckets": 0},
                   {"max_buckets": 1.5}],
    "x-freshness": [{}, {"max_age_seconds": 0},
                    {"max_age_seconds": 1, "as_of": 1},
                    {"max_age_seconds": 1, "by": 1}],
    "x-gap": [{}, {"max_seconds": 0}, {"max_seconds": 1, "by": 1},
              {"max_seconds": 1, "id": 1},
              {"max_seconds": 1, "n_buckets": 0}],
    "x-fd": [{}, {"determined_by": []}, {"determined_by": [1]},
             {"determined_by": "a"},
             {"determined_by": ["a"], "id": 1}],
    "x-drift": [
        {"side_a": "a", "side_b": "b", "lo": 0, "hi": 1},
        {"partition_col": "p", "side_b": "b", "lo": 0, "hi": 1},
        {"partition_col": "p", "side_a": "a", "lo": 0, "hi": 1},
        {"partition_col": "p", "side_a": "a", "side_b": "b", "hi": 1},
        {"partition_col": "p", "side_a": "a", "side_b": "b", "lo": 0,
         "hi": "a"},
        {"partition_col": "p", "side_a": "a", "side_b": "b", "lo": 0,
         "hi": 1, "n_buckets": "a"},
        {"partition_col": "p", "side_a": "a", "side_b": "b", "lo": 0,
         "hi": 1, "ks_threshold": True},
        {"partition_col": "p", "side_a": "a", "side_b": "b", "lo": 0,
         "hi": 1, "by": 1},
        {"partition_col": "p", "side_a": "a", "side_b": "b", "lo": 0,
         "hi": 1, "by": "g", "emd_threshold": 1}],
    "x-dedup": [{}, {"id": "i", "method": "fuzzy"},
                {"id": "i", "block": 1}, {"id": "i", "threshold": "a"},
                {"id": "i", "n": 0}, {"id": "i", "max_distance": 8}],
    "x-dup-ngram": [{}, {"id": "i", "n": 0}, {"id": "i", "max_frac": 1},
                    {"id": "i", "max_frac": -0.1}],
    "x-gopher": [{}, {"id": "i", "rules": []},
                 {"id": "i", "rules": ["bogus"]},
                 {"id": "i", "rules": "word_count"},
                 {"id": "i", "rules": [1]}],
    "x-leakage": [{}, {"group": 1}],
    "x-c4": [{}, {"id": "i", "min_words_per_line": 0},
             {"id": "i", "min_sentences": 1.5}],
    "x-decontaminate": [{"bench": "b"}, {"id": "i"},
                        {"id": "i", "bench": "b", "bloom": "yes"},
                        {"id": "i", "bench": "b", "n": 0},
                        {"id": "i", "bench": "b", "min_shared": 0},
                        {"id": "i", "bench": "b", "n_items": True}],
    "x-label-conflict": [
        {"transcript": "t"}, {"id": "i"},
        {"id": "i", "transcript": "t", "max_distance": 8},
        {"id": "i", "transcript": "t", "grade": "yes"},
        {"id": "i", "transcript": "t", "contradiction_below": 1.5}],
}


def _cases() -> dict:
    """case name -> (ruleset, table schema DDL)"""
    cases = {}
    for path in sorted(RULESETS.glob("*.yaml")):
        cases[f"ruleset-{path.name}"] = (path, CLIP)
    cases["ruleset-ops.schema.yaml-events"] = (RULESETS / "ops.schema.yaml",
                                               EVENTS)
    cases.update(_matrix_cases())
    cases.update({f"extra-{k}": (rs, MATRIX) for k, rs in EXTRA.items()})
    for kw, bad in MALFORMED.items():
        for i, v in enumerate(bad):
            cases[f"malformed-{kw}-{i}"] = (
                {"properties": {"dur_ms": {kw: v}}}, MATRIX)
    return cases


CASES = _cases()


def _compile(spark, case: str) -> dict:
    """The snapshot record of one case: the compile output, or the error
    message up to its path (the repr of the bad value is left out)."""
    ruleset, ddl = CASES[case]
    schema = T._parse_datatype_string(ddl)
    kw = {}
    if isinstance(ruleset, Path):
        kw = {"schema_file": ruleset.name,
              "exclude_columns": ("ruleset_id",)}
        try:
            ruleset = bundle(ruleset)
        except RulesetCompileError as exc:
            return {"error": ": ".join(str(exc).split(": ")[:2])}
    try:
        c = compile_ruleset(ruleset, schema, name="snap", **kw)
    except RulesetCompileError as exc:
        return {"error": ": ".join(str(exc).split(": ")[:2])}
    return json.loads(json.dumps({
        "table_checks": c.table_checks,
        "unknown": c.unknown,
        "constraint_ids": [k.constraint_id for k in c.checks],
    }))


@pytest.fixture(scope="module")
def expected():
    return json.loads(SNAPSHOT.read_text())


def test_snapshot_covers_every_case(expected):
    assert sorted(expected) == sorted(CASES)


@pytest.mark.parametrize("case", sorted(CASES))
def test_compile_matches_snapshot(spark, expected, case):
    assert _compile(spark, case) == expected[case]




# -- row keywords -----------------------------------------------------------

# one column per placement, plus the columns x-langid / x-rate name
ROWS = ("s string, i int, d double, b binary, sa array<string>, "
        "da array<double>, st struct<a:int,b:string>, "
        "m map<string,string>, v variant, lang string, dur_ms int")
ROW_PLACEMENTS = ("s", "i", "d", "b", "sa", "da", "st", "m", "root", "v")
_DEFS = {"pos": {"minimum": 0, "maxLength": 3}}
_ROW_CHECKS = {"present": lambda c: c.isNotNull()}

# keyword -> the schema nodes that exercise it (companion keywords ride
# along where the keyword reads them)
ROW_FORMS = {
    "type": [{"type": t} for t in ("string", "integer", "number",
                                   "boolean", "object", "array", "null")]
    + [{"type": ["integer", "string"]}, {"type": ["integer", "null"]}],
    "enum": [{"enum": ["a", "b"]}, {"enum": [1, 2.5]},
             {"enum": [None, "a"]}, {"enum": [None]},
             {"enum": [{"k": 1}]}],
    "const": [{"const": "a"}, {"const": 3}, {"const": None},
              {"const": [1]}],
    "maxLength": [{"maxLength": 3}],
    "minLength": [{"minLength": 2}],
    "pattern": [{"pattern": "^a+$"}],
    "format": [{"format": f} for f in ("date", "int32", "password",
                                       "double", "regex", "bogus")],
    "contentEncoding": [{"contentEncoding": "base64"},
                        {"contentEncoding": "quoted-printable"}],
    "contentMediaType": [
        {"contentMediaType": "application/json"},
        {"contentMediaType": "image/png"},
        {"contentEncoding": "base64", "contentMediaType": "image/png"},
        {"contentEncoding": "base64",
         "contentMediaType": "application/json"}],
    "contentSchema": [
        {"contentMediaType": "application/json",
         "contentSchema": {"required": ["a"]}},
        {"contentEncoding": "base64", "contentMediaType": "application/json",
         "contentSchema": {"properties": {"a": {"type": "integer"}}}},
        {"contentSchema": {"required": ["a"]}}],
    "minimum": [{"minimum": 0}, {"minimum": 1.5}],
    "maximum": [{"maximum": 10}],
    "exclusiveMinimum": [{"exclusiveMinimum": 0}],
    "exclusiveMaximum": [{"exclusiveMaximum": 10}],
    "multipleOf": [{"multipleOf": 2}, {"multipleOf": 0.5}],
    "x-finite": [{"x-finite": True}, {"x-finite": False}],
    "maxItems": [{"maxItems": 2}],
    "minItems": [{"minItems": 1}],
    "required": [{"required": ["a", "zz"]}, {"required": ["s", "i"]}],
    "properties": [{"properties": {"a": {"minimum": 0},
                                   "zz": {"type": "string", "bogus": 1}}},
                   {"properties": {"s": {"minLength": 1}}}],
    "patternProperties": [{"patternProperties": {"^a": {"minimum": 0},
                                                 "^q": {"type": "string"}}}],
    "prefixItems": [{"prefixItems": [{"minLength": 1}]},
                    {"prefixItems": [{"minLength": 1}],
                     "items": {"maxLength": 5}},
                    {"prefixItems": [{"minLength": 1}],
                     "additionalItems": False}],
    "items": [{"items": {"minLength": 1}},
              {"items": [{"type": "string"}, {"minimum": 0}]},
              {"items": [{"type": "string"}], "additionalItems": False},
              {"items": [{"type": "string"}],
               "additionalItems": {"maxLength": 2}}],
    "additionalItems": [{"additionalItems": False}],
    "additionalProperties": [
        {"additionalProperties": False},
        {"additionalProperties": {"minimum": 0}},
        {"properties": {"a": {}}, "patternProperties": {"^s": {}},
         "additionalProperties": False},
        {"properties": {"a": {}}, "additionalProperties": True}],
    "unevaluatedProperties": [
        {"unevaluatedProperties": False},
        {"allOf": [{"properties": {"a": {}}}],
         "unevaluatedProperties": {"minLength": 1}},
        {"unevaluatedProperties": True}],
    "unevaluatedItems": [
        {"unevaluatedItems": False},
        {"prefixItems": [{}], "contains": {"minLength": 2},
         "unevaluatedItems": {"maxLength": 1}}],
    "allOf": [{"allOf": [{"minimum": 0}, {"maxLength": 3}]}],
    "anyOf": [{"anyOf": [{"type": "string"}, {"minimum": 0}]}],
    "oneOf": [{"oneOf": [{"type": "string"}, {"minimum": 0}]}],
    "not": [{"not": {"type": "string"}}],
    "uniqueItems": [{"uniqueItems": True}, {"uniqueItems": False}],
    "contains": [{"contains": {"minLength": 1}},
                 {"contains": {"minimum": 1}, "minContains": 2,
                  "maxContains": 3},
                 {"contains": {"minLength": 1}, "minContains": 0}],
    "minContains": [{"minContains": 2}],
    "maxContains": [{"maxContains": 2}],
    "minProperties": [{"minProperties": 1}],
    "maxProperties": [{"maxProperties": 2}],
    "dependentRequired": [{"dependentRequired": {"a": ["b"],
                                                 "s": ["i", "zz"]}}],
    "dependencies": [{"dependencies": {"a": ["b"]}},
                     {"dependencies": {"a": {"required": ["b"]},
                                       "s": {"required": ["i"]}}}],
    "dependentSchemas": [{"dependentSchemas": {"a": {"required": ["b"]}}}],
    "if": [{"if": {"minimum": 5}, "then": {"maximum": 10},
            "else": {"minLength": 2}},
           {"if": {"minLength": 1}, "then": {"maxLength": 4}},
           {"if": {"minLength": 1}}],
    "then": [{"then": {"maxLength": 4}}],
    "else": [{"else": {"maxLength": 4}}],
    "propertyNames": [{"propertyNames": {"pattern": "^[a-z]+$",
                                         "maxLength": 1}},
                      {"propertyNames": {"type": "integer"}},
                      {"propertyNames": {"minimum": 1, "enum": ["a"]}}],
    "$ref": [{"$ref": "#/definitions/pos"},
             {"$ref": "#/definitions/pos", "x-severity": "info"}],
    "x-severity": [{"x-severity": "error", "minimum": 0,
                    "allOf": [{"maxLength": 3, "x-severity": "info"}]}],
    "x-spark-check": [{"x-spark-check": "present"},
                      {"x-spark-check": "missing"}],
    "x-langid": [{"x-langid": {"declared": "lang"}},
                 {"x-langid": {"declared": "lang", "min_tokens": 3}},
                 {"x-langid": {"declared": "nope"}}],
    "x-rate": [{"x-rate": {"duration": "dur_ms"}},
               {"x-rate": {"duration": "dur_ms", "lo": 2, "hi": 20}},
               {"x-rate": {"duration": "dur_ms", "hi": 30.5}},
               {"x-rate": {"duration": "nope"}}],
    "x-encoding": [{"x-encoding": {}},
                   {"x-encoding": {"max_artifacts": 2,
                                   "patterns": ["replacement",
                                                "c1_control"]}},
                   {"x-encoding": {"patterns": ["bogus"]}}],
    "x-embedding": [{"x-embedding": {}},
                    {"x-embedding": {"dim": 3}},
                    {"x-embedding": {"dim": 3, "finite": False,
                                     "nonzero": True, "normalized": True,
                                     "norm_tol": 0.01}}],
    "x-repair": [{"x-repair": False, "minimum": 0}],
    "$bundled_from": [{"$bundled_from": "other.yaml", "minimum": 0}],
    "annotations": [{"title": "t", "description": "d", "default": 1,
                     "examples": [1], "$comment": "c", "readOnly": True,
                     "writeOnly": False, "deprecated": False, "$id": "x",
                     "$anchor": "a", "$schema": "s",
                     "definitions": {"q": {"minimum": 0}},
                     "$defs": {"q": {"minimum": 0}}}],
}

# keyword -> one value per rejected shape rule (placed on column s)
ROW_MALFORMED = {
    "type": [1, ["string", 1]], "enum": [[], "a"], "required": ["a", [1]],
    "maxLength": [1.5, True], "minLength": ["1"], "pattern": ["(", 1],
    "format": [1], "contentEncoding": [1], "contentMediaType": [1],
    "contentSchema": [[]], "minimum": ["1", True], "maximum": [None],
    "exclusiveMinimum": [[]], "exclusiveMaximum": [False],
    "multipleOf": [0, -1, "2"], "maxItems": [1.5], "minItems": [True],
    "properties": [[], {"a": 1}], "patternProperties": [{"(": {}},
                                                        {"a": 1}],
    "items": [1, [1]], "prefixItems": [{}, [1]],
    "additionalItems": [1], "additionalProperties": [1],
    "allOf": [{}, [1]], "anyOf": [[], [1]], "oneOf": [[]], "not": [True],
    "uniqueItems": [1], "contains": [True], "minContains": [-1, 1.5],
    "maxContains": [-1], "minProperties": [-1], "maxProperties": [True],
    "dependentRequired": [{"a": "b"}, {"a": [1]}],
    "dependencies": [{"a": 1}, {"a": [1]}],
    "dependentSchemas": [{"a": []}],
    "unevaluatedProperties": [1], "unevaluatedItems": [[]],
    "if": [True], "then": [1], "else": [[]], "propertyNames": [True],
    "x-severity": ["fatal"], "x-finite": [1],
    "x-langid": [{}, {"declared": 1}, {"declared": "lang",
                                       "min_tokens": -1},
                 {"declared": "lang", "min_tokens": 1.5}],
    "x-rate": [{}, {"duration": 1}, {"duration": "d", "lo": "1"},
               {"duration": "d", "lo": 5, "hi": 2},
               {"duration": "d", "hi": True}],
    "x-encoding": [[], {"max_artifacts": -1}, {"patterns": []},
                   {"patterns": "replacement"}, {"patterns": [1]}],
    "x-embedding": [[], {"dim": 0}, {"dim": 1.5}, {"finite": 1},
                    {"normalized": "yes"}, {"norm_tol": 0},
                    {"norm_tol": True}],
}


def _row_ruleset(where: str, node: dict) -> dict:
    rs = dict(node) if where == "root" else {"properties": {where: node}}
    if "$ref" in node:
        rs["definitions"] = _DEFS
    return rs


def _normalize(rec):
    """Renumber lambda variables (``x_17``) in order of appearance, and
    drop the identity hash a binary literal prints with (``[B@1f2e``)."""
    seen = {}

    def sub(m):
        return seen.setdefault(m.group(0),
                               f"{m.group(1)}_{len(seen) + 1}")
    text = re.sub(r"\b([xyz])_(\d+)\b", sub, json.dumps(rec))
    return json.loads(re.sub(r"\[B@[0-9a-f]+", "[B@", text))


def _compile_row_node(rs: dict, schema) -> dict:
    try:
        c = compile_ruleset(rs, schema, name="snap",
                            extra_checks=_ROW_CHECKS)
    except RulesetCompileError as exc:
        return {"error": ": ".join(str(exc).split(": ")[:2])}
    return _normalize(json.loads(json.dumps({
        "checks": [{"constraint_id": k.constraint_id, "keyword": k.keyword,
                    "instance_path": k.instance_path,
                    "schema_path": k.schema_path, "message": k.message,
                    "expected": k.expected, "severity": k.severity,
                    "violated": str(k.violated), "actual": str(k.actual)}
                   for k in c.checks],
        "staged": [[n, str(e)] for n, e in c.staged],
        "unknown": c.unknown,
        "static_passes": c.static_passes,
        "static_failures": c.static_failures,
        "columns_read": sorted(c.columns_read),
        "table_checks": c.table_checks,
    })))


def _compile_row_keyword(spark, kw: str) -> dict:
    """case name -> record, for every form of ``kw`` at every placement
    and every malformed value of it"""
    schema = T._parse_datatype_string(ROWS)
    out = {}
    for i, node in enumerate(ROW_FORMS[kw]):
        for where in ROW_PLACEMENTS:
            out[f"{i}-{where}"] = _compile_row_node(
                _row_ruleset(where, node), schema)
    for i, v in enumerate(ROW_MALFORMED.get(kw, ())):
        out[f"malformed-{i}"] = _compile_row_node(
            {"properties": {"s": {kw: v}}}, schema)
    return out


@pytest.fixture(scope="module")
def row_expected():
    return json.loads(ROW_SNAPSHOT.read_text())


def test_row_forms_cover_every_row_keyword(row_expected):
    assert sorted(row_expected) == sorted(ROW_FORMS)
    named = {kw for nodes in ROW_FORMS.values() for n in nodes for kw in n}
    assert set(ROW_MALFORMED) <= named


@pytest.mark.parametrize("kw", sorted(ROW_FORMS))
def test_row_keyword_matches_snapshot(spark, row_expected, kw):
    assert _compile_row_keyword(spark, kw) == row_expected[kw]


if __name__ == "__main__":
    from remark_lint_frontmatter_schema_spark.session import get_spark

    s = get_spark(master="local[1]", app_name="compile-snapshot")
    SNAPSHOT.write_text(json.dumps(
        {case: _compile(s, case) for case in sorted(CASES)},
        indent=1, sort_keys=True) + "\n")
    ROW_SNAPSHOT.write_text(json.dumps(
        {kw: _compile_row_keyword(s, kw) for kw in sorted(ROW_FORMS)},
        indent=1, sort_keys=True) + "\n")
    s.stop()
