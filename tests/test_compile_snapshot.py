"""Compile snapshot: what the compiler emits for every table-check keyword.

Compiles (never runs) each ruleset in ``rulesets/`` and a matrix of the 28
table-check keywords — a minimal and a full param dict at seven placements —
and compares the ``table_checks`` tuples, ``unknown`` and the row
constraint ids with ``compile_snapshot.json``. Malformed param dicts (one
per rejected shape rule) pin the ``RulesetCompileError`` message prefix.

Two behaviours are deliberately left out because they are defined
elsewhere: an explicit ``null`` param (``test_table_check_specs.py``)
and a table check inside a composition at a property node.

Regenerate the expectations with ``python tests/test_compile_snapshot.py``
only when a compile output changes on purpose.
"""

from __future__ import annotations

import json
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


if __name__ == "__main__":
    from remark_lint_frontmatter_schema_spark.session import get_spark

    s = get_spark(master="local[1]", app_name="compile-snapshot")
    SNAPSHOT.write_text(json.dumps(
        {case: _compile(s, case) for case in sorted(CASES)},
        indent=1, sort_keys=True) + "\n")
    s.stop()
