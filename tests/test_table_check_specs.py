"""Table-check declarations (operators/table_checks.py TABLE_CHECKS):
one null policy for every optional param, shared by the row ``x-*``
keywords' params (plans/compiler.py _KEYWORDS), and the unknowns a table
check inside a composition branch reports."""

import pytest

from pyspark.sql import types as T

from remark_lint_frontmatter_schema_spark.plans.compiler import (
    compile_ruleset)

SCHEMA = "a string, b string, n double, t string, e array<double>"

# keyword -> (column it is placed on, smallest valid dict, its optional
# params). x-quantile / x-readability carry both bounds so that nulling
# either still leaves one.
NULLABLE = {
    "x-ref": ("a", {"dim": "d", "key": "k"}, ("bloom", "n_items")),
    "x-ref-asof": ("a", {"dim": "d", "key": "k", "ts": "t",
                         "dim_ts": "v"},
                   ("tolerance", "direction", "bucket")),
    "x-outlier": ("n", {}, ("id", "k", "by", "approx")),
    "x-skew": ("a", {"max_share": 0.5}, ("top_k", "by")),
    "x-reconcile": ("n", {"fact": "f", "key": "a", "fact_value": "v"},
                    ("fact_key", "agg", "tolerance", "on_missing")),
    "x-monotonic": ("a", {"order_by": "t"},
                    ("by", "direction", "n_buckets", "id")),
    "x-volume": ("t", {}, ("unit", "k", "by")),
    "x-quantile": ("n", {"q": 0.5, "lo": 1, "hi": 2},
                   ("lo", "hi", "by", "approx")),
    "x-readability": ("a", {"id": "b", "lo": 10, "hi": 90}, ("lo", "hi")),
    "x-lm-ppl": ("a", {"id": "b", "max_ppl": 100}, ("n", "k")),
    "x-mask": ("a", {"expect": "A"}, ("min_share", "by")),
    "x-corr": ("n", {"with": "n", "min_abs": 0.5}, ("by",)),
    "x-benford": ("n", {}, ("max_mad", "by")),
    "x-calendar": ("t", {}, ("unit", "by", "max_buckets")),
    "x-freshness": ("t", {"max_age_seconds": 60}, ("as_of", "by")),
    "x-gap": ("t", {"max_seconds": 60}, ("by", "n_buckets", "id")),
    "x-fd": ("a", {"determined_by": ["b"]}, ("id",)),
    "x-drift": ("n", {"partition_col": "t", "side_a": "x", "side_b": "y",
                      "lo": 0, "hi": 1},
                ("n_buckets", "ks_threshold", "psi_threshold",
                 "emd_threshold", "jsd_threshold", "cvm_threshold", "by")),
    "x-dedup": ("a", {"id": "b"},
                ("method", "block", "n", "threshold", "max_distance")),
    "x-dup-ngram": ("a", {"id": "b"}, ("n", "max_frac")),
    "x-gopher": ("a", {"id": "b"}, ("rules",)),
    "x-c4": ("a", {"id": "b"}, ("min_words_per_line", "min_sentences")),
    "x-decontaminate": ("a", {"id": "b", "bench": "bench"},
                        ("bench_text_col", "bench_id_col", "n",
                         "min_shared", "bloom", "n_items")),
    "x-label-conflict": ("a", {"id": "b", "transcript": "t"},
                         ("max_distance", "grade", "contradiction_below")),
    # row x- keywords: they compile to row checks, not table checks
    "x-langid": ("a", {"declared": "b"}, ("min_tokens",)),
    "x-rate": ("a", {"duration": "n", "lo": 2, "hi": 20}, ("lo", "hi")),
    "x-encoding": ("a", {}, ("max_artifacts", "patterns")),
    "x-embedding": ("e", {"normalized": True},
                    ("dim", "finite", "nonzero", "normalized", "norm_tol")),
}

CASES = [(kw, param) for kw, (_c, _d, params) in NULLABLE.items()
         for param in params]


def _compile(kw, column, value):
    schema = T._parse_datatype_string(SCHEMA)
    c = compile_ruleset({"properties": {column: {kw: value}}}, schema)
    return (c.table_checks, c.unknown,
            [(k.constraint_id, k.message) for k in c.checks])


@pytest.mark.parametrize("kw,param", CASES,
                         ids=[f"{kw}-{p}" for kw, p in CASES])
def test_explicit_null_param_means_default(spark, kw, param):
    column, base, _ = NULLABLE[kw]
    omitted = {k: v for k, v in base.items() if k != param}
    expected = _compile(kw, column, omitted)
    assert expected[0] or expected[2], expected  # the omitted form compiles
    assert _compile(kw, column, {**omitted, param: None}) == expected


def test_null_cases_cover_every_optional_param():
    from remark_lint_frontmatter_schema_spark.operators.table_checks import (
        TABLE_CHECKS)
    from remark_lint_frontmatter_schema_spark.plans.compiler import _KEYWORDS
    declared = {(s.keyword, p.name) for s in TABLE_CHECKS.values()
                for p in s.params if not p.required}
    declared |= {(k.name, p.name) for k in _KEYWORDS
                 for p in k.params if not p.required}
    assert declared == set(CASES)


@pytest.mark.parametrize("ruleset,unknown", [
    ({"properties": {"a": {"anyOf": [{"x-unique": True}]}}},
     [("/a", "x-unique:in-composition")]),
    ({"anyOf": [{"x-unique": ["a", "b"]}]},
     [("", "x-unique:in-composition")]),
    ({"properties": {"a": {"not": {"x-dup-ngram": {"id": "b"}}}}},
     [("/a", "x-dup-ngram:in-composition")]),
], ids=["column-flag", "root-keys", "column-dashed-keyword"])
def test_table_check_in_composition_names_keyword_and_path(
        spark, ruleset, unknown):
    c = compile_ruleset(ruleset, T._parse_datatype_string(SCHEMA))
    assert c.table_checks == []
    assert c.unknown == unknown


@pytest.mark.parametrize("kw,column,value", [
    # hi is left to its default, 121
    ("x-readability", "a", {"id": "b", "lo": 200}),
    ("x-drift", "n", {"partition_col": "t", "side_a": "x", "side_b": "y",
                      "lo": 5, "hi": 1}),
    # hi is left to its default, 40
    ("x-rate", "a", {"duration": "n", "lo": 50}),
], ids=["readability-lo-above-default-hi", "drift-lo-above-hi",
        "rate-lo-above-default-hi"])
def test_inverted_band_is_rejected(spark, kw, column, value):
    from remark_lint_frontmatter_schema_spark.plans.bundler import (
        RulesetCompileError)
    with pytest.raises(RulesetCompileError,
                       match=f"bad value for '{kw}' at "):
        _compile(kw, column, value)
