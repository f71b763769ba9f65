"""Table checks (operators/table_checks.py) run as independent,
column-pruned passes, one per check: rows must be byte-identical to the
standalone per-check operators whatever physical plan feeds them, every
parquet scan must read only its own check's columns, and an unknown kind
must raise."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from remark_lint_frontmatter_schema_spark import compile_ruleset
from remark_lint_frontmatter_schema_spark.operators.dedup import release_all
from remark_lint_frontmatter_schema_spark.operators.drift import (
    benford_violations)
from remark_lint_frontmatter_schema_spark.operators.sequence import (
    calendar_violations, freshness_violations)
from remark_lint_frontmatter_schema_spark.operators.skew import (
    skew_violations)
from remark_lint_frontmatter_schema_spark.operators.outliers import (
    volume_violations)
from remark_lint_frontmatter_schema_spark.operators.stats import (
    mask_violations, quantile_violations)
from remark_lint_frontmatter_schema_spark.operators.table_checks import (
    table_check_violations)
from remark_lint_frontmatter_schema_spark.operators.uniqueness import (
    uniqueness_violations)

RULESET = {
    "properties": {
        "rid": {"x-unique": True, "x-skew": {"max_share": 0.2}},
        "ts": {"x-volume": {"unit": "day", "k": 3.5},
               "x-calendar": {"unit": "day"},
               "x-freshness": {"max_age_seconds": 3600,
                               "as_of": "2024-04-01 00:00:00"}},
        "v": {"x-quantile": {"q": 0.5, "lo": 100.0},
              "x-benford": {"max_mad": 0.015}},
        "nm": {"x-mask": {"expect": "A#9", "min_share": 0.99}},
    }
}


@pytest.fixture(scope="module")
def fact(spark):
    # 6 quiet days x 10 rows + one flooded day; rid 7 duplicated 3x;
    # median(v) = 3 -> far below lo=100 so the quantile gate fires.
    rows = []
    for d in (1, 2, 3, 5, 6):      # day 4 missing -> x-calendar hole
        for i in range(10):
            # nm off-shape for i == 9 -> conformance 0.9 < 0.99
            nm = f"Doc#{i}" if i < 9 else "??"
            rows.append((f"{d}-{i}", datetime(2024, 3, d),
                         float(i % 7), nm))
    for i in range(400):
        rows.append((f"7-{i}", datetime(2024, 3, 7), 3.0, "Doc#3"))
    rows += [("7-0", datetime(2024, 3, 7), 3.0, "Doc#3")] * 2
    return spark.createDataFrame(
        rows, "rid string, ts timestamp, v double, nm string")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


# Each parity test feeds the table-check engine the same rows in three
# physical layouts and compares with the standalone operators run on the
# rows as built. The case ids are the values of the former strategy knob,
# kept so the test IDs stay comparable across versions; each names the
# layout the matching former strategy scanned:
#   False     - the DataFrame as built (a local relation);
#   True      - the DataFrame persisted by the caller (an in-memory
#               relation, as the former shared cache was);
#   "explode" - the rows written to and read back from parquet (pruned
#               FileScans).
LAYOUTS = pytest.mark.parametrize(
    "layout", ["as_built", "persisted", "parquet"],
    ids=["False", "True", "explode"])


@pytest.fixture
def laid_out(layout, tmp_path):
    """A function giving its DataFrame in this case's layout; what it
    persisted is unpersisted at teardown."""
    persisted = []

    def lay(df):
        if layout == "persisted":
            persisted.append(df.persist())
            return persisted[-1]
        if layout == "parquet":
            path = str(tmp_path / "fact")
            df.write.parquet(path)
            return df.sparkSession.read.parquet(path)
        return df

    yield lay
    for df in persisted:
        df.unpersist()


@LAYOUTS
def test_fused_matches_standalone_operators(spark, fact, laid_out):
    compiled = compile_ruleset(RULESET, fact.schema, name="fused")
    assert len(compiled.table_checks) == 8
    got = table_check_violations(laid_out(fact), compiled, row_id="rid")
    want = (uniqueness_violations(fact, "rid", ruleset_name="fused")
            .unionByName(volume_violations(
                fact, "ts", unit="day", k=3.5, ruleset_name="fused")
                .withColumn("row_id", F.col("row_id").cast("string")))
            .unionByName(quantile_violations(
                fact, "v", q=0.5, lo=100.0, ruleset_name="fused"))
            .unionByName(mask_violations(
                fact, "nm", expect="A#9", min_share=0.99,
                ruleset_name="fused"))
            .unionByName(benford_violations(
                fact, "v", max_mad=0.015, ruleset_name="fused"))
            .unionByName(calendar_violations(
                fact, "ts", unit="day", ruleset_name="fused"))
            .unionByName(skew_violations(
                fact, "rid", max_share=0.2, ruleset_name="fused"))
            .unionByName(freshness_violations(
                fact, "ts", max_age_seconds=3600.0,
                as_of="2024-04-01 00:00:00", ruleset_name="fused")))
    try:
        assert _sorted(got) == _sorted(want)
    finally:
        release_all()


@LAYOUTS
def test_empty_table_quantile_still_fails_closed(spark, laid_out):
    """The standalone global x-quantile fires on an empty table (NULL
    quantile == finding); the table-check engine must preserve it."""
    df = spark.createDataFrame(
        [], "rid string, ts timestamp, v double, nm string")
    compiled = compile_ruleset(RULESET, df.schema, name="fused")
    got = table_check_violations(laid_out(df), compiled, row_id="rid")
    try:
        rows = got.collect()
    finally:
        release_all()
    kw = sorted(r.keyword for r in rows)
    assert kw == ["x-benford", "x-freshness", "x-mask", "x-quantile"]
    assert sum("no non-NULL values" in r.message for r in rows) == 2
    assert sum("no non-NULL 'ts' rows" in r.message for r in rows) == 1
    assert sum("no measurable first digits" in r.message
               for r in rows) == 1


@LAYOUTS
def test_fused_drift_matches_standalone(spark, laid_out):
    """x-drift rows must be byte-identical to the standalone operator,
    including NaN's below-range bucket and dropped NULL-side rows."""
    from remark_lint_frontmatter_schema_spark.operators.drift import (
        drift_violations)
    rows = ([("a%d" % i, "ref", float(i % 10), "k%d" % i)
             for i in range(200)]
            + [("b%d" % i, "cur", float(i % 10) + 4.0, "k%d" % (500 + i))
               for i in range(200)]
            + [("n1", "ref", float("nan"), "x"),
               ("n2", "cur", float("nan"), "x"),
               ("s0", None, 3.0, "y"),        # NULL side -> ignored
               ("v0", "ref", None, "z")])     # NULL value -> filtered
    df = spark.createDataFrame(
        rows, "rid string, side string, v double, k string")
    rs = {"properties": {
        "k": {"x-unique": True},
        "v": {"x-drift": {"partition_col": "side", "side_a": "ref",
                          "side_b": "cur", "lo": 0.0, "hi": 10.0,
                          "n_buckets": 10, "ks_threshold": 0.05,
                          "psi_threshold": 0.1,
                          "emd_threshold": 0.5}}}}
    compiled = compile_ruleset(rs, df.schema, name="dr")
    assert len(compiled.table_checks) == 2
    got = table_check_violations(laid_out(df), compiled, row_id="rid")
    want = (uniqueness_violations(df, "k", ruleset_name="dr")
            .unionByName(drift_violations(
                df, "v", partition_col="side", side_a="ref",
                side_b="cur", lo=0.0, hi=10.0, n_buckets=10,
                ks_threshold=0.05, psi_threshold=0.1,
                emd_threshold=0.5, ruleset_name="dr")))
    try:
        got_rows = _sorted(got)
        assert got_rows == _sorted(want)
        assert any(r[4] == "drift" for r in got_rows)  # gate fired
    finally:
        release_all()


@LAYOUTS
def test_fused_drift_missing_side_config_row(spark, laid_out):
    """A typo'd side label must still surface the fail-closed
    drift-config row through the table-check engine."""
    from remark_lint_frontmatter_schema_spark.operators.drift import (
        drift_violations)
    df = spark.createDataFrame(
        [("a", "ref", 1.0, "k1"), ("b", "ref", 2.0, "k1")],
        "rid string, side string, v double, k string")
    rs = {"properties": {
        "k": {"x-unique": True},
        "v": {"x-drift": {"partition_col": "side", "side_a": "ref",
                          "side_b": "nope", "lo": 0.0, "hi": 10.0}}}}
    compiled = compile_ruleset(rs, df.schema, name="cfg")
    got = table_check_violations(laid_out(df), compiled, row_id="rid")
    want = (uniqueness_violations(df, "k", ruleset_name="cfg")
            .unionByName(drift_violations(
                df, "v", partition_col="side", side_a="ref",
                side_b="nope", lo=0.0, hi=10.0, ruleset_name="cfg")))
    try:
        got_rows = _sorted(got)
        assert got_rows == _sorted(want)
        assert any(r[4] == "drift-config" for r in got_rows)
    finally:
        release_all()


@LAYOUTS
def test_fused_freshness_far_future_exact(spark, laid_out):
    """Sentinel timestamps past 2^53 us (~year 2255, e.g. 9999-12-31)
    must render byte-exactly (a double round-trip would be ~32 us off
    out there)."""
    df = spark.createDataFrame(
        [("a", datetime(9999, 12, 31, 23, 59, 59, 999999), "k"),
         ("b", datetime(2024, 1, 1), "k"),
         ("c", datetime(2024, 1, 2), "x")],
        "rid string, ts timestamp, k string")
    rs = {"properties": {
        "k": {"x-unique": True},
        "ts": {"x-freshness": {"max_age_seconds": 3600,
                               "as_of": "2024-06-01 00:00:00"}}}}
    compiled = compile_ruleset(rs, df.schema, name="ff")
    got = table_check_violations(laid_out(df), compiled, row_id="rid")
    want = (uniqueness_violations(df, "k", ruleset_name="ff")
            .unionByName(freshness_violations(
                df, "ts", max_age_seconds=3600.0,
                as_of="2024-06-01 00:00:00", ruleset_name="ff")))
    try:
        assert _sorted(got) == _sorted(want)
        fresh = [r for r in got.collect() if r.keyword == "x-freshness"]
        # newest is in the future -> no violation row for age, but the
        # standalone emitter's decision must match; if neither emits,
        # equality above already proves parity.
        assert all("9999-12-31 23:59:59.999999" in (r.actual or "")
                   for r in fresh) or not fresh
    finally:
        release_all()


@LAYOUTS
def test_fused_float_key_negative_zero_matches_standalone(spark, laid_out):
    """A double key column holding -0.0 and 0.0: native groupBy
    normalizes them into ONE key (so standalone x-unique reports the
    duplicate) through the table-check engine too."""
    df = spark.createDataFrame(
        [("a", -0.0, datetime(2024, 1, 1)),
         ("b", 0.0, datetime(2024, 1, 2)),
         ("c", 1.5, datetime(2024, 1, 3)),
         ("d", float("nan"), datetime(2024, 1, 4)),
         ("e", float("nan"), datetime(2024, 1, 5))],
        "rid string, price double, ts timestamp")
    rs = {"properties": {
        "price": {"x-unique": True, "x-skew": {"max_share": 0.3}},
        "ts": {"x-freshness": {"max_age_seconds": 3600,
                               "as_of": "2024-06-01 00:00:00"}}}}
    compiled = compile_ruleset(rs, df.schema, name="nz")
    got = table_check_violations(laid_out(df), compiled, row_id="rid")
    want = (uniqueness_violations(df, "price", ruleset_name="nz")
            .unionByName(skew_violations(
                df, "price", max_share=0.3, ruleset_name="nz"))
            .unionByName(freshness_violations(
                df, "ts", max_age_seconds=3600.0,
                as_of="2024-06-01 00:00:00", ruleset_name="nz")))
    try:
        got_rows, want_rows = _sorted(got), _sorted(want)
        assert got_rows == want_rows
        uniq = [r for r in got.collect() if r.keyword == "unique"]
        # -0.0/0.0 fold to one duplicated key AND the NaN pair groups
        assert sorted(r.row_id for r in uniq) == ["0.0", "NaN"]
    finally:
        release_all()


@LAYOUTS
def test_fused_freshness_date_column_matches_direct(spark, laid_out):
    """A DATE column's newest value must render as a date in `actual`
    through the table-check engine, exactly as the direct max(col)
    aggregate."""
    from datetime import date
    df = spark.createDataFrame(
        [(str(i), date(2024, 1, 1 + i % 5), str(i)) for i in range(20)]
        + [("dup", date(2024, 1, 2), "dup")] * 2,
        "rid string, d date, k string")
    rs = {"properties": {
        "k": {"x-unique": True},
        "d": {"x-freshness": {"max_age_seconds": 3600,
                              "as_of": "2024-06-01 00:00:00"}}}}
    compiled = compile_ruleset(rs, df.schema, name="fr")
    got = table_check_violations(laid_out(df), compiled, row_id="rid")
    want = (uniqueness_violations(df, "k", ruleset_name="fr")
            .unionByName(freshness_violations(
                df, "d", max_age_seconds=3600.0,
                as_of="2024-06-01 00:00:00", ruleset_name="fr")))
    try:
        assert _sorted(got) == _sorted(want)
        fresh = [r for r in got.collect() if r.keyword == "x-freshness"]
        assert fresh[0].actual == "2024-01-05"
    finally:
        release_all()


def _read_schemas(plan: str) -> list[set[str]]:
    """The top-level column names of every ReadSchema in a plan string
    (the tables here have flat schemas)."""
    import re
    return [{f.split(":", 1)[0] for f in m.split(",")}
            for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)]


def test_each_scan_reads_only_its_checks_columns(spark, tmp_path):
    """Over a parquet fact, every FileScan in the table-check plan reads
    exactly one check's own columns — no shared wide projection, no
    cache. x-drift reads (v, side), x-ref reads (cust, rid)."""
    rows = [(f"r{i}", f"c{i % 7}", "ref" if i % 2 else "cur",
             float(i % 10), f"k{i % 40}", f"pad{i}") for i in range(200)]
    p = str(tmp_path / "fact")
    spark.createDataFrame(
        rows, "rid string, cust string, side string, v double, k string, "
              "pad string").write.parquet(p)
    df = spark.read.parquet(p)
    dim = spark.createDataFrame([(f"c{i}",) for i in range(5)],
                                "cust_id string")
    rs = {"properties": {
        "k": {"x-unique": True},
        "v": {"x-quantile": {"q": 0.5, "lo": 100.0},
              "x-drift": {"partition_col": "side", "side_a": "ref",
                          "side_b": "cur", "lo": 0.0, "hi": 10.0}},
        "cust": {"x-ref": {"dim": "customers", "key": "cust_id"}}}}
    compiled = compile_ruleset(rs, df.schema, name="pruned")
    got = table_check_violations(df, compiled, row_id="rid",
                                 dims={"customers": dim})
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan
    scans = _read_schemas(plan)
    own = [{"k"}, {"v"}, {"v", "side"}, {"cust", "rid"}]
    assert scans and all(s in own for s in scans), (scans, plan)
    assert all(s in scans for s in own), (scans, plan)
    assert got.count() > 0   # quantile + ref fire


def test_unknown_kind_raises_naming_it(spark, fact):
    from remark_lint_frontmatter_schema_spark.plans.compiler import (
        CompiledRuleset)
    compiled = CompiledRuleset(name="odd")
    compiled.table_checks.append(("no_such_kind", "rid", {}))
    with pytest.raises(ValueError, match="no_such_kind"):
        table_check_violations(fact, compiled, row_id="rid")
