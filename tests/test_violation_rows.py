"""Every violation producer returns exactly ``VIOLATION_SCHEMA``.

The table-check matrix compiles the compile-snapshot ``FORMS`` on a
string, integral, binary, date and timestamp column (and the root), and
builds the runner's DataFrame for every check the compiler places. The
violations are never computed; only the jobs a runner runs while it
builds its plan (x-calendar's span probe, a Bloom filter, the n-gram
LM, connected components) run, over empty tables. A check placed on a
column type its runner cannot read would raise ``AnalysisException``
here, so this also pins the placement rule (``TableCheck.where``).
"""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from remark_lint_frontmatter_schema_spark.functions import audio
from remark_lint_frontmatter_schema_spark.operators import dedup
from remark_lint_frontmatter_schema_spark.operators.table_checks import (
    table_check_violations)
from remark_lint_frontmatter_schema_spark.operators.validate import (
    VIOLATION_SCHEMA, violation_rows)
from remark_lint_frontmatter_schema_spark.plans.compiler import (
    compile_ruleset)
from remark_lint_frontmatter_schema_spark.sources.fixtures import (
    CLIPS_SCHEMA)

from test_compile_snapshot import FORMS

FACT = CLIPS_SCHEMA + ", ts timestamp"
# string, int, binary, date, timestamp
COLUMNS = ("transcript", "dur_ms", "bytes", "part_date", "ts")
DIMS = {
    "speakers": "speaker_id string",
    "d": "k string, valid_from date, s date, e date",
    "facts": "clip_id string, cid string, amount double",
    "bench": FACT + ", text string, bid string",
}
WANT = [(f.name, f.dataType) for f in VIOLATION_SCHEMA.fields]


def _shape(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


@pytest.fixture(scope="module")
def tables(spark):
    def empty(ddl):
        return spark.createDataFrame([], T._parse_datatype_string(ddl))
    yield empty(FACT), {name: empty(ddl) for name, ddl in DIMS.items()}
    dedup.release_all()


@pytest.mark.parametrize("kw", sorted(FORMS))
def test_placed_table_checks_build_violation_schema(spark, tables, kw):
    fact, dims = tables
    placed = 0
    for v in FORMS[kw]:
        for where in COLUMNS + ("",):
            rs = {"properties": {where: {kw: v}}} if where else {kw: v}
            c = compile_ruleset(rs, fact.schema, name="m")
            if not c.table_checks:
                continue
            placed += 1
            df = table_check_violations(fact, c, row_id="clip_id",
                                        dims=dims)
            assert _shape(df) == WANT, (where, v)
    assert placed


def test_audio_producers_build_violation_schema(spark, tables):
    clips, _ = tables
    for build in (audio.dtx_violations, audio.opus_consistency_violations,
                  audio.speaking_rate_violations,
                  audio.duration_consistency_violations,
                  audio.transcript_conflict_violations,
                  audio.snr_violations):
        assert _shape(build(clips)) == WANT, build


def test_violation_rows_argument_rules(spark):
    df = spark.createDataFrame([(7, 1.5)], "k int, v double")
    rows = violation_rows(
        df, row_id=df.k, constraint_id="c", keyword="k",
        instance_path="/k", schema_path="#/k", message="m",
        actual=df.v, expected=["a", "b"], ruleset_name="r",
        severity="warning")
    assert _shape(rows) == WANT
    got = rows.first().asDict()
    assert got == {"row_id": "7", "partition_id": "all", "ruleset_id": "r",
                   "constraint_id": "c", "keyword": "k",
                   "instance_path": "/k", "schema_path": "#/k",
                   "message": "m", "actual": "1.5",
                   "expected": ["a", "b"], "severity": "warning"}
    # a str is a literal, never a column name; None gives a NULL array
    bare = violation_rows(
        df, row_id="k", constraint_id="c", keyword="k", instance_path="",
        schema_path="", message="", actual=None, ruleset_name="r",
        severity="info", partition_id=df.k.cast("string"))
    got = bare.first()
    assert (got.row_id, got.partition_id, got.actual, got.expected) \
        == ("k", "7", None, None)
