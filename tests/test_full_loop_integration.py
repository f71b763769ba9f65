"""End-to-end composition over the clips fixture: the full reference
workflow at table scale — lint (rows + table checks) → fix (repair) →
re-lint (clean for repairable constraints, rest still flagged) → curate
(payload gates) — every stage consuming the previous stage's output,
one declarative document family throughout."""

import pytest
from pyspark.sql import functions as F

from remark_lint_frontmatter_schema_spark import (
    bundle, compile_ruleset, repair, validate)
from remark_lint_frontmatter_schema_spark.operators.table_checks import (
    validate_with_table_checks)
from remark_lint_frontmatter_schema_spark.sources import fixtures


@pytest.fixture(scope="module")
def clips(spark):
    df = fixtures.generate_clips(spark, 800, audio_ms=8, num_partitions=4)
    df.cache().count()
    return df


RULESET = {
    "type": "object",
    "properties": {
        # repairable: clamp + enum-with-default
        "dur_ms": {"minimum": 1, "maximum": 30000},
        "codec": {"enum": ["pcm_s16le", "flac", "opus"],
                  "default": "pcm_s16le"},
        # opted out of repair: stays a diagnostic for the validator
        "sr_hz": {"enum": [8000, 16000, 44100, 48000],
                  "x-repair": False},
        "transcript": {"type": "string"},
    },
}


def test_lint_fix_relint_loop_on_clips(spark, clips):
    compiled = compile_ruleset(RULESET, clips.schema)

    before = validate(clips, compiled, row_id="clip_id")
    n_before = before.violations.count()
    assert n_before > 0  # the fixture injects defects

    rep = repair(clips, RULESET, row_id="clip_id")
    assert rep.repaired.schema == clips.schema
    touched = rep.log.count()
    assert touched > 0

    after = validate(rep.repaired, compiled, row_id="clip_id")
    rows = after.violations.collect()
    # every repairable keyword is clean; unrepairable ones survive intact
    assert not [r for r in rows if r.keyword in
                {"minimum", "maximum"} and r.instance_path == "/dur_ms"]
    assert not [r for r in rows if r.instance_path == "/codec"]
    before_sr = {r.row_id for r in before.violations.collect()
                 if r.instance_path == "/sr_hz"}
    after_sr = {r.row_id for r in rows if r.instance_path == "/sr_hz"}
    assert before_sr == after_sr  # untouched diagnostics unchanged


def test_table_checks_compose_over_repaired_output(spark, clips):
    """The repaired table drops straight into the table-check pass:
    x-unique + grouped x-outlier run over repair()'s output and their
    violation rows union with the row relation."""
    doc = {
        "type": "object",
        "properties": {
            "clip_id": {"x-unique": True},
            "dur_ms": {"minimum": 1, "maximum": 30000,
                       "x-outlier": {"k": 6.0, "by": "codec"}},
        },
    }
    rep = repair(clips, doc, row_id="clip_id")
    compiled = compile_ruleset(doc, rep.repaired.schema)
    res = validate_with_table_checks(rep.repaired, compiled,
                                     row_id="clip_id")
    kinds = {r.keyword for r in res.violations.collect()}
    # the fixture's hot duplicate key must surface through the repaired copy
    assert "unique" in kinds
    # and the unioned relation is one schema
    assert res.violations.columns == res.row.violations.columns


def test_curation_gate_runs_on_repaired_corpus(spark, clips):
    """Payload gates (header sanity) compose after repair: the repaired
    table still carries the binary column untouched, so the header
    check runs unchanged on it."""
    from remark_lint_frontmatter_schema_spark.functions import audio

    rep = repair(clips, RULESET, row_id="clip_id")
    ok = (rep.repaired.where("bytes is not null")
          .where(audio.codec_header_ok_col()))
    n_ok = ok.count()
    n_all = rep.repaired.where("bytes is not null").count()
    assert 0 < n_ok < n_all  # fixture injects corrupt headers
    # repair never rewrote payload bytes
    a = clips.select("clip_id", F.sha2(F.hex("bytes"), 256).alias("h"))
    b = rep.repaired.select("clip_id",
                            F.sha2(F.hex("bytes"), 256).alias("h"))
    assert a.subtract(b).count() == 0
