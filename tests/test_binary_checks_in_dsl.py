"""Binary header checks as first-class DSL constraints (x-spark-check),
and the header check's 64-byte prefix form against the full payload."""

import pytest

from remark_lint_frontmatter_schema_spark import compile_ruleset, validate
from remark_lint_frontmatter_schema_spark.functions import audio, mp3
from remark_lint_frontmatter_schema_spark.sources import fixtures


@pytest.fixture(scope="module")
def clips(spark):
    df = fixtures.generate_clips(spark, 600, audio_ms=8, num_partitions=4)
    df.cache().count()
    return df


def _long_id3_mp3(i: int) -> bytes:
    """An MP3 behind a 200-byte ID3v2 tag: its first frame header sits
    past the 64-byte prefix the other codecs are checked on."""
    body = b"\x00" * 200
    return (b"ID3\x04\x00\x00" + bytes([0, 0, len(body) >> 7,
                                          len(body) & 0x7F]) + body
            + mp3.make_mp3(i, sr_hz=44100, audio_ms=100))


def test_header_prefix_matches_full_payload(clips):
    long_id3 = clips.sparkSession.createDataFrame(
        [("mp3_long_id3", _long_id3_mp3(1), "mp3", 44100)],
        "clip_id string, bytes binary, codec string, sr_hz int")
    df = (clips.where("bytes is not null")
          .select("clip_id", "bytes", "codec", "sr_hz")
          .unionByName(long_id3)
          .select(
              "clip_id",
              audio.codec_header_ok("bytes", "codec", "sr_hz").alias("full"),
              audio.codec_header_ok_col().alias("prefix")))
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.full == r.prefix, r
    assert [r.prefix for r in rows if r.clip_id == "mp3_long_id3"] == [True]


def test_header_check_dsl_null_and_long_id3(spark):
    """codec_header through the DSL: an MP3 behind a long ID3v2 tag
    passes; a RIFF/WAVE payload with a NULL sr_hz, or cut to 20 bytes,
    is a violation (the check is false there, never NULL)."""
    wav = audio.synth_wav(1, 16000, 50)
    df = spark.createDataFrame(
        [("mp3_long_id3", _long_id3_mp3(2), "mp3", 44100),
         ("wav_null_sr", wav, "pcm_s16le", None),
         ("wav_cut_20", wav[:20], "pcm_s16le", 16000)],
        "clip_id string, bytes binary, codec string, sr_hz int")
    compiled = compile_ruleset(
        {"properties": {"bytes": {"x-spark-check": "codec_header"}}},
        df.schema, name="hdr", extra_checks=audio.register_audio_checks())
    got = sorted((r.row_id, r.keyword) for r in validate(
        df, compiled, row_id="clip_id").violations.collect())
    assert got == [("wav_cut_20", "x-spark-check"),
                   ("wav_null_sr", "x-spark-check")]


def test_header_check_via_dsl(clips):
    ruleset = {
        "properties": {
            "bytes": {"x-spark-check": "codec_header"},
        },
    }
    compiled = compile_ruleset(ruleset, clips.schema, name="bin",
                               extra_checks=audio.register_audio_checks())
    res = validate(clips, compiled, row_id="clip_id",
                   partition_col="part_date")
    rows = res.violations.collect()
    assert rows
    assert all(r.keyword == "x-spark-check" for r in rows)
    assert all('must pass check "codec_header"' in r.message.lower()
               or "codec_header" in r.message for r in rows)
    # actual is a hex prefix, never raw payload bytes
    assert all(len(r.actual) <= 32 for r in rows if r.actual)
    # the injected corrupt/mismatch/divx rows are exactly the hits
    ids = {int(r.row_id.split("_")[1]) for r in rows
           if r.row_id.startswith("clip_") and "hot" not in r.row_id}
    classes = {fixtures.defect_class(i) for i in ids}
    # range_sr rows carry sr_hz=3 in the column but an 8 kHz container ->
    # a true header/column mismatch, caught by design
    assert classes <= {"corrupt_bytes", "codec_header_mismatch", "enum_codec",
                       "range_sr",
                       None}  # None: dup-id rows aliased onto neighbors


def _arrow_stages(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString() \
        .count("ArrowEvalPython")


def test_expression_only_plan_has_no_python_stage(clips):
    ruleset = {"properties": {"codec": {"enum": ["pcm_s16le", "flac", "opus"]}}}
    compiled = compile_ruleset(ruleset, clips.schema, name="expr")
    res = validate(clips, compiled, row_id="clip_id")
    assert _arrow_stages(res.violations) == 0
    # ...and the binary ruleset adds exactly one Arrow stage to each plan:
    # the staged check crosses to Python once per row
    compiled_b = compile_ruleset(
        {"properties": {"bytes": {"x-spark-check": "codec_header"}}},
        clips.schema, name="bin", extra_checks=audio.register_audio_checks())
    assert len(compiled_b.staged) == 1
    res_b = validate(clips, compiled_b, row_id="clip_id")
    assert _arrow_stages(res_b.violations) == 1
    assert _arrow_stages(res_b.verdicts) == 1


def _filters(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum("Filter " in line for line in plan.splitlines())


def test_jvm_check_is_not_staged_and_keeps_prefilter(clips):
    checks = audio.register_audio_checks()
    jvm = compile_ruleset(
        {"properties": {"bytes": {"x-spark-check": "canonical_wav"}}},
        clips.schema, name="jvm", extra_checks=checks)
    assert jvm.staged == []
    res = validate(clips, jvm, row_id="clip_id")
    assert _arrow_stages(res.violations) == 0
    # the nv > 0 prefilter under the explode plus the NULL-slot filter
    # above it; a staged ruleset has only the latter
    assert _filters(res.violations) == 2
    py = compile_ruleset(
        {"properties": {"bytes": {"x-spark-check": "codec_header"}}},
        clips.schema, name="py", extra_checks=checks)
    assert _filters(validate(clips, py, row_id="clip_id").violations) == 1


def test_staged_python_checks_flag_the_rows_the_udfs_flag(spark):
    df = fixtures.generate_clips(spark, 300, audio_ms=8, num_partitions=3)
    compiled = compile_ruleset(
        {"properties": {"bytes": {"allOf": [
            {"x-spark-check": "codec_header"},
            {"x-spark-check": "not_clipped"}]}}},
        df.schema, name="pay", extra_checks=audio.register_audio_checks())
    assert len(compiled.staged) == 2
    got = sorted((r.row_id, r.constraint_id) for r in validate(
        df, compiled, row_id="clip_id").violations.collect())
    want = []
    for r in df.where("bytes is not null").select(
            "clip_id", audio.codec_header_ok_col().alias("header"),
            audio.is_not_clipped("bytes").alias("not_clipped")).collect():
        if r.header is False:
            want.append((r.clip_id, "pay:/bytes:x-spark-check"))
        if r.not_clipped is False:
            want.append((r.clip_id, "pay:/bytes:x-spark-check#2"))
    assert want
    assert got == sorted(want)
