"""G.711 mu/A-law + IMA ADPCM: exhaustive audioop parity, WAV containers,
transcode/duration integration."""

import struct

import numpy as np
import pytest

from remark_lint_frontmatter_schema_spark.functions import pcm_codecs as pc
from remark_lint_frontmatter_schema_spark.functions import audio

audioop = pytest.importorskip(
    "audioop", reason="stdlib audioop (removed in 3.13) is the "
    "independent reference implementation")

ALL_INT16 = np.arange(-32768, 32768, dtype=np.int16)
ALL_CODES = np.arange(256, dtype=np.uint8)


# --- exhaustive byte-exact parity with the C reference ---------------------

def test_mulaw_encode_exhaustive():
    ref = np.frombuffer(audioop.lin2ulaw(ALL_INT16.tobytes(), 2),
                        dtype=np.uint8)
    assert np.array_equal(pc.mulaw_encode(ALL_INT16), ref)


def test_mulaw_decode_exhaustive():
    ref = np.frombuffer(audioop.ulaw2lin(ALL_CODES.tobytes(), 2),
                        dtype=np.int16)
    assert np.array_equal(pc.mulaw_decode(ALL_CODES), ref)


def test_alaw_encode_exhaustive():
    ref = np.frombuffer(audioop.lin2alaw(ALL_INT16.tobytes(), 2),
                        dtype=np.uint8)
    assert np.array_equal(pc.alaw_encode(ALL_INT16), ref)


def test_alaw_decode_exhaustive():
    ref = np.frombuffer(audioop.alaw2lin(ALL_CODES.tobytes(), 2),
                        dtype=np.int16)
    assert np.array_equal(pc.alaw_decode(ALL_CODES), ref)


def test_ima_encode_nibble_exact_vs_audioop():
    """audioop packs high-nibble-first; compare code SEQUENCES from the
    zero state across signal shapes that sweep the step table."""
    rng = np.random.default_rng(7)
    sigs = [
        (np.sin(np.arange(4000) * 0.05) * 30000).astype(np.int16),
        rng.integers(-32768, 32768, 4000).astype(np.int16),
        np.zeros(100, dtype=np.int16),
        np.array([32767, -32768] * 50, dtype=np.int16),
    ]
    for x in sigs:
        packed, _ = audioop.lin2adpcm(x.tobytes(), 2, None)
        pb = np.frombuffer(packed, dtype=np.uint8)
        ref = np.empty(len(pb) * 2, dtype=np.uint8)
        ref[0::2] = pb >> 4          # audioop: first code in HIGH nibble
        ref[1::2] = pb & 0x0F
        got, _, _ = pc.ima_encode_core(x, 0, 0)
        assert np.array_equal(got, ref[: len(got)])


def test_ima_decode_matches_audioop():
    rng = np.random.default_rng(11)
    x = rng.integers(-32768, 32768, 2000).astype(np.int16)
    packed, _ = audioop.lin2adpcm(x.tobytes(), 2, None)
    ref = np.frombuffer(audioop.adpcm2lin(packed, 2, None)[0],
                        dtype=np.int16)
    pb = np.frombuffer(packed, dtype=np.uint8)
    codes = np.empty(len(pb) * 2, dtype=np.uint8)
    codes[0::2] = pb >> 4
    codes[1::2] = pb & 0x0F
    got, _, _ = pc.ima_decode_core(codes, 0, 0)
    assert np.array_equal(got, ref)


# --- quantization quality (SNR floors for a full-scale sine) ---------------

def _sine(sr=8000, ms=200, f=440.0, amp=0.8):
    t = np.arange(int(sr * ms / 1000)) / sr
    return (np.sin(2 * np.pi * f * t) * amp * 32767).astype(np.int16)


def test_g711_snr():
    x = _sine()
    ref = x.astype(np.float64) / 32767.0
    for enc, dec in ((pc.mulaw_encode, pc.mulaw_decode),
                     (pc.alaw_encode, pc.alaw_decode)):
        y = dec(enc(x)).astype(np.float64) / 32767.0
        assert audio.snr_db(ref, y) > 30.0


def test_ima_snr():
    """Sample-aligned core roundtrip; skip the slew-limited attack ramp
    (the step index climbs from 0 at ~8/sample before it can track a
    full-scale sine — inherent IMA behavior, not an engine artifact)."""
    x = _sine()
    codes, _, _ = pc.ima_encode_core(x, int(x[0]), 0)
    y, _, _ = pc.ima_decode_core(codes, int(x[0]), 0)
    ref = x[100:].astype(np.float64) / 32767.0
    got = y[100:].astype(np.float64) / 32767.0
    assert audio.snr_db(ref, got) > 25.0


# --- WAV containers ---------------------------------------------------------

@pytest.mark.parametrize("law", ["mulaw", "alaw"])
def test_g711_wav_roundtrip(law):
    x = _sine(sr=16000)
    b = pc.wav_bytes_g711(x, 16000, law=law)
    sr, y = pc.decode_wav_extended(b)
    assert sr == 16000 and len(y) == len(x)
    assert audio.snr_db(x / 32767.0, y) > 30.0


@pytest.mark.parametrize("n", [0, 1, 1016, 1017, 1018, 5000])
def test_ima_wav_roundtrip_block_edges(n):
    """1017 = samples_per_block at block_align=512; the padded tail must
    truncate back to exactly n samples via the fact chunk."""
    x = _sine(ms=1000)[:n]
    b = pc.wav_bytes_ima_adpcm(x, 8000, block_align=512)
    sr, y = pc.decode_wav_extended(b)
    assert sr == 8000 and len(y) == n
    if n > 10:
        assert audio.snr_db(x / 32767.0, y) > 20.0


def test_ima_wav_small_blocks():
    x = _sine(ms=50)
    b = pc.wav_bytes_ima_adpcm(x, 8000, block_align=256)
    _, y = pc.decode_wav_extended(b)
    assert len(y) == len(x)
    with pytest.raises(ValueError, match="block_align"):
        pc.wav_bytes_ima_adpcm(x, 8000, block_align=6)
    with pytest.raises(ValueError, match="block_align"):
        pc.wav_bytes_ima_adpcm(x, 8000, block_align=510)


def test_decode_wav_extended_pcm16_delegates():
    x = _sine(sr=16000)
    b = audio.wav_bytes(x, 16000)
    sr, y = pc.decode_wav_extended(b)
    sr2, y2 = audio.decode_wav_pcm16(b)
    assert sr == sr2 and np.array_equal(y, y2)


def test_g711_wav_multichannel_downmix():
    x = _sine(sr=8000, ms=50)
    codes = pc.mulaw_encode(np.repeat(x, 2))   # L==R interleave
    fmt = struct.pack("<HHIIHHH", 7, 2, 8000, 16000, 2, 8, 0)
    b = pc._riff([(b"fmt ", fmt), (b"fact", struct.pack("<I", len(x))),
                  (b"data", codes.tobytes())])
    sr, y = pc.decode_wav_extended(b)
    assert sr == 8000 and len(y) == len(x)
    assert audio.snr_db(x / 32767.0, y) > 30.0


def test_stereo_ima_roundtrip():
    x = _sine(sr=8000, ms=250)                  # 2000 frames
    right = np.roll(x, 37) // 2
    xx = np.stack([x, right], axis=1)
    b = pc.wav_bytes_ima_adpcm(xx, 8000, block_align=256)
    sr, y = pc.decode_wav_extended(b)
    assert sr == 8000 and len(y) == 2000        # fact truncates padding
    exp = xx.astype(np.float64).mean(axis=1) / 32767.0
    assert audio.snr_db(exp, y) > 22.0


def test_stereo_ima_interleave_grammar():
    """Pin the Microsoft stereo block layout independently of the
    engine's encoder: hand-pack a 2-channel block (per-channel 4-byte
    headers, then alternating 4-byte nibble groups) and check the
    decoder reproduces exactly what ima_decode_core yields per channel."""
    rng = np.random.default_rng(3)
    codes_l = rng.integers(0, 16, 16, dtype=np.uint8)
    codes_r = rng.integers(0, 16, 16, dtype=np.uint8)
    pred_l, idx_l, pred_r, idx_r = 1200, 10, -900, 25
    pack = lambda c: (c[0::2] | (c[1::2] << 4)).astype(np.uint8).tobytes()
    pl, pr = pack(codes_l), pack(codes_r)       # 8 bytes = 2 groups each
    body = b"".join(pl[g*4:g*4+4] + pr[g*4:g*4+4] for g in range(2))
    blk = (struct.pack("<hBB", pred_l, idx_l, 0)
           + struct.pack("<hBB", pred_r, idx_r, 0) + body)
    ba = len(blk)                               # 24: 8 hdr + 16 body
    fmt = struct.pack("<HHIIHHH", 0x11, 2, 8000, 8000, ba, 4, 2) + \
        struct.pack("<H", pc._ima_samples_per_block(ba, 2))
    b = pc._riff([(b"fmt ", fmt), (b"data", blk)])
    sr, y = pc.decode_wav_extended(b)
    dl, _, _ = pc.ima_decode_core(codes_l, pred_l, idx_l)
    dr, _, _ = pc.ima_decode_core(codes_r, pred_r, idx_r)
    el = np.concatenate([[np.int16(pred_l)], dl]).astype(np.float64)
    er = np.concatenate([[np.int16(pred_r)], dr]).astype(np.float64)
    assert np.allclose(y, (el + er) / 2.0 / 32767.0)


def test_malformed_containers_raise():
    x = _sine(ms=20)
    good = pc.wav_bytes_ima_adpcm(x, 8000)
    with pytest.raises(ValueError):
        pc.decode_wav_extended(b"RIFFxxxxWAVE")       # no chunks
    with pytest.raises(ValueError):
        pc.decode_wav_extended(good[:40])             # truncated
    with pytest.raises(ValueError):
        pc.wav_bytes_g711(x, 8000, law="gsm")
    # unknown fmt tag -> NotImplementedError (policy: on_error path)
    fmt = struct.pack("<HHIIHH", 0x55, 1, 8000, 8000, 1, 8)
    b = pc._riff([(b"fmt ", fmt), (b"data", b"\x00" * 16)])
    with pytest.raises(NotImplementedError, match="tag 85"):
        pc.decode_wav_extended(b)


# --- wav_info / duration -----------------------------------------------------

def test_wav_info_all_codecs():
    x = _sine(sr=16000, ms=125)               # 2000 samples
    cases = [
        (audio.wav_bytes(x, 16000), 1, 2000),
        (pc.wav_bytes_g711(x, 16000, law="mulaw"), 7, 2000),
        (pc.wav_bytes_g711(x, 16000, law="alaw"), 6, 2000),
        (pc.wav_bytes_ima_adpcm(x, 16000), 0x11, 2000),
    ]
    for b, tag, n in cases:
        wi = pc.wav_info(b)
        assert (wi["fmt_tag"], wi["n_samples"], wi["sr_hz"]) == \
            (tag, n, 16000)


def test_wav_info_ima_without_fact_uses_block_math():
    x = _sine(ms=200)                          # 1600 samples, 2 blocks
    b = pc.wav_bytes_ima_adpcm(x, 8000, block_align=512)
    # strip the fact chunk: rebuild without it
    info = pc._walk_wav(b)
    fmt = struct.pack("<HHIIHHH", 0x11, 1, 8000, 8000, 512, 4, 2) + \
        struct.pack("<H", 1017)
    b2 = pc._riff([(b"fmt ", fmt), (b"data", info["raw"])])
    wi = pc.wav_info(b2)
    assert wi["n_samples"] == 2 * 1017         # padded block total


def test_payload_duration_covers_new_codecs():
    import pandas as pd
    x = _sine(sr=16000, ms=125)
    s = pd.Series([pc.wav_bytes_g711(x, 16000, law="mulaw"),
                   pc.wav_bytes_g711(x, 16000, law="alaw"),
                   pc.wav_bytes_ima_adpcm(x, 16000),
                   audio.wav_bytes(x, 16000),
                   b"RIFFgarbage", None])
    got = audio.payload_duration_ms_batch(s)
    assert list(got[:4].round(3)) == [125.0, 125.0, 125.0, 125.0]
    assert np.isnan(got[4]) and np.isnan(got[5])


def test_header_check_telephony_parity():
    """header_ok_batch and the codec_header column agree on the new
    codecs: tag match, tag mismatch (declared mulaw, payload alaw), sr
    mismatch, garbage."""
    import pandas as pd
    from pyspark.sql import functions as F
    from conftest import get_spark
    x = _sine(sr=8000, ms=30)
    rows = [
        ("ok_mu", pc.wav_bytes_g711(x, 8000, law="mulaw"), "pcm_mulaw", 8000, True),
        ("ok_a", pc.wav_bytes_g711(x, 8000, law="alaw"), "pcm_alaw", 8000, True),
        ("ok_ima", pc.wav_bytes_ima_adpcm(x, 8000), "adpcm_ima_wav", 8000, True),
        ("xtag", pc.wav_bytes_g711(x, 8000, law="alaw"), "pcm_mulaw", 8000, False),
        ("xsr", pc.wav_bytes_g711(x, 8000, law="mulaw"), "pcm_mulaw", 16000, False),
        ("xgarbage", b"\x00\x01", "pcm_mulaw", 8000, False),
        ("xpcm_decl", audio.wav_bytes(x, 8000), "pcm_mulaw", 8000, False),
    ]
    got = audio.header_ok_batch(
        pd.Series([r[1] for r in rows]),
        pd.Series([r[2] for r in rows]),
        pd.Series([r[3] for r in rows], dtype="float64"))
    assert list(got) == [r[4] for r in rows]
    spark = get_spark()
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in rows],
        "clip_id string, bytes binary, codec string, sr_hz int")
    col = {r["clip_id"]: r["ok"] for r in df.select(
        "clip_id", audio.codec_header_ok_col().alias("ok")).collect()}
    assert col == {r[0]: r[4] for r in rows}


# --- transcode integration ---------------------------------------------------

def test_transcode_payload_new_codecs():
    x = _sine(sr=16000)
    for b, codec in [(pc.wav_bytes_g711(x, 16000, law="mulaw"), "pcm_mulaw"),
                     (pc.wav_bytes_g711(x, 16000, law="alaw"), "pcm_alaw"),
                     (pc.wav_bytes_ima_adpcm(x, 16000), "adpcm_ima_wav")]:
        out = audio.transcode_payload(b, codec)
        sr, y = audio.decode_wav_pcm16(out)
        assert sr == 16000 and len(y) == len(x)
        assert audio.snr_db(x / 32767.0, y) > 20.0
    # round 4: opus routes through opus_decode — a truncated container
    # is CORRUPTION (ValueError), while intact SILK/CELT entropy frames
    # keep the NotImplementedError refusal (test_ogg_opus pins both)
    with pytest.raises(ValueError):
        audio.transcode_payload(b"OggS", "opus")
    with pytest.raises(NotImplementedError):
        audio.transcode_payload(
            audio.ogg_opus_bytes(11, audio_ms=20), "opus")


def test_transcode_clips_mixed_corpus():
    from conftest import get_spark
    spark = get_spark()
    x = _sine(sr=16000, ms=60)
    rows = [("a", audio.wav_bytes(x, 16000), "pcm_s16le"),
            ("b", pc.wav_bytes_g711(x, 16000, law="mulaw"), "pcm_mulaw"),
            ("c", pc.wav_bytes_g711(x, 16000, law="alaw"), "pcm_alaw"),
            ("d", pc.wav_bytes_ima_adpcm(x, 16000), "adpcm_ima_wav"),
            ("e", b"\x00bad", "pcm_mulaw"),
            ("f", audio.wav_bytes(x, 16000), "opus")]   # wrong decl -> stub
    clips = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string")
    got = {r["clip_id"]: r for r in
           audio.transcode_clips(clips, on_error="keep").collect()}
    assert [got[k]["transcode_ok"] for k in "abcd"] == [True] * 4
    assert got["e"]["transcode_ok"] is False
    assert got["f"]["transcode_ok"] is False
    for k in "abcd":
        sr, y = audio.decode_wav_pcm16(bytes(got[k]["bytes"]))
        assert sr == 16000 and len(y) == len(x)


# --- wide/float PCM + WAVE_FORMAT_EXTENSIBLE --------------------------------

def _signal(n=4000, sr=16000):
    rng = np.random.default_rng(7)
    t = np.arange(n) / sr
    return np.clip(0.6 * np.sin(2 * np.pi * 440 * t)
                   + 0.05 * rng.standard_normal(n), -1, 1)


@pytest.mark.parametrize("bits,fmt,floor", [
    (8, "int", 35.0), (16, "int", 75.0), (24, "int", 110.0),
    (32, "int", 130.0), (32, "float", 140.0), (64, "float", 250.0)])
@pytest.mark.parametrize("n_ch", [1, 2])
@pytest.mark.parametrize("extensible", [False, True])
def test_wav_pcm_widths_roundtrip(bits, fmt, floor, n_ch, extensible):
    x = _signal()
    xx = x if n_ch == 1 else np.stack([x, -x * 0.5 + 0.1], axis=1)
    b = pc.wav_bytes_pcm(xx, 16000, bits=bits, fmt=fmt,
                         extensible=extensible)
    sr, y = pc.decode_wav_extended(b)
    exp = xx if n_ch == 1 else xx.mean(axis=1)
    assert sr == 16000 and len(y) == 4000
    assert audio.snr_db(exp, y) > floor
    wi = pc.wav_info(b)
    assert (wi["n_ch"], wi["bits"], wi["n_samples"]) == (n_ch, bits, 4000)
    # the resolved (classic) tag, even through the EXTENSIBLE wrapper
    assert wi["fmt_tag"] == (3 if fmt == "float" else 1)


def test_pcm24_bytes_exact():
    """Pin the 24-bit wire format: little-endian two's complement."""
    x = np.array([0.0, 1.0, -1.0, 0.5])
    b = pc.wav_bytes_pcm(x, 8000, bits=24)
    raw = pc._walk_wav(b)["raw"]
    v = [int.from_bytes(raw[i:i + 3], "little", signed=True)
         for i in range(0, 12, 3)]
    assert v == [0, 8388607, -8388607, round(0.5 * 8388607)]


def test_extensible_bad_guid_rejected():
    b = bytearray(pc.wav_bytes_pcm(_signal(64), 8000, bits=24,
                                   extensible=True))
    # corrupt the subformat GUID tail inside the fmt chunk (fmt body
    # starts at byte 20 in this canonical layout; GUID at +24)
    b[20 + 24 + 5] ^= 0xFF
    with pytest.raises(ValueError, match="subformat GUID"):
        pc.decode_wav_extended(bytes(b))


def test_extensible_truncated_fmt_rejected():
    x = _signal(64)
    fmt = struct.pack("<HHIIHHH", 0xFFFE, 1, 8000, 16000, 2, 16, 22)
    b = pc._riff([(b"fmt ", fmt), (b"data", b"\x00" * 16)])
    with pytest.raises(ValueError, match="EXTENSIBLE|truncated"):
        pc.decode_wav_extended(b)


def test_float_wav_clips_out_of_range_samples():
    x = np.array([0.25, 1.7, -2.0, -0.25])
    raw = x.astype("<f4").tobytes()
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    b = pc._riff([(b"fmt ", fmt), (b"data", raw)])
    sr, y = pc.decode_wav_extended(b)
    assert np.allclose(y, [0.25, 1.0, -1.0, -0.25])


def test_header_check_extended_pcm_parity():
    """Python batch and the codec_header column agree on wide/float PCM
    codecs, bare and EXTENSIBLE-wrapped, plus tag and sr mismatches."""
    import pandas as pd
    from conftest import get_spark
    x = _signal(512)
    rows = [
        ("s24", pc.wav_bytes_pcm(x, 8000, bits=24), "pcm_s24le", 8000, True),
        ("s24x", pc.wav_bytes_pcm(x, 8000, bits=24, extensible=True),
         "pcm_s24le", 8000, True),
        ("s32", pc.wav_bytes_pcm(x, 8000, bits=32), "pcm_s32le", 8000, True),
        ("u8", pc.wav_bytes_pcm(x, 8000, bits=8), "pcm_u8", 8000, True),
        ("f32", pc.wav_bytes_pcm(x, 8000, bits=32, fmt="float"),
         "pcm_f32le", 8000, True),
        ("f32x", pc.wav_bytes_pcm(x, 8000, bits=32, fmt="float",
                                  extensible=True), "pcm_f32le", 8000, True),
        ("f64", pc.wav_bytes_pcm(x, 8000, bits=64, fmt="float"),
         "pcm_f64le", 8000, True),
        # declared float, payload is integer PCM -> tag mismatch
        ("xtag", pc.wav_bytes_pcm(x, 8000, bits=32), "pcm_f32le", 8000, False),
        ("xsr", pc.wav_bytes_pcm(x, 8000, bits=24), "pcm_s24le", 16000, False),
        ("xgarbage", b"\x00\x01", "pcm_s24le", 8000, False),
    ]
    got = audio.header_ok_batch(
        pd.Series([r[1] for r in rows]),
        pd.Series([r[2] for r in rows]),
        pd.Series([r[3] for r in rows], dtype="float64"))
    assert list(got) == [r[4] for r in rows]
    spark = get_spark()
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in rows],
        "clip_id string, bytes binary, codec string, sr_hz int")
    col = {r["clip_id"]: r["ok"] for r in df.select(
        "clip_id", audio.codec_header_ok_col().alias("ok")).collect()}
    assert col == {r[0]: r[4] for r in rows}


def test_transcode_payload_extended_pcm():
    """Every wide/float PCM codec canonicalizes to PCM16 WAV clearing
    the north-star per-row invariant (SNR >= 30 dB vs the source)."""
    x = _signal()
    for b, codec in [
            (pc.wav_bytes_pcm(x, 16000, bits=8), "pcm_u8"),
            (pc.wav_bytes_pcm(x, 16000, bits=24), "pcm_s24le"),
            (pc.wav_bytes_pcm(x, 16000, bits=32), "pcm_s32le"),
            (pc.wav_bytes_pcm(x, 16000, bits=32, fmt="float"), "pcm_f32le"),
            (pc.wav_bytes_pcm(x, 16000, bits=64, fmt="float"), "pcm_f64le")]:
        out = audio.transcode_payload(b, codec)
        sr, y = audio.decode_wav_pcm16(out)
        assert sr == 16000 and len(y) == len(x)
        assert audio.snr_db(x, y) > 30.0
    # stereo EXTENSIBLE wrapper downmixes to the channel mean
    xx = np.stack([x, x * 0.25], axis=1)
    out = audio.transcode_payload(
        pc.wav_bytes_pcm(xx, 16000, bits=24, extensible=True), "pcm_s24le")
    sr, y = audio.decode_wav_pcm16(out)
    assert audio.snr_db(xx.mean(axis=1), y) > 30.0


def test_payload_duration_covers_wide_pcm():
    import pandas as pd
    x = _signal(2000)
    s = pd.Series([pc.wav_bytes_pcm(x, 16000, bits=24),
                   pc.wav_bytes_pcm(x, 16000, bits=32, fmt="float"),
                   pc.wav_bytes_pcm(np.stack([x, x], axis=1), 16000,
                                    bits=8, extensible=True)])
    got = audio.payload_duration_ms_batch(s)
    assert list(got.round(3)) == [125.0, 125.0, 125.0]


@pytest.mark.parametrize("bits", [8, 16, 24])
def test_fact_chunk_caps_pcm_decode_at_every_depth(bits):
    """A PCM WAV whose fact chunk counts fewer samples than its data
    holds (mono 8 kHz, 100 frames, fact = 10): wav_info and every
    decoder report the fact count, at every bit depth."""
    plain = pc.wav_bytes_pcm(np.linspace(-0.5, 0.5, 100), 8000, bits=bits)
    assert plain[36:40] == b"data"              # fmt body is plain[20:36]
    b = pc._riff([(b"fmt ", plain[20:36]), (b"fact", struct.pack("<I", 10)),
                  (b"data", plain[44:])])
    assert pc.wav_info(b)["n_samples"] == 10
    assert len(audio.decode_payload_any(b)[1]) == 10
    if bits == 16:
        assert len(audio.decode_wav_pcm16(b)[1]) == 10
