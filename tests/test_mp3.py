"""MP3 container layer: frame-header grammar pins against the public
ISO 11172-3/13818-3 tables, lattice walk + duration math, ID3v2 skip,
Xing/VBRI cross-check, pandas==JVM header-check parity, and the
payload_duration_ms routing — header-real, decode stays the documented
seam (MDCT/Huffman is codec-library territory, like Opus packets)."""

import numpy as np
import pandas as pd
import pytest

from remark_lint_frontmatter_schema_spark.functions import audio
from remark_lint_frontmatter_schema_spark.functions import mp3


# --- header grammar ----------------------------------------------------------

def test_frame_header_fields_mpeg1():
    # 0xFFFB9064: MPEG1 Layer III, no CRC, 128 kbps, 44100 Hz, joint st.
    h = mp3.parse_frame_header(0xFFFB9064)
    assert (h["version"], h["layer"]) == ("1", 3)
    assert (h["bitrate_kbps"], h["sr_hz"]) == (128, 44100)
    assert h["spf"] == 1152
    assert h["frame_len"] == 144 * 128000 // 44100  # 417, no padding


def test_frame_header_fields_mpeg25_mono():
    hdr = mp3._header_for(0, 3, 5, 2, mono=True)   # MPEG2.5 L3 8kHz
    h = mp3.parse_frame_header(hdr)
    assert (h["version"], h["sr_hz"], h["channels"]) == ("2.5", 8000, 1)
    assert h["spf"] == 576
    assert h["bitrate_kbps"] == mp3._BITRATE[(2, 3)][5]


@pytest.mark.parametrize("hdr,err", [
    (0x7FFB9064, "sync"),
    (0xFFEB9064, "reserved MPEG version"),
    (0xFFF99064, "reserved MPEG layer"),   # layer bits 00
    (0xFFFB0064, "bitrate"),
    (0xFFFBF064, "bitrate"),
    (0xFFFB9C64, "samplerate"),
])
def test_bad_headers_raise(hdr, err):
    with pytest.raises(ValueError, match=err):
        mp3.parse_frame_header(hdr)


# --- lattice walk + info -----------------------------------------------------

def test_cbr_info_and_duration():
    b = mp3.make_mp3(1, sr_hz=44100, audio_ms=1000, bitrate_kbps=128)
    info = mp3.mp3_info(b)
    n = max(1, -(-44100 // 1152))  # ceil to whole frames
    assert info["n_frames"] == n
    assert info["duration_ms"] == pytest.approx(n * 1152 * 1000 / 44100)
    assert info["sr_hz"] == 44100 and not info["vbr"]
    assert info["avg_bitrate_kbps"] == 128


def test_vbr_info():
    b = mp3.make_mp3(2, sr_hz=22050, audio_ms=500, bitrate_kbps=64,
                     vbr=True)
    info = mp3.mp3_info(b)
    assert info["vbr"] and info["version"] == "2"
    assert 0 < info["avg_bitrate_kbps"] < 64


def test_id3v2_skip_and_xing():
    b = mp3.make_mp3(3, sr_hz=44100, audio_ms=300, bitrate_kbps=96,
                     id3=True, xing=True)
    info = mp3.mp3_info(b)
    n = -(-int(44100 * 0.3) // 1152)
    assert info["n_frames"] == n and info["xing_frames"] == n
    # the Xing metadata frame is excluded from timing
    assert info["duration_ms"] == pytest.approx(n * 1152 * 1000 / 44100)


def test_lying_xing_raises():
    b = bytearray(mp3.make_mp3(4, sr_hz=44100, audio_ms=300,
                               bitrate_kbps=96, xing=True))
    si = mp3._side_info_len("1", 1)
    off = 4 + si + 8                      # frame hdr + side info + tag+flags
    b[off:off + 4] = (999).to_bytes(4, "big")
    with pytest.raises(ValueError, match="Xing/VBRI frame count"):
        mp3.mp3_info(bytes(b))


def test_truncated_and_garbage_raise():
    b = mp3.make_mp3(5, sr_hz=16000, audio_ms=200, bitrate_kbps=48)
    with pytest.raises(ValueError, match="truncated MP3 frame"):
        mp3.mp3_info(b[:-10])
    with pytest.raises(ValueError, match="sync"):
        mp3.mp3_info(b"\x12\x34garbage" * 4)
    with pytest.raises(ValueError, match="no MP3 frames"):
        mp3.mp3_info(b"")


def test_id3v1_trailer_tolerated():
    b = mp3.make_mp3(6, sr_hz=44100, audio_ms=100, bitrate_kbps=128)
    info = mp3.mp3_info(b + b"TAG" + bytes(125))
    assert info["n_frames"] == mp3.mp3_info(b)["n_frames"]


def test_midstream_samplerate_change_raises():
    a = mp3.make_mp3(7, sr_hz=44100, audio_ms=100, bitrate_kbps=128)
    c = mp3.make_mp3(7, sr_hz=32000, audio_ms=100, bitrate_kbps=128)
    with pytest.raises(ValueError, match="samplerate changed"):
        mp3.mp3_info(a + c)


# --- engine wiring -----------------------------------------------------------

def _rows():
    return [
        ("ok", mp3.make_mp3(10, sr_hz=44100, audio_ms=250,
                            bitrate_kbps=128), "mp3", 44100, True),
        ("ok_id3", mp3.make_mp3(11, sr_hz=22050, audio_ms=250,
                                bitrate_kbps=64, id3=True), "mp3",
         22050, True),
        ("ok_25", mp3.make_mp3(12, sr_hz=8000, audio_ms=250,
                               bitrate_kbps=24), "mp3", 8000, True),
        ("bad_sr", mp3.make_mp3(13, sr_hz=44100, audio_ms=250,
                                bitrate_kbps=128), "mp3", 48000, False),
        ("bad_garbage", b"\x00\x01 not mp3", "mp3", 44100, False),
        ("bad_wav_declared_mp3",
         audio.synth_wav(14, 16000, 100), "mp3", 16000, False),
        ("wav_still_wav", audio.synth_wav(15, 16000, 100), "pcm_s16le",
         16000, True),
    ]


def test_header_check_batch_and_column_parity(spark):
    """header_ok_batch and the codec_header column (64-byte prefix, the
    whole payload for mp3 rows) agree on MP3 rows and their mismatches."""
    rows = _rows()
    got = audio.header_ok_batch(
        pd.Series([r[1] for r in rows]),
        pd.Series([r[2] for r in rows]),
        pd.Series([r[3] for r in rows], dtype="int64"))
    assert list(got) == [r[4] for r in rows]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in rows],
        "clip_id string, bytes binary, codec string, sr_hz int")
    col = {r["clip_id"]: r["ok"] for r in df.select(
        "clip_id", audio.codec_header_ok_col().alias("ok")).collect()}
    assert col == {r[0]: r[4] for r in rows}


def test_payload_duration_routes_mp3():
    b1 = mp3.make_mp3(20, sr_hz=44100, audio_ms=500, bitrate_kbps=128)
    b2 = mp3.make_mp3(21, sr_hz=8000, audio_ms=500, bitrate_kbps=24,
                      id3=True)
    got = audio.payload_duration_ms_batch(pd.Series([b1, b2, b"junk"]))
    n1 = -(-int(44100 * 0.5) // 1152)
    n2 = -(-int(8000 * 0.5) // 576)
    assert got[0] == pytest.approx(n1 * 1152 * 1000 / 44100)
    assert got[1] == pytest.approx(n2 * 576 * 1000 / 8000)
    assert np.isnan(got[2])


def test_transcode_mp3_is_documented_seam():
    with pytest.raises(NotImplementedError, match="mp3"):
        audio.transcode_payload(
            mp3.make_mp3(22, sr_hz=44100, audio_ms=100), "mp3")
