"""Pure-numpy FLAC codec (mono/16-bit subset): lossless roundtrip across
subframe types (CONSTANT / VERBATIM / FIXED / LPC) and block boundaries,
real compression on predictable signals, partitioned-Rice + raw-escape
residual paths, container integrity (sync/CRC-8/CRC-16/MD5) under an
exhaustive single-byte corruption sweep, the subset's honest refusals,
and the end-to-end transcode SNR pin against the fixture's clean
reference signal."""

import numpy as np
import pytest

from remark_lint_frontmatter_schema_spark.functions import audio
from remark_lint_frontmatter_schema_spark.sources import fixtures


def _first_subframe_type(b: bytes) -> int:
    """Subframe type code of the first frame (6 bits of the header byte
    after magic + metadata blocks + the 8-byte frame header)."""
    pos = 4
    while True:
        last, blen = b[pos] >> 7, int.from_bytes(b[pos + 1:pos + 4], "big")
        pos += 4 + blen
        if last:
            break
    return (b[pos + 4 + 1 + 2 + 1] >> 1) & 0x3F


@pytest.mark.parametrize("n", [16, 100, 4095, 4096, 4097, 13000])
@pytest.mark.parametrize("method", ["auto", "verbatim"])
def test_roundtrip_lossless(n, method):
    rng = np.random.default_rng(7 + n)
    x = rng.integers(-32768, 32768, n, dtype=np.int16)
    b = audio.flac_encode(x, 22050, method=method)
    assert b[:4] == b"fLaC"
    sr, y = audio.flac_decode(b)
    assert sr == 22050
    assert np.array_equal(x, y)


@pytest.mark.parametrize("po", [0, 1, 2, 3])
def test_roundtrip_predictable_signals_all_subframe_kinds(po):
    """Smooth signals roundtrip bit-exactly through every predictor
    path and compress for real; the chosen subframe types are pinned so
    the FIXED / LPC / CONSTANT decode paths are all actually exercised."""
    sine = (10000 * np.sin(2 * np.pi * 440 * np.arange(9000) / 16000)
            ).astype(np.int16)
    ramp = np.arange(-2000, 2000, dtype=np.int16)   # zero order-2 residual
    const = np.full(512, -123, dtype=np.int16)
    for x, want in ((sine, "lpc"), (ramp, "fixed"), (const, "constant")):
        b = audio.flac_encode(x, 16000, partition_order=po)
        sr, y = audio.flac_decode(b)
        assert sr == 16000 and np.array_equal(x, y)
        v = len(audio.flac_encode(x, 16000, method="verbatim"))
        assert len(b) < 0.5 * v, (want, len(b), v)
        st = _first_subframe_type(b)
        if want == "lpc":
            assert st >= 0b100000
        elif want == "fixed":
            assert 0b001000 <= st <= 0b001100
        else:
            assert st == 0b000000


def test_incompressible_noise_falls_back_to_verbatim():
    rng = np.random.default_rng(3)
    x = rng.integers(-32768, 32768, 4096, dtype=np.int16)
    b = audio.flac_encode(x, 16000)
    assert _first_subframe_type(b) == 0b000001
    assert np.array_equal(audio.flac_decode(b)[1], x)


def test_raw_escape_partition_roundtrip():
    """A perfectly linear ramp has all-zero FIXED-order-2 residuals —
    the Rice coder must take the 5-bit raw escape (0 bits/sample), and
    the decoder must reinflate it; the whole frame lands under 100 B."""
    x = np.arange(-2000, 2000, dtype=np.int16)
    b = audio.flac_encode(x, 16000)
    assert len(b) < 100
    assert np.array_equal(audio.flac_decode(b)[1], x)


def test_extremes_and_silence_roundtrip():
    x = np.array([32767, -32768, 0, -1, 1] + [0] * 20, dtype=np.int16)
    for method in ("auto", "verbatim"):
        sr, y = audio.flac_decode(audio.flac_encode(x, 8000, method=method))
        assert sr == 8000 and np.array_equal(x, y)


def test_corruption_detected_surgical():
    """Byte-targeted flips in a VERBATIM stream (stable layout)."""
    x = np.arange(-500, 500, dtype=np.int16)
    b = bytearray(audio.flac_encode(x, 16000, method="verbatim"))
    with pytest.raises(ValueError):
        audio.flac_decode(bytes(b[:30]))            # truncated metadata
    with pytest.raises(ValueError):
        audio.flac_decode(b"RIFF" + bytes(b[4:]))   # wrong magic
    flipped = bytearray(b)
    flipped[-40] ^= 0x01                            # sample byte -> CRC-16
    with pytest.raises(ValueError):
        audio.flac_decode(bytes(flipped))
    hdr = bytearray(b)
    hdr[4 + 4 + 34 + 2] ^= 0x01                     # frame header -> CRC-8
    with pytest.raises(ValueError):
        audio.flac_decode(bytes(hdr))


def test_corruption_sweep_compressed_stream():
    """Exhaustive single-byte corruption of a COMPRESSED stream: every
    flip from the first frame onward must surface as ValueError — never
    silently-wrong samples, never a crash of a different shape. (The
    6 min/max-framesize STREAMINFO bytes are informational and not read,
    so the sweep starts at the frame region.)"""
    x = (3000 * np.sin(2 * np.pi * 300 * np.arange(700) / 8000)
         ).astype(np.int16)
    good = audio.flac_encode(x, 8000)
    assert np.array_equal(audio.flac_decode(good)[1], x)
    frame0 = 4 + 4 + 34
    for i in range(frame0, len(good)):
        bad = bytearray(good)
        bad[i] ^= 0x40
        with pytest.raises(ValueError):
            audio.flac_decode(bytes(bad))
    # MD5 region of STREAMINFO is verified too
    bad = bytearray(good)
    bad[4 + 4 + 18] ^= 0x01
    with pytest.raises(ValueError):
        audio.flac_decode(bytes(bad))


def test_reserved_subframe_type_refused_not_misdecoded():
    x = np.arange(100, dtype=np.int16)
    b = bytearray(audio.flac_encode(x, 16000, method="verbatim"))
    # subframe header sits right after magic+streaminfo+frame header
    # (4 sync/codes + 1 frame-number + 2 blocksize + 1 crc8)
    sub_at = 4 + 38 + 8
    assert b[sub_at] == 0x02                        # verbatim
    b[sub_at] = 0x04                                # reserved type 0b000010
    with pytest.raises(ValueError):
        audio.flac_decode(bytes(b))


def _crc_bitwise(data: bytes, poly: int, width: int) -> int:
    crc, top, mask = 0, 1 << (width - 1), (1 << width) - 1
    for byte in data:
        crc ^= byte << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
    return crc


def test_crc_tables_match_bitwise_reference():
    """The table-driven CRCs equal the bit-at-a-time definition, and hit
    the published check values of CRC-8/SMBUS and CRC-16/UMTS."""
    assert audio._crc8(b"123456789") == 0xF4
    assert audio._crc16(b"123456789") == 0xFEE8
    rng = np.random.default_rng(1)
    for n in (0, 1, 7, 300):
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert audio._crc8(data) == _crc_bitwise(data, 0x07, 8)
        assert audio._crc16(data) == _crc_bitwise(data, 0x8005, 16)
        assert audio._ogg_crc(data) == _crc_bitwise(data, 0x04C11DB7, 32)


def _rice_bitwise(bits, pos: int, cnt: int, k: int):
    """Rice codes read one bit at a time (IndexError past the end)."""
    out = []
    for _ in range(cnt):
        q = 0
        while not bits[pos]:
            q, pos = q + 1, pos + 1
        pos += 1
        u = 0
        for _ in range(k):
            u, pos = (u << 1) | int(bits[pos]), pos + 1
        u |= q << k
        out.append((u >> 1) ^ -(u & 1))
    return out, pos


@pytest.mark.parametrize("window", [5, 64, audio._RICE_WINDOW])
def test_read_rice_matches_bitwise_reference(monkeypatch, window):
    """Table-driven Rice reads equal a bit-at-a-time reader on random
    dense and sparse bit strings, across re-windowing, and raise
    ValueError exactly where the reference runs off the end."""
    monkeypatch.setattr(audio, "_RICE_WINDOW", window)
    rng = np.random.default_rng(window)
    for k in (0, 1, 3, 7, 14, 30):
        for density in (0.9, 0.1):
            raw = rng.integers(0, 256, 64) * (rng.random(64) < density)
            data = raw.astype(np.uint8).tobytes()
            bits = np.unpackbits(np.frombuffer(data, np.uint8))
            start, cnt = int(rng.integers(0, 16)), int(rng.integers(1, 40))
            br = audio._BitReader(data)
            br.pos = start
            try:
                want, end = _rice_bitwise(bits, start, cnt, k)
            except IndexError:
                with pytest.raises(ValueError, match="truncated"):
                    br.read_rice(cnt, k)
                continue
            assert br.read_rice(cnt, k).tolist() == want
            assert br.pos == end


def test_corrupted_lpc_data_raises_valueerror():
    """A flipped byte in an LPC subframe can drive the predictor far past
    int64. The decoder must reject the stream with ValueError, the error
    ``decode_payload_any`` callers catch; an OverflowError would fail the
    whole Arrow task instead of one row."""
    good = audio.flac_encode(audio.synth_pcm16(0, 48000, 384), 48000)
    assert _first_subframe_type(good) >= 0b100000
    bad = bytearray(good)
    bad[75] ^= 0x5A
    with pytest.raises(ValueError, match="out of 16-bit range"):
        audio.flac_decode(bytes(bad))


@pytest.mark.parametrize("window", [7, 100, 4096])
def test_rice_tables_rewindow_without_changing_samples(monkeypatch, window):
    """Rice lookup tables cover a bounded window of the stream, and a code
    that runs past it re-windows from its partition's start. Tiny windows
    force that path on most partitions; samples and truncation errors
    stay the same."""
    monkeypatch.setattr(audio, "_RICE_WINDOW", window)
    sine = (10000 * np.sin(2 * np.pi * 440 * np.arange(9000) / 16000)
            ).astype(np.int16)
    for po in (0, 3):
        b = audio.flac_encode(sine, 16000, partition_order=po)
        assert np.array_equal(audio.flac_decode(b)[1], sine)
        with pytest.raises(ValueError):
            audio.flac_decode(b[:len(b) // 2])


def test_wasted_bits_decode():
    """Hand-built frame with the wasted-bits flag: a CONSTANT subframe
    whose value is stored at 16-2 bits and shifted left 2 on decode —
    external-encoder packing our encoder never emits but the decoder
    must honor."""
    val, wasted, n, sr = -0x1500 >> 2, 2, 64, 16000
    import hashlib
    x = np.full(n, val << wasted, dtype="<i2")
    packed = (sr << 44) | (0 << 41) | (15 << 36) | n
    si = (n.to_bytes(2, "big") * 2 + b"\x00\x00\x00" * 2
          + packed.to_bytes(8, "big") + hashlib.md5(x.tobytes()).digest())
    hdr = b"\xff\xf8\x70\x08" + b"\x00" + (n - 1).to_bytes(2, "big")
    hdr += bytes([audio._crc8(hdr)])
    # subframe: pad(1)=0 type(6)=000000 wasted-flag(1)=1, then unary
    # (wasted-1) zeros + 1, then the constant at 14 bits
    bits = [0, 0, 0, 0, 0, 0, 0, 1] + [0] * (wasted - 1) + [1]
    bits += [(val >> (13 - i)) & 1 for i in range(14)]
    bits += [0] * ((-len(bits)) % 8)
    body = np.packbits(np.array(bits, np.uint8)).tobytes()
    frame = hdr + body
    stream = (b"fLaC" + b"\x80\x00\x00\x22" + si + frame
              + audio._crc16(frame).to_bytes(2, "big"))
    dsr, y = audio.flac_decode(stream)
    assert dsr == sr and np.array_equal(y, x)


def test_fixture_flac_is_real_and_faithful():
    """The fixture generator's FLAC payloads decode losslessly to the
    same seeded signal the WAV rows carry — SNR against the clean
    reference >= 30 dB (BASELINE.json per-row invariant)."""
    for i in (1, 5, 32):
        sr, audio_ms = 16000, 50
        b = audio.flac_stub_bytes(i, sr, audio_ms)
        dsr, pcm = audio.flac_decode(b)
        assert dsr == sr
        ref = audio.sine_signal(i, sr, len(pcm))
        got = pcm.astype(np.float64) / 32767.0
        assert audio.snr_db(ref, got) >= 30.0
        # and byte-exact vs the WAV twin of the same clip
        wsr, wx = audio.decode_wav_pcm16(audio.synth_wav(i, sr, audio_ms))
        assert wsr == sr and np.allclose(wx, got, atol=1e-6)
        # round-3: the fixture payloads are COMPRESSED FLAC now
        raw = len(audio.flac_encode(audio.flac_decode(b)[1], sr,
                                    method="verbatim"))
        assert len(b) < raw


def test_transcode_clips_flac_snr(spark):
    """transcode_clips round-trips fixture FLAC clips with SNR >= 30 dB
    vs the expected clean signal — the verdict's done-criterion."""
    rows = [(f"c{i}", audio.flac_stub_bytes(i, 16000, 40), "flac")
            for i in (3, 9)]
    df = spark.createDataFrame(rows,
                               "clip_id string, bytes binary, codec string")
    out = {r.clip_id: r for r in audio.transcode_clips(df).collect()}
    assert set(out) == {"c3", "c9"}
    for i in (3, 9):
        sr, x = audio.decode_wav_pcm16(bytes(out[f"c{i}"].bytes))
        ref = audio.sine_signal(i, sr, len(x))
        assert audio.snr_db(ref, x) >= 30.0


def test_fixture_rows_carry_decodable_flac(spark):
    """Every codec='flac' row the fixture generator emits (outside the
    deliberate corrupt/mismatch defect classes) is a decodable stream."""
    df = fixtures.generate_clips(spark, n_rows=60, audio_ms=10)
    rows = df.where("codec = 'flac' and bytes is not null").collect()
    assert rows
    ok = 0
    for r in rows:
        b = bytes(r.bytes)
        if not b.startswith(b"fLaC"):
            continue  # injected defect classes keep other payloads
        audio.flac_decode(b)
        ok += 1
    assert ok > 0


def test_every_prefix_truncation_raises_valueerror():
    """Cutting a valid compressed stream at ANY byte raises ValueError
    (never IndexError — the rows-not-failures contract), and so does a
    valid stream with trailing garbage."""
    x = (3000 * np.sin(2 * np.pi * 300 * np.arange(700) / 8000)
         ).astype(np.int16)
    good = audio.flac_encode(x, 8000)
    for i in range(4, len(good)):
        with pytest.raises((ValueError, NotImplementedError)):
            audio.flac_decode(good[:i])
    with pytest.raises(ValueError):
        audio.flac_decode(good + b"\xff")


def test_kweight_empty_input_returns_empty():
    assert audio.k_weight(np.array([]), 48000).shape == (0,)
