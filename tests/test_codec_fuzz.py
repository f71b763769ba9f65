"""Property-based codec fuzz (hypothesis): FLAC roundtrip losslessness
over arbitrary int16 signals/rates/methods/partition orders, FLAC
totality under single-byte flips of valid streams, Ogg/Opus
metadata roundtrip over arbitrary (sr, duration), and decoder totality
over arbitrary garbage bytes (raise-or-decode, never wrong samples or a
foreign exception type)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from remark_lint_frontmatter_schema_spark.functions import audio


@settings(max_examples=60, deadline=None)
@given(
    data=st.lists(st.integers(-32768, 32767), min_size=1, max_size=3000),
    sr=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    method=st.sampled_from(["auto", "verbatim"]),
    po=st.integers(0, 3),
)
def test_flac_roundtrip_lossless_property(data, sr, method, po):
    x = np.array(data, dtype=np.int16)
    b = audio.flac_encode(x, sr, method=method, partition_order=po)
    dsr, y = audio.flac_decode(b)
    assert dsr == sr
    assert np.array_equal(x, y)


@settings(max_examples=300, deadline=None)
@given(
    seed=st.integers(0, 50),
    n=st.integers(16, 1200),
    sr=st.sampled_from([8000, 16000, 48000]),
    # half the draws land in the first frame's header, warm-up samples
    # and predictor coefficients, where a flip changes the most structure
    at=st.one_of(st.integers(42, 110), st.integers(0, 10 ** 6)),
    flip=st.integers(1, 255),
)
def test_flac_single_byte_flip_decodes_or_raises(seed, n, sr, at, flip):
    """Any single-byte flip of a valid stream either decodes or raises
    ValueError/NotImplementedError — never OverflowError, IndexError or
    another type a per-row ``except ValueError`` would not catch."""
    b = bytearray(audio.flac_encode(audio.synth_pcm16(seed, sr, n), sr))
    b[at % len(b)] ^= flip
    try:
        audio.flac_decode(bytes(b))
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    sr=st.integers(1, 2 ** 20 - 1),
    ms=st.integers(1, 5000),
)
def test_opus_meta_roundtrip_property(seed, sr, ms):
    m = audio.opus_meta(audio.ogg_opus_bytes(seed, sr, ms))
    assert m["input_sample_rate"] == sr
    assert m["duration_ms"] == ms
    assert m["channels"] == 1


@settings(max_examples=80, deadline=None)
@given(junk=st.binary(max_size=400))
def test_decoders_total_over_garbage(junk):
    """Arbitrary bytes (including adversarial prefixes) either decode
    or raise ValueError/NotImplementedError — no IndexError, no numpy
    shape error, no silent nonsense."""
    for blob in (junk, b"fLaC" + junk, b"OggS" + junk,
                 b"RIFF" + junk[:4] + b"WAVE" + junk):
        try:
            audio.flac_decode(blob)
        except (ValueError, NotImplementedError):
            pass
        try:
            audio.opus_meta(blob)
        except ValueError:
            pass
        try:
            audio.decode_wav_pcm16(blob)
        except (ValueError, NotImplementedError):
            pass
