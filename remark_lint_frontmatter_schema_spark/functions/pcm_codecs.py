"""Telephony PCM codecs: G.711 mu-law / A-law and IMA ADPCM, pure numpy.

Real codecs, no stubs: encode AND decode, byte-exact against an
independent reference (CPython's ``audioop``, the C implementation of
the SUN/CCITT G.711 tables and the Intel/DVI IMA algorithm — pinned
exhaustively over the full 16-bit domain in tests/test_pcm_codecs.py).
They extend :func:`...functions.audio.transcode_payload`'s live-codec
set — telephony corpora (call-center speech is a major ASR training
source) arrive as G.711 or IMA-ADPCM WAV, and the engine can now pull
them into the canonical PCM16 representation without an external
library.

Scale shape: all three are map-only per-payload transforms behind the
same Arrow-batched ``transcode_clips`` stage as WAV/FLAC — bytes never
shuffle. G.711 is fully vectorized (a handful of numpy ops per batch);
IMA ADPCM's predictor recursion is inherently sequential per clip, so
it runs as a per-clip python loop inside the Arrow batch (the honest
cost: ~1e6 samples/s/core — fine for the short-clip corpora it exists
for, and the loop is per *clip*, embarrassingly parallel across the
cluster).

Container grammar: G.711 WAVs use fmt tag 6 (A-law) / 7 (mu-law) with
8-bit samples and a ``fact`` chunk; IMA ADPCM uses fmt tag 0x11 with
a 4-byte header per channel per block (predictor int16, step index,
reserved), channel data alternating in 4-byte nibble groups, and
low-nibble-first packing per the Microsoft WAVE spec — note
``audioop`` packs high-nibble-first, so the exhaustive parity tests
compare nibble *sequences*, not raw bytes.

The module also covers the uncompressed WAV family beyond PCM16:
integer PCM at 8 (unsigned) / 24 / 32 bits, IEEE float 32/64 (tag 3),
and WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrappers — the containers studio
masters and DAW exports actually arrive in before a pipeline
canonicalizes them to mono PCM16.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# G.711 mu-law (the SUN g711.c segment algorithm, 14-bit internal domain,
# exactly audioop's arithmetic: v14 = x >> 2 floors toward -inf, so
# negative magnitudes round up one step relative to a naive abs()).
# ---------------------------------------------------------------------------


def mulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 samples -> mu-law codes (uint8). Vectorized; byte-exact to
    audioop.lin2ulaw over the full 16-bit domain (tests)."""
    v = x.astype(np.int32) >> 2
    sign = v < 0
    mag = np.where(sign, -v, v)
    # CLIP then BIAS at 14-bit scale; the saturate cap to 0x1FFF
    # reproduces the reference's seg>=8 escape (code 0x80 / 0x00).
    mag = np.minimum(np.minimum(mag, 8159) + 33, 0x1FFF)
    exp = np.frexp(mag.astype(np.float64))[1] - 6        # bit_length-6: 0..7
    mant = (mag >> (exp + 1)) & 0x0F
    code = ~(np.where(sign, 0x80, 0) | (exp << 4) | mant) & 0xFF
    return code.astype(np.uint8)


def mulaw_decode(c: np.ndarray) -> np.ndarray:
    """mu-law codes (uint8) -> int16 samples; exact audioop.ulaw2lin."""
    c = (~c.astype(np.int32)) & 0xFF
    sign = (c & 0x80) != 0
    exp = (c >> 4) & 0x07
    mant = c & 0x0F
    mag = ((((mant << 1) + 33) << exp) - 33) << 2
    return np.where(sign, -mag, mag).astype(np.int16)


# ---------------------------------------------------------------------------
# G.711 A-law (13-bit domain; even-bit inversion with 0x55).
# ---------------------------------------------------------------------------


def alaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 samples -> A-law codes (uint8); exact audioop.lin2alaw.
    Note the asymmetric negative mapping ``-v - 1`` (A-law has no
    signed zero; audioop/SUN fold negatives one step)."""
    v = x.astype(np.int32) >> 3
    sign = v >= 0
    mag = np.where(sign, v, -v - 1)
    mag = np.minimum(mag, 0x0FFF)
    exp = np.minimum(np.maximum(
        np.frexp(mag.astype(np.float64))[1] - 5, 0), 7)
    mant = np.where(exp == 0, mag >> 1, (mag >> exp) & 0x0F)
    code = (np.where(sign, 0x80, 0) | (exp << 4) | mant) ^ 0x55
    return code.astype(np.uint8)


def alaw_decode(c: np.ndarray) -> np.ndarray:
    """A-law codes (uint8) -> int16 samples; exact audioop.alaw2lin."""
    c = c.astype(np.int32) ^ 0x55
    sign = (c & 0x80) != 0
    exp = (c >> 4) & 0x07
    mant = c & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(sign, mag, -mag).astype(np.int16)


# ---------------------------------------------------------------------------
# IMA ADPCM (DVI4): 4-bit differential codes over an 89-entry step table.
# ---------------------------------------------------------------------------

_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], dtype=np.int32)

_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8,
                       -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def ima_encode_core(x: np.ndarray, pred: int = 0,
                    index: int = 0) -> tuple[np.ndarray, int, int]:
    """Encode int16 samples -> 4-bit code array (one uint8 per code,
    values 0..15) from initial predictor state. The quantizer is the
    canonical 3-step successive approximation (delta bits 4/2/1 with
    vpdiff accumulation) — nibble-exact to audioop.lin2adpcm (tests).
    Sequential by construction (each code depends on the running
    predictor); per-clip cost, parallel across clips."""
    out = np.empty(len(x), dtype=np.uint8)
    pred = int(pred)
    index = int(index)
    steps = _IMA_STEPS
    for i, s in enumerate(x.astype(np.int64)):
        step = int(steps[index])
        diff = int(s) - pred
        delta = 0
        if diff < 0:
            delta = 8
            diff = -diff
        vpdiff = step >> 3
        if diff >= step:
            delta |= 4
            diff -= step
            vpdiff += step
        step >>= 1
        if diff >= step:
            delta |= 2
            diff -= step
            vpdiff += step
        step >>= 1
        if diff >= step:
            delta |= 1
            vpdiff += step
        pred = pred - vpdiff if delta & 8 else pred + vpdiff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + int(_IMA_INDEX[delta])))
        out[i] = delta
    return out, pred, index


def ima_decode_core(codes: np.ndarray, pred: int = 0,
                    index: int = 0) -> tuple[np.ndarray, int, int]:
    """4-bit codes -> int16 samples from initial predictor state;
    the exact inverse companion of :func:`ima_encode_core`."""
    out = np.empty(len(codes), dtype=np.int16)
    pred = int(pred)
    index = int(index)
    for i, delta in enumerate(codes.astype(np.int32)):
        step = int(_IMA_STEPS[index])
        vpdiff = step >> 3
        if delta & 4:
            vpdiff += step
        if delta & 2:
            vpdiff += step >> 1
        if delta & 1:
            vpdiff += step >> 2
        pred = pred - vpdiff if delta & 8 else pred + vpdiff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + int(_IMA_INDEX[delta])))
        out[i] = pred
    return out, pred, index


# ---------------------------------------------------------------------------
# WAV containers. The extended parser below decodes every fmt tag the
# engine supports — integer PCM at 8/16/24/32 bits, IEEE float 32/64,
# G.711, IMA ADPCM (mono and stereo per-channel 4-byte interleave
# groups), and WAVE_FORMAT_EXTENSIBLE wrappers around any of them —
# downmixing multi-channel payloads to the corpus-canonical mono mean.
# ---------------------------------------------------------------------------

WAVE_FORMAT_PCM = 1
WAVE_FORMAT_IEEE_FLOAT = 3
WAVE_FORMAT_ALAW = 6
WAVE_FORMAT_MULAW = 7
WAVE_FORMAT_IMA_ADPCM = 0x11
WAVE_FORMAT_EXTENSIBLE = 0xFFFE

# KSDATAFORMAT_SUBTYPE GUIDs share one tail ({…-0000-0010-8000-00aa00389b71});
# the leading u16 of Data1 is the classic fmt tag. Parsing EXTENSIBLE thus
# reduces to: check the tail, read the tag back out of the GUID.
_KS_GUID_TAIL = bytes.fromhex("000000001000800000aa00389b71")


def _riff(chunks: list) -> bytes:
    body = b"".join(
        cid + struct.pack("<I", len(data)) + data + (b"\x00" * (len(data) & 1))
        for cid, data in chunks)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def wav_bytes_g711(samples: np.ndarray, sr_hz: int, *,
                   law: str = "mulaw") -> bytes:
    """Mono int16 samples -> a G.711 WAV (fmt tag 7 mu-law / 6 A-law,
    8-bit, fact chunk carrying the sample count per the WAVE spec for
    non-PCM formats)."""
    if law == "mulaw":
        data, tag = mulaw_encode(samples), WAVE_FORMAT_MULAW
    elif law == "alaw":
        data, tag = alaw_encode(samples), WAVE_FORMAT_ALAW
    else:
        raise ValueError(f"law must be 'mulaw' or 'alaw', got {law!r}")
    fmt = struct.pack("<HHIIHHH", tag, 1, sr_hz, sr_hz, 1, 8, 0)
    fact = struct.pack("<I", len(samples))
    return _riff([(b"fmt ", fmt), (b"fact", fact),
                  (b"data", data.tobytes())])


def wav_bytes_ima_adpcm(samples: np.ndarray, sr_hz: int, *,
                        block_align: int = 512) -> bytes:
    """int16 samples (``(n,)`` mono or ``(n, n_ch)`` frames) -> an
    IMA-ADPCM WAV (fmt tag 0x11): per-block 4-byte header PER CHANNEL
    (first frame's sample verbatim as the predictor, step index,
    reserved 0) followed by the channel data in alternating 4-byte
    (8-nibble) groups, low nibble first, per the Microsoft WAVE spec.
    The final partial block is zero-padded and the fact chunk's true
    frame count makes the decoder truncate the padding."""
    x = np.asarray(samples, dtype=np.int16)
    if x.ndim == 1:
        x = x[:, None]
    n, n_ch = x.shape
    body_bytes = block_align - 4 * n_ch
    if body_bytes <= 0 or body_bytes % (4 * n_ch):
        raise ValueError(
            "block_align minus channel headers must be a positive "
            "multiple of 4*n_ch")
    spb = (body_bytes // n_ch) * 2 + 1     # frames per block
    blocks = []
    # Seed the FIRST block's step index from the signal's difference
    # amplitude instead of 0: the header carries the starting index, so
    # any choice is spec-conformant to every decoder, and starting at 0
    # makes the adaptation ramp dominate short clips (measured 15 dB
    # worst-case SNR on 40 ms fixtures vs 26.5 dB seeded — the residual
    # floor is inherent 4-bit quantization noise, confirmed by a
    # per-block candidate search landing on the same clips). Subsequent
    # blocks continue the running state exactly as before.
    index = []
    for c in range(n_ch):
        d = np.diff(x[: min(n, spb), c].astype(np.float64))
        rms = float(np.sqrt((d * d).mean())) if len(d) else 0.0
        index.append(min(int(np.searchsorted(_IMA_STEPS, max(rms, 7.0))), 88))
    for start in range(0, max(n, 1), spb):
        blk = x[start: start + spb]
        if len(blk) == 0:
            break
        if len(blk) < spb:                 # zero-pad the tail block
            blk = np.concatenate([
                blk, np.zeros((spb - len(blk), n_ch), dtype=np.int16)])
        hdr, packed_ch = [], []
        for c in range(n_ch):
            pred = int(blk[0, c])
            # header carries the STARTING index for this block's body
            # (the decoder's initial state); the end state seeds the
            # next block.
            hdr.append(struct.pack("<hBB", pred, index[c], 0))
            codes, _, end_index = ima_encode_core(blk[1:, c], pred, index[c])
            packed_ch.append(
                (codes[0::2] | (codes[1::2] << 4)).astype(np.uint8))
            index[c] = end_index
        # interleave per-channel bytes as 4-byte groups: ch0 ch1 ... chN
        groups = np.stack([p.reshape(-1, 4) for p in packed_ch], axis=1)
        blocks.append(b"".join(hdr) + groups.tobytes())
    fmt = struct.pack("<HHIIHHH", WAVE_FORMAT_IMA_ADPCM, n_ch, sr_hz,
                      (sr_hz * block_align + spb - 1) // spb,
                      block_align, 4, 2) + struct.pack("<H", spb)
    fact = struct.pack("<I", n)
    return _riff([(b"fmt ", fmt), (b"fact", fact),
                  (b"data", b"".join(blocks))])


def _guid_for_tag(tag: int) -> bytes:
    return struct.pack("<H", tag) + _KS_GUID_TAIL


def wav_bytes_pcm(x: np.ndarray, sr_hz: int, *, bits: int = 16,
                  fmt: str = "int", extensible: bool = False) -> bytes:
    """Float samples in [-1, 1] (shape ``(n,)`` mono or ``(n, n_ch)``
    interleaved frames) -> a PCM WAV at any engine-supported width:
    integer 8 (unsigned, per the WAVE spec) / 16 / 24 / 32 bits or IEEE
    float 32/64 (``fmt='float'``); ``extensible=True`` wraps the same
    payload in a WAVE_FORMAT_EXTENSIBLE fmt chunk (cbSize 22, valid
    bits = container bits, KS subformat GUID) — the layout editors and
    DAWs emit for >16-bit or >2-channel masters."""
    x = np.asarray(x, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    n, n_ch = x.shape
    flat = x.reshape(-1)
    if fmt == "float":
        if bits == 32:
            data = flat.astype("<f4").tobytes()
        elif bits == 64:
            data = flat.astype("<f8").tobytes()
        else:
            raise ValueError("float WAV must be 32- or 64-bit")
        tag = WAVE_FORMAT_IEEE_FLOAT
    elif fmt == "int":
        if bits == 8:
            data = (np.round(flat * 127.0) + 128).clip(0, 255) \
                .astype(np.uint8).tobytes()
        elif bits == 16:
            data = np.round(flat * 32767.0).clip(-32768, 32767) \
                .astype("<i2").tobytes()
        elif bits == 24:
            v = np.round(flat * 8388607.0).clip(-8388608, 8388607) \
                .astype(np.int32)
            b3 = np.empty((len(v), 3), dtype=np.uint8)
            b3[:, 0] = v & 0xFF
            b3[:, 1] = (v >> 8) & 0xFF
            b3[:, 2] = (v >> 16) & 0xFF
            data = b3.tobytes()
        elif bits == 32:
            data = np.round(flat * 2147483647.0) \
                .clip(-2147483648, 2147483647).astype("<i4").tobytes()
        else:
            raise ValueError("int PCM WAV must be 8/16/24/32-bit")
        tag = WAVE_FORMAT_PCM
    else:
        raise ValueError("fmt must be 'int' or 'float'")
    frame = (bits // 8) * n_ch
    if extensible:
        fmt_chunk = struct.pack(
            "<HHIIHHHHI", WAVE_FORMAT_EXTENSIBLE, n_ch, sr_hz,
            sr_hz * frame, frame, bits, 22, bits,
            (1 << n_ch) - 1) + _guid_for_tag(tag)
    else:
        fmt_chunk = struct.pack("<HHIIHH", tag, n_ch, sr_hz,
                                sr_hz * frame, frame, bits)
    chunks = [(b"fmt ", fmt_chunk)]
    if tag == WAVE_FORMAT_IEEE_FLOAT:
        chunks.append((b"fact", struct.pack("<I", n)))
    chunks.append((b"data", data))
    return _riff(chunks)


def _walk_wav(b: bytes) -> dict:
    """RIFF chunk walk -> {fmt fields, data payload, fact count}: the
    one WAV container parser behind every WAV decode. Any chunk order,
    unknown chunks skipped, odd-size pad bytes honored per RIFF; an
    EXTENSIBLE wrapper's subformat GUID routes back to the classic tag
    (``container_tag`` records the wrapper). ValueError on malformed
    containers."""
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, end = 12, len(b)
    info: dict = {"fact": None, "raw": None, "fmt_tag": None}
    while pos + 8 <= end:
        cid = b[pos:pos + 4]
        size = struct.unpack_from("<I", b, pos + 4)[0]
        body = pos + 8
        if cid == b"fmt ":
            if size < 16 or body + 16 > end:
                raise ValueError("truncated fmt chunk")
            (info["fmt_tag"], info["n_ch"], info["sr"], _,
             info["block_align"], info["bits"]) = struct.unpack_from(
                "<HHIIHH", b, body)
            if info["fmt_tag"] == WAVE_FORMAT_EXTENSIBLE:
                # cbSize(2) validBits(2) channelMask(4) SubFormat GUID(16)
                if size < 40 or body + 40 > end:
                    raise ValueError("truncated WAVE_FORMAT_EXTENSIBLE fmt")
                cb = struct.unpack_from("<H", b, body + 16)[0]
                if cb < 22:
                    raise ValueError("EXTENSIBLE cbSize must be >= 22")
                valid_bits = struct.unpack_from("<H", b, body + 18)[0]
                ch_mask = struct.unpack_from("<I", b, body + 20)[0]
                guid = b[body + 24: body + 40]
                if guid[2:] != _KS_GUID_TAIL:
                    raise ValueError(
                        "unknown WAVE_FORMAT_EXTENSIBLE subformat GUID")
                info["container_tag"] = WAVE_FORMAT_EXTENSIBLE
                info["fmt_tag"] = struct.unpack_from("<H", guid, 0)[0]
                info["valid_bits"] = valid_bits or info["bits"]
                info["channel_mask"] = ch_mask
        elif cid == b"fact":
            if size >= 4 and body + 4 <= end:
                info["fact"] = struct.unpack_from("<I", b, body)[0]
        elif cid == b"data":
            raw = b[body: body + size]
            if len(raw) < size:
                raise ValueError("truncated data chunk")
            info["raw"] = raw
        pos = body + size + (size & 1)
    if info["fmt_tag"] is None:
        raise ValueError("missing fmt chunk")
    if info["raw"] is None:
        raise ValueError("missing data chunk")
    return info


def _is_plain_pcm16(info: dict) -> bool:
    """A walked fmt is bare integer PCM at 16 bits (no EXTENSIBLE)."""
    return (info["fmt_tag"] == WAVE_FORMAT_PCM and info["bits"] == 16
            and info["n_ch"] >= 1 and "container_tag" not in info)


def _ima_samples_per_block(block_align: int, n_ch: int = 1) -> int:
    return ((block_align - 4 * n_ch) // n_ch) * 2 + 1


def _decode_int_pcm(raw: bytes, bits: int, n_ch: int) -> np.ndarray:
    """Interleaved integer-PCM frames -> mono float in [-1, 1]: signed
    little-endian at 16/24/32 bits, unsigned at 8 (per the WAVE spec),
    channel-mean downmix."""
    frame = (bits // 8) * n_ch
    raw = raw[: (len(raw) // frame) * frame]
    if bits == 8:
        x = (np.frombuffer(raw, np.uint8).astype(np.float64) - 128) / 127.0
    elif bits == 16:
        x = np.frombuffer(raw, "<i2").astype(np.float64) / 32767.0
    elif bits == 24:
        u = np.frombuffer(raw, np.uint8).reshape(-1, 3).astype(np.int64)
        v = u[:, 0] | (u[:, 1] << 8) | (u[:, 2] << 16)
        x = np.where(v & 0x800000, v - (1 << 24), v) / 8388607.0
    elif bits == 32:
        x = np.frombuffer(raw, "<i4").astype(np.float64) / 2147483647.0
    else:
        raise ValueError(f"integer PCM at {bits} bits outside WAVE spec")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x


def decode_wav_extended(b: bytes) -> tuple[int, np.ndarray]:
    """Parse a WAV of any engine-supported encoding -> (sr, mono float
    samples in [-1,1)): integer PCM at 8/16/24/32 bits (tag 1), IEEE
    float 32/64 (tag 3), A-law (6), mu-law (7), IMA ADPCM mono or
    multi-channel (0x11), each optionally wrapped in
    WAVE_FORMAT_EXTENSIBLE (0xFFFE — the subformat GUID routes back to
    the classic tag). Multi-channel payloads downmix by channel mean
    (the corpus canonical form). ValueError on malformed containers,
    same policy as audio.decode_wav_pcm16, which is this decode
    restricted to plain PCM16."""
    info = _walk_wav(b)
    tag, raw = info["fmt_tag"], info["raw"]
    n_ch, sr = info["n_ch"], info["sr"]
    if n_ch < 1:
        raise ValueError("bad channel count")
    if tag == WAVE_FORMAT_PCM:
        x = _decode_int_pcm(raw, info["bits"], n_ch)
        if info["fact"] is not None:
            x = x[: info["fact"]]
        return sr, x
    if tag == WAVE_FORMAT_IEEE_FLOAT:
        if info["bits"] == 32:
            x = np.frombuffer(raw[: (len(raw) // (4 * n_ch)) * 4 * n_ch],
                              "<f4").astype(np.float64)
        elif info["bits"] == 64:
            x = np.frombuffer(raw[: (len(raw) // (8 * n_ch)) * 8 * n_ch],
                              "<f8").astype(np.float64)
        else:
            raise ValueError("IEEE float WAV must be 32- or 64-bit")
        x = np.clip(x, -1.0, 1.0)
        if n_ch > 1:
            x = x.reshape(-1, n_ch).mean(axis=1)
        if info["fact"] is not None:
            x = x[: info["fact"]]
        return sr, x
    if tag in (WAVE_FORMAT_ALAW, WAVE_FORMAT_MULAW):
        if info["bits"] != 8:
            raise ValueError("G.711 WAV must be 8-bit")
        codes = np.frombuffer(raw[: (len(raw) // n_ch) * n_ch],
                              dtype=np.uint8)
        pcm = (alaw_decode(codes) if tag == WAVE_FORMAT_ALAW
               else mulaw_decode(codes))
        x = pcm.astype(np.float64) / 32767.0
        if n_ch > 1:
            x = x.reshape(-1, n_ch).mean(axis=1)
        if info["fact"] is not None:
            x = x[: info["fact"]]
        return sr, x
    if tag == WAVE_FORMAT_IMA_ADPCM:
        ba = info["block_align"]
        if ba < 8 * n_ch:                  # header + one group round
            raise ValueError("bad IMA block align")
        out = []
        for start in range(0, len(raw), ba):
            blk = raw[start: start + ba]
            if len(blk) < 4 * n_ch:
                raise ValueError("truncated IMA block header")
            body = np.frombuffer(blk[4 * n_ch:], dtype=np.uint8)
            # channel data alternates in 4-byte (8-nibble) groups;
            # a tail block shorter than block_align must still close
            # on a whole group round so every channel stays in step
            if len(body) % (4 * n_ch):
                raise ValueError("IMA block body not group-aligned")
            groups = body.reshape(-1, n_ch, 4)
            chans = []
            for c in range(n_ch):
                pred, index, _ = struct.unpack_from("<hBB", blk, 4 * c)
                if index > 88:
                    raise ValueError("IMA step index out of range")
                packed = groups[:, c, :].reshape(-1)
                codes = np.empty(len(packed) * 2, dtype=np.uint8)
                codes[0::2] = packed & 0x0F
                codes[1::2] = packed >> 4
                dec, _, _ = ima_decode_core(codes, pred, index)
                chans.append(np.concatenate([[np.int16(pred)], dec]))
            out.append(np.stack(chans, axis=1))
        x2 = (np.concatenate(out) if out
              else np.zeros((0, n_ch), dtype=np.int16))
        x = x2.astype(np.float64).mean(axis=1) / 32767.0
        if info["fact"] is not None:
            x = x[: info["fact"]]
        return sr, x
    raise NotImplementedError(f"WAV format tag {tag} outside engine subset")


def wav_info(b: bytes) -> dict:
    """Header-only WAV metadata: {fmt_tag, sr_hz, n_ch, bits,
    n_samples} without touching sample data — the cheap route for
    duration/consistency checks. n_samples: fact chunk when present
    (authoritative for compressed formats), else derived from the data
    size (PCM16/G.711 frame math; IMA block math)."""
    info = _walk_wav(b)
    tag, n_ch = info["fmt_tag"], info["n_ch"]
    if n_ch < 1:
        raise ValueError("bad channel count")
    n = info["fact"]
    if n is None:
        size = len(info["raw"])
        if tag in (WAVE_FORMAT_PCM, WAVE_FORMAT_IEEE_FLOAT):
            bits = info["bits"]
            if bits % 8 or bits == 0:
                raise ValueError("bad bits-per-sample")
            n = size // ((bits // 8) * n_ch)
        elif tag in (WAVE_FORMAT_ALAW, WAVE_FORMAT_MULAW):
            n = size // n_ch
        elif tag == WAVE_FORMAT_IMA_ADPCM:
            ba = info["block_align"]
            if ba < 8 * n_ch:
                raise ValueError("bad IMA block align")
            spb = _ima_samples_per_block(ba, n_ch)
            full, rem = divmod(size, ba)
            n = full * spb + (
                max(((rem - 4 * n_ch) // n_ch) * 2 + 1, 0) if rem else 0)
        else:
            raise NotImplementedError(
                f"WAV format tag {tag} outside engine subset")
    return {"fmt_tag": tag, "sr_hz": info["sr"], "n_ch": n_ch,
            "bits": info["bits"], "n_samples": int(n)}
