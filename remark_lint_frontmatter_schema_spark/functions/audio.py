"""Audio payload functions: synth, header sanity, PCM decode.

The reference validates text frontmatter only; the binary-payload checks
here are the north_star's graft ("codec-header sanity on bytes … vectorized
pandas/Arrow UDF checks", BASELINE.json). Everything crossing the
JVM<->Python boundary is an Arrow batch (pandas UDF / mapInPandas) — never
a row-at-a-time Python UDF (input_hint: "no per-row Python").

Header parsing is vectorized over the batch: fixed-offset byte slices via
the pandas bytes accessor + one ``np.frombuffer`` per batch for the
little-endian sample-rate words. No external audio libs (none in this
sandbox): WAV containers are written/read with struct-level numpy code,
which is also what keeps the decode deterministic for the SNR oracle.
"""

from __future__ import annotations

import hashlib
import math
import operator
import struct
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..operators.validate import to_col, violation_rows
from .pcm_codecs import (_decode_int_pcm, _is_plain_pcm16, _walk_wav,
                         decode_wav_extended)

# ---------------------------------------------------------------------------
# synthesis (driver/executor side, deterministic)
# ---------------------------------------------------------------------------

_SNR_DB = 40.0  # generator mixes sine + noise at ~40 dB, so the ≥30 dB
                # fidelity oracle has headroom (FIXTURES.md §1)


def sine_signal(i: int, sr_hz: int, n_samples: int) -> np.ndarray:
    """The clean reference signal for clip ``i`` (float in [-1, 1))."""
    freq = 200.0 + (i % 800)
    t = np.arange(n_samples, dtype=np.float64) / sr_hz
    return 0.8 * np.sin(2 * np.pi * freq * t)


def synth_pcm16(i: int, sr_hz: int, n_samples: int) -> np.ndarray:
    """sine + white noise at ~40 dB SNR, quantized to int16. Seeded by i."""
    sig = sine_signal(i, sr_hz, n_samples)
    rng = np.random.default_rng(42 + i)
    noise_rms = np.sqrt(np.mean(sig**2)) / (10 ** (_SNR_DB / 20))
    noisy = sig + rng.normal(0.0, noise_rms, n_samples)
    return np.clip(noisy * 32767.0, -32768, 32767).astype("<i2")


def _to_pcm16(x: np.ndarray) -> np.ndarray:
    """Quantize float samples in [-1, 1] to little-endian int16 — the one
    place the clip bounds / truncation-toward-zero policy lives; every
    re-encode stage (canonicalize, transcode, augment, segment slicing)
    must quantize identically or near-dup fingerprints drift."""
    return np.clip(x * 32767.0, -32768, 32767).astype("<i2")


def wav_bytes(samples: np.ndarray, sr_hz: int) -> bytes:
    """Minimal RIFF/WAVE PCM16 mono container (44-byte canonical header)."""
    data = samples.astype("<i2").tobytes()
    n = len(data)
    header = (
        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16)
        + b"data" + struct.pack("<I", n)
    )
    return header + data


def wav_bytes_multi(channels: np.ndarray, sr_hz: int,
                    extra_chunks: bytes = b"") -> bytes:
    """RIFF/WAVE PCM16 writer for (n_samples, n_channels) int16 arrays,
    with optional extra chunks injected between ``fmt `` and ``data`` —
    the fixture generator for the non-canonical containers
    :func:`decode_wav_pcm16` must accept (stereo corpora, editors that
    write LIST/INFO metadata)."""
    if channels.ndim == 1:
        channels = channels[:, None]
    n_ch = channels.shape[1]
    data = np.ascontiguousarray(channels.astype("<i2")).tobytes()
    n = len(data)
    block = 2 * n_ch
    body = (
        b"fmt " + struct.pack("<IHHIIHH", 16, 1, n_ch, sr_hz,
                              sr_hz * block, block, 16)
        + extra_chunks
        + b"data" + struct.pack("<I", n) + data
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def synth_wav(i: int, sr_hz: int, audio_ms: int) -> bytes:
    n = max(1, int(sr_hz * audio_ms / 1000))
    return wav_bytes(synth_pcm16(i, sr_hz, n), sr_hz)


# ---------------------------------------------------------------------------
# FLAC (mono/16-bit subset): a real (spec-conformant, RFC 9639) codec in
# pure numpy — no codec library in this sandbox. The encoder compresses:
# per block it builds CONSTANT, FIXED-predictor (orders 0-4), LPC
# (Levinson-Durbin + error-feedback quantization) and VERBATIM subframes
# and keeps the cheapest, with partitioned Rice-coded residuals
# (4-bit-parameter method, per-partition parameter search, raw-bits
# escape). The decoder handles all five subframe types plus wasted-bits
# packing and both Rice methods (4- and 5-bit parameters), and verifies
# sync, CRC-8 frame headers, CRC-16 frame trailers and the STREAMINFO
# MD5 — so a defect anywhere in the container or the entropy-coded
# payload surfaces as ValueError, never as silently-wrong samples.
# Multi-channel / non-16-bit streams raise NotImplementedError (the
# engine's audio corpora are mono PCM16; honest subset, not a player).
# ---------------------------------------------------------------------------

_FLAC_BLOCK = 4096


def _crc_table(poly: int, width: int) -> list:
    """256-entry table of a non-reflected CRC (MSB-first, init 0)."""
    top, mask = 1 << (width - 1), (1 << width) - 1
    table = []
    for byte in range(256):
        r = byte << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
        table.append(r)
    return table


def _crc_msb(data: bytes, table: list, width: int) -> int:
    """Table-driven CRC over ``data``: one lookup per byte."""
    shift, mask = width - 8, (1 << width) - 1
    crc = 0
    for byte in data:
        crc = ((crc << 8) & mask) ^ table[(crc >> shift) ^ byte]
    return crc


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    """CRC-8, poly 0x07, init 0 (FLAC frame-header CRC)."""
    return _crc_msb(data, _CRC8_TABLE, 8)


def _crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 (FLAC frame CRC)."""
    return _crc_msb(data, _CRC16_TABLE, 16)


def _utf8_code(n: int) -> bytes:
    """FLAC's UTF-8-style coding of frame/sample numbers."""
    if n < 0x80:
        return bytes([n])
    if n < 0x800:
        return bytes([0xC0 | (n >> 6), 0x80 | (n & 0x3F)])
    if n < 0x10000:
        return bytes([0xE0 | (n >> 12), 0x80 | ((n >> 6) & 0x3F),
                      0x80 | (n & 0x3F)])
    raise ValueError("frame number too large for this encoder")


def _utf8_decode(b: bytes, pos: int) -> tuple[int, int]:
    lead = b[pos]
    if lead < 0x80:
        return lead, pos + 1
    if lead >> 5 == 0b110:
        return ((lead & 0x1F) << 6) | (b[pos + 1] & 0x3F), pos + 2
    if lead >> 4 == 0b1110:
        return (((lead & 0x0F) << 12) | ((b[pos + 1] & 0x3F) << 6)
                | (b[pos + 2] & 0x3F)), pos + 3
    raise ValueError("bad UTF-8-coded frame number")


# bit-level plumbing: subframes are built / parsed as uint8 0/1 arrays
# so entropy-coded fields (Rice residuals, qlp coefficients) need no
# byte alignment; numpy packbits/unpackbits does the (de)framing.

_POW2_DESC = (np.int64(1) << np.arange(31, -1, -1)).astype(np.int64)


def _bits_of_uint(v: int, n: int) -> np.ndarray:
    return ((v >> np.arange(n - 1, -1, -1)) & 1).astype(np.uint8)


def _bits_of_signed_arr(vals, n: int) -> np.ndarray:
    """Two's-complement n-bit big-endian bits for each value, flattened."""
    v = np.asarray(vals, np.int64) & ((1 << n) - 1)
    if len(v) == 0:
        return np.zeros(0, np.uint8)
    return ((v[:, None] >> np.arange(n - 1, -1, -1)) & 1) \
        .astype(np.uint8).ravel()


def _zigzag(res: np.ndarray) -> np.ndarray:
    r = res.astype(np.int64)
    return (r << 1) ^ (r >> 63)


def _rice_bits_arr(res: np.ndarray, k: int) -> np.ndarray:
    """Rice-code residuals at parameter k as a bit array (vectorized:
    unary terminator positions via cumsum, remainder bits per plane)."""
    u = _zigzag(res)
    q = (u >> k).astype(np.int64)
    lens = q + 1 + k
    starts = np.cumsum(lens) - lens
    bits = np.zeros(int(lens.sum()), np.uint8)
    bits[starts + q] = 1
    if k:
        rem = u & ((1 << k) - 1)
        base = starts + q + 1
        for j in range(k):
            bits[base + j] = (rem >> (k - 1 - j)) & 1
    return bits


def _signed_width(res: np.ndarray) -> int:
    """Smallest two's-complement width holding every residual (>=1)."""
    mx, mn = int(res.max()), int(res.min())
    w = 1
    if mx > 0:
        w = max(w, mx.bit_length() + 1)
    if mn < 0:
        w = max(w, (-mn - 1).bit_length() + 1)
    return w


def _encode_residual(res: np.ndarray, bs: int, order: int,
                     partition_order: int) -> np.ndarray:
    """Residual section bits: method 00 (4-bit Rice parameters), the
    given partition order, per-partition best parameter in 0..14 with
    the 0b1111 raw-bits escape when cheaper (e.g. all-zero residuals)."""
    po = partition_order
    if po and (bs % (1 << po) or (bs >> po) <= order):
        po = 0
    parts = [_bits_of_uint(0, 2), _bits_of_uint(po, 4)]
    off = 0
    for p in range(1 << po):
        cnt = (bs >> po) - (order if p == 0 else 0)
        seg = res[off:off + cnt]
        off += cnt
        u = _zigzag(seg)
        best_k, best_bits = 0, None
        for k in range(15):
            nbits = int((u >> k).sum()) + cnt * (k + 1)
            if best_bits is None or nbits < best_bits:
                best_k, best_bits = k, nbits
        if not len(seg) or not np.any(seg):
            raw = 0  # escape, zero bits per sample
        else:
            raw = min(32, _signed_width(seg))
        if 5 + cnt * raw < best_bits:
            parts.append(_bits_of_uint(0xF, 4))
            parts.append(_bits_of_uint(raw, 5))
            parts.append(_bits_of_signed_arr(seg, raw) if raw
                         else np.zeros(0, np.uint8))
        else:
            parts.append(_bits_of_uint(best_k, 4))
            parts.append(_rice_bits_arr(seg, best_k))
    return np.concatenate(parts)


def _subframe_constant(x64: np.ndarray) -> np.ndarray:
    return np.concatenate([_bits_of_uint(0b000000 << 1, 8),
                           _bits_of_signed_arr(x64[:1], 16)])


def _subframe_verbatim(x64: np.ndarray) -> np.ndarray:
    return np.concatenate([_bits_of_uint(0b000001 << 1, 8),
                           _bits_of_signed_arr(x64, 16)])


def _subframe_fixed(x64: np.ndarray, order: int,
                    partition_order: int) -> np.ndarray:
    res = np.diff(x64, n=order) if order else x64
    return np.concatenate([
        _bits_of_uint((0b001000 | order) << 1, 8),
        _bits_of_signed_arr(x64[:order], 16),
        _encode_residual(res, len(x64), order, partition_order)])


def _lpc_coeffs(x64: np.ndarray, order: int):
    """Levinson-Durbin on the block autocorrelation -> float predictor
    coefficients (pred[i] = sum coef[j] * x[i-1-j]), or None if the
    normal equations degenerate (silence / too-short block)."""
    w = x64.astype(np.float64)
    n = len(w)
    if n <= order * 2:
        return None
    r = np.array([np.dot(w[: n - i], w[i:]) for i in range(order + 1)])
    if r[0] <= 0:
        return None
    a = np.zeros(order + 1)
    a[0], e = 1.0, r[0]
    for i in range(1, order + 1):
        acc = r[i] + float(np.dot(a[1:i], r[i - 1:0:-1]))
        if e <= 0:
            return None
        k = -acc / e
        new = a.copy()
        for j in range(1, i):
            new[j] = a[j] + k * a[i - j]
        new[i] = k
        a = new
        e *= 1.0 - k * k
    return -a[1:]


def _quantize_lpc(coef: np.ndarray, precision: int = 12):
    """FLAC-style quantization: pick the shift that fits the largest
    coefficient into precision-1 magnitude bits, round with error
    feedback so quantization error does not accumulate down the tap
    line. Returns (qlp int64 array, shift) or None."""
    import math
    cmax = float(np.abs(coef).max())
    if not np.isfinite(cmax) or cmax <= 0:
        return None
    shift = precision - 1 - (math.floor(math.log2(cmax)) + 1)
    shift = max(0, min(15, shift))
    qmax = (1 << (precision - 1)) - 1
    qmin = -(1 << (precision - 1))
    err = 0.0
    q = np.empty(len(coef), np.int64)
    for j, c in enumerate(coef):
        v = c * (1 << shift) + err
        iv = int(min(qmax, max(qmin, round(v))))
        err = v - iv
        q[j] = iv
    return q, shift


def _subframe_lpc(x64: np.ndarray, order: int, partition_order: int,
                  precision: int = 12):
    coef = _lpc_coeffs(x64, order)
    if coef is None:
        return None
    quant = _quantize_lpc(coef, precision)
    if quant is None:
        return None
    qlp, shift = quant
    sw = np.lib.stride_tricks.sliding_window_view(x64, order)[:-1]
    pred = (sw @ qlp[::-1]) >> shift
    res = x64[order:] - pred
    return np.concatenate([
        _bits_of_uint((0b100000 | (order - 1)) << 1, 8),
        _bits_of_signed_arr(x64[:order], 16),
        _bits_of_uint(precision - 1, 4),
        _bits_of_uint(shift, 5),
        _bits_of_signed_arr(qlp, precision),
        _encode_residual(res, len(x64), order, partition_order)])


def flac_encode(samples: np.ndarray, sr_hz: int, *, method: str = "auto",
                partition_order: int = 0) -> bytes:
    """Encode mono int16 samples as a conformant compressed FLAC stream.

    ``method="auto"`` (default) picks, per block, the cheapest of
    CONSTANT / FIXED orders 0-4 / LPC orders 2 and 8 / VERBATIM —
    genuinely compressed, real-encoder-shaped output (lossless by
    construction; every roundtrip is bit-exact and MD5-verified).
    ``method="verbatim"`` forces uncompressed VERBATIM subframes (the
    pre-round-3 behavior; byte-aligned container for surgical tests).
    ``partition_order`` > 0 splits each block's residuals into 2**po
    Rice partitions with independent parameters.
    """
    x = np.asarray(samples, dtype="<i2")
    if x.ndim != 1:
        raise ValueError("flac_encode: mono 1-D int16 samples only")
    n = len(x)
    if n == 0:
        raise ValueError("flac_encode: empty signal")
    if not (1 <= sr_hz < (1 << 20)):
        raise ValueError("flac_encode: sample rate out of range")
    if method not in ("auto", "verbatim"):
        raise ValueError(f"flac_encode: unknown method {method!r}")
    import hashlib
    block = min(_FLAC_BLOCK, max(16, n))
    # STREAMINFO: min/max blocksize, min/max framesize (0 = unknown),
    # then sr(20) | channels-1(3) | bps-1(5) | total(36) packed into 64
    # bits, then MD5 of the unencoded little-endian sample stream
    packed = (sr_hz << 44) | (0 << 41) | (15 << 36) | n
    streaminfo = (block.to_bytes(2, "big") + block.to_bytes(2, "big")
                  + b"\x00\x00\x00" * 2
                  + packed.to_bytes(8, "big")
                  + hashlib.md5(x.tobytes()).digest())
    out = [b"fLaC", b"\x80\x00\x00\x22", streaminfo]  # last-block | type 0
    for fi, start in enumerate(range(0, n, block)):
        seg = x[start:start + block].astype(np.int64)
        bs = len(seg)
        # sync(14)+reserved(1)+fixed-blocking(1) = FF F8; blocksize code
        # 0b0111 (16-bit value-1 at header end) + sr code 0b0000 (from
        # STREAMINFO) = 0x70; mono(4) + bps 16 (0b100 <<1) = 0x08
        hdr = (b"\xff\xf8\x70\x08" + _utf8_code(fi)
               + (bs - 1).to_bytes(2, "big"))
        hdr += bytes([_crc8(hdr)])
        sub = _subframe_verbatim(seg)
        if method == "auto":
            if np.all(seg == seg[0]):
                sub = _subframe_constant(seg)
            else:
                for order in range(min(4, bs - 1) + 1):
                    cand = _subframe_fixed(seg, order, partition_order)
                    if len(cand) < len(sub):
                        sub = cand
                for order in (2, 8):
                    cand = _subframe_lpc(seg, order, partition_order)
                    if cand is not None and len(cand) < len(sub):
                        sub = cand
        pad = (-len(sub)) % 8
        if pad:
            sub = np.concatenate([sub, np.zeros(pad, np.uint8)])
        frame = hdr + np.packbits(sub).tobytes()
        out.append(frame + _crc16(frame).to_bytes(2, "big"))
    return b"".join(out)


# bits per Rice lookup window: streams up to 32 KiB past their first
# residual get one window; longer ones re-window as the cursor moves, so
# table memory stays bounded
_RICE_WINDOW = 1 << 18


class _BitReader:
    """MSB-first bit cursor over a byte string (numpy unpackbits).

    Header fields and raw runs (VERBATIM, escaped partitions) read from
    the unpacked bit array with numpy. Rice residuals read through two
    list tables over a window of the stream: the next set bit at or after
    each position, and the value of the k bits starting at each position
    (one per Rice parameter k). Both are built once per window, so a
    residual costs two list lookups instead of numpy calls per bit field.
    """

    def __init__(self, data: bytes):
        self.raw = data
        self.bits = np.unpackbits(np.frombuffer(data, np.uint8))
        self.pos = 0
        self._base = 0
        self._nxt: list = []   # window length L + 1; L means "no set bit"
        self._val: dict = {}   # k -> value of the k bits at each position

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > len(self.bits):
            raise ValueError("truncated subframe data")
        v = int(self.bits[self.pos:end] @ _POW2_DESC[32 - n:])
        self.pos = end
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if n and v >= (1 << (n - 1)) else v

    def read_signed_run(self, cnt: int, n: int) -> np.ndarray:
        """``cnt`` consecutive n-bit two's-complement values."""
        end = self.pos + cnt * n
        if end > len(self.bits):
            raise ValueError("truncated subframe data")
        if n == 0:
            return np.zeros(cnt, np.int64)
        v = self.bits[self.pos:end].reshape(cnt, n) @ _POW2_DESC[32 - n:]
        self.pos = end
        return np.where(v >= 1 << (n - 1), v - (1 << n), v)

    def read_unary(self) -> int:
        # argmax over a bool view stops at the first set bit
        rest = self.bits[self.pos:].view(bool)
        q = int(rest.argmax()) if len(rest) else 0
        if not len(rest) or not rest[q]:
            raise ValueError("truncated unary code")
        self.pos += q + 1
        return q

    def _window(self, start: int, n: int) -> None:
        w = self.bits[start:start + n]
        m = len(w)
        nxt = np.minimum.accumulate(np.where(w, np.arange(m), m)[::-1])
        self._base, self._nxt, self._val = start, nxt[::-1].tolist() + [m], {}

    def _values(self, k: int) -> list:
        val = self._val.get(k)
        if val is None:
            w = self.bits[self._base:self._base + len(self._nxt) - 1] \
                .astype(np.int64)
            m = max(len(w) - k + 1, 0)
            v = np.zeros(m, np.int64)
            for j in range(k):
                v = (v << 1) | w[j:j + m]
            val = self._val[k] = v.tolist()
        return val

    def read_rice(self, cnt: int, k: int) -> np.ndarray:
        """``cnt`` Rice codes with parameter ``k`` -> signed residuals."""
        if not self._base <= self.pos < self._base + len(self._nxt):
            self._window(self.pos, _RICE_WINDOW)
        while True:
            nxt, val = self._nxt, self._values(k)
            p = self.pos - self._base
            us = []
            try:
                for _ in range(cnt):
                    t = nxt[p]
                    us.append(((t - p) << k) | val[t + 1])
                    p = t + 1 + k
                break
            except IndexError:
                # a code runs past the window: at the stream's end that
                # is truncation, otherwise re-window from this partition
                m = len(nxt) - 1
                if self._base + m >= len(self.bits):
                    raise ValueError("truncated unary code" if nxt[p] == m
                                     else "truncated subframe data") from None
                self._window(self.pos, 2 * m)
        self.pos = self._base + p
        u = np.array(us, np.int64)
        return (u >> 1) ^ -(u & 1)


def _read_residual(br: _BitReader, bs: int, order: int) -> np.ndarray:
    method = br.read(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    pbits, esc = (4, 0xF) if method == 0 else (5, 0x1F)
    po = br.read(4)
    if bs % (1 << po):
        raise ValueError("invalid Rice partition order")
    out = []
    for p in range(1 << po):
        cnt = (bs >> po) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("invalid Rice partition order")
        k = br.read(pbits)
        if k == esc:
            out.append(br.read_signed_run(cnt, br.read(5)))
        else:
            out.append(br.read_rice(cnt, k))
    return np.concatenate(out) if out else np.empty(0, np.int64)


def _restore_fixed(warm: np.ndarray, res: np.ndarray,
                   order: int) -> np.ndarray:
    """Invert the order-k difference operator: k nested cumsums, each
    seeded with the last warmup value of the next-lower difference."""
    if order == 0:
        return res
    x = res
    for j in range(order, 0, -1):
        seed = int(np.diff(warm, n=j - 1)[-1])
        x = seed + np.cumsum(x)
    return np.concatenate([warm, x])


def _restore_lpc(warm, res, qlp, shift: int) -> np.ndarray:
    """Run the LPC predictor over the residuals. Each prediction is one
    dot product of the reversed coefficients with a slice of the last
    ``order`` samples. A sample outside the 16-bit range fails the frame
    at once: corrupted coefficients would otherwise grow the samples
    past int64."""
    xs = list(warm)
    rq = qlp[::-1]
    order = len(qlp)
    for i, r in enumerate(res.tolist()):
        v = r + (sum(map(operator.mul, rq, xs[i:i + order])) >> shift)
        if not -32768 <= v <= 32767:
            raise ValueError("decoded samples out of 16-bit range")
        xs.append(v)
    return np.array(xs, np.int64)


def _decode_subframe(br: _BitReader, bs: int, bps: int) -> np.ndarray:
    hdr = br.read(8)
    if hdr & 0x80:
        raise ValueError("invalid subframe header padding bit")
    stype = (hdr >> 1) & 0x3F
    wasted = 0
    if hdr & 1:
        wasted = br.read_unary() + 1
    ebps = bps - wasted
    if ebps <= 0:
        raise ValueError("wasted bits exceed sample width")
    if stype == 0b000000:                       # CONSTANT
        x = np.full(bs, br.read_signed(ebps), np.int64)
    elif stype == 0b000001:                     # VERBATIM
        if wasted == 0 and ebps == 16 and br.pos % 8 == 0:
            # byte-aligned 16-bit payload (our encoder's fallback for
            # incompressible blocks): one vectorized frombuffer, not bs
            # bit-reader calls
            off = br.pos // 8
            raw = br.raw[off:off + 2 * bs]
            if len(raw) != 2 * bs:
                raise ValueError("truncated subframe data")
            x = np.frombuffer(raw, dtype=">i2").astype(np.int64)
            br.pos += 16 * bs
        else:
            x = br.read_signed_run(bs, ebps)
    elif 0b001000 <= stype <= 0b001100:         # FIXED order 0-4
        order = stype - 0b001000
        if order > bs:
            raise ValueError("predictor order exceeds blocksize")
        warm = br.read_signed_run(order, ebps)
        x = _restore_fixed(warm, _read_residual(br, bs, order), order)
    elif stype >= 0b100000:                     # LPC order 1-32
        order = stype - 0b100000 + 1
        if order > bs:
            raise ValueError("predictor order exceeds blocksize")
        warm = br.read_signed_run(order, ebps).tolist()
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid qlp precision code")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative qlp shift")
        qlp = br.read_signed_run(order, prec).tolist()
        x = _restore_lpc(warm, _read_residual(br, bs, order), qlp, shift)
    else:
        raise ValueError(f"reserved subframe type {stype:#08b}")
    return x << wasted if wasted else x


def flac_decode(b: bytes) -> tuple[int, np.ndarray]:
    """Decode a mono 16-bit FLAC stream -> (sr_hz, int16 samples):
    CONSTANT / VERBATIM / FIXED / LPC subframes, partitioned Rice
    residuals (both parameter widths + raw escape) and wasted bits,
    verifying sync patterns, both frame CRCs and the STREAMINFO MD5.
    Malformed containers raise ValueError; conformant multi-channel or
    non-16-bit streams raise NotImplementedError (engine subset)."""
    import hashlib
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos, sr, bps, total, md5 = 4, None, None, None, None
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated metadata")
        last, btype = b[pos] >> 7, b[pos] & 0x7F
        blen = int.from_bytes(b[pos + 1:pos + 4], "big")
        if btype == 0:
            si = b[pos + 4:pos + 4 + blen]
            if len(si) != 34:
                raise ValueError("bad STREAMINFO length")
            packed = int.from_bytes(si[10:18], "big")
            sr = packed >> 44
            ch = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            md5 = si[18:34]
        pos += 4 + blen
        if last:
            break
    if sr is None:
        raise ValueError("missing STREAMINFO")
    if ch != 1 or bps != 16:
        raise NotImplementedError(
            f"flac_decode subset is mono/16-bit (got {ch} ch, {bps} bps)")
    chunks = []
    br = _BitReader(b)  # one unpack for the whole stream; seek per frame
    try:
        frames_x = _flac_frames(b, pos, br, bps)
    except IndexError as exc:
        # any out-of-range byte access in the frame walk IS truncation —
        # keep the rows-not-failures error contract (ValueError only)
        raise ValueError("truncated FLAC stream") from exc
    chunks.extend(frames_x)
    x = np.concatenate(chunks) if chunks else np.array([], dtype="<i2")
    if total and len(x) != total:
        raise ValueError(f"sample count {len(x)} != STREAMINFO {total}")
    if md5 and md5 != bytes(16) and hashlib.md5(x.tobytes()).digest() != md5:
        raise ValueError("decoded samples fail STREAMINFO MD5")
    return sr, x


def _flac_frames(b: bytes, pos: int, br: "_BitReader", bps: int) -> list:
    chunks = []
    while pos < len(b):
        f0 = pos
        if b[pos] != 0xFF or (b[pos + 1] & 0xFC) != 0xF8:
            raise ValueError("lost frame sync")
        bs_code, sr_code = b[pos + 2] >> 4, b[pos + 2] & 0x0F
        ch_code, sz_code = b[pos + 3] >> 4, (b[pos + 3] >> 1) & 0x7
        _, pos = _utf8_decode(b, pos + 4)
        if bs_code == 0b0110:
            bs = b[pos] + 1
            pos += 1
        elif bs_code == 0b0111:
            bs = int.from_bytes(b[pos:pos + 2], "big") + 1
            pos += 2
        elif bs_code in (0b0001,):
            bs = 192
        elif 0b0010 <= bs_code <= 0b0101:
            bs = 576 << (bs_code - 2)
        elif 0b1000 <= bs_code <= 0b1111:
            bs = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved blocksize code")
        if sr_code not in (0,):  # we always defer to STREAMINFO
            if sr_code == 0b1100:
                pos += 1
            elif sr_code in (0b1101, 0b1110):
                pos += 2
        if _crc8(b[f0:pos]) != b[pos]:
            raise ValueError("frame header CRC-8 mismatch")
        # subset refusals only after the CRC vouches for the header —
        # a corrupted channel/sample-size nibble is corruption, not an
        # unsupported (but intact) stream
        if ch_code != 0 or sz_code != 0b100:
            raise NotImplementedError("frame outside mono/16-bit subset")
        pos += 1
        br.pos = pos * 8
        x = _decode_subframe(br, bs, bps)
        if np.any(x > 32767) or np.any(x < -32768):
            raise ValueError("decoded samples out of 16-bit range")
        chunks.append(x.astype("<i2"))
        pos = (br.pos + 7) // 8    # subframe padding closes the byte
        if pos + 2 > len(b):
            raise ValueError("truncated FLAC stream")
        if _crc16(b[f0:pos]) != int.from_bytes(b[pos:pos + 2], "big"):
            raise ValueError("frame CRC-16 mismatch")
        pos += 2
    return chunks


def flac_stub_bytes(i: int, sr_hz: int = 16000, audio_ms: int = 8) -> bytes:
    """Deterministic REAL FLAC payload for fixture clip ``i``: the same
    seeded sine+noise signal the WAV rows carry, losslessly wrapped by
    :func:`flac_encode` (historical name kept — earlier rounds emitted a
    magic-plus-noise stub because no encoder existed)."""
    n = max(16, int(sr_hz * audio_ms / 1000))
    return flac_encode(synth_pcm16(i, sr_hz, n), sr_hz)


# ---------------------------------------------------------------------------
# Ogg/Opus container (RFC 3533 pages + RFC 7845 OpusHead/OpusTags).
# The CONTAINER layer is real: page framing, lacing, CRC-32 generation
# and verification, OpusHead metadata, granule-position duration. Opus
# PACKET decode (SILK/CELT) needs a codec library the sandbox lacks —
# fixture audio packets are deterministic opaque bytes and
# transcode_payload keeps its documented NotImplementedError seam, but
# container validation / metadata consistency checks run for real.
# ---------------------------------------------------------------------------

_OGG_CRC_TABLE = _crc_table(0x04C11DB7, 32)


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32: poly 0x04C11DB7, init 0, not reflected, no
    final xor (RFC 3533 A.2) — NOT the zlib CRC."""
    return _crc_msb(data, _OGG_CRC_TABLE, 32)


def _ogg_page(header_type: int, granule: int, serial: int, seq: int,
              packets: list) -> bytes:
    segs = []
    for pkt in packets:
        n = len(pkt)
        while n >= 255:
            segs.append(255)
            n -= 255
        segs.append(n)   # terminating lacing value < 255 (0 is legal)
    if len(segs) > 255:
        raise ValueError("too many segments for one Ogg page")
    hdr = (b"OggS\x00" + bytes([header_type])
           + granule.to_bytes(8, "little", signed=True)
           + serial.to_bytes(4, "little") + seq.to_bytes(4, "little")
           + b"\x00\x00\x00\x00" + bytes([len(segs)]) + bytes(segs))
    page = hdr + b"".join(packets)
    crc = _ogg_crc(page)
    return page[:22] + crc.to_bytes(4, "little") + page[26:]


def ogg_opus_bytes(i: int, sr_hz: int = 16000, audio_ms: int = 8,
                   *, pre_skip: int = 312) -> bytes:
    """Deterministic CONFORMANT Ogg/Opus container for fixture clip
    ``i``: BOS page with a real OpusHead (mono, ``sr_hz`` as the input
    sample rate), an OpusTags page, and audio pages of opaque 20 ms
    packets whose final granule position encodes ``audio_ms`` at the
    Opus-mandated 48 kHz granule rate (plus pre-skip). Every page CRC
    is genuine. Packets are NOT real Opus frames (no encoder in the
    sandbox) — container checks validate, packet decode stays stubbed."""
    rng = np.random.default_rng(2042 + i)
    serial = int(rng.integers(0, 2 ** 32))
    head = (b"OpusHead" + bytes([1, 1]) + pre_skip.to_bytes(2, "little")
            + int(sr_hz).to_bytes(4, "little") + b"\x00\x00" + b"\x00")
    vendor = b"rlfs-spark-fixture"
    tags = (b"OpusTags" + len(vendor).to_bytes(4, "little") + vendor
            + (0).to_bytes(4, "little"))
    total_48k = int(audio_ms) * 48
    n_pkts = max(1, -(-total_48k // 960))          # 20 ms packets
    pages = [_ogg_page(0x02, 0, serial, 0, [head]),
             _ogg_page(0x00, 0, serial, 1, [tags])]
    seq = 2
    for p0 in range(0, n_pkts, 40):                # <=40 packets/page
        pkts = [bytes([0x68])
                + rng.integers(0, 256, 39, dtype=np.uint8).tobytes()
                for _ in range(min(40, n_pkts - p0))]
        is_last = p0 + 40 >= n_pkts
        granule = pre_skip + (total_48k if is_last
                              else min((p0 + 40) * 960, total_48k))
        pages.append(_ogg_page(0x04 if is_last else 0x00, granule,
                               serial, seq, pkts))
        seq += 1
    return b"".join(pages)


def opus_stub_bytes(i: int, sr_hz: int = 16000, audio_ms: int = 8) -> bytes:
    """Deterministic Ogg/Opus payload for fixture clip ``i`` (historical
    name kept — the container is conformant since round 3; packet decode
    remains the documented stub)."""
    return ogg_opus_bytes(i, sr_hz, audio_ms)


def ogg_pages(b: bytes):
    """Walk an Ogg stream, verifying sync, version, segment tables and
    every page CRC; yields (header_type, granule, serial, seq, payload).
    Any structural defect raises ValueError — corruption is corruption,
    never a silently-short page list."""
    pos, n = 0, len(b)
    while pos < n:
        if b[pos:pos + 4] != b"OggS":
            raise ValueError("lost Ogg page sync")
        if pos + 27 > n:
            raise ValueError("truncated Ogg page header")
        if b[pos + 4] != 0:
            raise ValueError("unsupported Ogg version")
        htype = b[pos + 5]
        granule = int.from_bytes(b[pos + 6:pos + 14], "little", signed=True)
        serial = int.from_bytes(b[pos + 14:pos + 18], "little")
        seq = int.from_bytes(b[pos + 18:pos + 22], "little")
        crc = int.from_bytes(b[pos + 22:pos + 26], "little")
        nseg = b[pos + 26]
        if pos + 27 + nseg > n:
            raise ValueError("truncated Ogg segment table")
        segs = b[pos + 27:pos + 27 + nseg]
        plen = sum(segs)
        end = pos + 27 + nseg + plen
        if end > n:
            raise ValueError("truncated Ogg page body")
        page = bytearray(b[pos:end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError("Ogg page CRC mismatch")
        yield htype, granule, serial, seq, b[pos + 27 + nseg:end]
        pos = end


def opus_meta(b: bytes) -> dict:
    """Parse + verify an Ogg/Opus container -> metadata dict with keys
    ``channels, pre_skip, input_sample_rate, output_gain,
    mapping_family, duration_ms, n_pages``. Duration comes from the
    last granule position minus pre-skip at the Opus-mandated 48 kHz
    granule rate. Raises ValueError on any structural defect (bad CRC,
    missing/short OpusHead, page sequence gap, no BOS)."""
    head, serial0, last_granule, seqs = None, None, None, []
    for htype, granule, serial, seq, payload in ogg_pages(b):
        if head is None:
            if not htype & 0x02:
                raise ValueError("first Ogg page is not BOS")
            if payload[:8] != b"OpusHead":
                raise ValueError("missing OpusHead packet")
            if len(payload) < 19:
                raise ValueError("short OpusHead packet")
            if payload[8] >> 4 != 0:
                raise ValueError("unsupported OpusHead major version")
            head = {
                "channels": payload[9],
                "pre_skip": int.from_bytes(payload[10:12], "little"),
                "input_sample_rate":
                    int.from_bytes(payload[12:16], "little"),
                "output_gain":
                    int.from_bytes(payload[16:18], "little", signed=True),
                "mapping_family": payload[18],
            }
            serial0 = serial
        elif serial != serial0:
            raise ValueError("multiplexed Ogg streams unsupported")
        seqs.append(seq)
        if granule > 0:
            last_granule = granule
    if head is None:
        raise ValueError("empty Ogg stream")
    if seqs != list(range(len(seqs))):
        raise ValueError("Ogg page sequence gap")
    dur48 = max(0, (last_granule or 0) - head["pre_skip"])
    head["duration_ms"] = int(round(dur48 * 1000.0 / 48000.0))
    head["n_pages"] = len(seqs)
    return head


# Opus packet layer (RFC 6716 §3): TOC parse + frame unpacking for all
# four codes, CBR/VBR, padding. This layer is REAL and spec-complete;
# what stays refused is the SILK/CELT ENTROPY decode inside non-empty
# frames (range decoder + the RFC 6716 appendix codebook corpus — see
# the spike record in SURVEY.md §7). Zero-length frames are DTX and
# decode to silence per §4.1, so DTX-only streams decode end-to-end.

_OPUS_FRAME_MS = {}
for _cfg in range(32):
    if _cfg < 12:                      # SILK-only NB/MB/WB
        _OPUS_FRAME_MS[_cfg] = (10.0, 20.0, 40.0, 60.0)[_cfg % 4]
    elif _cfg < 16:                    # Hybrid SWB/FB
        _OPUS_FRAME_MS[_cfg] = (10.0, 20.0)[_cfg % 2]
    else:                              # CELT-only NB/WB/SWB/FB
        _OPUS_FRAME_MS[_cfg] = (2.5, 5.0, 10.0, 20.0)[(_cfg - 16) % 4]

_OPUS_MODE = (["SILK"] * 12) + (["Hybrid"] * 4) + (["CELT"] * 16)


def _opus_frame_len(b: bytes, pos: int):
    """RFC 6716 §3.2.1 frame-length coding: returns (length, new_pos)."""
    if pos >= len(b):
        raise ValueError("truncated Opus frame length")
    v = b[pos]
    if v < 252:
        return v, pos + 1
    if pos + 1 >= len(b):
        raise ValueError("truncated Opus frame length (2-byte form)")
    return b[pos + 1] * 4 + v, pos + 2


def opus_packet_frames(pkt: bytes) -> dict:
    """Parse one Opus packet -> {config, mode, stereo, frame_ms,
    frames: [bytes, ...]} per RFC 6716 §3.1-3.2 (all four codes, CBR and
    VBR, padding). Raises ValueError on every malformed packing the RFC
    rejects (R1-R7): empty packet, odd code-1 length, VBR lengths
    overrunning the payload, >120 ms of audio, zero frame count."""
    if not pkt:
        raise ValueError("empty Opus packet")
    toc = pkt[0]
    config, stereo, code = toc >> 3, bool(toc & 0x4), toc & 0x3
    frame_ms = _OPUS_FRAME_MS[config]
    body = pkt[1:]
    frames: list[bytes] = []
    if code == 0:
        frames = [body]
    elif code == 1:
        if len(body) % 2:
            raise ValueError("code-1 packet with odd payload length")
        h = len(body) // 2
        frames = [body[:h], body[h:]]
    elif code == 2:
        n1, pos = _opus_frame_len(body, 0)
        if pos + n1 > len(body):
            raise ValueError("code-2 first frame overruns packet")
        frames = [body[pos:pos + n1], body[pos + n1:]]
    else:
        if not body:
            raise ValueError("code-3 packet without frame-count byte")
        vbr, padded, m = bool(body[0] & 0x80), bool(body[0] & 0x40), \
            body[0] & 0x3F
        if m == 0:
            raise ValueError("code-3 packet with zero frames")
        pos = 1
        pad = 0
        if padded:
            while True:
                if pos >= len(body):
                    raise ValueError("truncated Opus padding count")
                v = body[pos]
                pos += 1
                pad += 254 if v == 255 else v
                if v != 255:
                    break
        payload_end = len(body) - pad
        if payload_end < pos:
            raise ValueError("Opus padding overruns packet")
        if vbr:
            lens = []
            for _ in range(m - 1):
                ln, pos = _opus_frame_len(body, pos)
                lens.append(ln)
            rest = payload_end - pos - sum(lens)
            if rest < 0:
                raise ValueError("VBR frame lengths overrun packet")
            lens.append(rest)
            for ln in lens:
                frames.append(body[pos:pos + ln])
                pos += ln
        else:
            total = payload_end - pos
            if total % m:
                raise ValueError("CBR payload not divisible by count")
            ln = total // m
            for _ in range(m):
                frames.append(body[pos:pos + ln])
                pos += ln
    if len(frames) * frame_ms > 120.0:
        raise ValueError("Opus packet exceeds 120 ms")
    return {"config": config, "mode": _OPUS_MODE[config],
            "stereo": stereo, "frame_ms": frame_ms, "frames": frames}


def opus_decode(b: bytes) -> tuple[int, np.ndarray]:
    """Ogg/Opus container -> (48000, int16 mono PCM) for the decodable
    subset: every frame must be zero-length DTX (silence per RFC 6716
    §4.1 — the conformant PLC output). The container walk (CRC, page
    sequence, OpusHead) and the packet-layer frame unpacking are full
    RFC 3533/7845/6716-§3 implementations; a non-empty SILK/CELT frame
    raises NotImplementedError (entropy decode — SURVEY.md §7 spike).
    Output honors pre-skip and the final granule position exactly as a
    real decoder would (trim, then clamp)."""
    meta = opus_meta(b)       # full structural validation first
    if meta["channels"] != 1:
        raise NotImplementedError("opus_decode: mono subset only")
    total = 0
    for seq, pkts in _ogg_pages_packets(b):
        for pkt in pkts:
            if pkt[:8] in (b"OpusHead", b"OpusTags"):
                continue
            info = opus_packet_frames(pkt)
            for fr in info["frames"]:
                if len(fr):
                    raise NotImplementedError(
                        "opus_decode: non-DTX frame needs SILK/CELT "
                        "entropy decode (see SURVEY.md §7 spike)")
                total += int(round(info["frame_ms"] * 48))
    n_out = max(0, min(total - meta["pre_skip"],
                       int(round(meta["duration_ms"] * 48.0))))
    return 48000, np.zeros(n_out, dtype=np.int16)


def _ogg_pages_packets(b: bytes):
    """One pass over the stream yielding (page_seq, [packets]) with
    packets split per the segment lacing table (RFC 3533 §6) — the
    packet-level sibling of :func:`ogg_pages` (which joins a page's
    payload). A packet continued across pages (lacing table ending at
    255) raises — absent from the fixture subset."""
    pos, n = 0, len(b)
    while pos < n:
        nseg = b[pos + 26]
        segs = b[pos + 27:pos + 27 + nseg]
        body = pos + 27 + nseg
        seq = int.from_bytes(b[pos + 18:pos + 22], "little")
        pkts, cur = [], bytearray()
        off = body
        for s in segs:
            cur += b[off:off + s]
            off += s
            if s < 255:
                pkts.append(bytes(cur))
                cur = bytearray()
        if cur:
            raise ValueError("packet continued across pages "
                             "(unsupported in the fixture subset)")
        yield seq, pkts
        pos = off


OPUS_PACKET_STATS_SCHEMA = (
    "clip_id string, container_ok boolean, n_packets long, n_frames long, "
    "dtx_frames long, dtx_fraction double, audio_ms double, mode string, "
    "stereo_any boolean, mean_packet_bytes double, est_bitrate_bps double, "
    "err string")


def opus_packet_stats(clips, *, id_col: str = "clip_id",
                      bytes_col: str = "bytes"):
    """Per-clip Opus PACKET-layer statistics — dead-air and bitrate
    triage WITHOUT entropy decode: (n_packets, n_frames, dtx_frames,
    dtx_fraction, audio_ms, dominant mode, stereo_any,
    mean_packet_bytes, est_bitrate_bps).

    The scale rationale: a 10^12-clip ASR corpus cannot afford a full
    decode to find effectively-silent clips, but DTX fraction is
    visible in the TOC/frame lengths alone (RFC 6716 §3 — the layer
    :func:`opus_packet_frames` implements in full), so this is a
    header-walk-priced scan over the payload column. Malformed
    containers/packets land as container_ok=false rows with the reason
    (the decode_stats convention), never an erroring task. Map-only
    Arrow stage; payloads never shuffle."""

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b in zip(pdf[id_col], pdf[bytes_col]):
                raw = bytes(b) if b is not None else b""
                try:
                    opus_meta(raw)   # CRC + structure first
                    n_pkts = n_frames = dtx = 0
                    total_ms = 0.0
                    payload_bytes = 0
                    modes: dict = {}
                    stereo_any = False
                    for _seq, pkts in _ogg_pages_packets(raw):
                        for pkt in pkts:
                            if pkt[:8] in (b"OpusHead", b"OpusTags"):
                                continue
                            info = opus_packet_frames(pkt)
                            n_pkts += 1
                            payload_bytes += len(pkt)
                            stereo_any |= info["stereo"]
                            m = info["mode"]
                            for fr in info["frames"]:
                                n_frames += 1
                                dtx += not len(fr)
                                total_ms += info["frame_ms"]
                                modes[m] = modes.get(m, 0) + 1
                    mode = (max(sorted(modes), key=modes.get)
                            if modes else None)
                    rows.append((
                        cid, True, n_pkts, n_frames, dtx,
                        (dtx / n_frames) if n_frames else None,
                        total_ms, mode, stereo_any,
                        (payload_bytes / n_pkts) if n_pkts else None,
                        (payload_bytes * 8000.0 / total_ms)
                        if total_ms else None, None))
                except (ValueError, NotImplementedError) as exc:
                    rows.append((cid, False, None, None, None, None,
                                 None, None, None, None, None,
                                 f"{type(exc).__name__}: {exc}"[:160]))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "container_ok", "n_packets", "n_frames",
                "dtx_frames", "dtx_fraction", "audio_ms", "mode",
                "stereo_any", "mean_packet_bytes", "est_bitrate_bps",
                "err"])

    return clips.select(F.col(id_col).alias(id_col),
                        F.col(bytes_col).alias(bytes_col)) \
        .mapInPandas(fn, schema=OPUS_PACKET_STATS_SCHEMA)


def dtx_violations(clips, *, max_dtx_fraction: float = 0.5,
                   ruleset_name: str = "engine",
                   severity: str = "warning"):
    """Dead-air gate over the packet layer: opus clips whose DTX frame
    fraction exceeds ``max_dtx_fraction`` are effectively silence —
    flagged without decoding a single sample (the voiced_content
    check's packet-layer sibling for compressed payloads). Clips with
    no frames or a broken container never violate here (the decode
    guard's business)."""
    if not 0 <= max_dtx_fraction < 1:
        raise ValueError("max_dtx_fraction must be in [0, 1)")
    est = opus_packet_stats(clips)
    bad = est.where(F.col("container_ok")
                    & F.col("dtx_fraction").isNotNull()
                    & (F.col("dtx_fraction")
                       > F.lit(float(max_dtx_fraction))))
    return violation_rows(
        bad, row_id=F.col("clip_id"), constraint_id="dtx:bytes",
        keyword="x-dtx", instance_path="/bytes", schema_path="#/x-dtx",
        message=F.concat(
            F.lit("Must carry speech, not dead air: "),
            F.round(F.col("dtx_fraction") * 100, 1).cast("string"),
            F.lit(f"% of frames are DTX silence (limit "
                  f"{max_dtx_fraction * 100:g}%)")),
        actual=F.round("dtx_fraction", 4),
        expected=[f"<= {max_dtx_fraction:g}"], ruleset_name=ruleset_name,
        severity=severity)


def ogg_opus_silence_bytes(i: int, sr_hz: int = 16000,
                           audio_ms: int = 8, *,
                           pre_skip: int = 0) -> bytes:
    """Deterministic CONFORMANT Ogg/Opus container whose audio packets
    are 1-byte DTX packets (TOC config 9 = SILK WB 20 ms, code 0,
    zero-length frame): fully DECODABLE by :func:`opus_decode` — the
    stream a real encoder emits for sustained silence with DTX on."""
    rng = np.random.default_rng(2042 + i)
    serial = int(rng.integers(0, 2 ** 32))
    head = (b"OpusHead" + bytes([1, 1]) + pre_skip.to_bytes(2, "little")
            + int(sr_hz).to_bytes(4, "little") + b"\x00\x00" + b"\x00")
    vendor = b"rlfs-spark-fixture"
    tags = (b"OpusTags" + len(vendor).to_bytes(4, "little") + vendor
            + (0).to_bytes(4, "little"))
    total_48k = int(audio_ms) * 48
    # packets must cover the priming samples too: a real encoder emits
    # pre_skip extra samples ahead of the audio (RFC 7845 §4.2)
    n_pkts = max(1, -(-(total_48k + pre_skip) // 960))   # 20 ms packets
    pages = [_ogg_page(0x02, 0, serial, 0, [head]),
             _ogg_page(0x00, 0, serial, 1, [tags])]
    seq = 2
    end_granule = pre_skip + total_48k
    for p0 in range(0, n_pkts, 40):
        pkts = [bytes([0x48]) for _ in range(min(40, n_pkts - p0))]
        is_last = p0 + 40 >= n_pkts
        granule = (end_granule if is_last
                   else min((p0 + 40) * 960, end_granule))
        pages.append(_ogg_page(0x04 if is_last else 0x00, granule,
                               serial, seq, pkts))
        seq += 1
    return b"".join(pages)


def flac_streaminfo(b: bytes) -> dict:
    """Parse ONLY the FLAC metadata blocks -> {sr_hz, channels, bps,
    total_samples, md5} — no frame decode, so duration checks on FLAC
    cost a header walk, not a full entropy decode."""
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos, out = 4, None
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated metadata")
        last, btype = b[pos] >> 7, b[pos] & 0x7F
        blen = int.from_bytes(b[pos + 1:pos + 4], "big")
        if btype == 0:
            si = b[pos + 4:pos + 4 + blen]
            if len(si) != 34:
                raise ValueError("bad STREAMINFO length")
            packed = int.from_bytes(si[10:18], "big")
            out = {"sr_hz": packed >> 44,
                   "channels": ((packed >> 41) & 0x7) + 1,
                   "bps": ((packed >> 36) & 0x1F) + 1,
                   "total_samples": packed & ((1 << 36) - 1),
                   "md5": si[18:34]}
        pos += 4 + blen
        if last:
            break
    if out is None:
        raise ValueError("missing STREAMINFO")
    return out


def payload_duration_ms_batch(b: pd.Series) -> pd.Series:
    """Container-derived duration in ms per payload, across every codec
    the engine knows, each by its CHEAPEST authoritative route: WAV
    header-only metadata walk (fact chunk / frame math — covers PCM16,
    G.711 mu/A-law and IMA ADPCM without touching sample data), FLAC
    STREAMINFO total_samples (header only, no frame decode), Ogg/Opus
    final granule position at 48 kHz (CRC-verified page walk), MP3
    frame-header lattice walk (4 bytes read per frame, payloads skipped
    by length math; Xing/VBRI counts cross-checked).
    Unrecognized / malformed payloads -> NaN."""
    from .pcm_codecs import wav_info
    out = []
    for v in b:
        raw = bytes(v) if v is not None else b""
        try:
            if raw[:4] == b"RIFF":
                wi = wav_info(raw)
                out.append(wi["n_samples"] * 1000.0 / wi["sr_hz"]
                           if wi["sr_hz"] else float("nan"))
            elif raw[:4] == b"fLaC":
                si = flac_streaminfo(raw)
                out.append(si["total_samples"] * 1000.0 / si["sr_hz"]
                           if si["sr_hz"] else float("nan"))
            elif raw[:4] == b"OggS":
                out.append(float(opus_meta(raw)["duration_ms"]))
            elif raw[:3] == b"ID3" or (
                    len(raw) >= 2 and raw[0] == 0xFF
                    and raw[1] & 0xE0 == 0xE0):
                from .mp3 import mp3_info
                out.append(float(mp3_info(raw)["duration_ms"]))
            else:
                out.append(float("nan"))
        except (ValueError, NotImplementedError, IndexError):
            out.append(float("nan"))
    return pd.Series(out, dtype="float64")


def duration_consistent_check(tolerance_ms: int = 5,
                              dur_col: str = "dur_ms"):
    """Factory for an ``x-spark-check`` callable: True iff the payload's
    container-derived duration matches the declared ``dur_col`` within
    ``tolerance_ms`` — works for WAV, FLAC and Ogg/Opus payloads alike
    (see :func:`payload_duration_ms_batch`). Undecodable payloads fail."""
    @pandas_udf(BooleanType())
    def ok(b: pd.Series, declared: pd.Series) -> pd.Series:
        got = payload_duration_ms_batch(b)
        return (got - declared.astype("float64")).abs() <= tolerance_ms

    return lambda col: ok(col, F.col(dur_col))


def opus_container_ok_batch(b: pd.Series) -> pd.Series:
    """True iff the payload is a structurally valid Ogg/Opus container
    (Arrow batch; per-value container walks, no per-row UDF dispatch)."""
    out = []
    for v in b:
        try:
            opus_meta(bytes(v) if v is not None else b"")
            out.append(True)
        except ValueError:
            out.append(False)
    return pd.Series(out, dtype="bool")


@pandas_udf(BooleanType())
def opus_container_ok(b: pd.Series) -> pd.Series:
    return opus_container_ok_batch(b)


@pandas_udf(BooleanType())
def opus_consistent_ok(b: pd.Series, sr_hz: pd.Series) -> pd.Series:
    """Container parses (CRC-verified) AND is mono AND its OpusHead
    input sample rate equals the declared sr_hz column — the row-level
    DSL form of opus_consistency_violations' non-duration invariants
    (duration has its own cross-codec check, duration_consistent)."""
    out = []
    for v, sr in zip(b, sr_hz):
        try:
            m = opus_meta(bytes(v) if v is not None else b"")
            out.append(m["channels"] == 1
                       and sr is not None
                       and m["input_sample_rate"] == int(sr))
        except ValueError:
            out.append(False)
    return pd.Series(out, dtype="bool")


def opus_meta_df(clips, *, passthrough: tuple = ()):
    """clips(clip_id, bytes) -> per-clip Ogg/Opus metadata DataFrame
    (container_ok, channels, pre_skip, input_sample_rate, duration_ms
    from granule positions, n_pages), map-only; malformed containers
    become container_ok=false rows, never job failures. ``passthrough``
    columns ride along for cross-field consistency checks (declared
    sr_hz / dur_ms vs container metadata) without a join."""
    pt_ddl = "".join(
        f", {c} {clips.schema[c].dataType.simpleString()}"
        for c in passthrough)
    # input_sample_rate is an UNSIGNED 32-bit OpusHead field and
    # duration derives from a signed 64-bit granule — both need long, or
    # Arrow silently wraps hostile-but-CRC-valid metadata into garbage
    schema = ("clip_id string, container_ok boolean, channels int, "
              "pre_skip int, input_sample_rate long, duration_ms long, "
              "n_pages int" + pt_ddl)

    def fn(iterator):
        for pdf in iterator:
            extras_cols = [pdf[c] for c in passthrough]
            rows = []
            for cid, v, *extras in zip(pdf["clip_id"], pdf["bytes"],
                                       *extras_cols):
                try:
                    m = opus_meta(bytes(v) if v is not None else b"")
                    rows.append((cid, True, m["channels"], m["pre_skip"],
                                 m["input_sample_rate"], m["duration_ms"],
                                 m["n_pages"], *extras))
                except ValueError:
                    rows.append((cid, False, None, None, None, None,
                                 None, *extras))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "container_ok", "channels", "pre_skip",
                "input_sample_rate", "duration_ms", "n_pages",
                *passthrough])

    return clips.select("clip_id", "bytes", *passthrough) \
        .mapInPandas(fn, schema=schema)


def opus_consistency_violations(clips, *, tolerance_ms: int = 5,
                                ruleset_name: str = "engine"):
    """Cross-field invariants for ``codec='opus'`` rows: the container
    must parse (CRC-verified), be mono, declare the table's ``sr_hz``
    as its input sample rate, and its granule-position duration must
    match the declared ``dur_ms`` within ``tolerance_ms``. Single
    map-only scan (sr_hz/dur_ms ride through as passthrough columns);
    same violation row shape as the DSL compiler emits."""
    m = opus_meta_df(clips.where(F.col("codec") == "opus"),
                     passthrough=("sr_hz", "dur_ms"))
    # null-safe: a NULL declared sr_hz/dur_ms is missing metadata and
    # must FLAG, not vanish into three-valued logic (the row-level
    # opus_consistent check fails those rows too)
    sr_bad = ~F.col("input_sample_rate").eqNullSafe(
        F.col("sr_hz").cast("long"))
    dur_bad = (F.col("dur_ms").isNull()
               | (F.abs(F.col("duration_ms") - F.col("dur_ms"))
                  > F.lit(tolerance_ms)))
    bad = m.where((~F.col("container_ok"))
                  | (F.col("channels") != 1)
                  | sr_bad | dur_bad)
    kw = (F.when(~F.col("container_ok"), F.lit("x-opus-container"))
           .when(F.col("channels") != 1, F.lit("x-opus-channels"))
           .when(sr_bad, F.lit("x-opus-sr"))
           .otherwise(F.lit("x-opus-duration")))
    msg = (F.when(~F.col("container_ok"),
                  F.lit("Must be a valid Ogg/Opus container"))
            .when(F.col("channels") != 1, F.lit("Must be mono"))
            .when(sr_bad,
                  F.lit("Must declare sr_hz as the OpusHead input "
                        "sample rate"))
            .otherwise(F.lit(
                f"Must match container duration within {tolerance_ms} "
                "ms")))
    actual = (F.when(~F.col("container_ok"), F.lit(None).cast("string"))
               .when(F.col("channels") != 1,
                     F.col("channels").cast("string"))
               .when(sr_bad, F.col("input_sample_rate").cast("string"))
               .otherwise(F.col("duration_ms").cast("string")))
    return violation_rows(
        bad, row_id=F.col("clip_id"),
        constraint_id=F.concat(kw, F.lit(":bytes")), keyword=kw,
        instance_path="/bytes", schema_path="#/x-opus", message=msg,
        actual=actual, ruleset_name=ruleset_name, severity="warning")


def decode_wav_pcm16(b: bytes) -> tuple[int, np.ndarray]:
    """Parse a PCM16 WAV -> (sample_rate, mono float samples in [-1,1)).

    The container walk is :func:`.pcm_codecs._walk_wav` (any chunk
    order, LIST/cue chunks skipped, odd-size pad bytes honored per
    RIFF, a ``fact`` sample count honored); any PCM16 channel count is accepted and downmixed to mono by
    channel mean, the canonical training-corpus representation. Only
    plain format 1 (integer PCM) at 16 bits is decoded here: every other
    encoding, a WAVE_FORMAT_EXTENSIBLE wrapper included, raises like any
    other malformed container (:func:`.pcm_codecs.decode_wav_extended`
    decodes those).

    Raises ValueError on malformed containers — callers turn that into a
    ``decode`` violation row, never a job failure (the reference's
    YAML-parse guard, index.ts:240-245)."""
    info = _walk_wav(b)
    if not _is_plain_pcm16(info):
        raise ValueError("not integer PCM16")
    x = _decode_int_pcm(info["raw"], 16, info["n_ch"])
    # a fact chunk caps the sample count, as at every other bit depth
    # (decode_wav_extended, wav_info); without one every frame is kept
    return info["sr"], x[: info["fact"]]


def decode_payload_any(b: bytes) -> tuple[int, np.ndarray]:
    """Decode ANY engine-decodable payload -> (sr, mono float in [-1,1)):
    the WAV family at every supported fmt tag (one
    :func:`.pcm_codecs.decode_wav_extended` call: PCM16, G.711, IMA
    ADPCM, wide/float PCM and EXTENSIBLE wrappers) and FLAC. This is the
    decode entry point every payload OPERATOR uses (features, VAD,
    fingerprints, loudness, augmentation, chunking), so a mixed-codec
    corpus needs no transcode materialization pass before analysis —
    round 2 required ``transcode_clips`` first; round 3 decodes in place.

    Ogg/Opus and MP3 raise ValueError like any undecodable container
    (entropy decode is the documented sandbox seam): compressed rows
    surface as NULL/absent features in the ops' artifact rows, never as
    task failures."""
    if b[:4] == b"fLaC":
        try:
            sr, pcm = flac_decode(b)
        except NotImplementedError as exc:   # conformant, outside subset
            raise ValueError(str(exc)) from exc
        return sr, pcm.astype(np.float64) / 32767.0
    if b[:4] == b"RIFF":
        try:
            return decode_wav_extended(b)
        except NotImplementedError as exc:
            raise ValueError(str(exc)) from exc
    raise ValueError("payload is not an engine-decodable container")


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """SNR of decoded against the clean reference signal."""
    m = min(len(reference), len(decoded))
    if m == 0:
        return float("-inf")
    ref, dec = reference[:m], decoded[:m]
    noise = dec - ref
    p_sig = float(np.mean(ref**2))
    p_noise = float(np.mean(noise**2))
    if p_noise == 0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_noise)


@lru_cache(maxsize=64)
def _polyphase_table(sr_in: int, sr_out: int, taps: int):
    """(L, M, k, weights): the polyphase decomposition of the windowed
    sinc. Output position j sits at input offset j*M/L (L = sr_out/gcd,
    M = sr_in/gcd), so its fractional part — the only thing the weight
    row depends on — cycles with period L: L rows of ``taps`` weights
    cover EVERY output sample of every clip at this rate pair. Computing
    sinc+Hann once per (rate pair, phase) instead of once per output
    sample is what makes the resampler throughput-viable (measured 10x
    on the 2M-clip scaling corpus: the transcendentals dominated)."""
    g = math.gcd(sr_in, sr_out)
    L, M = sr_out // g, sr_in // g
    half = taps // 2
    k = np.arange(-half + 1, half + 1)
    frac = (np.arange(L) * M % L) / L
    u = k[None, :] - frac[:, None]
    fc = min(1.0, sr_out / sr_in)                    # of input Nyquist
    w = fc * np.sinc(fc * u) * (0.5 + 0.5 * np.cos(np.pi * u / half))
    w /= w.sum(axis=1, keepdims=True)                # DC-exact interior rows
    return L, M, k, w


def resample_sinc(x: np.ndarray, sr_in: int, sr_out: int, *,
                  taps: int = 32) -> np.ndarray:
    """Windowed-sinc sample-rate conversion (Hann window, polyphase weight
    table, per-output-sample edge renormalization), fully vectorized
    numpy — the canonicalization primitive that brings a mixed-rate
    corpus to one training rate.

    The sinc cutoff is ``min(sr_in, sr_out)/2``, so downsampling applies
    the anti-alias low-pass a naive interpolator skips; weight rows sum
    to 1, which preserves DC exactly and keeps the edge samples (where
    the tap window is truncated) unbiased. Weights come from the cached
    :func:`_polyphase_table` — per clip only the gather + dot remain,
    O(n_out x taps) — at training-clip lengths (seconds) that is a few
    MB per payload inside one Arrow batch, never a shuffle."""
    if len(x) == 0:
        return x.astype(np.float64, copy=True)
    if sr_in == sr_out:
        return x.astype(np.float64, copy=True)
    if sr_in <= 0 or sr_out <= 0:
        raise ValueError("sample rates must be positive")
    L, M, k, phases = _polyphase_table(sr_in, sr_out, taps)
    n_out = max(1, int(round(len(x) * sr_out / sr_in)))
    j = np.arange(n_out)
    base = j * M // L
    w = phases[j % L]                                # fancy-index: a copy
    idx = base[:, None] + k[None, :]
    half = taps // 2
    edge = (base < half) | (base > len(x) - half - 1)
    if edge.any():
        ei = np.where(edge)[0]
        valid = (idx[ei] >= 0) & (idx[ei] < len(x))
        ew = np.where(valid, w[ei], 0.0)
        s = ew.sum(axis=1, keepdims=True)
        w[ei] = np.divide(ew, s, out=np.zeros_like(ew), where=s != 0)
        idx = np.clip(idx, 0, len(x) - 1)
    return np.einsum("ij,ij->i", x[idx], w)


# ---------------------------------------------------------------------------
# ITU-R BS.1770-4 integrated loudness (LUFS) — the broadcast/speech
# loudness measure, re-derived from the published spec: K-weighting
# (high-shelf + high-pass biquads, coefficients re-computed for ANY
# sample rate via the bilinear transform; the spec's 48 kHz table is a
# pinned test case), 400 ms blocks at 75% overlap, -70 LUFS absolute
# gate then -10 LU relative gate. Mono (channel weight 1.0) — the
# engine's clip tables are mono PCM16.
# ---------------------------------------------------------------------------


def _kweight_sections(fs: float):
    """K-weighting filter cascade for sample rate ``fs`` -> two (b, a)
    biquad coefficient triples (stage 1 high shelf, stage 2 high pass).
    At fs=48000 these reproduce the BS.1770-4 published table to 1e-6
    (pinned in tests). The analog prototype parameters (f0/G/Q) are the
    public re-derivation of the spec's 48 kHz table."""
    import math
    f0, gain_db, q = 1681.974450955533, 3.999843853973347, 0.7071752369554196
    k = math.tan(math.pi * f0 / fs)
    vh = 10.0 ** (gain_db / 20.0)
    vb = vh ** 0.4996667741545416
    a0 = 1.0 + k / q + k * k
    shelf = ((vh + vb * k / q + k * k) / a0,
             2.0 * (k * k - vh) / a0,
             (vh - vb * k / q + k * k) / a0), \
            (1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / q + k * k) / a0)
    f0, q = 38.13547087602444, 0.5003270373238773
    k = math.tan(math.pi * f0 / fs)
    a0 = 1.0 + k / q + k * k
    highpass = (1.0, -2.0, 1.0), \
               (1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / q + k * k) / a0)
    return shelf, highpass


def _iir1_chunked(x: np.ndarray, p: complex,
                  block: int | None = None) -> np.ndarray:
    """First-order recursion y[n] = x[n] + p*y[n-1], vectorized: within
    each block, y[j] = p^j * cumsum(x[k] * p^-k) + p^(j+1) * carry. The
    p^-k weights grow as |p|^-block, so the block size is chosen to keep
    |p|^-block under ~1e260 (overflow margin) while the final p^j
    rescale keeps per-sample relative error at machine epsilon (error
    from term k enters y[j] scaled by |p|^(j-k) <= 1) — poles near the
    unit circle (the common IIR case) get blocks of thousands, so the
    scan is a handful of cumsum calls per clip, not one per 64 samples."""
    import math
    n = len(x)
    y = np.empty(n, dtype=complex)
    if n == 0:
        return y
    ap = abs(p)
    if ap < 1e-3:
        # negligible feedback: one explicit convolution term suffices
        y[:] = x
        if n > 1:
            y[1:] += p * x[:-1]
        if n > 2:
            y[2:] += (p * p) * x[:-2]
        return y
    if block is None:
        block = max(32, min(32768, int(
            260.0 / max(0.005, -math.log10(min(ap, 0.9999))))))
    block = min(block, n)
    carry = 0.0 + 0.0j
    one = np.ones(1, dtype=complex)
    # p^j / p^-j via cumprod (vectorized multiplies; complex ** is ~20x
    # slower per element), built once and reused across equal blocks
    pj = np.concatenate((one, np.cumprod(np.full(block - 1, p)))) \
        if block > 1 else one.copy()
    pinv = np.concatenate((one, np.cumprod(np.full(block - 1, 1.0 / p)))) \
        if block > 1 else one.copy()
    for s in range(0, n, block):
        seg = x[s:s + block]
        m = len(seg)
        c = np.cumsum(seg * pinv[:m])
        blk = pj[:m] * c + pj[:m] * p * carry
        y[s:s + m] = blk
        carry = blk[-1]
    return y


def _biquad(x: np.ndarray, b, a) -> np.ndarray:
    """Direct-form biquad, vectorized: FIR part by shifted adds, the
    1/A(z) feedback as a cascade of two complex first-order recursions
    through the poles of z^2 + a1*z + a2 (conjugate cascade keeps the
    result real to rounding). Pure numpy — no scipy in the sandbox."""
    b0, b1, b2 = b
    a1, a2 = a[1], a[2]
    v = b0 * x.astype(np.float64)
    if len(x) > 1:
        v[1:] += b1 * x[:-1]
    if len(x) > 2:
        v[2:] += b2 * x[:-2]
    disc = complex(a1 * a1 - 4.0 * a2) ** 0.5
    p1, p2 = (-a1 + disc) / 2.0, (-a1 - disc) / 2.0
    return _iir1_chunked(_iir1_chunked(v.astype(complex), p1), p2).real


def k_weight(x: np.ndarray, sr: int) -> np.ndarray:
    """Apply the BS.1770 K-weighting cascade at sample rate ``sr``."""
    shelf, hp = _kweight_sections(float(sr))
    return _biquad(_biquad(x, *shelf), *hp)


def integrated_lufs(x: np.ndarray, sr: int) -> float | None:
    """BS.1770-4 integrated loudness of mono float samples in [-1, 1).

    Returns None for empty input or when every block is gated out (true
    digital silence has no loudness). Clips shorter than one 400 ms
    gating block are measured as a single whole-clip block — a
    documented deviation (the spec leaves sub-block programs undefined;
    utterance-fragment corpora need a number, not a NULL).
    """
    if sr <= 0 or len(x) == 0:
        return None
    kx = k_weight(np.asarray(x, np.float64), sr)
    block = max(1, int(round(sr * 0.400)))
    hop = max(1, int(round(sr * 0.100)))
    e = np.concatenate(([0.0], np.cumsum(kx * kx)))
    if len(kx) < block:
        powers = np.array([e[-1] / len(kx)])
    else:
        starts = np.arange(0, len(kx) - block + 1, hop)
        powers = (e[starts + block] - e[starts]) / block
    loud = -0.691 + 10.0 * np.log10(np.maximum(powers, 1e-30))
    kept = powers[loud > -70.0]
    if not len(kept):
        return None
    rel = -0.691 + 10.0 * np.log10(kept.mean()) - 10.0
    kept = kept[(-0.691 + 10.0 * np.log10(np.maximum(kept, 1e-30))) > rel]
    if not len(kept):
        return None
    return float(-0.691 + 10.0 * np.log10(kept.mean()))


def lufs_batch(b: pd.Series) -> pd.Series:
    """Integrated LUFS per WAV payload (Arrow batch; malformed -> NaN)."""
    out = []
    for v in b:
        try:
            sr, x = decode_payload_any(bytes(v) if v is not None else b"")
            lufs = integrated_lufs(x, sr)
            out.append(float("nan") if lufs is None else lufs)
        except ValueError:
            out.append(float("nan"))
    return pd.Series(out, dtype="float64")


def loudness_in_range_check(min_lufs: float = -38.0,
                            max_lufs: float = -8.0):
    """Factory for an ``x-spark-check`` callable: True iff the payload
    decodes and its integrated loudness sits in [min_lufs, max_lufs]
    (defaults bracket normally-recorded speech; studio programs target
    around -23 to -16 LUFS). Register under any name via the
    ``extra_checks`` dict for custom ranges."""
    @pandas_udf(BooleanType())
    def ok(b: pd.Series) -> pd.Series:
        lufs = lufs_batch(b)
        return (lufs >= min_lufs) & (lufs <= max_lufs)

    return lambda col: ok(col)


# ---------------------------------------------------------------------------
# vectorized header checks (Arrow-batched; the U3 operator of SURVEY.md §2.8)
# ---------------------------------------------------------------------------

def _slice_eq(s: pd.Series, lo: int, hi: int, magic: bytes) -> pd.Series:
    # astype(bool): bytes-Series comparison yields OBJECT dtype, which
    # would propagate through every `&` and make masked assignment into
    # a bool Series upcast (pandas 2.x FutureWarning, 3.x error)
    return (s.str.slice(lo, hi) == magic).astype(bool)


def _le_u32(s: pd.Series, off: int) -> pd.Series:
    """Vectorized little-endian u32 at byte offset ``off`` for each value.

    One concatenated buffer + one np.frombuffer per batch; rows too short
    yield -1 (caller treats as mismatch)."""
    sl = s.str.slice(off, off + 4)
    ok = sl.str.len() == 4
    if not ok.any():
        return pd.Series(-1, index=s.index)
    joined = b"".join(sl[ok])
    vals = np.frombuffer(joined, dtype="<u4").astype("int64")
    out = pd.Series(-1, index=s.index, dtype="int64")
    out[ok] = vals
    return out


def _le_u16(s: pd.Series, off: int) -> pd.Series:
    """Vectorized little-endian u16 at byte offset ``off`` (same batch
    shape as :func:`_le_u32`; short rows yield -1)."""
    sl = s.str.slice(off, off + 2)
    ok = sl.str.len() == 2
    if not ok.any():
        return pd.Series(-1, index=s.index)
    joined = b"".join(sl[ok])
    vals = np.frombuffer(joined, dtype="<u2").astype("int64")
    out = pd.Series(-1, index=s.index, dtype="int64")
    out[ok] = vals
    return out


def header_ok_batch(b: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.Series:
    """True iff the byte payload's container matches the declared codec and,
    for WAV, the fmt-chunk sample rate equals the ``sr_hz`` column.
    Telephony codecs (pcm_mulaw/pcm_alaw/adpcm_ima_wav) additionally pin
    the fmt tag word (canonical layout: fmt chunk at offset 12 — the
    same layout assumption the sr-at-24 probe already makes; the full
    chunk-walking parser is the decode stage's job)."""
    b = b.where(b.notna(), b"")
    long_enough = b.str.len() >= 4
    is_wav = long_enough & _slice_eq(b, 0, 4, b"RIFF") & _slice_eq(b, 8, 12, b"WAVE")
    wav_sr_ok = is_wav & (_le_u32(b, 24) == sr_hz.fillna(-2).astype("int64"))
    fmt_tag = _le_u16(b, 20)
    flac_ok = long_enough & _slice_eq(b, 0, 4, b"fLaC")
    opus_ok = (long_enough & _slice_eq(b, 0, 4, b"OggS")
               & _slice_eq(b, 28, 36, b"OpusHead"))
    # pure boolean algebra (no masked setitem — pandas 2.x upcasts a bool
    # Series to object on mask-assignment, tripping its 3.x FutureWarning)
    out = (codec == "pcm_s16le") & wav_sr_ok
    out |= (codec == "flac") & flac_ok
    out |= (codec == "opus") & opus_ok
    for name, tag in (("pcm_alaw", 6), ("pcm_mulaw", 7),
                      ("adpcm_ima_wav", 0x11)):
        out |= (codec == name) & wav_sr_ok & (fmt_tag == tag)
    # wide/float PCM may arrive bare (tag 1/3) or wrapped in
    # WAVE_FORMAT_EXTENSIBLE (0xFFFE); both are conformant containers
    for name, tag in (("pcm_u8", 1), ("pcm_s24le", 1), ("pcm_s32le", 1),
                      ("pcm_f32le", 3), ("pcm_f64le", 3)):
        out |= ((codec == name) & wav_sr_ok
                & ((fmt_tag == tag) | (fmt_tag == 0xFFFE)))
    is_mp3 = codec == "mp3"
    if bool(is_mp3.any()):                 # python walk only when present
        from .mp3 import mp3_header_ok_batch
        out |= is_mp3 & mp3_header_ok_batch(b, sr_hz)
    return out.astype(bool)


@pandas_udf(BooleanType())
def codec_header_ok(b: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.Series:
    return header_ok_batch(b, codec, sr_hz)


HEADER_PREFIX_LEN = 64  # covers WAV 44-byte canonical header + OpusHead@28:36


def codec_header_ok_col(bytes_col="bytes", codec_col="codec",
                        sr_col="sr_hz"):
    """The production form of the header check: slice the first 64 bytes
    JVM-side, THEN cross to Python. The Arrow channel carries 64 B/row
    instead of the whole payload — at 8M x ~900 B rows that is a 14x cut in
    transfer volume, and the difference between a stage that anti-scales
    (measured 15s@4 cores -> 22s@16) and one that scales.

    ``codec='mp3'`` rows send the whole payload: a leading ID3v2 tag has
    no size bound, so the first frame header can sit anywhere.

    This is the ``codec_header`` entry of :func:`register_audio_checks`."""
    b, codec = to_col(bytes_col), to_col(codec_col)
    payload = F.when(codec == "mp3", b).otherwise(
        F.substring(b, 1, HEADER_PREFIX_LEN))
    return codec_header_ok(payload, codec, to_col(sr_col))


def _le_u32_expr(b, off0: int):
    """Little-endian u32 at 0-based offset, pure JVM: byte-reverse via
    substring concat, hex, base-16 conv."""
    rev = F.concat(*[F.substring(b, off0 + i + 1, 1) for i in (3, 2, 1, 0)])
    return F.conv(F.hex(rev), 16, 10).cast("long")


def register_audio_checks() -> dict:
    """Named vectorized checks for the DSL's ``x-spark-check`` extension
    point (the reference's custom-Ajv-keyword analog, index.ts:49).

    ``wav_riff_magic`` and ``canonical_wav`` are pure-JVM expressions:
    they stay inline in the one-projection checks pass. Every other
    entry is a pandas UDF. The compiler stages those below the checks
    projection (``CompiledRuleset.staged``), so each crosses to Python
    once per row, and an ArrowEvalPython stage appears in the plan only
    when a ruleset references one. ``codec_header`` is the Arrow
    prefix-UDF form (:func:`codec_header_ok_col`); a Column-expression
    form of it generated about 13x the Java of ``canonical_wav`` per
    projection and cost more CPU per lint (BASELINE.md "Header check:
    one form")."""
    return {
        "wav_riff_magic": lambda col: F.substring(col, 1, 4) == F.lit(b"RIFF"),
        "codec_header": lambda col: codec_header_ok_col(col, "codec", "sr_hz"),
        "voiced_content": lambda col: has_voiced_content(col),
        "tonal_content": lambda col: has_tonal_content(col),
        "not_clipped": lambda col: is_not_clipped(col),
        "canonical_wav": lambda col: canonical_wav_expr(col),
        "speech_loudness": loudness_in_range_check(),
        "opus_container": lambda col: opus_container_ok(col),
        "opus_consistent": lambda col: opus_consistent_ok(col,
                                                          F.col("sr_hz")),
        "duration_consistent": duration_consistent_check(),
    }


# ---------------------------------------------------------------------------
# audio feature extraction (training-data-pipeline ops over the payload)
# ---------------------------------------------------------------------------

def audio_features_schema(passthrough_ddl: str = "",
                          with_fingerprint: bool = False,
                          with_spectral: bool = False,
                          with_mfcc: bool = False,
                          with_integrity: bool = False,
                          with_loudness: bool = False) -> str:
    base = ("clip_id string, decode_ok boolean, dur_ms_payload int, "
            "rms double, peak double, silence_ratio double, "
            "dominant_hz double, clipping_ratio double")
    if with_fingerprint:
        base += ", fp long"
    if with_spectral:
        base += (", centroid_hz double, bandwidth_hz double, "
                 "rolloff95_hz double, flatness double")
    if with_mfcc:
        base += ", mfcc array<double>"
    if with_integrity:
        base += ", dropout_ratio double, dc_offset double"
    if with_loudness:
        base += ", integrated_lufs double"
    return f"{base}, {passthrough_ddl}" if passthrough_ddl else base


def _dropout_ratio(x: np.ndarray, min_run: int) -> float:
    """Fraction of samples inside runs of >= ``min_run`` IDENTICAL
    consecutive samples — the digital-dropout / stuck-converter signal
    (distinct from silence: a dropout holds ANY value, and brief true
    silence between words is shorter than ``min_run`` at speech rates).
    Pure numpy run-length encoding, no Python loop over samples."""
    n = len(x)
    if n == 0:
        return 0.0
    idx = np.flatnonzero(np.diff(x) != 0)
    starts = np.concatenate(([0], idx + 1))
    ends = np.concatenate((idx + 1, [n]))
    lens = ends - starts
    return float(lens[lens >= min_run].sum() / n)


def spectral_shape(x: np.ndarray, sr: int, *, frame_ms: int = 32
                   ) -> tuple[float, float, float, float] | None:
    """Spectral-shape summary of one clip from a Welch-style mean power
    spectrum (Hann window, 50% overlap): the four standard public
    descriptors used for audio quality triage —

    - centroid_hz  = power-weighted mean frequency ("brightness")
    - bandwidth_hz = power-weighted std-dev around the centroid
    - rolloff95_hz = frequency below which 95% of the power sits
    - flatness     = geometric/arithmetic power mean (0 = pure tone,
                     -> 1 = white noise); the tone-vs-noise separator

    Returns None for empty or all-silent input (no spectrum to shape —
    callers surface NULLs, matching the engine's NULL == absent rule).
    DC is zeroed so a recording offset doesn't read as energy at 0 Hz.
    """
    if not len(x):
        return None
    flen = min(len(x), max(32, int(sr * frame_ms / 1000)))
    hop = max(1, flen // 2)
    p = _framed_power_spectrum(
        x, flen, hop, np.hanning(flen)).mean(axis=0)
    p[0] = 0.0
    total = float(p.sum())
    if total <= 0.0:
        return None
    freqs = np.fft.rfftfreq(flen, 1.0 / sr)
    centroid = float((freqs * p).sum() / total)
    bandwidth = float(np.sqrt((p * (freqs - centroid) ** 2).sum() / total))
    rolloff = float(freqs[np.searchsorted(np.cumsum(p), 0.95 * total)])
    nz = p[1:]
    flatness = float(np.exp(np.mean(np.log(nz + 1e-20)))
                     / (np.mean(nz) + 1e-20))
    return centroid, bandwidth, rolloff, flatness


def mel_mfcc(x: np.ndarray, sr: int, *, n_mels: int = 26,
             n_mfcc: int = 13, frame_ms: int = 32) -> list | None:
    """Clip-level MFCC summary: Welch-style mean power spectrum (same
    framing as :func:`spectral_shape`) -> triangular mel filterbank
    (HTK mel scale, 2595*log10(1+f/700)) -> log energies -> orthonormal
    DCT-II, first ``n_mfcc`` coefficients. Pure numpy (no scipy in the
    sandbox); deterministic for a given payload.

    This is the CLIP-level acoustic summary vector — a compact timbre
    embedding suitable for the engine's vector stack (x-embedding checks,
    cosine/IVF/PQ similarity over an ``array<double>`` column); per-frame
    MFCC matrices for ASR feature extraction stay with the caller's own
    ``mapInPandas`` stage. Returns None for empty/all-silent input.
    """
    if not len(x):
        return None
    flen = min(len(x), max(32, int(sr * frame_ms / 1000)))
    hop = max(1, flen // 2)
    p = _framed_power_spectrum(x, flen, hop, np.hanning(flen)).mean(axis=0)
    p[0] = 0.0
    if float(p.sum()) <= 0.0:
        return None
    freqs = np.fft.rfftfreq(flen, 1.0 / sr)

    def to_mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f) / 700.0)

    def from_mel(m):
        return 700.0 * (10.0 ** (np.asarray(m) / 2595.0) - 1.0)

    pts = from_mel(np.linspace(0.0, float(to_mel(sr / 2.0)), n_mels + 2))
    # triangular filters over the rfft bins
    w = np.zeros((n_mels, len(freqs)))
    for i in range(n_mels):
        lo, mid, hi = pts[i], pts[i + 1], pts[i + 2]
        up = (freqs - lo) / max(mid - lo, 1e-12)
        down = (hi - freqs) / max(hi - mid, 1e-12)
        w[i] = np.clip(np.minimum(up, down), 0.0, None)
    e = np.log(w @ p + 1e-20)
    n = np.arange(n_mels)
    k = np.arange(n_mfcc)[:, None]
    dct = np.cos(np.pi * k * (n + 0.5) / n_mels) * np.sqrt(2.0 / n_mels)
    dct[0] *= np.sqrt(0.5)  # orthonormal DCT-II scaling
    return [float(v) for v in dct @ e]


def audio_features_map_in_pandas(frame_ms: int = 20,
                                 silence_db: float = -40.0,
                                 passthrough: tuple = (),
                                 with_fingerprint: bool = False,
                                 fp_frame_ms: int = 64,
                                 fp_hop_ms: int = 32,
                                 with_spectral: bool = False,
                                 with_mfcc: bool = False,
                                 with_integrity: bool = False,
                                 dropout_run: int = 32,
                                 with_loudness: bool = False):
    """mapInPandas feature extractor over WAV payloads: duration, RMS,
    peak, frame-level silence ratio, dominant frequency (rfft argmax),
    and clipping ratio (fraction of samples at >= 99.9% full scale — the
    standard hot-recording / truncated-gain defect signal).

    All numpy-vectorized per clip inside one Arrow batch; malformed
    payloads yield ``decode_ok=false`` feature rows (guard semantics of
    ``/root/reference/index.ts:240-245``: data problems become rows, not
    job failures). Map-only — the binary column is read once and never
    shuffled; downstream joins use only these small typed rows.
    ``passthrough`` columns ride along unchanged so cross-field checks
    (declared vs payload) need no second scan or join.

    ``with_fingerprint`` appends the spectral fingerprint (``fp``, see
    :func:`spectral_descriptors`) computed from the SAME decoded samples —
    one payload decode powers both the quality features and the acoustic
    dedup signature, so a composed curation pipeline reads ``bytes``
    exactly once. ``with_spectral`` likewise appends the four
    :func:`spectral_shape` descriptors from the same decode.
    """
    silence_amp = 10 ** (silence_db / 20)
    n_fail = (6 + (1 if with_fingerprint else 0)
              + (4 if with_spectral else 0) + (1 if with_mfcc else 0)
              + (2 if with_integrity else 0)
              + (1 if with_loudness else 0))

    def fn(iterator):
        for pdf in iterator:
            extras_cols = [pdf[c] for c in passthrough]
            rows = []
            for cid, b, *extras in zip(pdf["clip_id"], pdf["bytes"],
                                       *extras_cols):
                fail = (cid, False, *([None] * n_fail), *extras)
                try:
                    sr, x = decode_payload_any(bytes(b) if b is not None else b"")
                    if sr <= 0 or not len(x):
                        raise ValueError("empty")
                except ValueError:
                    rows.append(fail)
                    continue
                n = len(x)
                dur_ms = int(round(n * 1000.0 / sr))
                rms = float(np.sqrt(np.mean(x ** 2)))
                peak = float(np.max(np.abs(x)))
                flen = max(1, int(sr * frame_ms / 1000))
                n_frames = n // flen
                if n_frames:
                    frames = x[: n_frames * flen].reshape(n_frames, flen)
                    frame_rms = np.sqrt(np.mean(frames ** 2, axis=1))
                    silence = float(np.mean(frame_rms < silence_amp))
                else:
                    silence = float(rms < silence_amp)
                spec = np.abs(np.fft.rfft(x))
                spec[0] = 0.0  # ignore DC
                dom = float(np.argmax(spec) * sr / n) if len(spec) > 1 else 0.0
                clip_frac = float(np.mean(np.abs(x) >= 0.999))
                fp_cols = ()
                if with_fingerprint:
                    fp_cols = (fingerprint_from_descriptors(
                        spectral_descriptors(x, sr, frame_ms=fp_frame_ms,
                                             hop_ms=fp_hop_ms)),)
                sp_cols = ()
                if with_spectral:
                    sp_cols = spectral_shape(x, sr) or (None,) * 4
                mf_cols = ()
                if with_mfcc:
                    mf_cols = (mel_mfcc(x, sr),)
                in_cols = ()
                if with_integrity:
                    in_cols = (_dropout_ratio(x, dropout_run),
                               float(np.mean(x)))
                lu_cols = ()
                if with_loudness:
                    lu_cols = (integrated_lufs(x, sr),)
                rows.append((cid, True, dur_ms, rms, peak, silence, dom,
                             clip_frac, *fp_cols, *sp_cols, *mf_cols,
                             *in_cols, *lu_cols, *extras))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "decode_ok", "dur_ms_payload", "rms", "peak",
                "silence_ratio", "dominant_hz", "clipping_ratio",
                *(("fp",) if with_fingerprint else ()),
                *(("centroid_hz", "bandwidth_hz", "rolloff95_hz",
                   "flatness") if with_spectral else ()),
                *(("mfcc",) if with_mfcc else ()),
                *(("dropout_ratio", "dc_offset") if with_integrity
                  else ()),
                *(("integrated_lufs",) if with_loudness else ()),
                *passthrough])

    return fn


def audio_features(clips, *, frame_ms: int = 20,
                   silence_db: float = -40.0, passthrough: tuple = (),
                   with_fingerprint: bool = False,
                   fp_frame_ms: int = 64, fp_hop_ms: int = 32,
                   with_spectral: bool = False,
                   with_mfcc: bool = False,
                   with_integrity: bool = False,
                   dropout_run: int = 32,
                   with_loudness: bool = False):
    """clips(clip_id, bytes) -> feature DataFrame (map-only stage).

    ``passthrough`` names extra clips columns carried into the output
    unchanged (their types copied from the input schema) — lets callers
    run cross-field payload checks without a join back to the table.
    ``with_fingerprint`` adds the acoustic dedup signature,
    ``with_spectral`` the four spectral-shape descriptors, and
    ``with_mfcc`` the clip-level MFCC vector (array<double> — feeds the
    x-embedding checks and the cosine/IVF/PQ similarity stack directly),
    ``with_loudness`` the BS.1770 integrated LUFS — all from the same
    decode (see :func:`audio_features_map_in_pandas`)."""
    pt_ddl = ", ".join(
        f"{c} {clips.schema[c].dataType.simpleString()}" for c in passthrough)
    return clips.select("clip_id", "bytes", *passthrough).mapInPandas(
        audio_features_map_in_pandas(frame_ms, silence_db,
                                     tuple(passthrough),
                                     with_fingerprint=with_fingerprint,
                                     fp_frame_ms=fp_frame_ms,
                                     fp_hop_ms=fp_hop_ms,
                                     with_spectral=with_spectral,
                                     with_mfcc=with_mfcc,
                                     with_integrity=with_integrity,
                                     dropout_run=dropout_run,
                                     with_loudness=with_loudness),
        schema=audio_features_schema(pt_ddl, with_fingerprint,
                                     with_spectral=with_spectral,
                                     with_mfcc=with_mfcc,
                                     with_integrity=with_integrity,
                                     with_loudness=with_loudness))


# ---------------------------------------------------------------------------
# energy-VAD segmentation (the audio splitter a training pipeline feeds on)
# ---------------------------------------------------------------------------

def detect_voiced_runs(frame_rms: np.ndarray, silence_amp: float,
                       min_gap_frames: int, min_seg_frames: int
                       ) -> list[tuple[int, int]]:
    """Voiced [start, end) frame runs: frames above the silence floor,
    gaps shorter than ``min_gap_frames`` bridged (a breath pause is not a
    segment boundary), runs shorter than ``min_seg_frames`` dropped
    (clicks are not speech). Pure numpy edge detection, no Python loop
    over frames — the only loop is over the (few) runs."""
    v = (frame_rms >= silence_amp).astype(np.int8)
    edges = np.diff(np.concatenate(([0], v, [0])))
    starts = np.nonzero(edges == 1)[0]
    ends = np.nonzero(edges == -1)[0]
    merged: list[tuple[int, int]] = []
    for s, e in zip(starts, ends):
        if merged and s - merged[-1][1] < min_gap_frames:
            merged[-1] = (merged[-1][0], int(e))
        else:
            merged.append((int(s), int(e)))
    return [(s, e) for s, e in merged if e - s >= min_seg_frames]


def voiced_segments(clips, *, frame_ms: int = 20, silence_db: float = -40.0,
                    min_gap_ms: int = 60, min_seg_ms: int = 40):
    """clips(clip_id, bytes) -> one row per voiced segment:
    (clip_id, seg_idx, start_ms, end_ms, rms) — an energy-gated VAD, the
    segmentation primitive for splitting long recordings into
    training-sized utterances.

    A flatMap-shaped ``mapInPandas`` stage: the binary column is decoded
    once per clip inside one Arrow batch, segments come out as small typed
    rows (the payload never leaves the stage, never shuffles). Undecodable
    or all-silent clips yield ZERO rows — decode failures are the decode
    guard's business (``duration_consistency_violations``), not the
    splitter's. At 100 TB this is a pure map with output a few hundred
    bytes per clip; downstream slicing re-reads payloads only for rows a
    trainer actually selects."""
    silence_amp = 10 ** (silence_db / 20)
    schema = ("clip_id string, seg_idx int, start_ms int, end_ms int, "
              "rms double")
    gap_f = max(1, min_gap_ms // frame_ms)
    seg_f = max(1, min_seg_ms // frame_ms)

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    sr, x = decode_payload_any(bytes(b) if b is not None else b"")
                    if sr <= 0:
                        raise ValueError("bad sr")
                except ValueError:
                    continue
                flen = max(1, int(sr * frame_ms / 1000))
                n_frames = len(x) // flen
                if not n_frames:
                    continue
                frames = x[: n_frames * flen].reshape(n_frames, flen)
                frame_rms = np.sqrt(np.mean(frames ** 2, axis=1))
                for k, (s, e) in enumerate(detect_voiced_runs(
                        frame_rms, silence_amp, gap_f, seg_f)):
                    seg_rms = float(np.sqrt(np.mean(frame_rms[s:e] ** 2)))
                    rows.append((cid, k, s * frame_ms, e * frame_ms,
                                 seg_rms))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "seg_idx", "start_ms", "end_ms", "rms"])

    return clips.select("clip_id", "bytes").mapInPandas(fn, schema=schema)


@pandas_udf(BooleanType())
def has_voiced_content(b: pd.Series) -> pd.Series:
    """Vectorized check: payload decodes AND contains at least one voiced
    run at the default VAD gates — the ``voiced_content`` entry of
    :func:`register_audio_checks` (an all-silent or undecodable clip is
    useless as speech training data). Arrow-batched like every binary
    check; rides the one-projection violations pass when a ruleset
    references it."""
    silence_amp = 10 ** (-40.0 / 20)
    out = []
    for v in b:
        try:
            sr, x = decode_payload_any(bytes(v) if v is not None else b"")
            if sr <= 0:
                raise ValueError("bad sr")
        except ValueError:
            out.append(False)
            continue
        flen = max(1, int(sr * 20 / 1000))
        n_frames = len(x) // flen
        if not n_frames:
            out.append(False)
            continue
        frame_rms = np.sqrt(np.mean(
            x[: n_frames * flen].reshape(n_frames, flen) ** 2, axis=1))
        out.append(bool(detect_voiced_runs(frame_rms, silence_amp, 3, 2)))
    return pd.Series(out, index=b.index)


@pandas_udf(BooleanType())
def is_not_clipped(b: pd.Series) -> pd.Series:
    """Vectorized check: payload decodes AND has < 1% of samples at
    >= 99.9% full scale — the ``not_clipped`` entry of
    :func:`register_audio_checks` (the hot-recording / truncated-gain
    defect `audio_features` measures as ``clipping_ratio``, as a
    ruleset-referenceable gate; same 99.9%-of-full-scale definition, so
    the feature and the check can never disagree). Undecodable payloads
    fail (codec_header owns the wellformedness message; a gate that
    passed garbage would be a silent hole). Arrow-batched."""
    out = []
    for v in b:
        try:
            sr, x = decode_payload_any(bytes(v) if v is not None else b"")
            if sr <= 0 or not len(x):
                raise ValueError("bad payload")
        except ValueError:
            out.append(False)
            continue
        out.append(bool(np.mean(np.abs(x) >= 0.999) < 0.01))
    return pd.Series(out, index=b.index)


@pandas_udf(BooleanType())
def has_tonal_content(b: pd.Series) -> pd.Series:
    """Vectorized check: payload decodes AND its spectral flatness stays
    below 0.35 — the ``tonal_content`` registry entry. Flatness -> 1 means
    a noise-like spectrum (dead mic, static, dropout fill); speech and
    music sit well under the gate (harmonic structure), so a clip failing
    it carries no trainable acoustic content. Same Arrow-batch shape as
    ``voiced_content``; silence (no spectrum at all) also fails."""
    out = []
    for v in b:
        try:
            sr, x = decode_payload_any(bytes(v) if v is not None else b"")
            if sr <= 0:
                raise ValueError("bad sr")
        except ValueError:
            out.append(False)
            continue
        shape = spectral_shape(x, sr)
        out.append(shape is not None and shape[3] < 0.35)
    return pd.Series(out, index=b.index)


def slice_segments(clips, *, frame_ms: int = 20, silence_db: float = -40.0,
                   min_gap_ms: int = 60, min_seg_ms: int = 40,
                   normalize_db: float | None = None):
    """clips(clip_id, bytes) -> one WAV payload PER VOICED SEGMENT:
    (clip_id, seg_idx, start_ms, end_ms, sr_hz, bytes) — the materializing
    form of :func:`voiced_segments`, emitting training-sized utterance
    clips cut at the same VAD boundaries (decode once, slice samples,
    re-encode the canonical PCM16 container).

    ``normalize_db`` additionally applies loudness normalization to each
    segment (gain to the target RMS dBFS, clipped at full scale) — the
    materialized twin of :func:`normalization_gain_col`.

    Scale shape: map-only like the detector, but the OUTPUT carries
    payloads (~input bytes total), so this belongs at the point in the
    pipeline where the sliced corpus is being written, not as a probe.
    Undecodable / all-silent clips emit zero rows (same policy as
    :func:`voiced_segments`)."""
    silence_amp = 10 ** (silence_db / 20)
    schema = ("clip_id string, seg_idx int, start_ms int, end_ms int, "
              "sr_hz int, bytes binary")
    gap_f = max(1, min_gap_ms // frame_ms)
    seg_f = max(1, min_seg_ms // frame_ms)

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    sr, x = decode_payload_any(bytes(b) if b is not None else b"")
                    if sr <= 0:
                        raise ValueError("bad sr")
                except ValueError:
                    continue
                flen = max(1, int(sr * frame_ms / 1000))
                n_frames = len(x) // flen
                if not n_frames:
                    continue
                frames = x[: n_frames * flen].reshape(n_frames, flen)
                frame_rms = np.sqrt(np.mean(frames ** 2, axis=1))
                for k, (s, e) in enumerate(detect_voiced_runs(
                        frame_rms, silence_amp, gap_f, seg_f)):
                    seg = x[s * flen: e * flen]
                    if normalize_db is not None:
                        rms = float(np.sqrt(np.mean(seg ** 2)))
                        if rms > 0:
                            seg = np.clip(
                                seg * (10 ** (normalize_db / 20) / rms),
                                -1.0, 1.0)
                    pcm = _to_pcm16(seg)
                    rows.append((cid, k, s * frame_ms, e * frame_ms, sr,
                                 wav_bytes(pcm, sr)))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "seg_idx", "start_ms", "end_ms", "sr_hz",
                "bytes"])

    return clips.select("clip_id", "bytes").mapInPandas(fn, schema=schema)


def canonicalize_clips(clips, *, target_sr: int = 16000,
                       normalize_db: float | None = None, taps: int = 32,
                       passthrough: tuple = (), id_col: str = "clip_id"):
    """clips(clip_id, bytes) -> canonical training payloads: mono PCM16 WAV
    at ``target_sr`` — (clip_id, src_sr_hz, src_channels, sr_hz, n_samples,
    bytes). The normalization stage every mixed-provenance corpus needs
    before training: decode once — ANY engine codec, round 3
    (:func:`decode_payload_any`: the chunk-walking PCM16 parser keeps its
    exact path; FLAC, G.711, ADPCM, wide/float/EXTENSIBLE WAVs decode in
    place, so compressed/telephony corpora no longer need a
    ``transcode_clips`` stage first) — downmix to mono, windowed-sinc
    resample (:func:`resample_sinc`, anti-aliased), optional RMS loudness
    normalization to ``normalize_db`` dBFS, re-encode the 44-byte
    canonical container.

    Scale shape: map-only, one Arrow stage, payload never shuffles —
    same contract as :func:`slice_segments`; this is the writer-side stage
    of a canonicalization pass, so output bytes ~ input bytes. Undecodable
    payloads emit zero rows (the validation pass, not the canonicalizer,
    is where they are reported — same policy as slice_segments).

    ``passthrough`` names extra clips columns (transcript, partition
    date, …) carried into the output unchanged — the corpus writer keeps
    its labels without a join back to the source table. ``id_col`` names
    the source id column (output always calls it ``clip_id``). Unknown
    passthrough/id columns fail fast with ValueError — at plan time on
    the driver, never as a mid-write executor KeyError."""
    pt = tuple(passthrough)
    missing = [c for c in (id_col, *pt) if c not in clips.columns]
    if missing:
        raise ValueError(
            f"canonicalize_clips: column(s) {missing} not in input "
            f"(has {clips.columns}); check id_col/passthrough")
    pt_ddl = ", ".join(
        f"{c} {clips.schema[c].dataType.simpleString()}" for c in pt)
    schema = ("clip_id string, src_sr_hz int, src_channels int, "
              "sr_hz int, n_samples long, bytes binary")
    if pt_ddl:
        schema = f"{schema}, {pt_ddl}"

    def _decode_with_channels(b: bytes):
        """(sr, src_channels, mono float x) for any engine codec:
        src_channels is the WAV fmt chunk's channel count (the FLAC
        subset is mono)."""
        sr, x = decode_payload_any(b)       # ValueError propagates
        n_ch = int(_walk_wav(b)["n_ch"]) if b[:4] == b"RIFF" else 1
        return sr, n_ch, x

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b, *extra in zip(pdf["clip_id"], pdf["bytes"],
                                      *[pdf[c] for c in pt]):
                try:
                    sr, n_ch, x = _decode_with_channels(
                        bytes(b) if b is not None else b"")
                    if sr <= 0:
                        raise ValueError("bad sr")
                except ValueError:
                    continue
                y = resample_sinc(x, sr, target_sr, taps=taps)
                if normalize_db is not None:
                    rms = float(np.sqrt(np.mean(y ** 2))) if len(y) else 0.0
                    if rms > 0:
                        y = np.clip(
                            y * (10 ** (normalize_db / 20) / rms), -1.0, 1.0)
                pcm = _to_pcm16(y)
                rows.append((cid, sr, n_ch, target_sr, len(pcm),
                             wav_bytes(pcm, target_sr), *extra))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "src_sr_hz", "src_channels", "sr_hz",
                "n_samples", "bytes", *pt])

    return clips.select(F.col(id_col).alias("clip_id"), "bytes",
                        *pt).mapInPandas(fn, schema=schema)


def transcode_payload(b: bytes, codec: str) -> bytes:
    """Decode a non-WAV payload and re-encode it as canonical PCM16 WAV —
    the single seam :func:`transcode_clips` routes compressed codecs
    through. WAV passes straight to the chunk-walking parser (re-encoded
    canonical); FLAC decodes via the engine's pure-numpy
    :func:`flac_decode` (verbatim/constant subframe subset — predictor
    subframes from external encoders raise and land in the on_error
    policy); opus needs a real codec library (soundfile/ffmpeg), not
    present in this sandbox — STUB, same policy as
    ``multimodal.decode_image``. Production swaps/extends this one
    function; the Spark plumbing around it is live and tested."""
    if codec == "pcm_s16le":
        sr, x = decode_wav_pcm16(b)
        return wav_bytes(
            _to_pcm16(x), sr)
    if codec == "flac":
        sr, pcm = flac_decode(b)
        return wav_bytes(pcm, sr)
    if codec in ("pcm_mulaw", "pcm_alaw", "adpcm_ima_wav", "pcm_u8",
                 "pcm_s24le", "pcm_s32le", "pcm_f32le", "pcm_f64le"):
        sr, x = decode_wav_extended(b)
        return wav_bytes(_to_pcm16(x), sr)
    if codec == "opus":
        # container + RFC 6716 §3 packet layer are fully decoded;
        # DTX-only streams (sustained silence) transcode end-to-end,
        # SILK/CELT entropy payloads raise (SURVEY.md §7 spike)
        sr, pcm = opus_decode(b)
        return wav_bytes(pcm, sr)
    raise NotImplementedError(
        f"transcoding codec {codec!r} requires soundfile/ffmpeg "
        "(not in sandbox: opus SILK/CELT packets and mp3 need entropy "
        "decode); production swaps transcode_payload")


def transcode_clips(clips, *, codec_col: str = "codec",
                    on_error: str = "skip"):
    """clips(clip_id, bytes, codec) -> (clip_id, codec, transcode_ok,
    bytes) with every payload re-encoded as canonical-container WAV via
    :func:`transcode_payload` — the stage that feeds compressed-codec
    corpora into :func:`canonicalize_clips` (see the ``ingest_corpus``
    caveat: header-gated flac/opus clips need this first).

    ``on_error='skip'`` drops undecodable/unsupported payloads (zero
    rows, slice_segments policy); ``'keep'`` emits them with
    ``transcode_ok=false`` and NULL bytes so the caller can count or
    quarantine them. Map-only Arrow stage; payloads never shuffle."""
    if on_error not in ("skip", "keep"):
        raise ValueError("on_error must be 'skip' or 'keep'")
    schema = "clip_id string, codec string, transcode_ok boolean, bytes binary"

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b, codec in zip(pdf["clip_id"], pdf["bytes"],
                                     pdf[codec_col]):
                try:
                    out = transcode_payload(
                        bytes(b) if b is not None else b"", str(codec))
                    rows.append((cid, codec, True, out))
                except (ValueError, NotImplementedError):
                    if on_error == "keep":
                        rows.append((cid, codec, False, None))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "codec", "transcode_ok", "bytes"])

    return clips.select("clip_id", "bytes", codec_col).mapInPandas(
        fn, schema=schema)


def augment_speed(clips, *, factors=(0.9, 1.1), taps: int = 32):
    """Speed-perturbation augmentation (the sox-``speed`` recipe used for
    3-way speech-training augmentation): resample the waveform by
    ``1/factor`` and keep the declared rate, so playback runs ``factor``×
    faster with pitch scaled accordingly. Emits one row per
    (clip, factor) — originals are not re-emitted; union the source for
    the classic 0.9/1.0/1.1 set.

    Map-only like :func:`canonicalize_clips` (same writer-stage contract:
    output bytes ~ input bytes × len(factors); payload never shuffles).
    Undecodable payloads emit zero rows. Factors must be positive;
    factor 1.0 is a copy (still re-encoded to canonical layout)."""
    if any(f <= 0 for f in factors):
        raise ValueError("speed factors must be positive")
    schema = ("clip_id string, factor double, sr_hz int, n_samples long, "
              "bytes binary")

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    sr, x = decode_payload_any(bytes(b) if b is not None else b"")
                    if sr <= 0:
                        raise ValueError("bad sr")
                except ValueError:
                    continue
                for f in factors:
                    y = resample_sinc(x, sr, max(1, int(round(sr / f))),
                                      taps=taps)
                    pcm = _to_pcm16(y)
                    rows.append((cid, float(f), sr, len(pcm),
                                 wav_bytes(pcm, sr)))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "factor", "sr_hz", "n_samples", "bytes"])

    return clips.select("clip_id", "bytes").mapInPandas(fn, schema=schema)


def augment_noise(clips, *, snr_db: float = 20.0, seed: int = 42):
    """Additive-noise augmentation at a target SNR: per clip, Gaussian
    noise scaled so 20*log10(rms(signal)/rms(noise)) == ``snr_db`` is
    mixed in and the result re-encoded as canonical WAV. DETERMINISTIC —
    the noise stream is seeded by xxhash-style mixing of (seed, clip_id),
    so retries and audits reproduce byte-identical payloads (the
    :mod:`operators.sampling` reproducibility contract, applied to
    audio).

    Emits one row per clip with ``snr_db`` carried; silent clips
    (zero RMS — no signal to scale against) and undecodable payloads
    emit zero rows, like :func:`augment_speed`. A mix that would exceed
    full scale is normalized to peak 1.0 before encoding — scaling
    signal and noise together preserves the exact target SNR where
    clipping would bias it (low-SNR targets on hot clips). Map-only writer stage:
    the payload never shuffles, output bytes ~ input bytes.
    """
    if not np.isfinite(snr_db):
        raise ValueError("snr_db must be finite")
    schema = ("clip_id string, snr_db double, sr_hz int, n_samples long, "
              "bytes binary")
    gain = 10.0 ** (-snr_db / 20.0)

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    sr, x = decode_payload_any(bytes(b) if b is not None else b"")
                    if sr <= 0:
                        raise ValueError("bad sr")
                except ValueError:
                    continue
                rms = float(np.sqrt(np.mean(x ** 2))) if len(x) else 0.0
                if rms <= 0.0:
                    continue
                # process-independent seed (python hash() is salted per
                # interpreter; sha256 reproduces across executors/reruns)
                digest = hashlib.sha256(
                    f"{int(seed)}:{cid}".encode()).digest()
                rng = np.random.default_rng(
                    int.from_bytes(digest[:8], "little"))
                noise = rng.standard_normal(len(x))
                noise *= (rms * gain) / max(
                    float(np.sqrt(np.mean(noise ** 2))), 1e-12)
                mix = x + noise
                # a hot mix would be CLIPPED by _to_pcm16, silently
                # biasing the achieved SNR several dB at low targets;
                # scaling the whole mix preserves the exact ratio (both
                # components scale together) at a small loudness cost
                peak = float(np.max(np.abs(mix), initial=0.0))
                if peak > 1.0:
                    mix /= peak
                pcm = _to_pcm16(mix)
                rows.append((cid, float(snr_db), sr, len(pcm),
                             wav_bytes(pcm, sr)))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "snr_db", "sr_hz", "n_samples", "bytes"])

    return clips.select("clip_id", "bytes").mapInPandas(fn, schema=schema)


def _le_u16_expr(b, off0: int):
    """Little-endian u16 at 0-based offset, pure JVM (the 2-byte sibling
    of :func:`_le_u32_expr`)."""
    rev = F.concat(F.substring(b, off0 + 2, 1), F.substring(b, off0 + 1, 1))
    return F.conv(F.hex(rev), 16, 10).cast("int")


def canonical_wav_expr(bytes_col="bytes", sr: int = 16000):
    """Pure-JVM (whole-stage-codegen) check that a payload is in canonical
    training form — the exact 44-byte container :func:`canonicalize_clips`
    emits: RIFF/WAVE magic, ``fmt `` at offset 12 (size 16, format 1,
    mono, 16-bit), declared rate == ``sr``, ``data`` at offset 36 with
    size equal to the remaining bytes. A ruleset gates ingestion on this
    AFTER canonicalization, with zero Python in the plan — the fast
    declarative twin of re-decoding."""
    b = to_col(bytes_col)
    return (
        (F.length(b) >= 44)
        & (F.substring(b, 1, 4) == F.lit(b"RIFF"))
        & (F.substring(b, 9, 8) == F.lit(b"WAVEfmt "))
        & (_le_u32_expr(b, 16) == 16)          # fmt chunk size
        & (_le_u16_expr(b, 20) == 1)           # integer PCM
        & (_le_u16_expr(b, 22) == 1)           # mono
        & (_le_u32_expr(b, 24) == F.lit(sr))
        & (_le_u16_expr(b, 34) == 16)          # bits/sample
        & (F.substring(b, 37, 4) == F.lit(b"data"))
        & (_le_u32_expr(b, 40) == (F.length(b) - 44).cast("long"))
    )


def normalization_gain_col(target_db: float = -20.0, rms_col: str = "rms"):
    """Loudness-normalization gain (dB) to bring a clip's RMS to
    ``target_db`` dBFS — a Column over :func:`audio_features` output
    (pure JVM arithmetic; NULL for silent/undecodable rows where rms
    is NULL or 0, which have no defined gain)."""
    rms = F.col(rms_col)
    return F.when(rms > 0,
                  F.round(F.lit(target_db) - 20.0 * F.log10(rms), 2))


# ---------------------------------------------------------------------------
# acoustic fingerprint + audio near-dup (the audio analog of text SimHash)
# ---------------------------------------------------------------------------

FP_BANDS = 16
_FP_F_LO, _FP_F_HI = 100.0, 3800.0  # sr-invariant: below Nyquist of 8 kHz


def _framed_power_spectrum(x: np.ndarray, flen: int, hop: int,
                           window: np.ndarray) -> np.ndarray:
    """Windowed frame gather + |rfft|^2 power spectrum, one row per frame
    — the shared scaffolding under spectral_shape (quality descriptors)
    and spectral_descriptors (fingerprint words)."""
    n_frames = 1 + (len(x) - flen) // hop
    idx = np.arange(flen)[None, :] + hop * np.arange(n_frames)[:, None]
    return np.abs(np.fft.rfft(x[idx] * window[None, :], axis=1)) ** 2


@lru_cache(maxsize=64)
def _fp_basis(sr: int, flen: int):
    """Per-(sr, frame-length) constants for the fingerprint: Hann window
    and the bin->band one-hot matrix. Cached — the sr domain is a handful
    of rates, and recomputing geomspace/rfftfreq/searchsorted per clip
    (plus ``np.add.at``'s slow buffered scatter) measured ~25% of the
    whole fingerprint stage at 2M clips."""
    window = np.hanning(flen)
    freqs = np.fft.rfftfreq(flen, 1.0 / sr)
    edges = np.geomspace(_FP_F_LO, _FP_F_HI, FP_BANDS + 1)
    band = np.searchsorted(edges, freqs, side="right") - 1
    one_hot = np.zeros((len(freqs), FP_BANDS))
    valid = (band >= 0) & (band < FP_BANDS)
    one_hot[np.nonzero(valid)[0], band[valid]] = 1.0
    return window, one_hot


def spectral_descriptors(x: np.ndarray, sr: int, *, frame_ms: int = 64,
                         hop_ms: int = 32) -> np.ndarray:
    """Per-frame 16-bit spectral occupancy words (uint16 array, one per
    frame): bit b is set iff log-spaced band b's energy exceeds the frame's
    uniform share (total/16).

    Occupancy-vs-uniform-share is chosen over the chromaprint-style
    band-difference derivative because it is stable for bands far below
    the signal (noise-floor bands sit orders of magnitude under the
    uniform share, so their bits never flip with re-noising), and the band
    edges are ABSOLUTE Hz — the descriptor is invariant to sample rate,
    so an 8 kHz re-encode of a 16 kHz clip fingerprints the same."""
    flen = max(16, int(sr * frame_ms / 1000))
    hop = max(8, int(sr * hop_ms / 1000))
    if len(x) < flen:
        return np.empty(0, dtype=np.uint16)
    window, one_hot = _fp_basis(sr, flen)
    spec = _framed_power_spectrum(x, flen, hop, window)
    energy = spec @ one_hot
    occupied = energy > (energy.sum(axis=1, keepdims=True) / FP_BANDS)
    return (occupied.astype(np.uint16)
            << np.arange(FP_BANDS, dtype=np.uint16)[None, :]).sum(
        axis=1, dtype=np.uint16)


def _splitmix64(v: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constants): one
    well-mixed 64-bit hash per frame word so SimHash votes are unbiased."""
    with np.errstate(over="ignore"):
        z = v.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def fingerprint_from_descriptors(words: np.ndarray) -> int | None:
    """64-bit clip fingerprint: SimHash over the frame descriptor words
    (majority bit-vote across the frames' splitmix64 hashes). Stationary
    content -> one dominant word -> its hash wins every vote; a re-noised
    or re-sampled copy flips few frames, so the vote margins — and the
    fingerprint — survive (small Hamming distance)."""
    if not len(words):
        return None
    h = _splitmix64(words)
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    fp = np.uint64(0)
    for i in np.nonzero(votes > 0)[0]:
        fp |= np.uint64(1) << np.uint64(i)
    return int(fp.astype(np.int64))


def audio_fingerprints(clips, *, frame_ms: int = 64, hop_ms: int = 32):
    """clips(clip_id, bytes) -> (clip_id, decode_ok, fp) — map-only Arrow
    stage; ``fp`` is NULL for undecodable or sub-frame-length payloads.
    The binary column is read once, never shuffled; downstream near-dup
    blocking joins touch only (clip_id, fp)."""
    schema = "clip_id string, decode_ok boolean, fp long"

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    sr, x = decode_payload_any(bytes(b) if b is not None else b"")
                    if sr <= 0:
                        raise ValueError("bad sr")
                except ValueError:
                    rows.append((cid, False, None))
                    continue
                words = spectral_descriptors(x, sr, frame_ms=frame_ms,
                                             hop_ms=hop_ms)
                rows.append((cid, True, fingerprint_from_descriptors(words)))
            yield pd.DataFrame(rows, columns=["clip_id", "decode_ok", "fp"])

    return clips.select("clip_id", "bytes").mapInPandas(fn, schema=schema)


def audio_neardup_pairs(clips, *, max_distance: int = 3,
                        frame_ms: int = 64, hop_ms: int = 32,
                        reuse: bool = True):
    """Near-duplicate audio pairs (re-encodes, re-noisings, resamples of
    the same recording): spectral fingerprints -> 16-bit-chunk Hamming
    blocking (:func:`...operators.dedup.hamming_pairs` — the same
    pigeonhole bucketer text SimHash uses, so no cross-join; the persisted
    signature relation means the decode+FFT pass runs ONCE, not once per
    self-join side). Undecodable / too-short clips have NULL fingerprints
    and never pair."""
    from ..operators.dedup import hamming_pairs
    fps = (audio_fingerprints(clips, frame_ms=frame_ms, hop_ms=hop_ms)
           .where(F.col("fp").isNotNull()))
    return hamming_pairs(fps, sig_col="fp", id_col="clip_id",
                         max_distance=max_distance, reuse=reuse)


def speaking_rate_violations(clips, *, transcript_col: str = "transcript",
                             dur_col: str = "dur_ms",
                             lo: float = 1.0, hi: float = 40.0,
                             ruleset_name: str = "engine"):
    """Cross-field plausibility: transcript length vs declared duration.

    Human speech transcribes to roughly 8-25 characters/second; a clip
    whose transcript implies a rate far outside ``[lo, hi]`` has a wrong
    transcript, a wrong ``dur_ms``, or a truncated payload — the
    audio-tier analog of the reference catching frontmatter that
    contradicts the document body. Pure JVM Column arithmetic over the
    metadata columns (``bytes`` is never read): rides a single
    column-pruned scan, violation shape shared with the row validator.
    NULL transcript/duration and non-positive durations are skipped —
    those are ``required``/``minimum`` checks' business, not a rate.
    """
    t, d = F.col(transcript_col), F.col(dur_col)
    rate = F.length(t) / (d / F.lit(1000.0))
    bad = clips.where(t.isNotNull() & d.isNotNull() & (d > 0)
                      & ((rate < lo) | (rate > hi)))
    return violation_rows(
        bad, row_id=F.col("clip_id"), constraint_id=f"rate:{transcript_col}",
        keyword="x-rate", instance_path=f"/{transcript_col}",
        schema_path="#/x-rate",
        message=(f"Must have plausible speaking rate ({lo}-{hi} chars/sec "
                 f"against `{dur_col}`)"),
        actual=F.round(rate, 2), ruleset_name=ruleset_name,
        severity="warning")


def duration_consistency_violations(clips, *, tolerance_ms: int = 5,
                                    ruleset_name: str = "engine"):
    """Cross-field invariant: payload-derived duration must match the
    declared ``dur_ms`` metadata column within ``tolerance_ms``.

    This is the engine's analog of a reference type-check catching
    metadata that contradicts the document body: the declared value is
    only trustworthy if the payload agrees. Decode failures surface as
    ``decode`` violations (guard G1), mismatches as ``x-duration``.
    Single map-only scan: ``dur_ms`` rides through the feature extractor
    as a passthrough column — no join, no shuffle, no second read.
    """
    feats = audio_features(clips, passthrough=("dur_ms",))
    bad = feats.where(
        (~F.col("decode_ok"))
        | (F.abs(F.col("dur_ms_payload") - F.col("dur_ms")) >
           F.lit(tolerance_ms)))
    failed = ~F.col("decode_ok")
    return violation_rows(
        bad, row_id=F.col("clip_id"),
        constraint_id=F.when(failed, F.lit("decode:bytes"))
        .otherwise(F.lit("x-duration:dur_ms")),
        keyword=F.when(failed, F.lit("decode"))
        .otherwise(F.lit("x-duration")),
        instance_path="/dur_ms", schema_path="#/x-duration",
        message=F.when(failed, F.lit("Must be a decodable audio payload"))
        .otherwise(F.lit(
            f"Must match payload duration within {tolerance_ms} ms")),
        actual=F.col("dur_ms"), ruleset_name=ruleset_name,
        severity="warning")


def transcript_conflict_violations(clips, *, max_distance: int = 2,
                                   transcript_col: str = "transcript",
                                   frame_ms: int = 64, hop_ms: int = 32,
                                   reuse: bool = True,
                                   ruleset_name: str = "engine",
                                   severity: str = "warning",
                                   grade_with_edit_sim: bool = False,
                                   contradiction_below: float = 0.5,
                                   prefix_len: int = 256):
    """Label-conflict detection: two clips whose AUDIO is an acoustic
    near-duplicate (spectral fingerprint within ``max_distance``) but
    whose transcripts normalize DIFFERENTLY carry contradictory labels —
    at least one transcription is wrong, the highest-value QA signal a
    speech corpus validator can emit (duplicate audio with matching
    labels is mere redundancy; with conflicting labels it is noise that
    trains against itself). Both members get a violation row naming the
    other, since the evidence cannot say which label is right.

    Scale shape: pairs come from the pigeonhole-blocked fingerprint
    self-join (:func:`audio_neardup_pairs` — never a cross join, payload
    decoded once); the conflict filter then joins only (clip_id, 32-byte
    normalized-transcript hash), so transcripts and audio never shuffle.
    Formatting-only transcript variants (case, punctuation, spacing) are
    NOT conflicts — comparison is on :func:`...operators.text.normalized`
    form. NULL or empty-normalized transcripts are skipped (``required``
    / ``minLength``'s business, and absent evidence is not a conflict —
    the NULL-text policy of the dedup family).

    Precision caveat: the 64-bit occupancy fingerprint has low entropy
    for spectrally SPARSE payloads (pure tones, DTMF, sine sweeps), where
    unrelated clips can collide within small Hamming radii and surface as
    spurious conflicts; on such corpora keep ``max_distance`` at 0-1.
    Speech/music occupancy patterns are rich enough for the default.

    ``grade_with_edit_sim=True`` distinguishes contradiction from ASR
    noise: conflicting pairs get a normalized-transcript edit similarity
    (Levenshtein on the first ``prefix_len`` chars — the
    ``dedup.edit_distance_pairs`` measure) and a pair below
    ``contradiction_below`` escalates to severity ``error`` ("different
    content": at least one label is WRONG), while a near-miss stays at
    ``severity`` ("same utterance, noisy transcription" — fix, don't
    drop). The extra shuffle carries bounded prefixes for CONFLICTING
    pairs only; the detection join still moves 32-byte hashes."""
    from ..operators.dedup import _track
    from ..operators.text import normalized
    pairs = audio_neardup_pairs(clips, max_distance=max_distance,
                                frame_ms=frame_ms, hop_ms=hop_ms,
                                reuse=reuse)
    labels = (clips.select(F.col("clip_id"),
                           normalized(F.col(transcript_col)).alias("_nt"))
              .where(F.col("_nt").isNotNull() & (F.col("_nt") != ""))
              .select("clip_id", F.sha2(F.col("_nt"), 256).alias("tfp"),
                      F.substring(F.col("_nt"), 1, prefix_len).alias("_np")))
    lab_a = labels.select(F.col("clip_id").alias("id_a"),
                          F.col("tfp").alias("tfp_a"),
                          F.col("_np").alias("_np_a"))
    lab_b = labels.select(F.col("clip_id").alias("id_b"),
                          F.col("tfp").alias("tfp_b"),
                          F.col("_np").alias("_np_b"))
    if not grade_with_edit_sim:
        lab_a, lab_b = lab_a.drop("_np_a"), lab_b.drop("_np_b")
    conflicts = (pairs.join(lab_a, "id_a").join(lab_b, "id_b")
                 .where(F.col("tfp_a") != F.col("tfp_b")))
    sev = F.lit(severity)
    carry = ["hamming"]
    if grade_with_edit_sim:
        from ..operators.dedup import edit_similarity
        conflicts = conflicts.withColumn(
            "edit_sim", edit_similarity("_np_a", "_np_b"))
        sev = (F.when(F.col("edit_sim") < contradiction_below,
                      F.lit("error")).otherwise(F.lit(severity)))
        carry.append("edit_sim")
    both = conflicts.select(
        F.col("id_a").alias("rid"), F.col("id_b").alias("other"), *carry
    ).unionByName(conflicts.select(
        F.col("id_b").alias("rid"), F.col("id_a").alias("other"), *carry))
    out = violation_rows(
        both, row_id=F.col("rid"),
        constraint_id=f"label-conflict:{transcript_col}",
        keyword="x-label-conflict", instance_path=f"/{transcript_col}",
        schema_path="#/x-label-conflict",
        message=F.concat(
            F.lit("Must not contradict the transcript of acoustic "
                  "near-duplicate `"), F.col("other"), F.lit("`"),
            *((F.lit(" (edit_sim "), F.col("edit_sim").cast("string"),
               F.lit(")"))
              if grade_with_edit_sim else ())),
        actual=F.col("hamming"), ruleset_name=ruleset_name, severity=sev)
    # carry the persisted fingerprint relation's handle so release(df)
    # works on the violations (release_all remains the session safety net)
    return _track(out, pairs)


def chunk_clips(clips, *, window_ms: int = 1000, hop_ms: int | None = None,
                pad_last: bool = False, min_last_ms: int | None = None):
    """clips(clip_id, bytes) -> fixed-length training windows:
    (clip_id, chunk_idx, start_ms, end_ms, sr_hz, bytes) — the audio
    analog of operators/chunking.chunk_documents (audio dataloaders want
    fixed windows; VAD-based :func:`slice_segments` cuts at speech
    boundaries instead).

    Windows start every ``hop_ms`` (default = ``window_ms``, i.e.
    non-overlapping); the LAST window follows chunk_documents' tail rule:
    it lands on the final sample (start = len - window) so every sample
    is covered with no over-budget window and no runt — unless the whole
    clip is shorter than ``window_ms``, in which case the single short
    window is emitted as-is (or zero-padded to exactly ``window_ms``
    when ``pad_last``). ``min_last_ms`` instead DROPS a final
    shorter-than-window clip below that length (padding and dropping are
    mutually exclusive). Map-only, one decode per clip, output bytes ~=
    input bytes x window/hop; undecodable payloads emit zero rows."""
    if hop_ms is None:
        hop_ms = window_ms
    if not 0 < hop_ms <= window_ms:
        raise ValueError(f"hop_ms must be in (0, window_ms], got {hop_ms}")
    if pad_last and min_last_ms is not None:
        raise ValueError("pad_last and min_last_ms are mutually exclusive")
    schema = ("clip_id string, chunk_idx int, start_ms int, end_ms int, "
              "sr_hz int, bytes binary")

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    sr, x = decode_payload_any(bytes(b) if b is not None else b"")
                    if sr <= 0:
                        raise ValueError("bad sr")
                except ValueError:
                    continue
                win = max(1, int(sr * window_ms / 1000))
                hop = max(1, int(sr * hop_ms / 1000))
                n = len(x)
                if n == 0:
                    continue
                if n < win:
                    if min_last_ms is not None \
                            and n < int(sr * min_last_ms / 1000):
                        continue
                    seg = x
                    if pad_last:
                        seg = np.concatenate(
                            [x, np.zeros(win - n, dtype=x.dtype)])
                    rows.append((cid, 0, 0, int(round(len(seg) / sr * 1000)),
                                 sr, wav_bytes(_to_pcm16(seg), sr)))
                    continue
                starts = list(range(0, n - win + 1, hop))
                if starts[-1] + win < n:    # tail rule: land on the end
                    starts.append(n - win)
                for k, s in enumerate(starts):
                    seg = x[s: s + win]
                    rows.append((cid, k, int(round(s / sr * 1000)),
                                 int(round((s + win) / sr * 1000)),
                                 sr, wav_bytes(_to_pcm16(seg), sr)))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "chunk_idx", "start_ms", "end_ms", "sr_hz",
                "bytes"])

    return clips.select("clip_id", "bytes").mapInPandas(fn, schema=schema)


def normalize_loudness_clips(clips, *, target_lufs: float = -23.0,
                             peak_dbfs: float = -1.0,
                             passthrough: tuple = (),
                             id_col: str = "clip_id"):
    """Loudness normalization to a target integrated LUFS (the EBU R128 /
    speech-corpus convention; BS.1770-4 measurement via
    :func:`integrated_lufs`) with a sample-peak ceiling — the refined
    companion to :func:`canonicalize_clips`'s RMS ``normalize_db`` stage:
    LUFS weights what the EAR hears (K-weighting + gating), so quiet-room
    speech and denser audio land at comparable perceived levels, which is
    what a training mix wants equalized.

    Per clip: decode once (any engine codec via
    :func:`decode_payload_any`), measure, apply gain
    10^((target - measured)/20) CAPPED so the sample peak never exceeds
    ``peak_dbfs`` (a quiet clip with one transient must not clip — the
    cap is reported as ``limited`` true with the applied gain), re-encode
    the canonical mono PCM16 WAV. Gated-silent clips (measured None) pass
    through at unit gain with ``measured_lufs`` NULL — silence has no
    loudness to normalize and nulling it out is the validation pass's
    call, not this stage's. Undecodable payloads emit zero rows (the
    canonicalize/slice policy). Map-only, one Arrow stage, payload never
    shuffles.

    Output: clip_id, sr_hz, measured_lufs, gain_db, limited, bytes
    (+ ``passthrough`` columns carried verbatim).
    """
    pt = tuple(passthrough)
    missing = [c for c in (id_col, *pt) if c not in clips.columns]
    if missing:
        raise ValueError(
            f"normalize_loudness_clips: column(s) {missing} not in input "
            f"(has {clips.columns}); check id_col/passthrough")
    pt_ddl = ", ".join(
        f"{c} {clips.schema[c].dataType.simpleString()}" for c in pt)
    schema = ("clip_id string, sr_hz int, measured_lufs double, "
              "gain_db double, limited boolean, bytes binary")
    if pt_ddl:
        schema = f"{schema}, {pt_ddl}"
    peak_lin = 10.0 ** (float(peak_dbfs) / 20.0)

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for _, r in pdf.iterrows():
                b = r["bytes"]
                if b is None:
                    continue
                try:
                    sr, x = decode_payload_any(bytes(b))
                except Exception:
                    continue
                lufs = integrated_lufs(x, sr)
                if lufs is None:
                    gain, limited, out = 1.0, False, x
                else:
                    gain = 10.0 ** ((float(target_lufs) - lufs) / 20.0)
                    peak = float(np.max(np.abs(x))) if len(x) else 0.0
                    limited = peak * gain > peak_lin
                    if limited and peak > 0:
                        gain = peak_lin / peak
                    out = x * gain
                row = {
                    "clip_id": str(r[id_col]),
                    "sr_hz": int(sr),
                    "measured_lufs": (float(lufs) if lufs is not None
                                      else None),
                    "gain_db": float(20.0 * np.log10(max(gain, 1e-12))),
                    "limited": bool(limited),
                    "bytes": wav_bytes(_to_pcm16(out), sr),
                }
                for c in pt:
                    row[c] = r[c]
                rows.append(row)
            if rows:
                yield pd.DataFrame(rows)

    cols = [id_col, "bytes", *pt]
    return clips.select(*cols).mapInPandas(fn, schema=schema)


# ---------------------------------------------------------------------------
# speech-vs-noise SNR estimation (the standard speech-corpus curation
# metric: how far does the speech energy sit above the recording's noise
# floor; low-SNR clips train poorly and transcribe worse)
# ---------------------------------------------------------------------------

# clamp for the noise floor: one PCM16 LSB of amplitude. A digitally
# silent floor (exact zeros) would make the ratio infinite; physically the
# recording chain cannot resolve below 1 LSB, so SNR saturates around
# 10*log10(1 / (1/32768)^2) ~ 90 dB instead of overflowing.
_PCM16_LSB_POWER = (1.0 / 32768.0) ** 2


def snr_estimate(clips, *, frame_ms: int = 20, silence_db: float = -40.0,
                 min_gap_ms: int = 60, min_seg_ms: int = 40,
                 floor_pct: float = 10.0):
    """clips(clip_id, bytes) -> per-clip SNR estimates:
    (clip_id, decode_ok, n_frames, voiced_ms, snr_vad_db, snr_floor_db).

    Two estimators from ONE decode + framing pass (the
    :func:`voiced_segments` energy framing):

    * ``snr_vad_db`` — 10*log10(P_speech / P_noise) with P_speech the
      mean frame power inside :func:`detect_voiced_runs` segments and
      P_noise the mean power OUTSIDE them. NULL when the clip has no
      voiced run or no unvoiced frame (nothing to compare) — a gate on
      this column therefore never fires on all-speech or all-silence
      clips, which are `voiced_content`'s business.
    * ``snr_floor_db`` — 10*log10(P_mean / P_floor) with P_floor the
      ``floor_pct``-th percentile of frame power: defined for EVERY
      decodable clip with >= 10 frames (fully-voiced clips included),
      the percentile-floor estimator used when VAD sides are degenerate.

    Both clamp the denominator at one PCM16 LSB of power (digital
    silence saturates ~90 dB rather than overflowing). Map-only
    ``mapInPandas``; payload bytes never leave the stage. Undecodable
    clips emit (decode_ok=false, NULL metrics) — the decode guard's
    violation, this operator's honest row."""
    silence_amp = 10 ** (silence_db / 20)
    gap_f = max(1, min_gap_ms // frame_ms)
    seg_f = max(1, min_seg_ms // frame_ms)
    schema = ("clip_id string, decode_ok boolean, n_frames int, "
              "voiced_ms int, snr_vad_db double, snr_floor_db double")

    def fn(iterator):
        for pdf in iterator:
            rows = []
            for cid, b in zip(pdf["clip_id"], pdf["bytes"]):
                try:
                    sr, x = decode_payload_any(
                        bytes(b) if b is not None else b"")
                    if sr <= 0:
                        raise ValueError("bad sr")
                except ValueError:
                    rows.append((cid, False, 0, 0, None, None))
                    continue
                flen = max(1, int(sr * frame_ms / 1000))
                n_frames = len(x) // flen
                if not n_frames:
                    rows.append((cid, True, 0, 0, None, None))
                    continue
                frames = x[: n_frames * flen].reshape(n_frames, flen)
                power = np.mean(frames ** 2, axis=1)
                frame_rms = np.sqrt(power)
                runs = detect_voiced_runs(frame_rms, silence_amp,
                                          gap_f, seg_f)
                voiced = np.zeros(n_frames, dtype=bool)
                for s, e in runs:
                    voiced[s:e] = True
                n_voiced = int(voiced.sum())
                snr_vad = None
                if 0 < n_voiced < n_frames:
                    p_s = float(power[voiced].mean())
                    p_n = max(float(power[~voiced].mean()),
                              _PCM16_LSB_POWER)
                    snr_vad = 10.0 * np.log10(max(p_s, _PCM16_LSB_POWER)
                                              / p_n)
                snr_floor = None
                if n_frames >= 10:
                    p_f = max(float(np.percentile(power, floor_pct)),
                              _PCM16_LSB_POWER)
                    snr_floor = 10.0 * np.log10(
                        max(float(power.mean()), _PCM16_LSB_POWER) / p_f)
                rows.append((cid, True, n_frames,
                             n_voiced * frame_ms, snr_vad, snr_floor))
            yield pd.DataFrame(rows, columns=[
                "clip_id", "decode_ok", "n_frames", "voiced_ms",
                "snr_vad_db", "snr_floor_db"])

    return clips.select("clip_id", "bytes").mapInPandas(fn, schema=schema)


def snr_violations(clips, *, min_snr_db: float = 15.0,
                   frame_ms: int = 20, silence_db: float = -40.0,
                   min_gap_ms: int = 60, min_seg_ms: int = 40,
                   floor_pct: float = 10.0,
                   ruleset_name: str = "engine",
                   severity: str = "warning"):
    """Violation rows for low speech-to-noise clips: decodable clips
    whose ``snr_vad_db`` falls below ``min_snr_db`` (shape shared with
    the row validator, like speaking_rate_violations). Clips with a NULL
    estimate never violate — all-silent clips are ``voiced_content``'s
    business, undecodable ones the decode guard's. The VAD segmentation
    knobs (``min_gap_ms``/``min_seg_ms``/``floor_pct``) forward to
    :func:`snr_estimate` so a caller tuning the estimate gets the SAME
    segmentation in the gate."""
    est = snr_estimate(clips, frame_ms=frame_ms, silence_db=silence_db,
                       min_gap_ms=min_gap_ms, min_seg_ms=min_seg_ms,
                       floor_pct=floor_pct)
    bad = est.where(F.col("decode_ok")
                    & F.col("snr_vad_db").isNotNull()
                    & (F.col("snr_vad_db") < float(min_snr_db)))
    return violation_rows(
        bad, row_id=F.col("clip_id"), constraint_id="snr:bytes",
        keyword="x-snr", instance_path="/bytes", schema_path="#/x-snr",
        message=F.concat(
            F.lit(f"Must have speech SNR >= {min_snr_db:g} dB above the "
                  "noise floor: got "),
            F.round("snr_vad_db", 1).cast("string"), F.lit(" dB")),
        actual=F.round("snr_vad_db", 4), expected=[f">= {min_snr_db:g}"],
        ruleset_name=ruleset_name, severity=severity)
