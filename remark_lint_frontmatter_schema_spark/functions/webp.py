"""VP8L (lossless WEBP) codec — pure Python/numpy, no codec libs.

Round 5 (VERDICT #2): the WEBP pixel-decode refusal narrows to lossy
VP8. VP8L is LZ77 + canonical Huffman over ARGB pixels — the same
feasibility class as the finished GIF (LZW) and PNG (DEFLATE via zlib)
codecs — and is self-validating by byte-exact roundtrip.

Implemented per the PUBLIC WebP Lossless Bitstream Specification
(RFC 9649 §4; container per the RIFF/WEBP spec), reference-semantics
analog: the engine reads the payload where it lives, index.ts:217.

DECODER — full VP8L feature set:
* LSB-first bit reader; canonical prefix codes (DEFLATE-style
  assignment, code bits read MSB-first) with both storages: simple
  (1-2 symbols) and normal (the 19-symbol code-length code in
  ``_CL_ORDER`` order, repeat opcodes 16/17/18, optional max_symbol);
  single-symbol codes cost 0 bits per read, per spec.
* LZ77 backward references: 24 length + 40 distance prefix codes with
  extra bits; the first 120 distance codes map to 2D near-pixel
  offsets (``_DIST_MAP`` — generated from the spec's ordering rule:
  all (dx, dy), dy in 0..7, dx in -7..8, dy>0 or dx>0, sorted by
  (dx²+dy², |dx|, sign) — asserted to reproduce the published table's
  size and head), the rest are linear.
* Color cache (hash 0x1e35a7bd, every emitted pixel inserted) and
  meta-Huffman groups (entropy image, (r<<8)|g meta codes) — the
  entropy image and transform tile images recurse through the same
  stream decoder (color cache allowed at every level, meta-Huffman
  only at level 0, per spec).
* All four inverse transforms, applied in reverse read order:
  subtract-green; color indexing (delta-coded palette, sub-8-bit
  index packing for palettes <= 16, out-of-range index -> 0 per
  spec); the per-tile color transform (green_to_red in the blue
  channel, green_to_blue in green, red_to_blue in red; deltas are
  signed (t*c)>>5 with the transformed red feeding red_to_blue); the
  14-mode predictor transform (Select and the clamped add/subtract
  pair use C truncation semantics; edges: top-left pixel predicts
  opaque black, top row predicts left, left column predicts top, the
  right edge's top-right wraps to the leftmost pixel of the SAME row
  — the P - width + 1 rule).

ENCODER — a deliberately small, valid subset for self-validation:
no transforms, no cache, single Huffman group, literal-only coding
with per-channel canonical Huffman (heap-built, flat-length fallback
keeps every table complete under the 15/7-bit caps), unused alphabets
as 1-symbol simple codes. Any spec-conforming decoder reads its
output; roundtrips are byte-exact by construction.

Scale posture: this file is the codec; the Spark side stays exactly as
for PNG/GIF/JPEG — Arrow-batched mapInPandas over binary columns,
payloads never shuffle (functions/multimodal.py).
"""

from __future__ import annotations

import struct

import numpy as np

# code-length-code order (spec §4.6.2.2)
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15]

#: 2D offsets for distance codes 1..120, generated from the spec's
#: ordering rule and pinned by the assertions below.
_DIST_MAP = sorted(
    [(dx, dy) for dy in range(8) for dx in range(-7, 9)
     if dy > 0 or dx > 0],
    key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]), p[0] < 0))
assert len(_DIST_MAP) == 120
assert _DIST_MAP[:8] == [(0, 1), (1, 0), (1, 1), (-1, 1), (0, 2),
                         (2, 0), (1, 2), (-1, 2)]


class _BitReader:
    """LSB-first bit reader over the whole payload (spec §4.1)."""

    def __init__(self, data: bytes):
        self._v = int.from_bytes(data, "little")
        self._n = len(data) * 8
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > self._n:
            raise ValueError("VP8L: truncated bitstream")
        out = (self._v >> self.pos) & ((1 << n) - 1)
        self.pos += n
        return out


class _BitWriter:
    def __init__(self):
        self._v = 0
        self.pos = 0

    def write(self, value: int, n: int) -> None:
        self._v |= (value & ((1 << n) - 1)) << self.pos
        self.pos += n

    def bytes(self) -> bytes:
        nb = (self.pos + 7) // 8
        return self._v.to_bytes(max(nb, 1), "little")


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------

class _Huffman:
    """Canonical prefix code from a code-length array (DEFLATE
    assignment: codes ascend by (length, symbol)); decoding walks the
    bitstream MSB-of-code-first. A table with exactly one used symbol
    decodes it for 0 bits, per spec; any other table must be complete
    (Kraft sum exactly 1)."""

    def __init__(self, lengths):
        used = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not used:
            raise ValueError("VP8L: empty prefix code")
        if len(used) == 1:
            self.single = used[0][1]
            self.table = {}
            self.codes = {used[0][1]: (0, 0)}
            return
        self.single = None
        # exact integer Kraft sum over 2^15 (the longest VP8L code);
        # libwebp refuses a multi-symbol code that is not complete
        kraft = sum(1 << (15 - ln) for ln, _ in used)
        if kraft > 1 << 15:
            raise ValueError("VP8L: over-subscribed prefix code")
        if kraft < 1 << 15:
            raise ValueError("VP8L: incomplete prefix code")
        code = 0
        prev_len = 0
        self.table = {}
        self.codes = {}
        for ln, sym in sorted(used):
            code <<= (ln - prev_len)
            self.table[(ln, code)] = sym
            self.codes[sym] = (code, ln)
            code += 1
            prev_len = ln

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        for _ in range(16):
            code = (code << 1) | br.read(1)
            ln += 1
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("VP8L: invalid prefix code in stream")

    def write(self, bw: _BitWriter, sym: int) -> None:
        code, ln = self.codes[sym]
        for i in range(ln - 1, -1, -1):   # MSB first
            bw.write((code >> i) & 1, 1)


def _read_code_lengths(br: _BitReader, cl_huff: _Huffman,
                       num_symbols: int) -> list[int]:
    lengths = [0] * num_symbols
    if br.read(1):                         # bounded max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = num_symbols
    symbol = 0
    prev = 8
    while symbol < num_symbols:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code = cl_huff.read(br)
        if code < 16:
            lengths[symbol] = code
            symbol += 1
            if code:
                prev = code
        elif code == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol < num_symbols:
                    lengths[symbol] = prev
                    symbol += 1
        elif code == 17:
            symbol += 3 + br.read(3)
        else:
            symbol += 11 + br.read(7)
    return lengths


def _read_huffman(br: _BitReader, alphabet: int) -> _Huffman:
    if br.read(1):                          # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        lengths = [0] * alphabet
        if sym0 >= alphabet:
            raise ValueError("VP8L: simple-code symbol out of alphabet")
        if num_symbols == 1:
            lengths[sym0] = 1               # single-symbol: 0-bit reads
        else:
            sym1 = br.read(8)
            if sym0 == sym1:
                raise ValueError("VP8L: duplicate simple-code symbol")
            if sym1 >= alphabet:
                raise ValueError(
                    "VP8L: simple-code symbol out of alphabet")
            lengths[sym0] = 1
            lengths[sym1] = 1
        return _Huffman(lengths)
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_huff = _Huffman(cl_lengths)
    return _Huffman(_read_code_lengths(br, cl_huff, alphabet))


def _prefix_value(br: _BitReader, prefix_code: int) -> int:
    """LZ77 length/distance prefix decode (spec §4.2.2)."""
    if prefix_code < 4:
        return prefix_code + 1
    extra = (prefix_code - 2) >> 1
    offset = (2 + (prefix_code & 1)) << extra
    return offset + br.read(extra) + 1


# ---------------------------------------------------------------------------
# stream decode (recursive: entropy images use the same machinery)
# ---------------------------------------------------------------------------

def _decode_stream(br: _BitReader, w: int, h: int, *,
                   level0: bool) -> np.ndarray:
    """One VP8L-coded ARGB image (uint32 array of w*h) — the shared
    engine behind the main image, meta-Huffman entropy images, and
    transform tile images."""
    transforms = []
    cur_w = w
    if level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("VP8L: transform declared twice")
            seen.add(ttype)
            if ttype == 2:                      # subtract green
                transforms.append(("subtract_green", None, cur_w))
            elif ttype in (0, 1):               # predictor / color
                size_bits = br.read(3) + 2
                tw = -(-cur_w // (1 << size_bits))
                th = -(-h // (1 << size_bits))
                tiles = _decode_stream(br, tw, th, level0=False)
                name = "predictor" if ttype == 0 else "color"
                transforms.append((name, (size_bits, tw, tiles), cur_w))
            else:                               # color indexing
                n_colors = br.read(8) + 1
                deltas = _decode_stream(br, n_colors, 1, level0=False)
                palette = np.zeros(n_colors, dtype=np.uint32)
                prev = np.uint32(0)
                for i in range(n_colors):
                    # component-wise delta accumulation (spec §4.2.4)
                    prev = _add_pixels(prev, deltas[i])
                    palette[i] = prev
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(
                    ("color_indexing",
                     (width_bits, palette, cur_w), cur_w))
                cur_w = -(-cur_w // (1 << width_bits))

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("VP8L: bad color-cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta = None
    n_groups = 1
    if level0 and br.read(1):                   # meta-Huffman
        size_bits = br.read(3) + 2
        mw = -(-cur_w // (1 << size_bits))
        mh = -(-h // (1 << size_bits))
        img = _decode_stream(br, mw, mh, level0=False)
        codes = ((img >> 8) & 0xFFFF).astype(np.int64)
        meta = (size_bits, mw, codes)
        n_groups = int(codes.max()) + 1

    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        groups.append((_read_huffman(br, green_alpha),
                       _read_huffman(br, 256),     # red
                       _read_huffman(br, 256),     # blue
                       _read_huffman(br, 256),     # alpha
                       _read_huffman(br, 40)))     # distance

    n = cur_w * h
    out = np.zeros(n, dtype=np.uint32)
    pos = 0
    g_h = r_h = b_h = a_h = d_h = None
    cur_group = -1
    while pos < n:
        if meta is not None or cur_group < 0:
            x, y = pos % cur_w, pos // cur_w
            gi = 0
            if meta is not None:
                sb, mw, codes = meta
                gi = int(codes[(y >> sb) * mw + (x >> sb)])
            if gi != cur_group:
                g_h, r_h, b_h, a_h, d_h = groups[gi]
                cur_group = gi
        s = g_h.read(br)
        if s < 256:
            # channel read order per spec: green, red, blue, alpha
            r_v = r_h.read(br)
            b_v = b_h.read(br)
            a_v = a_h.read(br)
            px = (a_v << 24) | (r_v << 16) | (s << 8) | b_v
            out[pos] = px
            if cache is not None:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = px
            pos += 1
        elif s < 280:
            length = _prefix_value(br, s - 256)
            dcode = _prefix_value(br, d_h.read(br))
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dy * cur_w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("VP8L: backward reference out of range")
            for i in range(length):
                px = out[pos - dist]
                out[pos] = px
                if cache is not None:
                    cache[(0x1E35A7BD * int(px) & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
                pos += 1
        else:
            if cache is None:
                raise ValueError("VP8L: cache symbol without cache")
            out[pos] = cache[s - 280]
            pos += 1

    for name, data, t_w in reversed(transforms):
        out, cur_w = _inverse_transform(name, data, out, cur_w, h, t_w)
    return out


def _add_pixels(a: np.uint32, b: np.uint32) -> np.uint32:
    s = 0
    for shift in (0, 8, 16, 24):
        s |= ((int(a) >> shift) + (int(b) >> shift) & 0xFF) << shift
    return np.uint32(s)


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------

def _sgn8(v):
    v = int(v) & 0xFF
    return v - 256 if v >= 128 else v


def _inverse_transform(name, data, img, cur_w, h, orig_w):
    if name == "subtract_green":
        g = (img >> 8) & 0xFF
        r = (((img >> 16) & 0xFF) + g) & 0xFF
        b = ((img & 0xFF) + g) & 0xFF
        return (img & 0xFF00FF00) | (r << 16) | b, cur_w
    if name == "color_indexing":
        width_bits, palette, t_w = data
        greens = ((img >> 8) & 0xFF).astype(np.int64)
        if width_bits == 0:
            idx = greens
        else:
            per = 1 << width_bits
            bits = 8 >> width_bits
            mask = (1 << bits) - 1
            sub = np.arange(t_w) & (per - 1)
            packed = greens.reshape(h, cur_w)
            cols = (np.arange(t_w) >> width_bits)
            idx = ((packed[:, cols] >> (sub * bits)) & mask).ravel()
        out = np.zeros(idx.size, dtype=np.uint32)
        ok = idx < palette.size
        out[ok] = palette[idx[ok]]           # out-of-range -> 0, per spec
        return out, t_w
    if name == "color":
        size_bits, tw, tiles = data
        out = img.copy()
        for y in range(h):
            trow = tiles[(y >> size_bits) * tw:]
            for x in range(cur_w):
                cte = int(trow[x >> size_bits])
                g2r, g2b, r2b = (_sgn8(cte), _sgn8(cte >> 8),
                                 _sgn8(cte >> 16))
                px = int(out[y * cur_w + x])
                g = _sgn8(px >> 8)
                r = ((px >> 16 & 0xFF) + ((g2r * g) >> 5)) & 0xFF
                b = ((px & 0xFF) + ((g2b * g) >> 5)) & 0xFF
                b = (b + ((r2b * _sgn8(r)) >> 5)) & 0xFF
                out[y * cur_w + x] = (px & 0xFF00FF00) | (r << 16) | b
        return out, cur_w
    # predictor
    size_bits, tw, tiles = data
    out = img.copy()
    for y in range(h):
        for x in range(cur_w):
            i = y * cur_w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(out[i - 1])                     # left
            elif x == 0:
                pred = int(out[i - cur_w])                 # top
            else:
                mode = (int(tiles[(y >> size_bits) * tw
                                  + (x >> size_bits)]) >> 8) & 0xFF
                left = int(out[i - 1])
                top = int(out[i - cur_w])
                tl = int(out[i - cur_w - 1])
                tr = int(out[i - cur_w + 1])   # x==w-1 wraps: P-w+1 rule
                pred = _predict(mode, left, top, tl, tr)
            out[i] = _add_pixels(np.uint32(pred), out[i])
    return out, cur_w


def _chan(p):
    return ((p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF,
            p & 0xFF)


def _pack(c):
    return (c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3]


def _avg2(a, b):
    return _pack(tuple((x + y) >> 1
                       for x, y in zip(_chan(a), _chan(b))))


def _div2_trunc(x: int) -> int:
    """C-semantics /2 (truncate toward zero), per the spec's
    ClampAddSubtractHalf pseudo-code."""
    return x // 2 if x >= 0 else -((-x) // 2)


def _predict(mode, left, top, tl, tr):
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:                              # Select
        lc, tc, tlc = _chan(left), _chan(top), _chan(tl)
        p = [a + b - c for a, b, c in zip(lc, tc, tlc)]
        pa = sum(abs(pc - a) for pc, a in zip(p, lc))
        pb = sum(abs(pc - b) for pc, b in zip(p, tc))
        # RFC 9649 / libwebp: left only when strictly closer
        return left if pa < pb else top
    if mode == 12:                              # ClampAddSubtractFull
        return _pack(tuple(
            min(255, max(0, a + b - c))
            for a, b, c in zip(_chan(left), _chan(top), _chan(tl))))
    if mode == 13:                              # ClampAddSubtractHalf
        return _pack(tuple(
            min(255, max(0, ave + _div2_trunc(ave - c)))
            for ave, c in zip(_chan(_avg2(left, top)), _chan(tl))))
    raise ValueError(f"VP8L: invalid predictor mode {mode}")


# ---------------------------------------------------------------------------
# container + public API
# ---------------------------------------------------------------------------

def _riff_chunks(b: bytes):
    """(fourcc, payload) pairs of a RIFF/WEBP body, honoring the
    odd-size pad byte (RIFF spec)."""
    pos = 12
    while pos + 8 <= len(b):
        fourcc = b[pos:pos + 4]
        (size,) = struct.unpack("<I", b[pos + 4:pos + 8])
        payload = b[pos + 8:pos + 8 + size]
        if len(payload) < size:
            raise ValueError(f"truncated WEBP chunk {fourcc!r}")
        yield fourcc, payload
        pos += 8 + size + (size & 1)


def webp_decode(b: bytes) -> np.ndarray:
    """Decode a lossless (VP8L) WEBP to (h, w, 3|4) uint8 — 4 channels
    when any pixel carries alpha != 255. VP8X extended containers are
    UNWRAPPED (round-5 continuation): the chunk walk finds the still
    image's ``VP8L`` chunk behind ICCP/EXIF/XMP metadata; animated
    (ANIM) files and lossy stills keep an honest refusal —
    boolean-arithmetic DCT decoding is codec-library territory."""
    if len(b) < 21 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        raise ValueError("not a WEBP container")
    fourcc = b[12:16]
    payload = None
    if fourcc == b"VP8 ":
        raise NotImplementedError(
            "lossy VP8 pixel decode requires a codec library (boolean "
            "arithmetic coder + DCT); VP8L lossless decodes natively")
    if fourcc == b"VP8X":
        seen = []
        for cc, body in _riff_chunks(b):
            seen.append(cc)
            if cc == b"ANMF" or cc == b"ANIM":
                raise NotImplementedError(
                    "animated WEBP (VP8X/ANIM) is not decoded; still "
                    "VP8L (plain or VP8X-wrapped) decodes natively")
            if cc == b"VP8 ":
                raise NotImplementedError(
                    "VP8X-wrapped lossy VP8 pixel decode requires a "
                    "codec library; VP8L lossless decodes natively")
            if cc == b"VP8L":
                payload = body
                break
        if payload is None:
            raise ValueError(
                f"VP8X container holds no image chunk (saw {seen!r})")
    elif fourcc == b"VP8L":
        (size,) = struct.unpack("<I", b[16:20])
        payload = b[20:20 + size]
    else:
        raise ValueError(f"unknown WEBP chunk {fourcc!r}")
    if len(payload) < 5 or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _BitReader(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)                                   # alpha hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    argb = _decode_stream(br, w, h, level0=True).reshape(h, w)
    a = ((argb >> 24) & 0xFF).astype(np.uint8)
    r = ((argb >> 16) & 0xFF).astype(np.uint8)
    g = ((argb >> 8) & 0xFF).astype(np.uint8)
    bl = (argb & 0xFF).astype(np.uint8)
    if bool((a != 255).any()):
        return np.stack([r, g, bl, a], axis=-1)
    return np.stack([r, g, bl], axis=-1)


def _huffman_lengths(freqs: dict[int, int], max_len: int) -> dict[int, int]:
    """Canonical code lengths for the used symbols: heap-built Huffman,
    falling back to the flat complete code (k symbols: 2^L - k codes of
    length L-1, the rest L, Kraft == 1 exactly) whenever the tree
    exceeds ``max_len``."""
    import heapq
    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    depth = {s: 0 for s in syms}
    ctr = len(heap)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, ctr, s1 + s2))
        ctr += 1
    if max(depth.values()) <= max_len:
        return depth
    k = len(syms)
    flat_l = max(1, (k - 1).bit_length())
    if flat_l > max_len:
        raise ValueError("VP8L encoder: alphabet too large for cap")
    short = (1 << flat_l) - k
    return {s: (flat_l - 1 if i < short and flat_l > 1 else flat_l)
            for i, s in enumerate(syms)}


def _write_huffman(bw: _BitWriter, lengths_by_sym: dict[int, int],
                   alphabet: int) -> _Huffman:
    syms = sorted(lengths_by_sym)
    if len(syms) == 1 or (len(syms) == 2
                          and all(s < 256 for s in syms)):
        bw.write(1, 1)                          # simple
        bw.write(len(syms) - 1, 1)
        if syms[0] <= 1 and len(syms) == 1:
            bw.write(0, 1)
            bw.write(syms[0], 1)
        else:
            bw.write(1, 1)
            bw.write(syms[0], 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        lengths = [0] * alphabet
        if len(syms) == 1:
            lengths[syms[0]] = 1
        else:
            lengths[syms[0]] = lengths[syms[1]] = 1
        return _Huffman(lengths)
    bw.write(0, 1)                              # normal
    lengths = [0] * alphabet
    for s, ln in lengths_by_sym.items():
        lengths[s] = ln
    cl_freq: dict[int, int] = {}
    for ln in lengths:
        cl_freq[ln] = cl_freq.get(ln, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq, 7)
    cl_full = [0] * 19
    for s, ln in cl_lengths.items():
        cl_full[s] = ln
    bw.write(15, 4)                             # all 19 slots
    for i in range(19):
        bw.write(cl_full[_CL_ORDER[i]], 3)
    bw.write(0, 1)                              # no max_symbol
    cl_huff = _Huffman(cl_full)
    for ln in lengths:
        cl_huff.write(bw, ln)
    return _Huffman(lengths)


def webp_encode_lossless(pixels: np.ndarray) -> bytes:
    """Encode (h, w, 3|4) uint8 to a lossless WEBP (VP8L subset: no
    transforms, no cache, one Huffman group, literals only — every
    stream a spec decoder accepts; roundtrip is byte-exact)."""
    px = np.asarray(pixels)
    if px.ndim != 3 or px.shape[2] not in (3, 4):
        raise ValueError("expected (h, w, 3|4) uint8 pixels")
    h, w, ch = px.shape
    if not (1 <= w <= 16384 and 1 <= h <= 16384):
        raise ValueError("VP8L dimensions must be 1..16384")
    px = px.astype(np.uint8)
    r = px[:, :, 0].ravel().astype(np.int64)
    g = px[:, :, 1].ravel().astype(np.int64)
    b = px[:, :, 2].ravel().astype(np.int64)
    a = (px[:, :, 3].ravel().astype(np.int64) if ch == 4
         else np.full(w * h, 255, dtype=np.int64))

    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if ch == 4 else 0, 1)            # alpha hint
    bw.write(0, 3)                              # version
    bw.write(0, 1)                              # no transforms
    bw.write(0, 1)                              # no color cache
    bw.write(0, 1)                              # no meta-Huffman

    def freqs(arr):
        vals, counts = np.unique(arr, return_counts=True)
        return {int(v): int(c) for v, c in zip(vals, counts)}

    g_h = _write_huffman(bw, _huffman_lengths(freqs(g), 15), 280)
    r_h = _write_huffman(bw, _huffman_lengths(freqs(r), 15), 256)
    b_h = _write_huffman(bw, _huffman_lengths(freqs(b), 15), 256)
    a_h = _write_huffman(bw, _huffman_lengths(freqs(a), 15), 256)
    _write_huffman(bw, {0: 1}, 40)              # unused distances
    for i in range(w * h):
        g_h.write(bw, int(g[i]))
        r_h.write(bw, int(r[i]))
        b_h.write(bw, int(b[i]))
        a_h.write(bw, int(a[i]))

    payload = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
