"""Multimodal payload plumbing: opaque binary columns + typed metadata.

Images/video/audio are carried as ``binary`` columns with a metadata
struct; decode / feature-extract / resize run as Arrow-batched
``mapInPandas`` stages (video frame sampling: functions/video.py). Pixel decode is REAL for PNG (pure
numpy+zlib below: all five scanline filters, chunk CRC-32 verified,
8-bit gray/GA/RGB/RGBA), GIF (variable-width LZW below) and baseline
JPEG (functions/jpeg.py: Annex-K tables, Huffman + DCT, 4:4:4 subset)
and lossless WEBP (functions/webp.py: full VP8L — LZ77 + canonical
Huffman, color cache, meta-Huffman, all four inverse transforms) —
mirroring the pure-numpy FLAC/G.711/ADPCM audio codecs and the Y4M
video codec. Only LOSSY WEBP (VP8 boolean-arithmetic DCT) and
animated WEBP stay behind a clearly-marked ``NotImplementedError``
(codec-library territory, libs not in this sandbox; VP8X extended
containers wrapping a lossless still are unwrapped and decode) —
their Spark-side plumbing (schemas, UDF signatures, batch shapes,
partition discipline) is real and tested regardless.

Payload discipline (same as audio): binary columns are never shuffled —
every operator here is a map-only stage emitting small typed rows; joins
happen on the metadata outputs.

Reference analog: the reference validates frontmatter it can actually
parse (YAML -> Ajv, index.ts:210-254); the PNG path gives images the same
"decode it, don't trust the header" standard the north_star sets for audio
(decoded-PCM SNR), at parity: header says WxH, the decoder proves it.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..operators.validate import to_col

MEDIA_SCHEMA = ("media_id string, bytes binary, media_type string, "
                "meta map<string,string>")

IMAGE_META_SCHEMA = ("media_id string, format string, width int, height int, "
                     "n_bytes long, decode_ok boolean")


def sniff_image_format(b: bytes) -> str | None:
    """Container sniffing from magic bytes — real, no codec lib needed."""
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if b[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        return "webp"
    return None


def png_dimensions(b: bytes) -> tuple[int, int] | None:
    """PNG IHDR width/height — header-level, real."""
    if sniff_image_format(b) != "png" or len(b) < 24:
        return None
    w, h = struct.unpack_from(">II", b, 16)
    return w, h


def webp_dimensions(b: bytes) -> tuple[int, int] | None:
    """WEBP canvas width/height from the container header alone — all
    three layouts (RIFF spec + VP8/VP8L bitstream headers; pixel decode
    stays refused, VP8 entropy coding needs a codec lib):

    * ``VP8 `` lossy: keyframe start code then 14-bit w/h at a fixed
      offset (3-byte frame tag + 3-byte start code 9D 01 2A).
    * ``VP8L`` lossless: signature byte 0x2F then 14-bit w-1 / h-1
      little-endian bit-packed.
    * ``VP8X`` extended: 24-bit canvas w-1 / h-1 little-endian.

    Returns None when the chunk layout is unrecognized/truncated."""
    if sniff_image_format(b) != "webp" or len(b) < 20:
        return None
    fourcc = b[12:16]
    if fourcc == b"VP8X" and len(b) >= 30:
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        return w, h
    if fourcc == b"VP8L" and len(b) >= 25 and b[20] == 0x2F:
        bits = int.from_bytes(b[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return w, h
    if fourcc == b"VP8 " and len(b) >= 30:
        # keyframe: frame tag (3) + start code 9D 01 2A + 16-bit w/h
        # (14 data bits each)
        if b[23:26] == b"\x9d\x01\x2a":
            w = int.from_bytes(b[26:28], "little") & 0x3FFF
            h = int.from_bytes(b[28:30], "little") & 0x3FFF
            return w, h
    return None


# --------------------------------------------------------------------------
# PNG codec — pure numpy + stdlib zlib. 8-bit depth, color types 0 (gray),
# 2 (RGB), 4 (gray+alpha), 6 (RGBA), no interlace. Every chunk CRC-32 is
# verified on decode; all five scanline filters (None/Sub/Up/Average/Paeth,
# RFC 2083 §6) are implemented on both sides. Unsupported-but-valid PNGs
# (16-bit, palette, Adam7) refuse with a precise ValueError — honest
# refusal over silent garbage, same policy as the FLAC subset codec.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_TO_CH = {0: 1, 2: 3, 4: 2, 6: 4}
_CH_TO_COLOR = {1: 0, 2: 4, 3: 2, 4: 6}


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload)))


def _paeth_predict(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor over int16/int32 arrays."""
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _filter_row(ftype: int, row: np.ndarray, prev: np.ndarray,
                bpp: int) -> np.ndarray:
    """Apply filter ``ftype`` to one raw scanline (encode direction)."""
    r = row.astype(np.int16)
    left = np.zeros_like(r)
    left[bpp:] = r[:-bpp]
    up = prev.astype(np.int16)
    upleft = np.zeros_like(r)
    upleft[bpp:] = up[:-bpp]
    if ftype == 0:
        out = r
    elif ftype == 1:
        out = r - left
    elif ftype == 2:
        out = r - up
    elif ftype == 3:
        out = r - (left + up) // 2
    elif ftype == 4:
        out = r - _paeth_predict(left.astype(np.uint8),
                                 prev, upleft.astype(np.uint8))
    else:
        raise ValueError(f"png: filter type {ftype} out of range")
    return (out % 256).astype(np.uint8)


def _unfilter_row(ftype: int, raw: np.ndarray, prev: np.ndarray,
                  bpp: int) -> np.ndarray:
    """Reconstruct one scanline (decode direction). ``prev`` is the
    already-reconstructed prior row (zeros for the first)."""
    n = raw.shape[0]
    if ftype == 0:
        return raw.copy()
    if ftype == 2:
        return ((raw.astype(np.int16) + prev) % 256).astype(np.uint8)
    if ftype == 1:
        # Sub is a per-lane running sum mod 256 — cumsum, no Python loop.
        lanes = raw.reshape(n // bpp, bpp).astype(np.int64)
        return (np.cumsum(lanes, axis=0) % 256).astype(np.uint8).reshape(n)
    out = np.zeros(n, dtype=np.uint8)
    if ftype == 3:
        for x in range(n):
            left = int(out[x - bpp]) if x >= bpp else 0
            out[x] = (int(raw[x]) + (left + int(prev[x])) // 2) % 256
        return out
    if ftype == 4:
        for x in range(n):
            a = int(out[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (int(raw[x]) + pred) % 256
        return out
    raise ValueError(f"png: filter type {ftype} out of range")


def png_encode(pixels: np.ndarray, *, filters=None, level: int = 6) -> bytes:
    """Encode a uint8 pixel array as a real, spec-conformant PNG.

    ``pixels``: shape (h, w) gray, or (h, w, c) with c in {1, 2, 3, 4}
    (gray / gray+alpha / RGB / RGBA). ``filters`` pins a per-row filter
    type (int or sequence of h ints) — used by tests to exercise every
    decode path; default picks per row by the minimum-sum-of-absolutes
    heuristic the spec recommends.
    """
    px = np.asarray(pixels)
    if px.dtype != np.uint8:
        raise ValueError("png_encode: pixels must be uint8")
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in _CH_TO_COLOR:
        raise ValueError("png_encode: shape must be (h,w) or (h,w,1|2|3|4)")
    h, w, ch = px.shape
    if h < 1 or w < 1:
        raise ValueError("png_encode: empty image")
    color = _CH_TO_COLOR[ch]
    bpp = ch
    flat = px.reshape(h, w * ch)
    if filters is None:
        want = [None] * h
    elif isinstance(filters, int):
        want = [filters] * h
    else:
        want = list(filters)
        if len(want) != h:
            raise ValueError("png_encode: filters must have one entry/row")
    prev = np.zeros(w * ch, dtype=np.uint8)
    lines = []
    for y in range(h):
        row = flat[y]
        if want[y] is None:
            best, best_f = None, 0
            for f in range(5):
                cand = _filter_row(f, row, prev, bpp)
                cost = int(np.abs(cand.astype(np.int8).astype(np.int32)).sum())
                if best is None or cost < best:
                    best, best_f, best_row = cost, f, cand
            lines.append(bytes([best_f]) + best_row.tobytes())
        else:
            f = int(want[y])
            lines.append(bytes([f]) + _filter_row(f, row, prev, bpp).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), level)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b""))


def png_decode(b: bytes) -> np.ndarray:
    """Decode a PNG to a uint8 array of shape (h, w, channels).

    Verifies the signature, every chunk CRC-32, the inflated stream
    length, and filter-type ranges; refuses (ValueError) anything outside
    the supported subset (bit depth 8, color 0/2/4/6, no interlace, no
    palette) rather than guessing.
    """
    if b[:8] != _PNG_SIG:
        raise ValueError("png: bad signature")
    pos, ihdr, idat, seen_end = 8, None, [], False
    while pos < len(b):
        if pos + 8 > len(b):
            raise ValueError("png: truncated chunk header")
        (length,) = struct.unpack_from(">I", b, pos)
        tag = b[pos + 4:pos + 8]
        end = pos + 8 + length
        if end + 4 > len(b):
            raise ValueError(f"png: truncated {tag!r} chunk")
        payload = b[pos + 8:end]
        (crc,) = struct.unpack_from(">I", b, end)
        if zlib.crc32(tag + payload) != crc:
            raise ValueError(f"png: CRC mismatch in {tag!r} chunk")
        if tag == b"IHDR":
            if ihdr is not None:
                raise ValueError("png: duplicate IHDR")
            ihdr = payload
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            seen_end = True
            break
        pos = end + 4
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("png: missing or malformed IHDR")
    if not seen_end:
        raise ValueError("png: missing IEND")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8:
        raise ValueError(f"png: bit depth {depth} unsupported (8 only)")
    if color not in _COLOR_TO_CH:
        raise ValueError(f"png: color type {color} unsupported "
                         "(gray/GA/RGB/RGBA only, no palette)")
    if comp != 0 or filt != 0:
        raise ValueError("png: unknown compression/filter method")
    if interlace != 0:
        raise ValueError("png: Adam7 interlace unsupported")
    if w < 1 or h < 1:
        raise ValueError("png: empty image dimensions")
    if not idat:
        raise ValueError("png: no IDAT data")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError(f"png: IDAT inflate failed: {exc}") from None
    ch = _COLOR_TO_CH[color]
    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError("png: decompressed size does not match dimensions")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        prev = _unfilter_row(int(arr[y, 0]), arr[y, 1:], prev, ch)
        out[y] = prev
    return out.reshape(h, w, ch)


def resize_image(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Bilinear resize, pure vectorized numpy (align-corners=False / pixel-
    center convention, the OpenCV/PIL default). uint8 in, uint8 out."""
    img = np.asarray(px)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1, x1 = np.minimum(y0 + 1, h - 1), np.minimum(x0 + 1, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    f = img.astype(np.float64)
    top = f[y0][:, x0] * (1 - wx) + f[y0][:, x1] * wx
    bot = f[y1][:, x0] * (1 - wx) + f[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def decode_image(b: bytes) -> np.ndarray:
    """Pixel decode. REAL for PNG, GIF, baseline JPEG and lossless
    WEBP (pure numpy/zlib/LZW/DCT/VP8L codecs — see functions/jpeg.py
    and functions/webp.py for the subsets: baseline sequential 4:4:4
    JPEG; full-feature VP8L). VP8X-extended containers holding a VP8L
    still are unwrapped and decoded. The remaining refusal is narrow:
    lossy VP8 (boolean-arithmetic DCT) and animated WEBP raise —
    codec-library territory. Production swaps only this dispatch;
    everything around it (batching, schema, partitioning) is live
    either way."""
    fmt = sniff_image_format(b)
    if fmt == "png":
        return png_decode(b)
    if fmt == "gif":
        return gif_decode(b)
    if fmt == "jpeg":
        from .jpeg import jpeg_decode
        return jpeg_decode(b)
    if fmt == "webp":
        from .webp import webp_decode
        return webp_decode(b)
    raise NotImplementedError(
        f"image pixel decode for {fmt or 'unknown format'} requires a codec "
        "library (PIL/opencv, not in sandbox); PNG, GIF, baseline JPEG and "
        "lossless WEBP decode natively")


# --------------------------------------------------------------------------
# GIF codec — pure Python LZW (variable-width codes, clear/EOI, 4096-entry
# dictionary with mid-stream resets), GIF89a single frame, global color
# table, no interlace. Same honest-refusal policy as the PNG/FLAC subsets:
# animated/interlaced/local-palette-less inputs outside the subset raise a
# precise ValueError instead of guessing.
# --------------------------------------------------------------------------


def _lzw_encode(data: bytes, min_code: int) -> bytes:
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out_bits: list[tuple[int, int]] = []           # (code, width)
    width = min_code + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    out_bits.append((clear, width))
    prefix = b""
    for byte in data:
        cand = prefix + bytes([byte])
        if cand in table:
            prefix = cand
            continue
        out_bits.append((table[prefix], width))
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            out_bits.append((clear, width))
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        prefix = bytes([byte])
    if prefix:
        out_bits.append((table[prefix], width))
    out_bits.append((eoi, width))
    buf, acc, nbits = bytearray(), 0, 0
    for code, w in out_bits:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _lzw_decode(data: bytes, min_code: int, expect: int) -> bytes:
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = nbits = pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("gif: LZW stream truncated (no EOI)")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError(f"gif: LZW code {code} out of range")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1
        if len(out) > expect:
            raise ValueError("gif: LZW output exceeds declared dimensions")
    if len(out) != expect:
        raise ValueError("gif: decoded pixel count does not match dimensions")
    return bytes(out)


def gif_encode(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Encode an index array + RGB palette as a real single-frame GIF89a.

    ``indices``: (h, w) uint8 into ``palette`` (n, 3) uint8, n <= 256.
    """
    idx = np.asarray(indices)
    pal = np.asarray(palette)
    if idx.dtype != np.uint8 or idx.ndim != 2:
        raise ValueError("gif_encode: indices must be (h,w) uint8")
    if pal.dtype != np.uint8 or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("gif_encode: palette must be (n,3) uint8")
    n = pal.shape[0]
    if not 1 <= n <= 256 or int(idx.max(initial=0)) >= n:
        raise ValueError("gif_encode: palette size/index out of range")
    h, w = idx.shape
    bits = max(1, (max(n, 2) - 1).bit_length())       # GCT size exponent
    gct = np.zeros((1 << bits, 3), dtype=np.uint8)
    gct[:n] = pal
    min_code = max(2, bits)
    lzw = _lzw_encode(idx.tobytes(), min_code)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        blocks += bytes([len(chunk)]) + chunk
    return (b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
            + gct.tobytes()
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            + bytes([min_code]) + bytes(blocks) + b"\x00"
            + b"\x3b")


def gif_decode(b: bytes) -> np.ndarray:
    """Decode a single-frame GIF to uint8 RGB (h, w, 3). Verifies the LZW
    stream against the declared dimensions; skips extension blocks;
    refuses interlace, animation (a second image descriptor), and frames
    without any color table."""
    if sniff_image_format(b) != "gif":
        raise ValueError("gif: bad signature")
    if len(b) < 13:
        raise ValueError("gif: truncated header")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        size = 1 << ((flags & 0x07) + 1)
        if pos + 3 * size > len(b):
            raise ValueError("gif: truncated global color table")
        gct = np.frombuffer(b, dtype=np.uint8, count=3 * size,
                            offset=pos).reshape(size, 3)
        pos += 3 * size
    frame = None
    while pos < len(b):
        block = b[pos]
        pos += 1
        if block == 0x3B:                              # trailer
            break
        if block == 0x21:                              # extension: skip
            if pos >= len(b):
                raise ValueError("gif: truncated extension")
            pos += 1                                   # label
            while True:
                if pos >= len(b):
                    raise ValueError("gif: truncated extension sub-blocks")
                n = b[pos]
                pos += 1 + n
                if n == 0:
                    break
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
        if frame is not None:
            raise ValueError("gif: animated (multi-frame) unsupported")
        if pos + 9 > len(b):
            raise ValueError("gif: truncated image descriptor")
        _x, _y, w, h, iflags = struct.unpack_from("<HHHHB", b, pos)
        pos += 9
        if iflags & 0x40:
            raise ValueError("gif: interlaced frames unsupported")
        pal = gct
        if iflags & 0x80:
            size = 1 << ((iflags & 0x07) + 1)
            if pos + 3 * size > len(b):
                raise ValueError("gif: truncated local color table")
            pal = np.frombuffer(b, dtype=np.uint8, count=3 * size,
                                offset=pos).reshape(size, 3)
            pos += 3 * size
        if pal is None:
            raise ValueError("gif: frame has no color table")
        if w < 1 or h < 1 or w > sw or h > sh:
            raise ValueError("gif: frame dimensions out of range")
        if pos >= len(b):
            raise ValueError("gif: truncated LZW header")
        min_code = b[pos]
        pos += 1
        if not 2 <= min_code <= 11:
            raise ValueError(f"gif: LZW min code size {min_code} invalid")
        lzw = bytearray()
        while True:
            if pos >= len(b):
                raise ValueError("gif: truncated image data sub-blocks")
            n = b[pos]
            pos += 1
            if n == 0:
                break
            lzw += b[pos:pos + n]
            pos += n
        idx = np.frombuffer(_lzw_decode(bytes(lzw), min_code, w * h),
                            dtype=np.uint8)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("gif: pixel index outside color table")
        frame = pal[idx].reshape(h, w, 3)
    if frame is None:
        raise ValueError("gif: no image frame")
    return frame


def make_gif(i: int, w: int = 11, h: int = 7, n_colors: int = 16) -> bytes:
    """Deterministic REAL (decodable) GIF fixture: seeded palette +
    index pattern through :func:`gif_encode`."""
    rng = np.random.default_rng(8000 + i)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:h, 0:w]
    idx = ((xx + yy * 3 + i) % n_colors).astype(np.uint8)
    return gif_encode(idx, pal)


def image_magic_ok_expr(bytes_col="bytes"):
    """Pure-JVM (whole-stage-codegen) container sniff: payload starts with
    a known image magic (PNG/JPEG/GIF/WEBP) — the image twin of audio's
    ``wav_riff_magic``. Zero Python in the plan; the cheap first gate a
    ruleset runs before paying for a real decode."""
    b = to_col(bytes_col)
    png = F.substring(b, 1, 8) == F.lit(_PNG_SIG)
    jpg = F.substring(b, 1, 3) == F.lit(b"\xff\xd8\xff")
    gif = ((F.substring(b, 1, 6) == F.lit(b"GIF87a"))
           | (F.substring(b, 1, 6) == F.lit(b"GIF89a")))
    webp = ((F.substring(b, 1, 4) == F.lit(b"RIFF"))
            & (F.substring(b, 9, 4) == F.lit(b"WEBP")))
    return b.isNotNull() & (F.length(b) >= 8) & (png | jpg | gif | webp)


@pandas_udf(BooleanType())
def image_decodes(b: pd.Series) -> pd.Series:
    """Vectorized check: the payload pixel-decodes under the available
    codecs (PNG natively; formats whose codec lib is absent fail — the
    registry docstring says so, and production swaps ``decode_image``).
    The ``image_decodes`` entry of :func:`register_image_checks`. Needs
    the full payload by nature (decode PROVES content — the whole point),
    so unlike the 64-byte header checks this Arrow stage carries the
    bytes; gate it behind ``image_magic`` in rulesets to avoid decoding
    obvious junk."""
    out = []
    for v in b:
        try:
            decode_image(bytes(v) if v is not None else b"")
            out.append(True)
        except (ValueError, NotImplementedError):
            out.append(False)
    return pd.Series(out, index=b.index)


@pandas_udf(BooleanType())
def _png_dims_match(b: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
    out = []
    for v, dw, dh in zip(b, w, h):
        if v is None or pd.isna(dw) or pd.isna(dh):
            out.append(False)
            continue
        try:
            px = decode_image(bytes(v))
        except (ValueError, NotImplementedError):
            out.append(False)
            continue
        out.append(px.shape[1] == int(dw) and px.shape[0] == int(dh))
    return pd.Series(out, index=b.index)


def png_dims_match_col(bytes_col="bytes", width_col="width",
                       height_col="height"):
    """Decoded dimensions equal the declared metadata columns — the image
    analog of audio's duration-consistency check: don't trust the row's
    width/height, prove them against the pixels. Undecodable payloads and
    NULL metadata fail (wellformedness messages belong to image_magic /
    image_decodes; a silent pass here would be a hole)."""
    b = to_col(bytes_col)
    return _png_dims_match(b, F.col(width_col).cast("int"),
                           F.col(height_col).cast("int"))


def register_image_checks() -> dict:
    """Named vectorized image checks for the DSL's ``x-spark-check``
    extension point — same registry contract as
    ``audio.register_audio_checks`` (the reference's custom-Ajv-keyword
    analog, index.ts:49). ``image_magic`` is pure JVM; the decode-backed
    entries add one ArrowEvalPython stage only when a ruleset references
    them."""
    return {
        "image_magic": lambda col: image_magic_ok_expr(col),
        "image_decodes": lambda col: image_decodes(col),
        "png_dims_match": lambda col: png_dims_match_col(col),
    }


def ahash64(b: bytes) -> int | None:
    """64-bit perceptual average-hash from REAL decoded pixels: decode ->
    grayscale -> bilinear 8x8 thumbnail -> threshold at the mean. Robust
    to re-encoding (PNG<->GIF palette quantization), mild noise, and
    resizing — the image twin of audio's spectral fingerprint. None for
    undecodable payloads (NULL signature never pairs downstream)."""
    try:
        px = decode_image(b)
    except (ValueError, NotImplementedError):
        return None
    luma = px[:, :, :3].astype(np.float32).mean(axis=2)
    tiny = resize_image(
        np.clip(np.rint(luma), 0, 255).astype(np.uint8), 8, 8)[:, :, 0]
    bits = (tiny.astype(np.float64) >= tiny.mean()).ravel()
    word = 0
    for bit in bits:
        word = (word << 1) | int(bit)
    return word - (1 << 64) if word >= (1 << 63) else word  # signed long


IMAGE_FP_SCHEMA = "media_id string, fp long"


def image_fingerprints(media, *, bytes_col: str = "bytes",
                       id_col: str = "media_id"):
    """mapInPandas: payload -> 64-bit aHash rows. Map-only; the bytes
    never shuffle — downstream blocking joins carry (id, fp) only, the
    same payload discipline as audio_fingerprints."""
    cols = media.select(F.col(id_col).alias("media_id"),
                        F.col(bytes_col).alias("bytes"))

    def fn(iterator):
        for pdf in iterator:
            rows = [(mid, ahash64(bytes(v)) if v is not None else None)
                    for mid, v in zip(pdf["media_id"], pdf["bytes"])]
            yield pd.DataFrame(rows, columns=["media_id", "fp"])

    return cols.mapInPandas(fn, schema=IMAGE_FP_SCHEMA)


def image_neardup_pairs(media, *, max_distance: int = 3,
                        bytes_col: str = "bytes",
                        id_col: str = "media_id"):
    """Perceptual near-duplicate image pairs: aHash signatures through the
    generic pigeonhole chunk blocking (operators/dedup.hamming_pairs —
    the same exact-recall-in-radius machinery text SimHash and audio
    fingerprints use; no cross join, signatures persist once)."""
    from ..operators.dedup import hamming_pairs
    fps = image_fingerprints(media, bytes_col=bytes_col, id_col=id_col) \
        .where(F.col("fp").isNotNull())
    return hamming_pairs(fps, sig_col="fp", id_col="media_id",
                         max_distance=max_distance)


def make_png(i: int, w: int = 12, h: int = 9, channels: int = 3) -> bytes:
    """Deterministic REAL (decodable) PNG: seeded gradient + noise pixels
    through :func:`png_encode`. The image twin of fixtures' synth_wav."""
    rng = np.random.default_rng(7000 + i)
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((xx * 255) // max(w - 1, 1) + (yy * 131) // max(h - 1, 1)) % 256
    px = np.stack([(base + 37 * c) % 256 for c in range(channels)], axis=2)
    noise = rng.integers(0, 32, px.shape)
    return png_encode(((px + noise) % 256).astype(np.uint8))


def make_webp(i: int, w: int = 12, h: int = 9, channels: int = 3) -> bytes:
    """Deterministic REAL (decodable) lossless WEBP: the SAME seeded
    pixels as :func:`make_png` through the VP8L encoder — so the two
    containers hold identical images and cross-container perceptual
    dedup (aHash) pairs them exactly (round 5)."""
    from .webp import webp_encode_lossless
    rng = np.random.default_rng(7000 + i)
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((xx * 255) // max(w - 1, 1) + (yy * 131) // max(h - 1, 1)) % 256
    px = np.stack([(base + 37 * c) % 256 for c in range(channels)], axis=2)
    noise = rng.integers(0, 32, px.shape)
    return webp_encode_lossless(((px + noise) % 256).astype(np.uint8))


IMAGE_DECODE_STATS_SCHEMA = ("media_id string, ok boolean, width int, "
                             "height int, channels int, mean_luma double, "
                             "err string")


def _header_dims(raw: bytes) -> tuple[int | None, int | None]:
    """Best-effort (width, height) from the container header alone — no
    pixel decode. Covers PNG IHDR and every JPEG SOFn (including the
    progressive SOF2 frames the pixel decoder refuses), so a
    subset-refused stream still reports its dimensions instead of
    erroring the whole row. Returns (None, None) when the header is
    unreadable too."""
    try:
        fmt = sniff_image_format(raw)
        if fmt == "png":
            d = png_dimensions(raw)
            if d:
                return d
        elif fmt == "jpeg":
            from .jpeg import jpeg_dimensions
            return jpeg_dimensions(raw)
        elif fmt == "webp":
            d = webp_dimensions(raw)
            if d:
                return d
    except (ValueError, NotImplementedError, IndexError):
        pass
    return None, None


def image_decode_stats_map_in_pandas(iterator):
    """mapInPandas: binary -> REAL pixel-decode verdicts (PNG decodes
    natively; formats needing a codec lib report ok=false with the
    reason). The decoded dims are proof, not header trust: a PNG whose
    IHDR lies about its size fails the stream-length check and lands
    here as a violation row.
    Subset-refused streams (e.g. progressive SOF2 JPEG) report
    ok=false WITH their header dimensions populated — the refusal is
    about pixels, not metadata."""
    for pdf in iterator:
        rows = []
        for mid, b in zip(pdf["media_id"], pdf["bytes"]):
            raw = bytes(b) if b is not None else b""
            try:
                px = decode_image(raw)
                rows.append((mid, True, int(px.shape[1]), int(px.shape[0]),
                             int(px.shape[2]), float(px.mean()), None))
            except (ValueError, NotImplementedError) as exc:
                hw, hh = _header_dims(raw)
                rows.append((mid, False, hw, hh, None, None,
                             f"{type(exc).__name__}: {exc}"[:160]))
        yield pd.DataFrame(rows, columns=["media_id", "ok", "width",
                                          "height", "channels", "mean_luma",
                                          "err"])


def decoded_image_features(b: bytes, *, hist_bins: int = 8,
                           thumb: int = 4) -> np.ndarray:
    """Real feature vector from decoded pixels: per-channel mean/std,
    luminance histogram, and a bilinear thumbnail — deterministic, and
    a function of the image content."""
    px = decode_image(b).astype(np.float32)
    ch_mean = px.mean(axis=(0, 1)) / 255.0
    ch_std = px.std(axis=(0, 1)) / 255.0
    luma = px.mean(axis=2)
    hist = np.histogram(luma, bins=hist_bins, range=(0, 255))[0]
    hist = hist / max(luma.size, 1)
    tiny = resize_image(px.astype(np.uint8), thumb, thumb)
    return np.concatenate([ch_mean, ch_std, hist,
                           tiny.mean(axis=2).ravel() / 255.0]).astype(
                               np.float32)


def image_meta_map_in_pandas(iterator):
    """mapInPandas: binary -> typed metadata rows (header-level decode is
    real; dimension extraction works for PNG and any JPEG SOFn — incl.
    progressive — via :func:`_header_dims`; other formats yield nulls)."""
    for pdf in iterator:
        rows = []
        for mid, b in zip(pdf["media_id"], pdf["bytes"]):
            raw = bytes(b) if b is not None else b""
            fmt = sniff_image_format(raw)
            w, h = _header_dims(raw)
            rows.append((mid, fmt, w, h, len(raw), fmt is not None))
        yield pd.DataFrame(rows, columns=["media_id", "format", "width",
                                          "height", "n_bytes", "decode_ok"])


def make_png_stub(i: int, w: int = 4, h: int = 3) -> bytes:
    """Minimal deterministic PNG header+junk (valid magic + IHDR dims) for
    header-sniff plumbing tests and integrity-failure fixtures — NOT a
    decodable image (CRC-invalid junk body; use :func:`make_png` for real
    pixels)."""
    ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
    rng = np.random.default_rng(7000 + i)
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr
            + rng.integers(0, 256, 32, dtype=np.uint8).tobytes())
