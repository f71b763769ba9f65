"""MP3 (MPEG-1/2/2.5 audio) container layer: frame-header walk, Xing/VBRI
VBR metadata, ID3v2 skip, header-math duration — header-only, no sample
decode (MDCT + Huffman entropy decode is codec-library territory, the
same documented seam as Opus packets and JPEG).

MP3 is the most common compressed interchange format real ASR corpora
arrive in, and everything here is pure public spec (ISO/IEC 11172-3 /
13818-3 frame header layout, the de-facto Xing/Info and VBRI headers,
ID3v2.x syncsafe sizes). What the engine gets is the same standard the
WAV/FLAC/Ogg families already meet: "parse the container for real, make
corruption a ValueError, derive duration from header math without
touching sample data".

Frame header (32 bits, big-endian):
  31-21 sync (all 1s)   20-19 version (00=2.5, 10=2, 11=1)
  18-17 layer (01=III, 10=II, 11=I)      16 ~CRC
  15-12 bitrate index   11-10 samplerate index   9 padding
  7-6 channel mode (11=mono)
Frame size (layer III) = 144*bitrate/samplerate + padding
(72*bitrate/samplerate for MPEG-2/2.5's 576-sample frames).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_ = np  # sibling-module parity; the walk is int math on bytes

# bitrate tables in kbps, index 1..14 (0 = "free", 15 = invalid)
_BITRATE = {
    # (version_group, layer): table  — version_group: 1 = MPEG1, 2 = MPEG2/2.5
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384,
             416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}

# samplerate by (version_code, index); version_code from header bits:
# 0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1
_SAMPLERATE = {
    3: [44100, 48000, 32000],
    2: [22050, 24000, 16000],
    0: [11025, 12000, 8000],
}

# samples per frame by (version_group, layer)
_SPF = {(1, 1): 384, (1, 2): 1152, (1, 3): 1152,
        (2, 1): 384, (2, 2): 1152, (2, 3): 576}


def id3v2_size(b: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 if none). Syncsafe
     28-bit size + 10-byte header (+10 footer when flagged)."""
    if b[:3] != b"ID3" or len(b) < 10:
        return 0
    if any(x & 0x80 for x in b[6:10]):
        raise ValueError("ID3v2 size bytes must be syncsafe")
    size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
    return 10 + size + (10 if b[5] & 0x10 else 0)


def parse_frame_header(hdr: int) -> dict:
    """32-bit frame header -> dict(version, layer, bitrate_kbps, sr_hz,
    padding, channels, spf, frame_len). ValueError on any reserved /
    invalid field combination."""
    if (hdr >> 21) & 0x7FF != 0x7FF:
        raise ValueError("MP3 frame sync lost")
    ver = (hdr >> 19) & 3
    if ver == 1:
        raise ValueError("reserved MPEG version")
    layer_code = (hdr >> 17) & 3
    if layer_code == 0:
        raise ValueError("reserved MPEG layer")
    layer = 4 - layer_code                      # 1/2/3
    vgroup = 1 if ver == 3 else 2
    bidx = (hdr >> 12) & 0xF
    if bidx in (0, 15):
        raise ValueError("free-form/invalid bitrate index")
    sidx = (hdr >> 10) & 3
    if sidx == 3:
        raise ValueError("reserved samplerate index")
    bitrate = _BITRATE[(vgroup, layer)][bidx]
    sr = _SAMPLERATE[ver][sidx]
    padding = (hdr >> 9) & 1
    mode = (hdr >> 6) & 3
    spf = _SPF[(vgroup, layer)]
    if layer == 1:
        frame_len = (12 * bitrate * 1000 // sr + padding) * 4
    else:
        frame_len = spf // 8 * bitrate * 1000 // sr + padding
    return {"version": {3: "1", 2: "2", 0: "2.5"}[ver], "layer": layer,
            "bitrate_kbps": bitrate, "sr_hz": sr, "padding": padding,
            "channels": 1 if mode == 3 else 2, "spf": spf,
            "frame_len": frame_len}


def _side_info_len(version: str, channels: int) -> int:
    if version == "1":
        return 17 if channels == 1 else 32
    return 9 if channels == 1 else 17


def mp3_frames(b: bytes):
    """Walk every frame, yielding (offset, header_dict). Starts after any
    ID3v2 tag; trailing ID3v1 ('TAG', 128 bytes) is tolerated; anything
    else that breaks the frame lattice raises ValueError."""
    pos = id3v2_size(b)
    n = len(b)
    while pos < n:
        if b[pos:pos + 3] == b"TAG" and n - pos == 128:
            return                              # ID3v1 trailer
        if n - pos < 4:
            raise ValueError("truncated MP3 frame header")
        h = parse_frame_header(int.from_bytes(b[pos:pos + 4], "big"))
        if pos + h["frame_len"] > n:
            raise ValueError("truncated MP3 frame payload")
        yield pos, h
        pos += h["frame_len"]


def _xing_frame_count(b: bytes, off: int, h: dict) -> int | None:
    """Xing/Info (at the canonical post-side-info offset) or VBRI (at
    +32 past the header) frame count from the FIRST frame, else None."""
    base = off + 4 + _side_info_len(h["version"], h["channels"])
    tag = b[base:base + 4]
    if tag in (b"Xing", b"Info"):
        flags = int.from_bytes(b[base + 4:base + 8], "big")
        if flags & 1:
            return int.from_bytes(b[base + 8:base + 12], "big")
        return None
    vb = b[off + 4 + 32: off + 4 + 36]
    if vb == b"VBRI":
        return int.from_bytes(b[off + 4 + 32 + 14: off + 4 + 32 + 18],
                              "big")
    return None


def mp3_info(b: bytes) -> dict:
    """Full container walk -> dict(sr_hz, channels, version, layer,
    n_frames, duration_ms, avg_bitrate_kbps, vbr, xing_frames). Duration
    is header math: n_frames * samples_per_frame / sr. A mid-stream
    samplerate change raises (one stream, one clock — same policy as the
    WAV walker). The walked frame count is authoritative; a Xing/VBRI
    count is cross-checked and a mismatch raises (lying VBR headers are
    corruption, not metadata)."""
    first = None
    n_frames = 0
    kbps_sum = 0
    distinct_kbps = set()
    xing = None
    for off, h in mp3_frames(b):
        if first is None:
            first = h
            xing = _xing_frame_count(b, off, h)
        elif h["sr_hz"] != first["sr_hz"]:
            raise ValueError("MP3 samplerate changed mid-stream")
        kbps_sum += h["bitrate_kbps"]
        distinct_kbps.add(h["bitrate_kbps"])
        n_frames += 1
    if first is None:
        raise ValueError("no MP3 frames")
    # a Xing/Info frame is metadata, not audio: exclude it from timing
    audio_frames = n_frames - (1 if xing is not None else 0)
    if xing is not None and xing != audio_frames:
        raise ValueError(
            f"Xing/VBRI frame count {xing} != walked {audio_frames}")
    return {"sr_hz": first["sr_hz"], "channels": first["channels"],
            "version": first["version"], "layer": first["layer"],
            "n_frames": audio_frames,
            "duration_ms": audio_frames * first["spf"] * 1000.0
            / first["sr_hz"],
            "avg_bitrate_kbps": kbps_sum / n_frames,
            "vbr": len(distinct_kbps) > 1, "xing_frames": xing}


def mp3_header_ok_batch(b: pd.Series, sr_hz: pd.Series) -> pd.Series:
    """Cheap header gate (Arrow batch): first frame header parses (past
    any ID3v2 tag) and its samplerate equals the declared column. Full
    lattice integrity belongs to mp3_info / duration checks."""
    out = []
    for v, sr in zip(b, sr_hz):
        raw = bytes(v) if v is not None else b""
        try:
            pos = id3v2_size(raw)
            h = parse_frame_header(
                int.from_bytes(raw[pos:pos + 4], "big"))
            out.append(bool(h["sr_hz"] == sr))
        except (ValueError, TypeError):
            out.append(False)
    return pd.Series(out, dtype="bool")


# ---------------------------------------------------------------------------
# deterministic fixture writer (CBR/VBR; header-real, payload opaque)
# ---------------------------------------------------------------------------

def _header_for(version_code: int, layer: int, bidx: int, sidx: int,
                padding: int = 0, mono: bool = True) -> int:
    hdr = 0x7FF << 21
    hdr |= version_code << 19
    hdr |= (4 - layer) << 17
    hdr |= 1 << 16                              # no CRC
    hdr |= bidx << 12
    hdr |= sidx << 10
    hdr |= padding << 9
    hdr |= (3 if mono else 0) << 6
    return hdr


def make_mp3(i: int, *, sr_hz: int = 44100, audio_ms: int = 1000,
             bitrate_kbps: int = 128, vbr: bool = False,
             id3: bool = False, xing: bool = False) -> bytes:
    """Deterministic spec-conformant MP3 container for clip ``i``:
    real frame lattice (headers + correct lengths), seeded opaque
    payload bytes (decode is the documented seam — same honesty as the
    Opus fixtures). Duration rounds UP to whole frames, so callers
    compare against n_frames*spf/sr, not audio_ms."""
    import numpy as np
    for ver, srs in ((3, _SAMPLERATE[3]), (2, _SAMPLERATE[2]),
                     (0, _SAMPLERATE[0])):
        if sr_hz in srs:
            version_code, sidx = ver, srs.index(sr_hz)
            break
    else:
        raise ValueError(f"{sr_hz} is not an MPEG samplerate")
    vgroup = 1 if version_code == 3 else 2
    table = _BITRATE[(vgroup, 3)]
    if bitrate_kbps not in table:
        raise ValueError(f"{bitrate_kbps} kbps not in the layer-III table")
    spf = _SPF[(vgroup, 3)]
    n_frames = max(1, -(-int(sr_hz * audio_ms / 1000) // spf))
    rng = np.random.default_rng(4242 + i)
    out = []
    if id3:
        payload = b"engine-fixture-tag\x00\x00"
        out.append(b"ID3\x04\x00\x00"
                   + bytes([(len(payload) >> 21) & 0x7F,
                            (len(payload) >> 14) & 0x7F,
                            (len(payload) >> 7) & 0x7F,
                            len(payload) & 0x7F]) + payload)
    bidxs = [table.index(bitrate_kbps)] * n_frames
    if vbr:
        alt = table.index(table[max(1, table.index(bitrate_kbps) - 2)])
        bidxs = [alt if k % 2 else table.index(bitrate_kbps)
                 for k in range(n_frames)]
    frames = []
    for k in range(n_frames):
        hdr = _header_for(version_code, 3, bidxs[k], sidx, mono=True)
        h = parse_frame_header(hdr)
        body = rng.integers(0, 256, h["frame_len"] - 4,
                            dtype=np.uint8).tobytes()
        frames.append(hdr.to_bytes(4, "big") + body)
    if xing:
        hdr = _header_for(version_code, 3, bidxs[0], sidx, mono=True)
        h = parse_frame_header(hdr)
        si = _side_info_len(h["version"], 1)
        body = bytearray(h["frame_len"] - 4)
        body[si:si + 4] = b"Xing"
        body[si + 4:si + 8] = (1).to_bytes(4, "big")
        body[si + 8:si + 12] = n_frames.to_bytes(4, "big")
        frames.insert(0, hdr.to_bytes(4, "big") + bytes(body))
    out.extend(frames)
    return b"".join(out)
