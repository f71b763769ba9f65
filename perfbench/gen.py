"""Seeded input tables for the benchmark.

The engine's own fixture generator (``sources.fixtures``) has no seed, so
the benchmark builds its tables here with a numpy generator seeded from
``--seed`` and writes plain parquet; the engine only ever sees the files.

The tables keep the shape and defect mix of FIXTURES.md: twelve defect
classes spread over ``i % 200`` slots of a seeded permutation (6% of rows),
about 0.1% duplicated ``clip_id``s plus one hot id repeated ``n_hot`` times
(the skew case), dangling speakers, and a last ``part_date`` whose
``dur_ms`` is shifted up by 60% (the drift case).

Payloads (only in the ``clips_payload`` table) come from a pool of
encoded clips built per seed; each row draws one. Pool members are real
WAV, FLAC and Ogg/Opus containers from the engine's encoders, so header
and decode checks do real work on every row.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SR_DOMAIN = [8000, 16000, 22050, 44100, 48000]
CODECS = ["pcm_s16le", "flac", "opus"]
LANGS = ["en", "de", "fr"]
N_SPEAKERS = 1000
N_PARTITIONS = 8
BASE_DATE = dt.date(2026, 1, 1)
HOT_CLIP_ID = "clip_hot_0000000000"
AUDIO_MS = 8
POOL_VARIANTS = 12

# defect class by slot (slot = seeded permutation index % 200)
DEFECTS = {
    188: "no_frontmatter",
    189: "dangling_speaker",
    190: "enum_codec",
    191: "required_transcript",
    192: "type_props_take",
    193: "maxlength_transcript",
    194: "nested_required",
    195: "pattern_transcript",
    196: "range_sr",
    197: "range_dur",
    198: "corrupt_bytes",
    199: "codec_header_mismatch",
}
_WORDS = ("the quick brown fox jumps over a lazy dog near riverbank "
          "while birds sing softly under warm summer skies").split()
_PHRASES = [" ".join(_WORDS[(w + k) % len(_WORDS)] for k in range(m))
            for w in range(len(_WORDS)) for m in range(3, 8)]

CLIPS_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()),
    ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
    ("codec", pa.string()), ("transcript", pa.string()),
    ("speaker_id", pa.string()),
    ("props", pa.map_(pa.string(), pa.string())),
    ("part_date", pa.date32()), ("ruleset_id", pa.string()),
])

# Bump when the generated rows change, so cached tables are rebuilt.
GEN_VERSION = 2
KEEP_SEEDS = 3


def _payload_pool(seed: int):
    """{(kind, sr): [bytes, ...]} for kind in wav/flac/opus/wav2x.

    ``wav2x`` is a WAV whose header rate is twice the declared one (the
    codec_header_mismatch class)."""
    from remark_lint_frontmatter_schema_spark.functions import audio

    pool = {}
    for sr in SR_DOMAIN:
        n = max(16, sr * AUDIO_MS // 1000)
        for j in range(POOL_VARIANTS):
            key = seed * 1000 + j * 7 + sr // 1000
            pcm = audio.synth_pcm16(key, sr, n)
            pool.setdefault(("wav", sr), []).append(audio.wav_bytes(pcm, sr))
            pool.setdefault(("flac", sr), []).append(
                audio.flac_encode(pcm, sr))
            pool.setdefault(("opus", sr), []).append(
                audio.ogg_opus_bytes(key, sr, AUDIO_MS))
            pool.setdefault(("wav2x", sr), []).append(
                audio.synth_wav(key, sr * 2, AUDIO_MS))
    return pool


# injected enum_codec rows ("divx") keep a WAV payload
_KIND_OF_CODEC = {"pcm_s16le": "wav", "flac": "flac", "opus": "opus",
                  "divx": "wav"}
_CORRUPT = b"RIFX\x00\x01garbage-not-a-wav" + bytes(8)


def build_clips(n: int, seed: int, *, with_bytes: bool) -> tuple:
    """(arrow table, truth dict). ``truth`` holds the generator's defect
    map as counts over rows in the ruleset's domain."""
    rng = np.random.default_rng(seed)
    slot = rng.permutation(n) % 200
    cls = np.full(n, "", dtype=object)
    for s, name in DEFECTS.items():
        cls[slot == s] = name
    sr = np.array(SR_DOMAIN)[rng.integers(0, len(SR_DOMAIN), n)]
    codec = np.array(CODECS, dtype=object)[rng.integers(0, len(CODECS), n)]
    dur = rng.integers(200, 30001, n)
    part = np.minimum(N_PARTITIONS - 1,
                      np.arange(n) * N_PARTITIONS // max(n, 1))
    dur = np.where(part == N_PARTITIONS - 1, (dur * 1.6).astype(int), dur)
    phrase = rng.integers(0, len(_PHRASES), n)
    lang = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]
    take = rng.integers(0, 7, n).astype(str).astype(object)
    speaker = rng.integers(0, N_SPEAKERS, n)
    variant = rng.integers(0, POOL_VARIANTS, n)

    ids = np.array([f"clip_{i:010d}" for i in range(n)], dtype=object)
    dup = rng.choice(n - 1, size=max(1, n // 1000), replace=False) + 1
    ids[dup] = ids[dup - 1]
    n_hot = min(1000, n // 200)
    hot0 = int(rng.integers(0, n - n_hot))
    ids[hot0:hot0 + n_hot] = HOT_CLIP_ID

    transcript = np.array([f"Clip {i} says {_PHRASES[p]}."
                           for i, p in enumerate(phrase)], dtype=object)
    spk = np.array([f"spk_{k:06d}" for k in speaker], dtype=object)
    ruleset = np.full(n, "clip", dtype=object)

    def rows(name):
        return np.flatnonzero(cls == name)

    ruleset[rows("no_frontmatter")] = None
    spk[rows("dangling_speaker")] = [
        f"spk_ghost_{i:06d}" for i in rows("dangling_speaker")]
    codec[rows("enum_codec")] = "divx"
    transcript[rows("required_transcript")] = None
    take[rows("type_props_take")] = "eighteen-fifty-nine"
    transcript[rows("maxlength_transcript")] = "x" * 2000
    transcript[rows("pattern_transcript")] = [
        f"Clip {i} \x07 bell" for i in rows("pattern_transcript")]
    sr[rows("range_sr")] = 3
    dur[rows("range_dur")] = -5

    # props map: {"lang", "take"}, or {"take"} alone for nested_required
    no_lang = cls == "nested_required"
    n_keys = np.where(no_lang, 1, 2)
    offsets = np.concatenate([[0], np.cumsum(n_keys)]).astype(np.int32)
    keys = np.empty(offsets[-1], dtype=object)
    items = np.empty(offsets[-1], dtype=object)
    first = offsets[:-1]
    keys[first] = np.where(no_lang, "take", "lang")
    items[first] = np.where(no_lang, take, lang)
    second = first[~no_lang] + 1
    keys[second] = "take"
    items[second] = take[~no_lang]
    props = pa.MapArray.from_arrays(offsets, pa.array(keys, pa.string()),
                                    pa.array(items, pa.string()))

    truth = {"rows": n, "n_hot": n_hot,
             "in_domain": int(np.sum(cls != "no_frontmatter"))}
    payload = pa.nulls(n, pa.binary())
    if with_bytes:
        pool = _payload_pool(seed)
        hdr_sr = np.maximum(sr, 8000)
        kind = np.array([_KIND_OF_CODEC[c] for c in codec], dtype=object)
        kind[rows("codec_header_mismatch")] = "wav2x"
        kind[rows("corrupt_bytes")] = "corrupt"
        payload = pa.array(
            [_CORRUPT if k == "corrupt" else pool[(k, s)][v]
             for k, s, v in zip(kind, hdr_sr, variant)], pa.binary())
        dom = ruleset != None  # noqa: E711 (elementwise)
        # codec_header: the container must match the codec and, for WAV,
        # the header rate must equal sr_hz
        header_fail = (np.isin(kind, ["corrupt", "wav2x"]) | (codec == "divx")
                       | ((codec == "pcm_s16le") & (sr != hdr_sr)))
        # not_clipped: the payload must decode (Opus packets and garbage
        # do not); no pool member is clipped
        decode_fail = np.isin(kind, ["corrupt", "opus"])
        truth["codec_header_fail"] = int(np.sum(header_fail & dom))
        truth["not_clipped_fail"] = int(np.sum(decode_fail & dom))

    dates = np.datetime64(BASE_DATE.isoformat()) + part.astype("timedelta64[D]")
    table = pa.table([
        pa.array(ids, pa.string()), payload,
        pa.array(sr, pa.int32()), pa.array(dur, pa.int32()),
        pa.array(codec, pa.string()), pa.array(transcript, pa.string()),
        pa.array(spk, pa.string()), props,
        pa.array(dates, pa.date32()), pa.array(ruleset, pa.string()),
    ], schema=CLIPS_SCHEMA)
    return table, truth


def build_speakers() -> pa.Table:
    return pa.table({
        "speaker_id": [f"spk_{i:06d}" for i in range(N_SPEAKERS)],
        "name": [f"Speaker {i}" for i in range(N_SPEAKERS)],
        "lang": [LANGS[i % len(LANGS)] for i in range(N_SPEAKERS)],
    })


def _write_partitioned(table: pa.Table, path: str) -> None:
    pq.write_to_dataset(table, path, partition_cols=["part_date"],
                        basename_template="part-{i}.parquet")


def table_facts(path: str) -> dict:
    """Row, file and byte counts of one parquet table directory."""
    files = sorted(os.path.join(d, f) for d, _s, fs in os.walk(path)
                   for f in fs if f.endswith(".parquet"))
    return {"files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files)}


def ensure_inputs(cache_root: str, seed: int, *, n_rows: int,
                  n_payload_rows: int) -> dict:
    """Generate (or reuse) the tables for ``seed`` under ``cache_root``.

    Returns ``{"dir", "gen_s", "cached", "truth", "tables"}``. Only the
    ``KEEP_SEEDS`` most recently used seeds stay on disk."""
    key = f"v{GEN_VERSION}-seed{seed}-r{n_rows}-p{n_payload_rows}"
    out = os.path.join(cache_root, key)
    done = os.path.join(out, "truth.json")
    cached = os.path.exists(done)
    t0 = time.perf_counter()
    if not cached:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        clips, truth_rows = build_clips(n_rows, seed, with_bytes=False)
        _write_partitioned(clips, os.path.join(out, "clips"))
        del clips
        payload, truth_payload = build_clips(n_payload_rows, seed + 1,
                                             with_bytes=True)
        _write_partitioned(payload, os.path.join(out, "clips_payload"))
        os.makedirs(os.path.join(out, "speakers"))
        pq.write_table(build_speakers(),
                       os.path.join(out, "speakers", "part-0.parquet"))
        with open(done + ".tmp", "w") as fh:
            json.dump({"clips": truth_rows,
                       "clips_payload": truth_payload}, fh)
        os.replace(done + ".tmp", done)
    gen_s = time.perf_counter() - t0
    os.utime(out)
    entries = sorted((os.path.join(cache_root, e) for e in
                      os.listdir(cache_root)), key=os.path.getmtime)
    for stale in entries[:-KEEP_SEEDS]:
        shutil.rmtree(stale, ignore_errors=True)
    with open(done) as fh:
        truth = json.load(fh)
    return {"dir": out, "gen_s": gen_s, "cached": cached, "truth": truth,
            "tables": {t: table_facts(os.path.join(out, t))
                       for t in ("clips", "clips_payload", "speakers")}}
