"""Expected lint outputs, recounted by DuckDB over the same parquet files.

Covers the constraints plain SQL can express: the ``codec`` enum, the
``sr_hz``/``dur_ms`` bounds, ``transcript`` required/maxLength/pattern,
the ``props`` checks, duplicate ``clip_id``s and dangling ``speaker_id``s.
Payload checks are not recounted here; their expected counts come from
the generator's defect map (``gen.build_clips``).

Constraint ids are keyed without their ruleset prefix (``/codec:enum``),
so one expectation serves the library path (ruleset ``clip``) and the CLI
embed path (ruleset ``embed``).
"""

from __future__ import annotations

import hashlib

import duckdb

# constraint id suffix -> SQL predicate for "this row violates it"
ROW_RULES = {
    "/:required": "clip_id IS NULL",
    "/:required#2": "transcript IS NULL",
    "/transcript:maxLength": "length(transcript) > 400",
    "/transcript:pattern":
        "NOT regexp_full_match(transcript, '^[A-Za-z0-9 ,.''?!-]+$')",
    "/codec:enum": "codec NOT IN ('pcm_s16le', 'flac', 'opus')",
    "/sr_hz:minimum": "sr_hz < 8000",
    "/sr_hz:maximum": "sr_hz > 48000",
    "/dur_ms:minimum": "dur_ms < 200",
    "/dur_ms:maximum": "dur_ms > 30000",
    "/props:required": "len(map_extract(props, 'lang')) = 0",
    "/props/lang:enum": "map_extract(props, 'lang')[1] NOT IN ('en', 'de', 'fr')",
    "/props/take:type":
        "TRY_CAST(map_extract(props, 'take')[1] AS BIGINT) IS NULL "
        "AND map_extract(props, 'take')[1] IS NOT NULL",
}
UNIQUE_ID = "unique:clip_id"
REF_ID = "ref:speaker_id->speaker_id"
PAYLOAD_IDS = {"/bytes:x-spark-check": "codec_header_fail",
               "/bytes:x-spark-check#2": "not_clipped_fail"}


def _scan(path: str) -> str:
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
            "hive_types = {'part_date': DATE})")


def expected(table_dir: str, speakers_dir: str, *, only_in_domain: bool,
             truth: dict, table_checks: bool) -> dict:
    """Expected ``{"constraints": {suffix: n}, "verdicts": {part: {...}}}``.

    ``only_in_domain`` applies the library path's applicability predicate
    (``ruleset_id IS NOT NULL``); the CLI embed path lints every row."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        dom = "ruleset_id IS NOT NULL" if only_in_domain else "TRUE"
        con.execute(f"CREATE VIEW t AS SELECT * FROM {_scan(table_dir)} "
                    f"WHERE {dom}")
        hits = {k: f"coalesce(({p}), FALSE)::INT" for k, p in ROW_RULES.items()}
        sums = ", ".join(f'sum({h}) AS "{k}"' for k, h in hits.items())
        row_nv = " + ".join(hits.values())
        counts = con.execute(f"SELECT {sums} FROM t").fetchone()
        constraints = {k: int(v or 0) for k, v in zip(ROW_RULES, counts)}
        verdicts = {
            str(p): {"n_rows": int(n), "n_violations": int(nv or 0),
                     "n_failed_rows": int(nf or 0)}
            for p, n, nv, nf in con.execute(
                f"SELECT part_date, count(*), sum(nv), "
                f"sum((nv > 0)::INT) FROM (SELECT part_date, {row_nv} AS nv "
                f"FROM t) GROUP BY part_date ORDER BY part_date").fetchall()}
        for suffix, key in PAYLOAD_IDS.items():
            if key in truth:
                constraints[suffix] = truth[key]
        if table_checks:
            constraints[UNIQUE_ID] = con.execute(
                "SELECT count(*) FROM (SELECT clip_id FROM t "
                "WHERE clip_id IS NOT NULL GROUP BY clip_id "
                "HAVING count(*) > 1)").fetchone()[0]
            constraints[REF_ID] = con.execute(
                f"SELECT count(*) FROM t WHERE speaker_id IS NOT NULL AND "
                f"speaker_id NOT IN (SELECT speaker_id FROM "
                f"read_parquet('{speakers_dir}/*.parquet'))").fetchone()[0]
        return {"constraints": {k: v for k, v in constraints.items() if v},
                "verdicts": verdicts}
    finally:
        con.close()


def suffix(constraint_id: str) -> str:
    """``clip:/codec:enum`` -> ``/codec:enum``; table-check ids, which
    carry no ruleset prefix, pass through."""
    _head, sep, rest = constraint_id.partition(":")
    return rest if sep and rest.startswith("/") else constraint_id


def sink_summary(violations_dir: str, verdicts_dir: str) -> dict:
    """Per-constraint counts, a digest of the sorted violation rows, and
    verdict totals, read back from the CLI's parquet sinks."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        v = (f"read_parquet('{violations_dir}/**/*.parquet', "
             "hive_partitioning = true)")
        counts = dict(con.execute(
            f"SELECT constraint_id, count(*) FROM {v} GROUP BY 1").fetchall())
        rows = con.execute(
            f"SELECT row_id, partition_id, constraint_id, actual FROM {v} "
            f"ORDER BY ALL").fetchall()
        verdicts = con.execute(
            f"SELECT partition_id, sum(n_rows), sum(n_violations), "
            f"sum(n_failed_rows) FROM read_parquet('{verdicts_dir}/*.parquet') "
            f"GROUP BY 1 ORDER BY 1").fetchall()
    finally:
        con.close()
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return {"counts": counts, "digest": digest, "n": len(rows),
            "verdicts": {str(p): {"n_rows": int(n), "n_violations": int(nv),
                                  "n_failed_rows": int(nf)}
                         for p, n, nv, nf in verdicts}}
