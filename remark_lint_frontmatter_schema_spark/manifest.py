"""Checkpointed per-partition lineage + metrics manifest (north_rule T1).

A rerun skips partitions already validated for the same (snapshot,
ruleset_hash) — the scale analog of the reference's idempotent re-lint of
unchanged files. The manifest is a small JSON document (one entry per
partition per ruleset); at warehouse scale it would live in a table, but
the contract is the same: filter the partition worklist BEFORE the scan,
so pruning happens at the source (partition pruning on the anti-filtered
partition values — the resume filter reaches the parquet reader).
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.validate import VIOLATION_SCHEMA

STATUS_VALIDATED = "validated"
STATUS_INGESTED = "ingested"   # validated + split + canonicalized
STATUS_SKIPPED = "skipped"
STATUS_CONFIG_ERROR = "config_error"
_DONE_STATUSES = (STATUS_VALIDATED, STATUS_INGESTED)


def _key(snapshot_id: str, partition_id: str, ruleset_hash: str) -> str:
    return f"{snapshot_id}|{partition_id}|{ruleset_hash}"


@dataclass
class Manifest:
    path: str
    entries: dict

    @classmethod
    def load(cls, path: str) -> "Manifest":
        if os.path.exists(path):
            with open(path) as fh:
                return cls(path, json.load(fh))
        return cls(path, {})

    def save(self) -> None:
        # atomic replace so a crashed run never leaves a torn manifest
        d = os.path.dirname(os.path.abspath(self.path)) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".manifest")
        with os.fdopen(fd, "w") as fh:
            json.dump(self.entries, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    def is_done(self, snapshot_id: str, partition_id: str,
                ruleset_hash: str,
                done_statuses: tuple = _DONE_STATUSES) -> bool:
        """``done_statuses`` scopes "done" to the flow asking: the
        validation flow accepts validated OR ingested (ingest implies
        validation), but the ingest flow must pass ``(STATUS_INGESTED,)``
        — a merely-validated partition still needs its split/corpus
        artifacts written."""
        e = self.entries.get(_key(snapshot_id, partition_id, ruleset_hash))
        return bool(e) and e["status"] in done_statuses

    def record(self, snapshot_id: str, partition_id: str, ruleset_hash: str,
               status: str, metrics: dict | None = None) -> None:
        self.entries[_key(snapshot_id, partition_id, ruleset_hash)] = {
            "snapshot_id": snapshot_id,
            "partition_id": partition_id,
            "ruleset_hash": ruleset_hash,
            "status": status,
            "metrics": metrics or {},
            "completed_at": time.time(),
        }

    def pending(self, snapshot_id: str, partitions: list[str],
                ruleset_hash: str,
                done_statuses: tuple = _DONE_STATUSES) -> list[str]:
        return [p for p in partitions
                if not self.is_done(snapshot_id, p, ruleset_hash,
                                    done_statuses)]


def list_partitions(table_path: str, partition_col: str) -> list[str]:
    """Partition values from the directory layout (Iceberg-manifest analog;
    with a real catalog this is a metadata-table query, never a file scan)."""
    prefix = f"{partition_col}="
    return sorted(
        d[len(prefix):] for d in os.listdir(table_path)
        if d.startswith(prefix) and os.path.isdir(os.path.join(table_path, d))
    )


def partition_fingerprint(table_path: str, partition_col: str,
                          value: str) -> str:
    """Content fingerprint of ONE partition: a hash over the sorted
    (relative path, size, mtime_ns) of its data files — the per-partition
    analog of an Iceberg snapshot diff. Unlike :func:`snapshot_id_for`
    (one id for the whole table, so any write invalidates every
    partition), a partition keeps its fingerprint until *its own* files
    change; with a real catalog this is the partition's manifest-entry
    digest, no filesystem walk needed."""
    import hashlib

    pdir = os.path.join(table_path, f"{partition_col}={value}")
    items = []
    for root, _dirs, files in os.walk(pdir):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                st = os.stat(full)
                items.append((os.path.relpath(full, pdir),
                              st.st_size, st.st_mtime_ns))
    h = hashlib.sha256(repr(sorted(items)).encode()).hexdigest()[:16]
    return f"fp_{h}"


def run_with_resume(
    spark,
    table_path: str | None = None,
    *,
    partition_col: str,
    compiled,
    row_id: str,
    manifest_path: str,
    snapshot_id: str = "snap_0",
    run_id: str = "run_0",
    validate_fn=None,
    per_partition_snapshots: bool = False,
    ruleset_doc: dict | None = None,
    source=None,
) -> dict:
    """Validate only partitions not yet recorded as validated.

    Returns {"validated": [...], "skipped": [...], "verdicts": DataFrame|None}.
    ``validate_fn(df) -> ValidationResult`` defaults to the standard
    one-projection validator.

    ``per_partition_snapshots=True`` keys each partition by its own
    content fingerprint (:func:`partition_fingerprint`) instead of the
    table-wide ``snapshot_id``: a rerun after ONE partition changed
    re-validates exactly that partition, where the table-level id would
    re-validate everything (it changes whenever anything changes). The
    manifest stays append-only — a changed partition gets a new entry
    under its new fingerprint; the old entry remains as lineage.

    ``ruleset_doc`` (the raw bundled ruleset dict) enables the
    footer-statistics layer: pending partitions whose every file is
    proven clean by parquet row-group stats (operators/stats_prune)
    are recorded as validated — metrics from the footers, zero data
    read — and only the residue is scanned. Returned under
    ``"proven"`` (also included in ``"validated"``).

    ``source`` (sources/table.TableSource) swaps WHERE table data,
    partition lists, fingerprints and prune statistics come from:
    default is ``ParquetSource(table_path)`` (this function's historical
    path behavior); pass ``IcebergSource(identifier, catalog=...)`` to
    key resume on real snapshot ids and prune from manifest column
    bounds instead of footer opens. ``table_path`` may be None when a
    source is given.
    """
    from .operators.validate import validate as _validate
    from .sources.table import ParquetSource

    if source is None:
        if table_path is None:
            raise ValueError("run_with_resume needs table_path or source")
        source = ParquetSource(table_path)

    manifest = Manifest.load(manifest_path)
    # schema lineage: record this run's table schema and diff it against
    # the previously recorded one — partitions can revalidate clean while
    # an upstream writer retyped/dropped a column (drift is returned
    # under "schema_drift"; the reserved key never collides with the
    # snapshot|partition|hash triples)
    table_df = source.read(spark)
    cur_schema = table_df.schema
    schema_key = "__schema__"
    prev_entry = manifest.entries.get(schema_key)
    drift = schema_drift(prev_entry["schema_json"], cur_schema)         if prev_entry else []
    manifest.entries[schema_key] = {
        "status": "schema", "schema_json": cur_schema.json(),
        # empty metrics keeps the entry shape-uniform for consumers that
        # walk entries.values() (regression scans, test assertions)
        "metrics": {},
        "completed_at": time.time(),
    }
    all_parts = source.partitions(partition_col)
    if per_partition_snapshots:
        snap_of = {p: source.partition_fingerprint(partition_col, p)
                   for p in all_parts}
    else:
        snap_of = {p: snapshot_id for p in all_parts}
    todo = [p for p in all_parts
            if not manifest.is_done(snap_of[p], p, compiled.ruleset_hash)]
    skipped = [p for p in all_parts if p not in todo]

    # footer-stats layer (stats_prune): a pending partition whose every
    # file is PROVEN clean by parquet row-group statistics is recorded as
    # validated with footer-derived metrics and never scanned. Composed
    # with the fingerprint layer this is the full lakehouse path: the
    # snapshot diff picks what is pending, the manifest stats clear most
    # of it, Spark scans only the residue. Only legal when the whole
    # ruleset is footer-decidable (PruneReport.skippable).
    proven: list = []
    if ruleset_doc is not None and todo:
        from .plans.compiler import ruleset_hash
        doc_hash = ruleset_hash(ruleset_doc)
        if doc_hash != compiled.ruleset_hash:
            raise ValueError(
                "ruleset_doc is not the document `compiled` was built "
                "from — footer proofs would assert a different ruleset "
                f"({doc_hash} != {compiled.ruleset_hash})")
        still = []
        for p in todo:
            report = source.prune_report(partition_col, p, ruleset_doc)
            if (report.skippable and report.decisions
                    and all(d.clean for d in report.decisions)):
                n = sum(d.n_rows for d in report.decisions)
                manifest.record(
                    snap_of[p], p, compiled.ruleset_hash, STATUS_VALIDATED,
                    metrics={"n_rows": n, "n_violations": 0,
                             "n_failed_rows": 0, "passed": True,
                             "proven_by": "footer-stats"})
                proven.append(p)
            else:
                still.append(p)
        todo = still

    if not todo:
        manifest.save()  # schema lineage is recorded even on no-ops
        return {"validated": proven, "skipped": skipped, "verdicts": None,
                "proven": proven, "schema_drift": drift}

    df = table_df.where(
        F.col(partition_col).cast("string").isin(todo))
    res = (validate_fn or (lambda d: _validate(
        d, compiled, row_id=row_id, partition_col=partition_col,
        run_id=run_id)))(df)
    verdict_rows = res.verdicts.collect()
    for v in verdict_rows:
        manifest.record(
            snap_of.get(v.partition_id, snapshot_id), v.partition_id,
            compiled.ruleset_hash, STATUS_VALIDATED,
            metrics={"n_rows": v.n_rows, "n_violations": v.n_violations,
                     "n_failed_rows": v.n_failed_rows,
                     "passed": bool(v.passed)})
    # partitions with zero rows after filters still count as visited
    for p in todo:
        if not manifest.is_done(snap_of[p], p, compiled.ruleset_hash):
            manifest.record(snap_of[p], p, compiled.ruleset_hash,
                            STATUS_VALIDATED, metrics={"n_rows": 0})
    manifest.save()
    return {"validated": proven + todo, "skipped": skipped,
            "verdicts": res.verdicts, "verdict_rows": verdict_rows,
            "proven": proven, "schema_drift": drift}


def metric_regressions(manifest: Manifest, *, ruleset_hash: str | None = None,
                       row_drop_ratio: float = 0.5,
                       viol_rate_jump: float = 0.10) -> list[dict]:
    """Run-over-run anomaly detection on the metrics manifest: for each
    (partition_id, ruleset_hash) with at least two recorded runs (distinct
    snapshots/fingerprints), compare the LATEST entry against the previous
    one and flag

    * ``row_count_drop``   — n_rows fell below ``row_drop_ratio`` × previous
      (a partition that shrank by half did not merely "change"; upstream
      data loss is the most common silent pipeline failure),
    * ``violation_rate_jump`` — n_violations/n_rows rose by more than
      ``viol_rate_jump`` absolute over the previous run,
    * ``pass_regression``  — previously passed, now failed.

    Driver-side pure python over the (tiny) manifest — one entry per
    partition per run, no Spark job; the scale analog reads the same
    history from a manifest *table* with one window query. Returns a list
    of dicts (kind, partition_id, ruleset_hash, current, previous,
    message); feed :func:`regressions_to_violations` to emit them in the
    standard violations schema alongside row-level checks.
    """
    hist: dict = {}
    for e in manifest.entries.values():
        if e.get("status") not in _DONE_STATUSES:
            continue
        if ruleset_hash is not None and e["ruleset_hash"] != ruleset_hash:
            continue
        hist.setdefault((e["partition_id"], e["ruleset_hash"]), []).append(e)
    out: list[dict] = []
    for (pid, rh), entries in sorted(hist.items()):
        if len(entries) < 2:
            continue
        entries.sort(key=lambda e: e["completed_at"])
        prev, cur = entries[-2]["metrics"], entries[-1]["metrics"]

        def _emit(kind: str, message: str) -> None:
            out.append({"kind": kind, "partition_id": pid,
                        "ruleset_hash": rh, "current": cur, "previous": prev,
                        "message": message})

        p_rows, c_rows = prev.get("n_rows", 0), cur.get("n_rows", 0)
        if p_rows > 0 and c_rows < row_drop_ratio * p_rows:
            _emit("row_count_drop",
                  f"Partition `{pid}` rows fell {p_rows} -> {c_rows} "
                  f"(below {row_drop_ratio:g}x of previous run)")
        p_rate = (prev.get("n_violations", 0) / p_rows) if p_rows else 0.0
        c_rate = (cur.get("n_violations", 0) / c_rows) if c_rows else 0.0
        if c_rate - p_rate > viol_rate_jump:
            _emit("violation_rate_jump",
                  f"Partition `{pid}` violation rate rose "
                  f"{p_rate:.4f} -> {c_rate:.4f} "
                  f"(> +{viol_rate_jump:g} over previous run)")
        if prev.get("passed") is True and cur.get("passed") is False:
            _emit("pass_regression",
                  f"Partition `{pid}` passed the previous run and fails "
                  f"the latest one")
    return out


def regressions_to_violations(spark, regressions: list[dict],
                              ruleset_id: str):
    """Regression dicts -> a DataFrame in the engine's standard violations
    schema (row_id NULL — these are partition-level findings), so manifest
    anomalies ride the same sinks/reports as row-level checks."""
    rows = [
        (None, r["partition_id"], ruleset_id,
         f"{ruleset_id}:manifest:{r['kind']}",
         "x-manifest", "",
         f"#/x-manifest/{r['kind']}",
         r["message"],
         str(r["current"].get("n_rows")),
         [str(r["previous"].get("n_rows"))],
         "warning")
        for r in regressions
    ]
    return spark.createDataFrame(rows, VIOLATION_SCHEMA)


def snapshot_id_for(table_path: str) -> str:
    """Deterministic snapshot fingerprint of a partitioned-parquet table:
    max mtime + file count (Iceberg snapshot-id stand-in for the sandbox)."""
    latest, count = 0.0, 0
    for root, _dirs, files in os.walk(table_path):
        for f in files:
            if f.endswith(".parquet"):
                count += 1
                latest = max(latest, os.path.getmtime(os.path.join(root, f)))
    return f"snap_{count}_{int(latest)}"


_ = DataFrame


def _flat_fields(schema, prefix: str = "") -> dict:
    """Flatten a StructType to {dotted.path: (simpleTypeString, nullable)}
    — nested structs walk down, arrays/maps compare as whole types."""
    from pyspark.sql import types as T
    out: dict = {}
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out[path] = ("struct", f.nullable)
            out.update(_flat_fields(f.dataType, prefix=path + "."))
        else:
            out[path] = (f.dataType.simpleString(), f.nullable)
    return out


def schema_drift(prev, cur) -> list[dict]:
    """Schema-evolution drift between two table versions (the lakehouse
    failure mode the run manifest can't see: a partition revalidates
    clean while an upstream writer silently retyped or dropped a column).
    ``prev``/``cur`` are StructTypes or ``schema.json()`` strings (store
    ``df.schema.json()`` in the run manifest and compare on the next
    run — the JSON round-trip is pure python, no Spark session needed).

    Kinds: ``column_added`` (informational — new data, old rulesets
    simply don't cover it), ``column_removed`` (a ruleset naming it now
    static-fails), ``type_changed`` (try_cast semantics silently shift),
    ``nullability_loosened`` (required -> nullable: rows that previously
    could not be NULL now can). Driver-side pure python; no Spark job.
    """
    import json as _json

    from pyspark.sql import types as T

    def to_schema(s):
        return T.StructType.fromJson(_json.loads(s)) \
            if isinstance(s, str) else s

    p, c = _flat_fields(to_schema(prev)), _flat_fields(to_schema(cur))
    out: list[dict] = []
    for path in sorted(set(p) | set(c)):
        if path not in c:
            out.append({"kind": "column_removed", "column": path,
                        "previous": p[path][0], "current": None,
                        "message": f"Column `{path}` ({p[path][0]}) was "
                                   "removed from the table schema"})
        elif path not in p:
            out.append({"kind": "column_added", "column": path,
                        "previous": None, "current": c[path][0],
                        "message": f"Column `{path}` ({c[path][0]}) was "
                                   "added to the table schema"})
        else:
            (pt, pn), (ct, cn) = p[path], c[path]
            if pt != ct:
                out.append({"kind": "type_changed", "column": path,
                            "previous": pt, "current": ct,
                            "message": f"Column `{path}` changed type "
                                       f"{pt} -> {ct}"})
            if not pn and cn:
                out.append({"kind": "nullability_loosened", "column": path,
                            "previous": "required", "current": "nullable",
                            "message": f"Column `{path}` was required and "
                                       "is now nullable"})
    return out


def schema_drift_violations(spark, diffs: list[dict], ruleset_id: str):
    """Schema-drift dicts -> the engine's standard violations schema
    (row_id NULL, partition_id 'all' — table-level findings), same
    contract as :func:`regressions_to_violations`. ``column_added`` is
    emitted at ``info`` severity (not a defect), the rest ``warning``."""
    rows = [
        (None, "all", ruleset_id,
         f"{ruleset_id}:schema:{d['kind']}",
         "x-schema", f"/{d['column']}",
         f"#/x-schema/{d['kind']}",
         d["message"],
         None if d["current"] is None else str(d["current"]),
         [] if d["previous"] is None else [str(d["previous"])],
         "info" if d["kind"] == "column_added" else "warning")
        for d in diffs
    ]
    return spark.createDataFrame(rows, VIOLATION_SCHEMA)
