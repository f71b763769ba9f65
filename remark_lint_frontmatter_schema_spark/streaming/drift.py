"""Streaming drift detection against a PERSISTED baseline histogram.

The batch drift operators (operators/drift.py) compare two sides of one
table. Production ingest needs the other shape: a reference distribution
is frozen once (the accepted corpus, a golden week), and every incoming
micro-batch is tested against it — the monitoring loop that catches an
upstream recorder change or a schema-preserving corruption the row checks
cannot see.

Scale shape: the baseline is a histogram relation (n_buckets rows) saved
as parquet with a JSON meta sidecar; at stream time it is collected ONCE
to the driver (tiny) and re-created per batch. Each micro-batch pays one
hash-aggregate over its own rows (map-side combined) plus driver-scale
statistics — no state store, no stream-stream join. The sinks append
(replay guarantees: ``streaming/__init__.py``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.drift import histogram, ks_statistic, psi
from . import _drain, _file_stream

_BASELINE_SIDE = "baseline"
_CURRENT_SIDE = "current"

_ALERT_DDL = (
    "batch_id long, value_col string, n_rows long, ks_stat double, "
    "psi double, message string, severity string, ruleset_id string"
)
_HISTORY_DDL = (
    "batch_id long, value_col string, n_rows long, ks_stat double, "
    "psi double, alerted boolean"
)


def save_baseline(df: DataFrame, value_col: str, path: str, *,
                  lo: float, hi: float, n_buckets: int = 50) -> dict:
    """Freeze ``df``'s distribution of ``value_col`` as the reference:
    histogram parquet + ``_meta.json`` (bucketing params — a stream tested
    against a differently-bucketed baseline would be silently wrong, so
    the params travel with the data and are enforced at stream time)."""
    hist = histogram(df, value_col, F.lit(_BASELINE_SIDE),
                     lo=lo, hi=hi, n_buckets=n_buckets)
    hist.write.mode("overwrite").parquet(os.path.join(path, "hist"))
    meta = {"value_col": value_col, "lo": float(lo), "hi": float(hi),
            "n_buckets": int(n_buckets)}
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def load_baseline(spark, path: str) -> tuple[list, dict]:
    """(collected histogram rows, meta dict) — both driver-scale."""
    with open(os.path.join(path, "_meta.json")) as fh:
        meta = json.load(fh)
    rows = spark.read.parquet(os.path.join(path, "hist")).collect()
    return rows, meta


def drift_stream(
    spark,
    input_path: str,
    input_schema,
    *,
    value_col: str,
    baseline_path: str,
    out_path: str,
    checkpoint: str,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    min_rows: int = 0,
    ruleset_name: str = "engine",
    severity: str = "warning",
    max_files_per_trigger: int = 4,
):
    """File-source stream -> per-micro-batch drift vs the saved baseline.

    Every batch appends one lineage row to ``{out_path}/history``
    (batch_id, n_rows, ks, psi, alerted); batches whose KS or PSI crosses
    its threshold ALSO append an alert row to ``{out_path}/alerts``.
    Batches with fewer than ``min_rows`` rows record history but never
    alert — micro-batch histograms are noisy at tiny counts and a
    half-full trigger must not page anyone. A NULL statistic (empty batch
    after the non-NULL filter) is likewise history-only.

    A rerun resumes after the last committed batch and adds no rows
    (pinned by the resume test); a replayed batch appends its rows again
    under the same ``batch_id`` (see ``streaming/__init__.py``).
    """
    base_rows, meta = load_baseline(spark, baseline_path)
    if meta["value_col"] != value_col:
        raise ValueError(
            f"baseline at {baseline_path} was built for column "
            f"{meta['value_col']!r}, not {value_col!r}")
    lo, hi, n_buckets = meta["lo"], meta["hi"], meta["n_buckets"]

    def process_batch(batch_df, batch_id: int):
        n = batch_df.count()
        cur = histogram(batch_df, value_col, F.lit(_CURRENT_SIDE),
                        lo=lo, hi=hi, n_buckets=n_buckets)
        base = spark.createDataFrame(base_rows, "side string, bucket int, "
                                                "n long")
        hist = cur.unionByName(base)
        ks_row = ks_statistic(hist, _BASELINE_SIDE, _CURRENT_SIDE).collect()
        p_row = psi(hist, _BASELINE_SIDE, _CURRENT_SIDE).collect()
        ks = ks_row[0].ks_stat if ks_row else None
        pv = p_row[0].psi if p_row else None
        alerted = bool(
            n >= max(min_rows, 1) and ks is not None and pv is not None
            and (ks > ks_threshold or pv > psi_threshold))
        spark.createDataFrame(
            [(batch_id, value_col, n, ks, pv, alerted)], _HISTORY_DDL
        ).write.mode("append").parquet(os.path.join(out_path, "history"))
        if alerted:
            msg = (f"Distribution drift on '{value_col}' vs baseline: "
                   f"ks={round(ks, 6)} psi={round(pv, 6)} "
                   f"(thresholds ks>{ks_threshold}, psi>{psi_threshold})")
            spark.createDataFrame(
                [(batch_id, value_col, n, ks, pv, msg, severity,
                  ruleset_name)], _ALERT_DDL
            ).write.mode("append").parquet(os.path.join(out_path, "alerts"))

    return _drain(_file_stream(spark, input_path, input_schema,
                               max_files_per_trigger),
                  checkpoint=checkpoint, process=process_batch)
