"""Cross-batch continuity monitoring: the streaming twin of
``operators/sequence.gap_violations`` via ``applyInPandasWithState``.

The batch check sees the whole timeline; a continuously-ingested table
needs the gap found WHERE THE BATCH BOUNDARY IS — the silence between
the last event of one micro-batch and the first of the next is exactly
the heartbeat outage a monitor exists for, and no per-batch window can
see it. Per-key state is ONE double (the last-seen epoch second), so
state size is O(keys) and never holds payloads — the same state-store
discipline as ``streaming/stateful.py``.

Ordering contract: rows WITHIN a batch are sorted per key before gap
computation; ACROSS batches the stream is assumed per-key
non-decreasing (file-ingest order — the same assumption the resume
manifest makes). A late row older than the state's last-seen mark can
never fire a spurious violation — not for itself (its gap is negative)
and not for its in-batch successor (every predecessor is clamped to the
high-water mark) — and never moves the mark backwards.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from . import _drain, _file_stream


def gap_monitor(stream_df: DataFrame, ts_col: str, *, by: str,
                max_seconds: float) -> DataFrame:
    """Streaming DataFrame -> one row per detected gap:
    ``(by, ts, gap_s)`` — the event AFTER each silence longer than
    ``max_seconds``, including silences spanning micro-batch boundaries.
    NULL timestamps are absent from the timeline (never a gap end, never
    moving the last-seen mark)."""
    if not max_seconds > 0:
        raise ValueError(f"max_seconds must be > 0, got {max_seconds!r}")
    ts_field = stream_df.schema[ts_col]
    out_schema = T.StructType([
        stream_df.schema[by],
        ts_field,
        T.StructField("gap_s", T.DoubleType()),
    ])
    state_schema = "last_s double"
    is_ts = isinstance(ts_field.dataType,
                       (T.TimestampType, T.TimestampNTZType))

    def fn(key, pdf_iter, state):
        parts = [p for p in pdf_iter if len(p)]
        if not parts:
            return iter(())
        pdf = pd.concat(parts).dropna(subset=[ts_col])
        if not len(pdf):
            return iter(())
        pdf = pdf.sort_values(ts_col)
        secs = (pdf[ts_col].astype("int64").to_numpy() / 1e9 if is_ts
                else pdf[ts_col].to_numpy(dtype="float64"))
        if state.exists:
            mark = state.get[0]
            # clamp every predecessor to the high-water mark: a LATE row
            # (older than the mark) must neither fire nor make its
            # in-batch successor fire — the successor's true "last heard"
            # is the mark, not the late straggler
            prev = np.maximum(np.concatenate(([mark], secs[:-1])), mark)
        else:
            prev = np.concatenate(([np.nan], secs[:-1]))
        gaps = secs - prev
        hit = ~np.isnan(gaps) & (gaps > max_seconds)
        # the mark only advances (late data never rewinds it)
        last = secs[-1]
        if state.exists:
            last = max(last, state.get[0])
        state.update((float(last),))
        if not hit.any():
            return iter(())
        out = pdf.loc[hit, [by, ts_col]].copy()
        out["gap_s"] = np.round(gaps[hit], 3)
        return iter([out])

    return (stream_df.groupBy(by)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def run_gap_stream(spark, input_path: str, input_schema, ts_col: str, *,
                   by: str, max_seconds: float,
                   query_name: str = "gap_monitor",
                   checkpoint: str | None = None,
                   max_files_per_trigger: int = 1):
    """Drain a file-source stream through the gap monitor into a memory
    sink (append mode — each gap emits exactly once). Returns the query."""
    stream = _file_stream(spark, input_path, input_schema,
                          max_files_per_trigger)
    return _drain(gap_monitor(stream, ts_col, by=by,
                              max_seconds=max_seconds),
                  checkpoint=checkpoint, query_name=query_name)
