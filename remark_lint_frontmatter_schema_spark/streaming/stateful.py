"""Custom stateful streaming operator: cross-batch first-seen dedup via
``applyInPandasWithState``.

The batch engine dedups with a min-id window (operators/curate.py) or the
salted aggregate (operators/uniqueness.py); a continuously-ingested clips
table needs the streaming analog — emit a key's row the first time it is
ever seen and drop every later arrival, across micro-batches. Per-key
state is one small counter row managed by Spark's state store, so state
size is O(distinct keys), independent of stream length; pair with a
fingerprint/hash key column so the state never holds payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

from . import _drain, _file_stream


def first_seen(stream_df: DataFrame, key_col: str) -> DataFrame:
    """Streaming DataFrame -> first row per key ever observed.

    Duplicate rows of a key arriving in the same or any later micro-batch
    are dropped; the per-key state records the running duplicate count
    (observable for monitoring via the state store metrics). Works on the
    grouped-map Arrow path — batches of each key's rows arrive as pandas
    frames, never row-at-a-time Python.
    """
    out_schema = stream_df.schema
    state_schema = "n_seen long"

    def fn(key, pdf_iter, state):
        first = None
        n = 0
        for pdf in pdf_iter:
            n += len(pdf)
            if first is None and len(pdf):
                first = pdf.iloc[[0]]
        if state.exists:
            (prev,) = state.get
            state.update((prev + n,))
            return iter(())
        state.update((n,))
        return iter(()) if first is None else iter([first])

    return (stream_df.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def run_first_seen_stream(spark, input_path: str, input_schema, key_col: str,
                          *, query_name: str = "first_seen",
                          checkpoint: str | None = None,
                          max_files_per_trigger: int = 1):
    """Drain a file-source stream through the stateful dedup into a memory
    sink (append mode — each key's single emission). Returns the query."""
    stream = _file_stream(spark, input_path, input_schema,
                          max_files_per_trigger)
    return _drain(first_seen(stream, key_col), checkpoint=checkpoint,
                  query_name=query_name)
