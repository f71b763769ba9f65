"""Cross-batch streaming funnel via ``applyInPandasWithState``.

The batch engine's funnel (operators/funnel.py) folds each user's full
sorted event array; a continuously-ingested event log needs the
streaming analog — carry every user's greedy completion chain in the
state store and extend it as micro-batches arrive, emitting a progress
row whenever a user's chain grows.

Semantics contract (documented, not hidden): the greedy chain is
order-sensitive, so the stream matches the batch fold exactly when each
user's events arrive in non-decreasing event-time order ACROSS batches
(the append-log case — the same in-order contract streaming/gap.py's
no-rewind mark states). Events within one batch are sorted before the
fold, so intra-batch disorder is absorbed; a cross-batch late event
whose ts precedes the chain's tip cannot retroactively rewrite a chain
the batch engine would have built differently — it is simply considered
against the CURRENT chain (and, being older than the tip, never extends
it). State is one array of epoch-microsecond longs per user — bounded by
len(steps), never payloads.

Emission: update-style — one row per (user, batch) in which the chain
extended, carrying the new ``steps_completed`` and step timestamps. The
LAST emission per user equals the batch engine's ``funnel_users`` row
(pinned stream==batch in tests); sinks upsert on user_id, so replays of
an idempotent foreachBatch write converge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from . import _drain, _file_stream


def funnel_stream(stream_df: DataFrame, steps: list, *,
                  user_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  within_ms: int | None = None) -> DataFrame:
    """Streaming DataFrame -> chain-progress rows (user_id,
    steps_completed, t1..tn as timestamps). Same validation and greedy
    recurrence as the batch operator."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError("funnel steps must be distinct event types")
    n = len(steps)
    step_of = {s: i + 1 for i, s in enumerate(steps)}
    out_schema = ("user_id string, steps_completed int, "
                  + ", ".join(f"t{i + 1} timestamp" for i in range(n)))
    state_schema = "chain array<long>"  # epoch micros, len <= n

    ev = (stream_df
          .where(F.col(type_col).isin(list(steps)))
          .select(F.col(user_col).cast("string").alias("user_id"),
                  F.col(ts_col).cast("timestamp").alias("ts"),
                  F.col(type_col).alias("etype")))

    def fn(key, pdf_iter, state):
        import pandas as pd

        chain = list(state.get[0]) if state.exists else []
        before = len(chain)
        rows = []
        for pdf in pdf_iter:
            rows.append(pdf)
        pdf = pd.concat(rows) if rows else None
        if pdf is not None and len(pdf):
            pdf = pdf.sort_values("ts", kind="mergesort")
            for ts, etype in zip(pdf["ts"], pdf["etype"]):
                if pd.isna(ts) or len(chain) >= n:
                    continue
                if step_of[etype] != len(chain) + 1:
                    continue
                us = int(ts.value // 1000)  # pandas ns -> micros
                if chain:
                    if us <= chain[-1]:
                        continue
                    if within_ms is not None and \
                            (us - chain[-1]) > within_ms * 1000:
                        continue
                chain.append(us)
        if len(chain) == before:
            if not state.exists:
                state.update((chain,))
            return iter(())
        state.update((chain,))
        out = {"user_id": [key[0]], "steps_completed": [len(chain)]}
        for i in range(n):
            # explicit dtype: an all-NaT object column would make the
            # serializer's batch concat dtype-ambiguous (pandas 2.x
            # FutureWarning, 3.x behavior change)
            out[f"t{i + 1}"] = pd.Series(
                [pd.Timestamp(chain[i] * 1000) if i < len(chain)
                 else pd.NaT], dtype="datetime64[ns]")
        return iter([pd.DataFrame(out)])

    return (ev.groupBy("user_id")
              .applyInPandasWithState(fn, out_schema, state_schema,
                                      "update",
                                      GroupStateTimeout.NoTimeout))


def run_funnel_stream(spark, input_path: str, input_schema, steps: list, *,
                      query_name: str = "funnel_stream",
                      checkpoint: str | None = None,
                      within_ms: int | None = None,
                      max_files_per_trigger: int = 1):
    """Drain a file-source stream through the funnel into a memory sink
    (append of progress rows; the last row per user is the current
    chain). Returns the query."""
    stream = _file_stream(spark, input_path, input_schema,
                          max_files_per_trigger)
    return _drain(funnel_stream(stream, steps, within_ms=within_ms),
                  checkpoint=checkpoint, query_name=query_name,
                  output_mode="update")
