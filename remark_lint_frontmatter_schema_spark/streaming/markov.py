"""Cross-batch streaming transition counting: the streaming twin of
``operators/cohort.transition_matrix`` via ``applyInPandasWithState``.

The batch operator sees each key's whole sequence; a continuously
ingested stream must count the transition that SPANS the micro-batch
boundary — the last state of one batch followed by the first state of
the next is a real transition no per-batch lead() can see. Per-key
state is (last_order, last_state) — two scalars, never payloads — the
same state-store discipline as ``streaming/gap.py``.

Ordering contract (the gap/funnel policy): rows within a batch are
sorted per key; across batches the stream is assumed per-key
non-decreasing. A late row older than the state's high-water mark is
DROPPED — it neither emits a transition nor rewinds the mark (counting
it would fabricate an out-of-order transition the batch operator, which
sorts globally, would never produce).

Sink: each batch's (src, dst) partial counts replace their own
``_batch=<id>`` partition (replay guarantees: ``streaming/__init__.py``)
— counts are additive, so the running matrix is one sum over the
accumulated partials, normalized exactly like the batch form.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from . import _drain, _file_stream, _write_batch_idempotent


def transition_pairs(stream_df: DataFrame, key_col: str, state_col: str,
                     order_col: str) -> DataFrame:
    """Streaming DataFrame -> one row per observed transition
    ``(key, src, dst)``, including the batch-boundary transition carried
    by the per-key state. NULL key/state/order rows are absent (the
    batch operator's contract)."""
    out_schema = T.StructType([
        stream_df.schema[key_col],
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
    ])
    state_schema = "last_order double, last_state string"
    ofield = stream_df.schema[order_col].dataType
    is_ts = isinstance(ofield, (T.TimestampType, T.TimestampNTZType))

    def fn(key, pdf_iter, state):
        parts = [p for p in pdf_iter if len(p)]
        if not parts:
            return iter(())
        pdf = pd.concat(parts).dropna(subset=[state_col, order_col])
        if not len(pdf):
            return iter(())
        pdf = pdf.sort_values(order_col, kind="mergesort")
        # timestamps compare in exact integer MICROseconds (int64 ns //
        # 1000 stays below 2^53, so the float64 state value is exact);
        # dividing to float seconds loses ~0.4 us of ulp at epoch scale
        # and can collapse two sub-us-apart events, letting a late row
        # pass the `ords >= mark` keep test
        ords = (pdf[order_col].astype("int64").to_numpy() // 1000
                if is_ts else pdf[order_col].to_numpy(dtype="float64"))
        states = pdf[state_col].astype(str).tolist()
        prev_state = None
        mark = None
        if state.exists:
            mark, prev_state = state.get
            keep = ords >= mark          # late rows: dropped, no rewind
            states = [s for s, k in zip(states, keep) if k]
            ords = ords[keep]
        if not len(states):
            return iter(())
        chain = ([prev_state] if prev_state is not None else []) + states
        state.update((float(ords[-1]), states[-1]))
        if len(chain) < 2:
            return iter(())
        out = pd.DataFrame({
            key_col: [key[0]] * (len(chain) - 1),
            "src": chain[:-1],
            "dst": chain[1:],
        })
        return iter([out])

    # NULL keys are absent (the batch operator's contract) — without the
    # filter groupBy forms a NULL-key group and fn would emit transitions
    # the batch twin never produces
    return (stream_df.where(F.col(key_col).isNotNull())
            .groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def run_transition_stream(spark, input_path: str, input_schema,
                          key_col: str, state_col: str, order_col: str, *,
                          out_path: str, checkpoint: str,
                          max_files_per_trigger: int = 1):
    """File-source stream -> per-batch (src, dst, n) partials at
    ``out_path`` (``_batch``-partitioned, replay-safe)."""
    pairs = transition_pairs(
        _file_stream(spark, input_path, input_schema, max_files_per_trigger),
        key_col, state_col, order_col)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch_idempotent(
            batch_df.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n")),
            batch_id, out_path, "_batch")

    return _drain(pairs, checkpoint=checkpoint, process=process_batch)


def matrix_from_sink(spark, out_path: str) -> DataFrame:
    """Running transition matrix over the accumulated partials —
    identical shape and normalization to the batch
    ``cohort.transition_matrix`` on the same rows (pinned by test).
    The explicit schema makes an all-empty sink (a stream that never
    observed a transition) read as an empty matrix instead of failing
    parquet schema inference."""
    counts = (spark.read
              .schema("src string, dst string, n long, _batch long")
              .parquet(out_path)
              .groupBy("src", "dst").agg(F.sum("n").alias("n")))
    tot = Window.partitionBy("src")
    return counts.select(
        "src", "dst", "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"))
