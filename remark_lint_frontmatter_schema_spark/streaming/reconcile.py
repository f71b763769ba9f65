"""Streaming reconciliation: the running fact-side aggregate vs a static
dimension, re-checked every micro-batch (the streaming twin of
operators/reconcile.py — "does the stored rollup still agree with
everything ingested so far").

Spark-first shape, same as streaming/heavy_hitters.py: the running
per-key aggregate is Spark's OWN stateful streaming aggregation in
COMPLETE output mode (state-store managed, checkpoint-resumable,
exactly-once), so every trigger sees the full (key, actual) relation;
the trigger then runs operators/reconcile.report_from_aggregate — the
IDENTICAL second half the batch operator uses, so stream == batch parity
holds by construction, not by coincidence — and fully overwrites the
report sink (a replayed trigger rewrites the same answer).

``sum`` and ``count`` compose exactly across batches; ``avg``/``min``/
``max`` do too because complete mode aggregates over ALL rows seen, not
per batch. State is O(distinct keys) — the dimension's own cardinality,
bounded by nature for a stored-rollup table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.reconcile import _AGGS, report_from_aggregate
from . import _drain, _file_stream


def running_fact_aggregate(stream_df: DataFrame, *, fact_key: str,
                           fact_value: str,
                           agg: str = "sum") -> DataFrame:
    """Streaming (key, actual) running aggregate (NULL keys dropped —
    same contract as the batch operator)."""
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    return (stream_df
            .select(F.col(fact_key).alias("_rk"),
                    F.col(fact_value).cast("double").alias("_v"))
            .where(F.col("_rk").isNotNull())
            .groupBy("_rk")
            .agg(_AGGS[agg]("_v").cast("double").alias("actual")))


def reconcile_stream(spark, input_path: str, input_schema, *,
                     fact_key: str, fact_value: str, dim: DataFrame,
                     key: str, dim_value: str, agg: str = "sum",
                     tolerance: float = 0.0, out_path: str,
                     checkpoint: str, max_files_per_trigger: int = 1):
    """File-source fact stream -> full reconciliation report at
    ``out_path`` after every trigger (columns: key, expected, actual,
    diff, status — the batch report schema). Returns the started
    availableNow query; rerun with the same checkpoint to process only
    new files, with the running aggregate resuming from state."""
    stream = _file_stream(spark, input_path, input_schema,
                          max_files_per_trigger)
    agged = running_fact_aggregate(stream, fact_key=fact_key,
                                   fact_value=fact_value, agg=agg)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        rep = report_from_aggregate(batch_df, dim, key=key,
                                    dim_value=dim_value,
                                    tolerance=tolerance)
        rep.write.mode("overwrite").parquet(out_path)

    return _drain(agged, checkpoint=checkpoint, process=write,
                  output_mode="complete")
