"""Event-time windowed streaming aggregates with watermarked late-data
handling.

The reference has no streaming semantics (batch linter); this extends the
incremental mode (T2, ``incremental.py``) with the standard Structured-
Streaming shape a continuously-ingested clips table needs: per-window
violation/quality counts with a watermark bounding state, so late rows
inside the allowed lateness still update their window and older ones are
dropped instead of growing state forever. At 10^12-row scale the windowed
aggregate is the only stateful operator — everything upstream is the same
stateless one-projection validation plan as batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.drift import psi_vs_previous_window, windowed_histogram
from ..operators.validate import n_violations_expr, stage_columns
from ..plans.compiler import CompiledRuleset
from . import _drain, _file_stream, _write_batch_idempotent


def windowed_verdict_counts(
    stream_df: DataFrame,
    compiled: CompiledRuleset,
    *,
    event_time_col: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Streaming DataFrame -> per-event-time-window verdict counts.

    Applies the compiled ruleset as a stateless projection (same Column
    expressions as batch ``validate``), then a watermarked tumbling-window
    aggregate: ``n_rows``, ``n_failed_rows``, ``n_violations`` per window.
    Works identically on a batch DataFrame (Spark's unified semantics),
    which is how the equivalence test pins the streaming output to the
    batch oracle.
    """
    annotated = stage_columns(stream_df, compiled).withColumn(
        "_n_viol", n_violations_expr(compiled))
    if annotated.isStreaming:
        annotated = annotated.withWatermark(event_time_col, watermark_delay)
    return (annotated
            .groupBy(F.window(F.col(event_time_col), window_duration)
                     .alias("window"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum((F.col("_n_viol") > 0).cast("long"))
                 .alias("n_failed_rows"),
                 F.sum("_n_viol").alias("n_violations"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "n_rows", "n_failed_rows", "n_violations"))


def run_windowed_stream(
    spark,
    input_path: str,
    input_schema,
    compiled: CompiledRuleset,
    *,
    event_time_col: str,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    query_name: str = "windowed_verdicts",
    checkpoint: str | None = None,
    output_mode: str = "complete",
):
    """Drain a file-source stream through the windowed aggregate into a
    memory sink. Returns the started query; callers ``awaitTermination``
    then read ``spark.table(query_name)``.

    Default ``complete`` because this helper IS the bounded-drain case: a
    memory sink in ``update`` mode appends each micro-batch's updated rows,
    so ``spark.table(query_name)`` would hold duplicate rows per window and
    readers would have to take the last row per window themselves. In
    ``complete`` the sink always holds exactly the current result. For a
    continuous production stream use :func:`windowed_verdict_counts` with a
    real sink in ``update``/``append`` mode — there the watermark evicts
    window state and drops too-late rows; ``complete`` retains every
    window's state forever (watermark inert) and is only acceptable for
    bounded drains like this one.
    """
    agg = windowed_verdict_counts(
        _file_stream(spark, input_path, input_schema, 4), compiled,
        event_time_col=event_time_col,
        window_duration=window_duration, watermark_delay=watermark_delay)
    return _drain(agg, checkpoint=checkpoint, query_name=query_name,
                  output_mode=output_mode)


def run_drift_stream(
    spark,
    input_path: str,
    input_schema,
    *,
    value_col: str,
    time_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 25,
    window_duration: str = "1 day",
    hist_sink: str,
    checkpoint: str,
):
    """Continuous drift monitoring over a file-source stream: each
    micro-batch reduces to PARTIAL (ws, bucket, n) histogram counts
    (``operators.drift.windowed_histogram``) written to ``hist_sink`` —
    counts are additive, so partials from any number of batches merge with
    a plain sum at read time. State is bounded by the histogram size, not
    the row count.

    Each batch replaces its own ``_batch=<id>`` partition, so a replayed
    batch cannot double-count its partials (``streaming/__init__.py``).
    Returns the started query; read the monitor with
    :func:`drift_psi_from_sink`.
    """
    def process_batch(batch_df, batch_id: int):
        h = windowed_histogram(batch_df, value_col, time_col, lo=lo, hi=hi,
                               n_buckets=n_buckets,
                               window_duration=window_duration)
        _write_batch_idempotent(h, batch_id, hist_sink, "_batch")

    return _drain(_file_stream(spark, input_path, input_schema, 4),
                  checkpoint=checkpoint, process=process_batch)


def drift_psi_from_sink(spark, hist_sink: str, *,
                        window_duration: str = "1 day",
                        epsilon: float = 1e-6):
    """Per-window PSI vs previous window over the accumulated histogram
    partials a drift stream wrote — identical numerics to the batch
    ``drift.windowed_psi`` on the same rows (pinned by test)."""
    h = spark.read.parquet(hist_sink).select("ws", "bucket", "n")
    return psi_vs_previous_window(h, window_duration=window_duration,
                                  epsilon=epsilon)
