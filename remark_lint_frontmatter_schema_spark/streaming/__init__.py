"""The one Structured-Streaming scaffold every ``streaming/`` runner uses:
a parquet file source (:func:`_file_stream`; Iceberg incremental reads in
production), an availableNow drain (:func:`_drain`; a rerun with the same
checkpoint processes only new files) and one replay-safe batch write
(:func:`_write_batch_idempotent`). Runners state only their batch logic.

Replay guarantees. ``foreachBatch`` is at-least-once: a batch that wrote
but crashed before its checkpoint commit runs again on restart.

* Replace their own batch partition, so the sink keeps one copy: both
  ``asof`` runners, ``windowed.run_drift_stream``, ``markov``, ``volume``.
* Overwrite the whole sink with the complete state each trigger:
  ``heavy_hitters``, ``reconcile``.
* Append, so a replay appends the batch again under the same batch id
  and readers dedupe on it: the three ``incremental`` runners, ``drift``.
* Built-in sinks: the parquet file sink (``neardup`` with ``sink_path``)
  commits each batch once through its own log; the memory sink
  (``stateful``, ``gap``, ``funnel``, ``windowed.run_windowed_stream``,
  ``neardup`` otherwise) serves bounded drains and is not fault-tolerant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _file_stream(spark, input_path: str, input_schema,
                 max_files_per_trigger: int) -> DataFrame:
    """Streaming DataFrame over the parquet files landing in
    ``input_path``, at most ``max_files_per_trigger`` per micro-batch."""
    return (spark.readStream.schema(input_schema)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_path))


def _drain(df: DataFrame, *, checkpoint: str | None = None, process=None,
           query_name: str | None = None, sink_path: str | None = None,
           output_mode: str = "append"):
    """Start an availableNow query over ``df`` and return it. The sink is
    ``foreachBatch(process)``, else a parquet file sink at ``sink_path``,
    else a memory sink named ``query_name``."""
    writer = df.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if process is not None:
        writer = writer.foreachBatch(process)
    elif sink_path:
        writer = writer.format("parquet").option("path", sink_path)
    else:
        writer = writer.format("memory")
    if query_name:
        writer = writer.queryName(query_name)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _fs(spark, path: str):
    """(Hadoop FileSystem, Path, jvm) for ``path``."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _write_batch_idempotent(df: DataFrame, value, sink: str,
                            col: str) -> None:
    """Write ``df`` as the ``col=value`` partition of ``sink``, replacing
    whatever an earlier attempt of the same batch left there.

    The partition is deleted first: dynamic overwrite alone replaces only
    partitions present in the new output, so a replay whose recomputed
    result is empty (a refreshing dim, say) would leave the stale rows.
    An empty ``df`` still writes the sink root, so it stays readable.
    ``df`` is computed once."""
    fs, part, _ = _fs(df.sparkSession, f"{sink}/{col}={value}")
    fs.delete(part, True)
    (df.withColumn(col, F.lit(value))
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(col)
       .parquet(sink))
