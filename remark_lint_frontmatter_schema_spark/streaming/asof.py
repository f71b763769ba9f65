"""Streaming temporal enrichment: as-of join each micro-batch against a
slowly-changing static dimension (stream-static as-of).

Structured Streaming's native stream-static joins are equi-joins only —
the as-of window ("greatest dim ts <= event ts per key") is not
expressible in a continuous plan, so this runs the batch
:func:`~..operators.asof.asof_join` INSIDE ``foreachBatch``: each
micro-batch is a bounded DataFrame where the union+window plan is legal.
The dim is re-read per batch by reference (pass a *callable* for a
refreshing dim — e.g. a lambda re-reading an Iceberg snapshot — or a
DataFrame for a frozen one), which is exactly the semantics of
slowly-changing enrichment: rows in batch N see the dim as of batch N.

Both runners replace their own batch partition, so a replayed batch
rewrites itself instead of appending duplicates (replay guarantees:
``streaming/__init__.py``).

Violations mode (``ref_asof_stream``) emits x-ref-asof-shaped violation
rows for events with no dim row in force instead of enriched rows — the
streaming twin of the x-ref-asof table check, like streaming/drift.py
is to x-drift.

Reference parity: the reference is a batch linter with no temporal or
streaming semantics (``/root/reference/index.ts``); both modes belong to
the training-data family the north-star adds.
"""

from __future__ import annotations

from typing import Callable, Union

from pyspark.sql import DataFrame, SparkSession

from ..operators.asof import asof_join, asof_ref_violations
from . import _drain, _file_stream, _write_batch_idempotent

DimLike = Union[DataFrame, Callable[[], DataFrame]]


def _dim_df(dim: DimLike) -> DataFrame:
    return dim() if callable(dim) else dim


def enrich_stream_asof(
    spark: SparkSession,
    input_path: str,
    input_schema,
    dim: DimLike,
    *,
    on: list[str] | str,
    left_ts: str,
    right_ts: str | None = None,
    payload: list[str] | None = None,
    tolerance: float | None = None,
    direction: str = "backward",
    sink: str,
    checkpoint: str,
    max_files_per_trigger: int = 16,
):
    """Start and drain an enrichment stream: each micro-batch as-of
    joined against ``dim``, written to ``sink`` partitioned by ``_batch``
    (replay-safe — see module doc).

    Per batch the join is ONE shuffle on the key (micro-batches are
    bounded, so the per-key window is small by construction — batch
    size, not corpus size, bounds window state)."""

    def process(batch_df, batch_id: int):
        out = asof_join(batch_df, _dim_df(dim), on=on, left_ts=left_ts,
                        right_ts=right_ts, payload=payload,
                        tolerance=tolerance, direction=direction)
        _write_batch_idempotent(out, batch_id, sink, "_batch")

    return _drain(_file_stream(spark, input_path, input_schema,
                               max_files_per_trigger),
                  checkpoint=checkpoint, process=process)


def ref_asof_stream(
    spark: SparkSession,
    input_path: str,
    input_schema,
    dim: DimLike,
    *,
    fact_key: str,
    dim_key: str,
    ts_col: str,
    dim_ts: str,
    row_id: str,
    tolerance: float | None = None,
    direction: str = "backward",
    violations_sink: str,
    checkpoint: str,
    ruleset_name: str = "engine",
    severity: str = "warning",
    max_files_per_trigger: int = 16,
):
    """Streaming x-ref-asof: per micro-batch, events with no dim row in
    force at their timestamp become violation rows. Batch provenance
    rides in ``partition_id`` = ``batch_<id>`` (the validate_stream
    convention) AND the sink is partitioned by it, so a replayed batch
    replaces its own rows."""

    def process(batch_df, batch_id: int):
        v = asof_ref_violations(
            batch_df, fact_key, _dim_df(dim), dim_key, ts_col=ts_col,
            dim_ts=dim_ts, row_id=row_id, tolerance=tolerance,
            direction=direction, ruleset_name=ruleset_name,
            severity=severity)
        _write_batch_idempotent(v, f"batch_{batch_id}", violations_sink,
                                "partition_id")

    return _drain(_file_stream(spark, input_path, input_schema,
                               max_files_per_trigger),
                  checkpoint=checkpoint, process=process)
