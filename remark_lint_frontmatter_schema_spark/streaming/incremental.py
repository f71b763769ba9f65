"""Optional incremental mode (SURVEY.md §2.9 T2).

The reference is a batch linter; this is the Structured-Streaming wrapper
that runs the SAME compiled ruleset over newly-arrived files via
``foreachBatch`` — the streaming analog of re-linting only changed files.
Watermarks/session windows are deliberately out of scope (no reference
semantics require them). All three runners append: a replayed batch is
appended again under the same ``batch_<id>`` (``streaming/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.validate import validate
from ..plans.compiler import CompiledRuleset
from . import _drain, _file_stream


def validate_stream(
    spark: SparkSession,
    input_path: str,
    input_schema,
    compiled: CompiledRuleset,
    *,
    row_id: str,
    partition_col: str | None,
    violations_sink: str,
    verdicts_sink: str,
    checkpoint: str,
    dims: dict | None = None,
):
    """Start and drain a validation stream.

    Each micro-batch runs the identical one-projection plan; per-batch
    verdicts are appended with the batch id as run_id so late (and
    replayed) batches are attributable — corrupt rows become violation
    rows, never stream failures (the reference's parse-failure guard,
    index.ts:240-245).

    A ruleset declaring table-level checks runs them per micro-batch
    through the batch engine (operators/table_checks.py): each check is
    its own column-pruned pass over the batch. Scope is the micro-batch
    (uniqueness/quantile/drift within the arriving slice — the streaming
    reading of the reference's per-file lint scope); cross-batch state
    belongs to the dedicated stateful modules (streaming/neardup, drift,
    volume, …). ``dims`` supplies the static dim tables x-ref
    declarations join against; a declared-but-missing dim skips its
    check per batch (the routing layer's G2 policy).

    Some table checks reach operators that register a persisted
    intermediate in ``operators.dedup._PERSISTED`` (x-ref-asof's as-of
    join caches its dim side); what a batch registered is freed after
    its writes, so a long-lived stream never accumulates storage.
    """
    def process_batch(batch_df, batch_id: int):
        from ..operators.dedup import _PERSISTED
        mark = len(_PERSISTED)
        res = validate(batch_df, compiled, row_id=row_id,
                       partition_col=partition_col,
                       run_id=f"batch_{batch_id}")
        v = res.violations
        if compiled.table_checks:
            from ..operators.table_checks import table_check_violations
            tv = table_check_violations(
                batch_df, compiled, row_id=row_id, dims=dims,
                on_missing_dim=lambda name: None)
            if tv is not None:
                v = v.unionByName(tv.select(*res.violations.columns))
        v.write.mode("append").parquet(violations_sink)
        res.verdicts.write.mode("append").parquet(verdicts_sink)
        for d in _PERSISTED[mark:]:
            d.unpersist()
        del _PERSISTED[mark:]

    return _drain(_file_stream(spark, input_path, input_schema, 16),
                  checkpoint=checkpoint, process=process_batch)


def ingest_stream(
    spark: SparkSession,
    input_path: str,
    input_schema,
    compiled: CompiledRuleset,
    *,
    out_path: str,
    checkpoint: str,
    fail_severities=("error",),
    target_sr: int = 16000,
    normalize_db: float | None = None,
    passthrough: tuple = ("transcript",),
    max_files_per_trigger: int = 16,
):
    """Streaming twin of ``operators.ingest.ingest_corpus``: each
    micro-batch is gated by ``sinks.write_split`` (quarantine
    self-describing under ``{out_path}/split``) and its accepted rows are
    canonicalized into ``{out_path}/corpus`` — continuous corpus
    construction from a landing directory.

    The checkpoint skips committed batches; a replayed batch re-appends
    under the same ``batch_N`` run_id (replay guarantees:
    ``streaming/__init__.py``), so readers that dedupe on (run_id,
    clip_id) — or the downstream exact dedup pass — see one copy. Batch-local, shuffle-free, payloads never
    leave their map stage; the per-partition lineage manifest remains the
    batch-mode resume tool (the checkpoint IS the stream's lineage)."""
    from pyspark.sql import functions as F

    from .. import sinks
    from ..functions.audio import canonicalize_clips
    from ..operators.validate import n_blocking_expr

    def process_batch(batch_df, batch_id: int):
        run_id = f"batch_{batch_id}"
        # count=False: the read-back count re-lists the whole (growing)
        # split tree — a monotonic per-trigger latency leak on a stream
        sinks.write_split(batch_df, compiled, path=f"{out_path}/split",
                          run_id=run_id, fail_severities=fail_severities,
                          count=False)
        # same gate recomputed on the batch (micro-batch files are local
        # and the gate is a codegen projection — cheaper than reading the
        # split back and with no first-batch path-existence edge)
        from ..operators.validate import stage_columns, staged_names
        accepted = stage_columns(batch_df, compiled).where(
            n_blocking_expr(compiled, fail_severities) == 0) \
            .drop(*staged_names(compiled))
        corpus = canonicalize_clips(
            accepted, target_sr=target_sr,
            normalize_db=normalize_db, passthrough=tuple(passthrough))
        (corpus.withColumn("run_id", F.lit(run_id))
         .write.mode("append").partitionBy("run_id")
         .parquet(f"{out_path}/corpus"))

    return _drain(_file_stream(spark, input_path, input_schema,
                               max_files_per_trigger),
                  checkpoint=checkpoint, process=process_batch)


def repair_stream(
    spark: SparkSession,
    input_path: str,
    input_schema,
    ruleset: dict,
    *,
    row_id: str,
    repaired_sink: str,
    log_sink: str,
    checkpoint: str,
    name: str = "ruleset",
    max_files_per_trigger: int = 16,
):
    """Streaming twin of the CLI's ``--fix-out`` mode: each micro-batch
    runs the one-projection repair pass (operators/repair.py), appends
    the repaired rows partitioned by ``run_id = batch_N`` and the repair
    log alongside — continuous lint -> fix over a landing directory.

    As in :func:`ingest_stream`, a replayed batch re-appends under the
    same ``batch_N`` partition, so (run_id, row_id) dedup sees one copy. The
    repair projection is batch-local and shuffle-free."""
    from pyspark.sql import functions as F

    from ..operators.repair import repair

    def process_batch(batch_df, batch_id: int):
        run_id = f"batch_{batch_id}"
        res = repair(batch_df, ruleset, row_id=row_id, name=name)
        for df, sink in ((res.repaired, repaired_sink), (res.log, log_sink)):
            (df.withColumn("run_id", F.lit(run_id))
             .write.mode("append").partitionBy("run_id").parquet(sink))

    return _drain(_file_stream(spark, input_path, input_schema,
                               max_files_per_trigger),
                  checkpoint=checkpoint, process=process_batch)
