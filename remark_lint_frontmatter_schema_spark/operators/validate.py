"""The validation operator: one scan, all checks, no short-circuit.

Reference semantics this preserves:

* ``allErrors: true`` (``/root/reference/index.ts:312``) — every failing
  keyword yields a violation; nothing stops at the first error. Here the
  whole compiled ruleset is evaluated in ONE projection producing an
  ``ARRAY<STRUCT<...>>`` per row, then exploded. One scan evaluates all
  constraints: scan-bound at 10^12 rows, shuffle-free until the (tiny)
  verdict aggregate.
* zero messages == file passes (``README.md:449-454``) — per-row
  ``passed`` and per-partition verdict rows.
* violation record shape mirrors the VFileMessage JSON
  (``README.md:564-608``): constraint_id/keyword/instance_path/
  schema_path/message/actual/expected/severity.

Scale notes: the violations array is built in chunks of
``_CHUNK`` whens so a 500-constraint ruleset does not blow past
whole-stage-codegen method limits; the chunks are concatenated — still one
projection, one scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.compiler import Check, CompiledRuleset, balanced_reduce

# One violation row: where it was found, then the VFileMessage fields.
# Every producer of violation rows builds them with violation_rows.
VIOLATION_SCHEMA = T.StructType([
    T.StructField(name, T.ArrayType(T.StringType()) if name == "expected"
                  else T.StringType())
    for name in ("row_id", "partition_id", "ruleset_id", "constraint_id",
                 "keyword", "instance_path", "schema_path", "message",
                 "actual", "expected", "severity")])
VIOLATION_FIELDS = tuple(VIOLATION_SCHEMA.names[3:])


def to_col(c) -> Column:
    """A column name (str) as ``F.col(name)``; a Column passes through.
    The opposite of :func:`violation_rows`, where a str is a literal."""
    return F.col(c) if isinstance(c, str) else c


def _value(v) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


def _expected(v) -> Column:
    if v is None:
        return F.lit(None).cast("array<string>")
    if not isinstance(v, Column):
        v = F.array(*[F.lit(e) for e in v])
    return v.cast("array<string>")


def violation_rows(df: DataFrame, *, row_id, constraint_id, keyword,
                   instance_path, schema_path, message, actual,
                   expected=None, ruleset_name, severity,
                   partition_id="all") -> DataFrame:
    """``df`` projected to :data:`VIOLATION_SCHEMA`, one violation per row.

    Every argument is a Column or a Python value, and a Python value
    (a str too) is a literal: pass ``F.col(name)`` to read a column.
    ``row_id`` and ``actual`` are cast to string. ``expected`` is None
    (a NULL array), a list of str (a literal array) or a Column, cast
    to ``array<string>``.
    """
    return df.select(
        _value(row_id).cast("string").alias("row_id"),
        _value(partition_id).alias("partition_id"),
        _value(ruleset_name).alias("ruleset_id"),
        _value(constraint_id).alias("constraint_id"),
        _value(keyword).alias("keyword"),
        _value(instance_path).alias("instance_path"),
        _value(schema_path).alias("schema_path"),
        _value(message).alias("message"),
        _value(actual).cast("string").alias("actual"),
        _expected(expected).alias("expected"),
        _value(severity).alias("severity"),
    )


_CHUNK = 64  # whens per F.array chunk (codegen hugeMethodLimit headroom)


def stage_columns(df, compiled: CompiledRuleset):
    """Project ``compiled.staged`` below the checks projection.

    Variant expressions are CodegenFallback — a checks projection that
    inlines them re-walks the variant binary once per keyword in
    interpreted mode. The compiler stages each variant node's value/tag/
    string/double views once, and each ``x-spark-check`` whose Column
    calls a Python UDF, so the check crosses to Python once per row
    (plans/compiler.py); every consumer of
    ``compiled.checks`` / the ``*_expr`` builders MUST apply this first.
    Entries may reference earlier entries, hence the sequential selects
    (CollapseProject keeps multi-referenced non-cheap aliases in place).
    No-op (same DataFrame) for rulesets with nothing staged.
    """
    for col_name, expr in getattr(compiled, "staged", ()) or ():
        df = df.select("*", expr.alias(col_name))
    return df


def staged_names(compiled: CompiledRuleset) -> list[str]:
    return [n for n, _ in (getattr(compiled, "staged", ()) or ())]


def _violation_struct(c: Check) -> Column:
    value = {
        "constraint_id": F.lit(c.constraint_id),
        "keyword": F.lit(c.keyword),
        "instance_path": F.lit(c.instance_path or ""),
        "schema_path": F.lit(c.schema_path),
        "message": F.lit(c.message),
        "actual": c.actual,
        "expected": _expected(c.expected or None),
        "severity": F.lit(c.severity),
    }
    return F.when(
        F.coalesce(c.violated, F.lit(False)),
        F.struct(*[value[f].alias(f) for f in VIOLATION_FIELDS]),
    )  # otherwise NULL -> filtered out below


_EMPTY_ARR_TYPE = T.ArrayType(T.StructType(VIOLATION_SCHEMA.fields[3:]))


def _raw_violations_array(compiled: CompiledRuleset) -> Column:
    """ARRAY<STRUCT> with NULL slots for passing checks (not yet compacted).

    Kept raw on purpose: higher-order functions (``F.filter`` with a
    lambda) are CodegenFallback in Spark, which would drop the whole
    validation Project out of whole-stage codegen. The hot path instead
    explodes the raw array and filters NULL rows — both codegen-friendly —
    and row-level violation counts come from :func:`n_violations_expr`.
    """
    if not compiled.checks:
        return F.array().cast(_EMPTY_ARR_TYPE)
    chunks = []
    for i in range(0, len(compiled.checks), _CHUNK):
        arr = F.array(*[_violation_struct(c)
                        for c in compiled.checks[i:i + _CHUNK]])
        chunks.append(arr)
    return chunks[0] if len(chunks) == 1 else F.concat(*chunks)


def n_violations_expr(compiled: CompiledRuleset) -> Column:
    """Per-row violation count as pure integer arithmetic (codegen-safe).

    Balanced-tree sum, not a left-deep chain: codegen recursion depth is
    log2(n_checks), so a 500-constraint ruleset cannot blow the executor
    thread stack (see ``plans.compiler.balanced_reduce``)."""
    if not compiled.checks:
        return F.lit(0)
    return balanced_reduce(
        lambda a, b: a + b,
        [F.coalesce(c.violated, F.lit(False)).cast("int")
         for c in compiled.checks])


def n_blocking_expr(compiled: CompiledRuleset,
                    fail_severities=("error",)) -> Column:
    """Per-row count of violations whose severity gates ingestion — the
    severity-aware sibling of :func:`n_violations_expr` (check severities
    are compile-time constants, so the non-blocking checks simply drop
    out of the sum; same balanced-tree codegen discipline)."""
    checks = [c for c in compiled.checks if c.severity in fail_severities]
    if not checks:
        return F.lit(0)
    return balanced_reduce(
        lambda a, b: a + b,
        [F.coalesce(c.violated, F.lit(False)).cast("int") for c in checks])


def violations_array(compiled: CompiledRuleset) -> Column:
    """ARRAY<STRUCT> of this row's violations (empty array == row passes).

    Uses an HOF compaction — fine for the user-facing ``annotated``
    surface, but the violations/verdicts hot paths avoid it (see
    :func:`_raw_violations_array`).
    """
    return _compact(_raw_violations_array(compiled))


def _compact(raw_arr: Column) -> Column:
    return F.filter(raw_arr, lambda x: x.isNotNull())


@dataclass
class ValidationResult:
    violations: DataFrame   # exploded violation rows
    verdicts: DataFrame     # per-partition pass/fail aggregate
    annotated: DataFrame    # input + _violations array + passed flag
    compiled: CompiledRuleset


def validate(
    df: DataFrame,
    compiled: CompiledRuleset,
    *,
    row_id: str,
    partition_col: str | None = None,
    ruleset_id_value: str | None = None,
    applicability: Column | None = None,
    run_id: str = "run_0",
) -> ValidationResult:
    """Validate ``df`` against a compiled ruleset.

    ``applicability`` reproduces the reference's skip-guard: rows outside
    the predicate produce no violations at all, like Markdown files without
    frontmatter are skipped (``index.ts:352-356``).
    """
    ruleset_name = ruleset_id_value or compiled.name
    if applicability is not None:
        work = df.where(applicability)
    else:
        work = df
    work = stage_columns(work, compiled)

    all_errors = compiled.options.get("all_errors", True)
    nv = n_violations_expr(compiled)
    # one Column for the raw array: both surfaces below reuse it instead of
    # rebuilding every check's struct through py4j
    raw_arr = _raw_violations_array(compiled)
    ann_arr = _compact(raw_arr)
    if not all_errors:
        # the annotated surface honors the option too: one struct per row
        ann_arr = F.slice(ann_arr, 1, 1)
    annotated = work.withColumn("_violations", ann_arr) \
                    .withColumn("passed", nv == 0) \
                    .drop(*staged_names(compiled))

    part = (F.col(partition_col).cast("string") if partition_col
            else F.lit("all")).alias("partition_id")

    # Hot path stays inside whole-stage codegen end-to-end: pre-filter on
    # the arithmetic violation count (no HOF), explode the raw array (NULL
    # slots for passing checks), drop NULL rows after the Generate. Column
    # pruning discipline: only columns the ruleset touches are referenced.
    if all_errors:
        # reference default (allErrors:true, index.ts:312): every failing
        # keyword emits a row
        exploded = F.explode(raw_arr).alias("v")
    else:
        # Ajv's non-allErrors mode: first violation per row only (ann_arr
        # is already sliced). The HOF compaction is acceptable here — it
        # runs on violating rows only.
        exploded = F.explode(ann_arr).alias("v")
    # The nv>0 prefilter skips array construction on passing rows — but
    # ONLY for unstaged rulesets: filter pushdown substitutes Project
    # aliases unconditionally (unlike CollapseProject), so a staged
    # expression would be inlined into the filter and evaluated twice:
    # once under the filter, once above it for the explode. For staged
    # variant views that is the interpreted variant walk, pushed into the
    # scan's DataFilters on the (possibly single-split) scan task; for
    # staged Python-crossing x-spark-checks it is a second ArrowEvalPython
    # stage. Without the prefilter the explode emits one NULL slot per
    # passing check and the post-Generate filter drops them — map-only,
    # parallel, each slot a staged-attribute reference.
    viol_src = work.where(nv > 0) if not compiled.staged else work
    violations = violation_rows(
        viol_src.select(F.col(row_id).cast("string").alias("row_id"), part,
                        exploded)
        .where(F.col("v").isNotNull()),
        row_id=F.col("row_id"), partition_id=F.col("partition_id"),
        ruleset_name=ruleset_name,
        **{f: F.col(f"v.{f}") for f in VIOLATION_FIELDS})

    # non-allErrors verdicts count at most one violation per row, matching
    # the single-element Ajv error array in that mode. The severity split
    # (the reference's vfile-reporter "N warnings, M errors" tally) always
    # counts every fired check: it is a data-quality measure, independent
    # of the all_errors REPORTING truncation. n_warnings counts ONLY
    # severity "warning" — x-severity also allows "info", which belongs
    # in n_violations but in neither bucket (vfile tallies infos apart).
    ne = n_blocking_expr(compiled, ("error",))
    nw = n_blocking_expr(compiled, ("warning",))
    verdicts = (
        work
        .select(part, (nv if all_errors else F.least(nv, F.lit(1)))
                .alias("_nv"),
                ne.alias("_ne"), nw.alias("_nw"))
        .groupBy("partition_id")
        .agg(
            F.lit(ruleset_name).alias("ruleset_id"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_nv").cast("long")).alias("n_violations"),
            F.sum((F.col("_nv") > 0).cast("long")).alias("n_failed_rows"),
            F.sum(F.col("_ne").cast("long")).alias("n_errors"),
            F.sum(F.col("_nw").cast("long")).alias("n_warnings"),
        )
        .withColumn("passed", F.col("n_failed_rows") == 0)
        .withColumn("run_id", F.lit(run_id))
    )

    return ValidationResult(violations=violations, verdicts=verdicts,
                            annotated=annotated, compiled=compiled)
