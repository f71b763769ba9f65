"""Ruleset routing: which ruleset applies to which rows.

Reproduces the reference's schema-resolution precedence exactly
(``/root/reference/index.ts``, §2.10 of SURVEY.md):

1. explicit ``embed`` schema -> applies to ALL rows (``hasPropSchema``,
   index.ts:206,274-275). On this path the routing column is NOT excluded
   from validation — the reference only deletes the in-file ``$schema`` key
   on the file-association path (index.ts:297-303), so an embedded
   ``additionalProperties:false`` schema flags it. Quirk preserved.
2. else per-row ``ruleset_col`` (the ``$schema`` key analog,
   index.ts:221-239) — local association beats global patterns
   (index.ts:250 ``!hasLocalAssoc`` guard).
3. else glob patterns over the partition value (the ``settings.schemas``
   map, index.ts:250-269; ``minimatch`` -> ``fnmatch``).
4. else: no validation, no messages (index.ts:308).

Each distinct routed ruleset becomes one compiled plan + one filtered pass
(rulesets per run are few, like schemas per workspace); results are
unioned. Routing failures degrade gracefully (G1-G3): unknown ruleset ids
and compile errors become run-level error artifacts, never job crashes.
"""

from __future__ import annotations

import fnmatch
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bundler import RulesetCompileError, RulesetLoadError, bundle, bundle_dict
from .compiler import CompiledRuleset, compile_ruleset
from ..operators.validate import ValidationResult, validate


@dataclass
class RoutedPass:
    ruleset_name: str
    compiled: CompiledRuleset
    source: str                      # "embed" | "column" | "pattern"
    result: ValidationResult
    # x-unique / x-ref / x-drift / x-dedup passes declared by this route's
    # ruleset, scoped to the route's applicable rows (None if none declared)
    table_violations: DataFrame | None = None


@dataclass
class RoutingReport:
    passes: list = field(default_factory=list)        # RoutedPass
    errors: list = field(default_factory=list)        # (ruleset_name, stage, msg)
    unrouted_rows: DataFrame | None = None

    @property
    def violations(self) -> DataFrame | None:
        dfs = [p.result.violations for p in self.passes]
        if not dfs:
            return None
        cols = dfs[0].columns
        dfs += [p.table_violations.select(*cols) for p in self.passes
                if p.table_violations is not None]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    @property
    def verdicts(self) -> DataFrame | None:
        dfs = [p.result.verdicts for p in self.passes]
        if not dfs:
            return None
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out


def _load(registry: dict, name: str, fetch=None) -> dict:
    doc = registry[name]
    if isinstance(doc, str):
        return bundle(doc, fetch=fetch)
    return bundle_dict(doc, fetch=fetch)


def _resolve_schema_path(name: str, schema_dirs) -> Path | None:
    """Two-step path resolution for a path-valued ruleset column: first
    directory wins by existence probe. Mirrors the reference's ``$schema``
    handling (``index.ts:227-238``, CHANGELOG v3.13.0): a relative path is
    tried against the file's own directory first, then the workspace root.
    Callers pass ``schema_dirs=(config_dir, workspace_root)``.

    Containment: the column value is DATA — untrusted rows must not name
    arbitrary driver files. Absolute paths are rejected outright, and the
    resolved real path must stay inside its schema_dir (symlink/``..``
    escapes resolve outside and are skipped)."""
    import os
    if not schema_dirs or os.path.isabs(name):
        return None
    for d in schema_dirs:
        cand = Path(d) / name
        if not cand.exists():
            continue
        base = os.path.realpath(d)
        real = os.path.realpath(cand)
        if real == base or real.startswith(base + os.sep):
            return cand
    return None




def _resolve_routes(df: DataFrame, *, registry: dict,
                    ruleset_col: str | None, patterns: dict | None,
                    partition_col: str | None, schema_dirs, fetch,
                    errors: list) -> list:
    """Route resolution shared by ``route_and_validate`` and
    ``operators.repair``: returns ``[(name, doc, source, pred,
    schema_file)]`` with load failures recorded into ``errors``. Column
    routes resolve registry-first, then the path-valued two-step probe;
    pattern routes apply only where no local association exists
    (index.ts:250 hasLocalAssoc guard)."""
    routes: list = []
    routed_pred = F.lit(False)

    if ruleset_col is not None and ruleset_col in df.columns:
        values = [r[0] for r in
                  df.select(ruleset_col).where(F.col(ruleset_col).isNotNull())
                    .distinct().collect()]
        for name in sorted(values):
            pred = F.col(ruleset_col) == name
            if name in registry:
                try:
                    doc = _load(registry, name, fetch)
                except (RulesetCompileError, RulesetLoadError) as exc:
                    errors.append((name, "load", str(exc)))
                    continue
                sf = (registry.get(name) if isinstance(
                    registry.get(name), str) else "") or ""
            else:
                # path-valued $schema quirk: a non-registered value may be
                # a FILE PATH, resolved against schema_dirs in order
                # (config dir first, workspace root fallback — existence
                # probe, index.ts:227-238 / CHANGELOG v3.13.0)
                resolved = _resolve_schema_path(name, schema_dirs)
                if resolved is None:
                    # schema-load failure analog (index.ts:283-291)
                    errors.append((name, "load",
                                   f"no ruleset registered for {name!r}"))
                    continue
                try:
                    doc = bundle(resolved, fetch=fetch)
                except (RulesetCompileError, RulesetLoadError) as exc:
                    errors.append((name, "load", str(exc)))
                    continue
                sf = name
            routes.append((name, doc, "column", pred, sf))
            routed_pred = routed_pred | pred

    if patterns and partition_col:
        parts = [str(r[0]) for r in
                 df.select(F.col(partition_col).cast("string"))
                   .distinct().collect()]
        for name, globs in patterns.items():
            matched = sorted({pv for pv in parts
                              for g in globs if fnmatch.fnmatch(pv, g)})
            if not matched:
                continue
            if name not in registry:
                errors.append((name, "load",
                               f"no ruleset registered for {name!r}"))
                continue
            try:
                doc = _load(registry, name, fetch)
            except (RulesetCompileError, RulesetLoadError) as exc:
                errors.append((name, "load", str(exc)))
                continue
            # global patterns apply only where no local association exists
            pred = (F.col(partition_col).cast("string").isin(matched)
                    & ~F.coalesce(routed_pred, F.lit(False)))
            if ruleset_col is not None and ruleset_col in df.columns:
                pred = pred & F.col(ruleset_col).isNull()
            # schema_file "" matches the historical add_pass resolution
            # (registry.get("name@pattern") -> None -> ""); schema_file is
            # embedded in every violation message
            routes.append((f"{name}@pattern", doc, "pattern", pred, ""))

    return routes


def route_and_validate(
    df: DataFrame,
    *,
    row_id: str,
    registry: dict | None = None,          # name -> schema dict | file path
    embed: dict | None = None,             # precedence 1
    ruleset_col: str | None = None,        # precedence 2
    patterns: dict | None = None,          # precedence 3: name -> [globs]
    partition_col: str | None = None,
    run_id: str = "run_0",
    extra_checks: dict | None = None,
    schema_dirs: tuple = (),               # path-valued ruleset_col resolution
    fetch=None,                            # remote $ref fetcher (bundler)
    dims: dict | None = None,              # x-ref dim name -> DataFrame
) -> RoutingReport:
    report = RoutingReport()
    registry = registry or {}

    def add_pass(name: str, schema_doc: dict, source: str, applicability,
                 schema_file: str | None = None):
        if schema_file is None:
            schema_file = (registry.get(name) if isinstance(
                registry.get(name), str) else "") or ""
        try:
            compiled = compile_ruleset(
                schema_doc, df.schema, name=name,
                schema_file=schema_file,
                extra_checks=extra_checks,
                # routing-key removal only on the association paths — the
                # embed path keeps it (index.ts:297-303)
                exclude_columns=(() if source == "embed" or not ruleset_col
                                 else (ruleset_col,)),
            )
        except (RulesetCompileError, RulesetLoadError) as exc:
            # G2/G3: config error -> artifact, partitions skipped, no crash
            report.errors.append((name, "compile", str(exc)))
            return
        res = validate(df, compiled, row_id=row_id,
                       partition_col=partition_col,
                       ruleset_id_value=name,
                       applicability=applicability, run_id=run_id)
        tv = None
        if compiled.table_checks:
            # table-level declarations run scoped to the route's applicable
            # rows; a missing x-ref dim becomes an error artifact (G2), not
            # a crash and never a silent drop
            from ..operators.table_checks import table_check_violations
            scope = (df.where(applicability) if applicability is not None
                     else df)
            tv = table_check_violations(
                scope, compiled, row_id=row_id, dims=dims,
                on_missing_dim=lambda d, _n=name: report.errors.append(
                    (_n, "table-check",
                     f"dim {d!r} not provided to route_and_validate")))
        report.passes.append(RoutedPass(name, compiled, source, res,
                                        table_violations=tv))

    if embed is not None:
        add_pass("embed", bundle_dict(embed, fetch=fetch), "embed", None)
        return report

    for name, doc, source, pred, sf in _resolve_routes(
            df, registry=registry, ruleset_col=ruleset_col,
            patterns=patterns, partition_col=partition_col,
            schema_dirs=schema_dirs, fetch=fetch, errors=report.errors):
        add_pass(name, doc, source, pred, schema_file=sf)

    return report

