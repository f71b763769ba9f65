"""Command-line lint runner — the engine's analog of the reference's
remark-cli entry point (``pnpm remark .``, README.md:297-307).

Maps the reference's CLI lifecycle onto a Spark batch job:

* config discovery: ``--config`` or a ``.sparklintrc.yaml`` found by
  walking up from the input path (the findUp walk, index.ts:72-89);
* ruleset association: ``--embed`` > per-row ``--ruleset-col`` > glob
  ``patterns`` from config (precedence of index.ts §2.10);
* validate: the one-projection compiled pass per routed ruleset;
* report: vfile-reporter-style text summary (README.md:444-454) or JSON;
* sinks: optional violations/verdicts parquet appends;
* exit code: 0 on success; with ``--frail`` (remark's flag of the same
  name) exit 1 when any violation or config error surfaced.

Run with ``python -m remark_lint_frontmatter_schema_spark.cli`` (set
``PYTHONPATH`` to the repo), or under spark-submit via a one-line wrapper
script that calls :func:`main` (spark-submit takes a script path, not
``-m``): ``spark-submit --py-files engine.zip lint.py <args>``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

CONFIG_BASENAME = ".sparklintrc.yaml"


def find_config(start: str) -> str | None:
    """Walk up from ``start`` looking for .sparklintrc.yaml (findUp
    analog, index.ts:72-89)."""
    d = os.path.abspath(start)
    if os.path.isfile(d):
        d = os.path.dirname(d)
    while True:
        cand = os.path.join(d, CONFIG_BASENAME)
        if os.path.exists(cand):
            return cand
        parent = os.path.dirname(d)
        if parent == d:
            return None
        d = parent


def load_config(path: str) -> dict:
    import yaml
    with open(path) as fh:
        cfg = yaml.safe_load(fh) or {}
    base = os.path.dirname(os.path.abspath(path))
    reg = {}
    for name, p in (cfg.get("registry") or {}).items():
        reg[name] = p if os.path.isabs(p) else os.path.join(base, p)
    cfg["registry"] = reg
    return cfg


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="spark-lint", description=__doc__.splitlines()[0])
    ap.add_argument("input", help="parquet table path")
    ap.add_argument("--row-id", required=True)
    ap.add_argument("--partition-col")
    ap.add_argument("--config", help=f"routing config YAML "
                                     f"(default: walk up for {CONFIG_BASENAME})")
    ap.add_argument("--embed", help="single ruleset file applied to all rows")
    ap.add_argument("--ruleset-col")
    ap.add_argument("--report", choices=["text", "json", "none"],
                    default="text")
    ap.add_argument("--violations-out")
    ap.add_argument("--verdicts-out")
    ap.add_argument("--frail", action="store_true",
                    help="exit 1 when any violation or config error")
    ap.add_argument("--run-id", default=None,
                    help="run attribution id (validate mode default: "
                         "run_0; ingest mode default: a fresh unique id "
                         "per invocation, so append-mode artifacts and "
                         "counts never bleed across runs)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--dim", action="append", default=[],
                    metavar="NAME=PATH",
                    help="dimension table for x-ref / x-ref-asof / "
                         "x-decontaminate declarations: NAME as referenced "
                         "in the ruleset, PATH a parquet table; repeatable. "
                         "A declared dim not provided here becomes an "
                         "error artifact (G2), never a crash.")
    ap.add_argument("--schema-dirs",
                    help="comma-separated dirs for resolving path-valued "
                         "--ruleset-col values (default: config dir, then "
                         "the input's dir — the reference's two-step "
                         "$schema resolution, index.ts:227-238)")
    ap.add_argument("--fix-out",
                    help="repair mode (remark's --output rewrite, the "
                         "lint -> fix -> re-lint loop; requires --embed): "
                         "apply the ruleset's repairable constraints "
                         "(operators/repair.py), write the repaired table "
                         "here, then lint the repaired copy — the report "
                         "shows only what repair could not fix")
    ap.add_argument("--repair-log-out",
                    help="with --fix-out: parquet sink for the repair log "
                         "(row_id, column, action, before, after)")
    ap.add_argument("--ingest-out",
                    help="switch to ingest mode (requires --embed, "
                         "--partition-col, --manifest): gate -> split -> "
                         "canonicalize -> lineage manifest; artifacts "
                         "under this path (operators/ingest.py)")
    ap.add_argument("--manifest", help="lineage manifest JSON (ingest mode)")
    ap.add_argument("--ingest-fix", action="store_true",
                    help="ingest mode: repair the --embed ruleset's "
                         "repairable constraints BEFORE the gate (fix "
                         "what you can, quarantine the rest); repair log "
                         "lands under {ingest-out}/repair_log")
    ap.add_argument("--resume-manifest",
                    help="validate mode (requires --embed and "
                         "--partition-col): per-partition fingerprint "
                         "resume — only partitions whose files changed "
                         "since the manifest entry re-validate; combine "
                         "with --prune-stats to clear pending partitions "
                         "from parquet footers with zero data read "
                         "(manifest.run_with_resume)")
    ap.add_argument("--prune-stats", action="store_true",
                    help="with --embed: decide integer-bounds/required "
                         "checks per FILE from parquet footer statistics "
                         "and scan only unproven files "
                         "(operators/stats_prune.py); identical "
                         "violations, fewer bytes read. No effect unless "
                         "the whole ruleset is footer-decidable.")
    ap.add_argument("--induce-out",
                    help="schema-induction mode: profile the input table, "
                         "write the induced ruleset DRAFT (bounds/"
                         "required/enums/formats the data already "
                         "satisfies) to this YAML/JSON path, and exit — "
                         "the first-draft generator for a table that has "
                         "no hand-written ruleset yet")
    ap.add_argument("--induce-columns", default=None,
                    help="comma list of columns to induce (default: all)")
    ap.add_argument("--induce-enum-max", type=int, default=8,
                    help="max distinct values for enum candidacy")
    ap.add_argument("--workspace", action="store_true",
                    help="treat INPUT as a workspace ROOT of parquet "
                         "tables (the reference's `remark .` over a "
                         "directory): each table routes through the "
                         "config's `tables:` glob map (ruleset name -> "
                         "table-path globs, the Settings.schemas analog), "
                         "unmatched tables are skipped with no messages, "
                         "and one combined JSON summary / report covers "
                         "the whole workspace")
    ap.add_argument("--target-sr", type=int, default=16000)
    ap.add_argument("--fail-severities", default="error",
                    help="comma list; severities that quarantine a row")
    ap.add_argument("--passthrough", default="transcript",
                    help="comma list of label columns carried into corpus")
    return ap


def discover_tables(root: str) -> list[str]:
    """Immediate subdirectories of ``root`` that contain parquet data
    (recursively — partitioned tables nest part dirs). The workspace
    analog of the reference's markdown-file walk."""
    out = []
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        if not os.path.isdir(d):
            continue
        for _dir, _sub, files in os.walk(d):
            if any(f.endswith(".parquet") for f in files):
                out.append(name)
                break
    return out


def _builtin_checks() -> dict:
    """The engine's named ``x-spark-check`` registry — audio payload
    checks (codec_header, duration_consistent, speech_loudness,
    opus_container/opus_consistent, voiced/tonal/not_clipped,
    canonical_wav), image checks (image_magic, image_decodes,
    png_dims_match) and video checks (video_magic, video_decodes,
    video_duration_consistent) — wired into every CLI compile site so
    YAML rulesets can reference them; library callers pass their own
    ``extra_checks`` (optionally merging this dict)."""
    from .functions.audio import register_audio_checks
    from .functions.multimodal import register_image_checks
    from .functions.video import register_video_checks
    return {**register_audio_checks(), **register_image_checks(),
            **register_video_checks()}


def _run_workspace(spark, args) -> int:
    """`remark .` over a directory of tables: route each table through the
    config's ``tables:`` glob map, validate under its own schema, emit one
    combined summary. Tables no glob matches are skipped silently (the
    reference's no-association -> no-messages rule, index.ts:308)."""
    import fnmatch

    from pyspark.sql import functions as F

    from .plans.bundler import RulesetCompileError, RulesetLoadError, bundle
    from .plans.compiler import compile_ruleset
    from .operators.validate import validate as _validate
    from . import sinks

    cfg_path = args.config or find_config(args.input)
    if not cfg_path:
        print(f"--workspace requires a {CONFIG_BASENAME} (tables: map)",
              file=sys.stderr)
        return 2
    cfg = load_config(cfg_path)
    registry = cfg.get("registry", {})
    tables_map = cfg.get("tables") or {}
    if not tables_map:
        print("--workspace: config has no `tables:` section",
              file=sys.stderr)
        return 2

    summary, errors = {}, []
    all_violations = None
    # parse --dim tables once — inside the loop each workspace table
    # would re-read every dim parquet
    dims = _parse_dims(args, spark)
    persisted_extras = []
    for tname in discover_tables(args.input):
        route = next((rs for rs, spec in tables_map.items()
                      if any(fnmatch.fnmatch(tname, g)
                             for g in (spec.get("globs", [])
                                       if isinstance(spec, dict) else spec))),
                     None)
        if route is None:
            summary[tname] = {"ruleset": None, "skipped": True}
            continue
        spec = tables_map[route]
        row_id = (spec.get("row_id", args.row_id)
                  if isinstance(spec, dict) else args.row_id)
        tdf = spark.read.parquet(os.path.join(args.input, tname))
        try:
            doc = bundle(registry[route])
            compiled = compile_ruleset(doc, tdf.schema, name=route,
                                       extra_checks=_builtin_checks())
        except (KeyError, RulesetCompileError, RulesetLoadError) as exc:
            # G2: config defects become artifacts, never crashes
            errors.append((tname, route, str(exc)))
            summary[tname] = {"ruleset": route, "error": str(exc)}
            continue
        res = _validate(tdf, compiled, row_id=row_id,
                        partition_col=args.partition_col
                        if args.partition_col in tdf.columns else None)
        verd = res.verdicts.collect()
        n_v = sum(r.n_violations for r in verd)
        tv = res.violations
        n_table_v = 0
        if compiled.table_checks:
            # table-level declarations (x-unique/x-ref/x-ref-asof/...)
            # must not silently vanish on the workspace path; dims come
            # from --dim, a missing one is a G2 artifact
            from .operators.table_checks import table_check_violations
            extra = table_check_violations(
                tdf, compiled, row_id=row_id, dims=dims,
                on_missing_dim=lambda d, _t=tname, _r=route: errors.append(
                    (_t, _r, f"dim {d!r} not provided (--dim NAME=PATH)")))
            if extra is not None:
                # persist: the count() here and the violations write below
                # would otherwise each execute the full table-check plan
                extra = extra.persist()
                persisted_extras.append(extra)
                n_table_v = extra.count()
                tv = tv.unionByName(extra.select(*tv.columns))
        summary[tname] = {
            "ruleset": route,
            "n_rows": sum(r.n_rows for r in verd),
            "n_violations": n_v + n_table_v,
            "n_failed_rows": sum(r.n_failed_rows for r in verd),
            "passed": all(r.passed for r in verd) and n_table_v == 0,
        }
        tv = tv.withColumn("table", F.lit(tname))
        all_violations = (tv if all_violations is None
                          else all_violations.unionByName(tv))
    if args.violations_out and all_violations is not None:
        all_violations.write.mode("append").parquet(args.violations_out)
    print(json.dumps({"tables": summary, "errors": errors}))
    if args.report == "text" and all_violations is not None:
        print(sinks.render_report(all_violations))
    # free the per-table extras AND any intermediates bucketed/dedup
    # checks persisted (reuse=True registry) — a long workspace run would
    # otherwise pin cached dim projections across all tables
    for p in persisted_extras:
        p.unpersist()
    from .operators.dedup import release_all
    release_all()
    failed = errors or any(
        not t.get("passed", True) for t in summary.values())
    return 1 if (args.frail and failed) else 0


def _parse_dims(args, spark) -> dict:
    """--dim NAME=PATH flags -> {name: DataFrame}. Malformed specs are a
    usage error (SystemExit 2, argparse convention)."""
    dims = {}
    for spec in args.dim:
        name, sep, path = spec.partition("=")
        if not sep or not name or not path:
            print(f"error: --dim expects NAME=PATH, got {spec!r}",
                  file=sys.stderr)
            raise SystemExit(2)
        dims[name] = spark.read.parquet(path)
    return dims


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    val_run_id = args.run_id or "run_0"

    from .session import get_spark
    from .plans.bundler import bundle
    from .plans.routing import RoutedPass, RoutingReport, route_and_validate
    from . import sinks

    spark = get_spark(**({"master": args.master} if args.master else {}))
    if args.workspace:
        return _run_workspace(spark, args)
    df = spark.read.parquet(args.input)

    if args.dim and (args.induce_out or args.ingest_out
                     or args.resume_manifest or args.prune_stats):
        print("--dim is only supported on the default and --workspace "
              "validation paths", file=sys.stderr)
        return 2

    if args.induce_out:
        from .operators.induce import induce_ruleset
        cols = ([c.strip() for c in args.induce_columns.split(",")
                 if c.strip()]
                if args.induce_columns else None)
        rs = induce_ruleset(df, cols, enum_max=args.induce_enum_max,
                            name=os.path.basename(args.input.rstrip("/")))
        try:
            import yaml
            text = yaml.safe_dump(rs, sort_keys=False)
        except ImportError:
            text = json.dumps(rs, indent=2)
        with open(args.induce_out, "w") as f:
            f.write(text)
        print(json.dumps({
            "induced": args.induce_out,
            "columns": len(rs["properties"]),
            "required": len(rs.get("required", [])),
            "enums": sum(1 for p in rs["properties"].values()
                         if "enum" in p),
            "formats": sum(1 for p in rs["properties"].values()
                           if "format" in p)}))
        return 0

    embed = bundle(args.embed) if args.embed else None

    if args.ingest_out:
        if embed is None or not args.partition_col or not args.manifest:
            print("--ingest-out requires --embed, --partition-col and "
                  "--manifest", file=sys.stderr)
            return 2
        from .operators.ingest import ingest_corpus
        from .plans.compiler import compile_ruleset
        compiled = compile_ruleset(
            embed, df.schema,
            name=os.path.splitext(os.path.basename(args.embed))[0],
            exclude_columns=(args.ruleset_col,) if args.ruleset_col else (),
            extra_checks=_builtin_checks())
        res = ingest_corpus(
            spark, args.input, compiled,
            partition_col=args.partition_col, row_id=args.row_id,
            out_path=args.ingest_out, manifest_path=args.manifest,
            run_id=args.run_id, target_sr=args.target_sr,
            fail_severities=tuple(args.fail_severities.split(",")),
            passthrough=tuple(c for c in args.passthrough.split(",") if c),
            repair_ruleset=embed if args.ingest_fix else None)
        print(json.dumps(res))
        return 1 if (args.frail and res["quarantined"]) else 0
    registry, patterns, ruleset_col = {}, None, args.ruleset_col
    cfg_path = None
    if embed is None:
        cfg_path = args.config or find_config(args.input)
        if cfg_path:
            cfg = load_config(cfg_path)
            registry = cfg.get("registry", {})
            patterns = cfg.get("patterns") or None
            ruleset_col = ruleset_col or cfg.get("ruleset_col")

    if args.schema_dirs:
        schema_dirs = tuple(d for d in args.schema_dirs.split(",") if d)
    else:
        # config dir first, workspace (input) dir fallback — the
        # reference's two-step $schema path resolution
        input_dir = args.input if os.path.isdir(args.input) \
            else os.path.dirname(os.path.abspath(args.input))
        schema_dirs = tuple(dict.fromkeys(
            ([os.path.dirname(os.path.abspath(cfg_path))] if cfg_path
             else []) + [input_dir]))

    if args.fix_out:
        # remark's --output rewrite: repair (embedded ruleset, or each
        # row under its ROUTED ruleset), write the fixed table, then
        # lint the materialized repaired copy — the report shows only
        # what repair could not fix. Overwrite mode: the
        # iterate-on-ruleset loop re-runs against the same path.
        from .operators.repair import repair, route_and_repair
        if embed is not None:
            rep = repair(df, embed, row_id=args.row_id, name="embed")
            fix_errors = []
        else:
            rr = route_and_repair(
                df, row_id=args.row_id, registry=registry,
                ruleset_col=ruleset_col, patterns=patterns,
                partition_col=args.partition_col, schema_dirs=schema_dirs)
            rep, fix_errors = rr, rr.errors
        w = rep.repaired.write.mode("overwrite")
        if args.resume_manifest and args.partition_col:
            # the resume layer lists partition dirs and fingerprints them
            # per partition — the repaired copy must keep the layout
            w = w.partitionBy(args.partition_col)
        w.parquet(args.fix_out)
        if args.repair_log_out:
            rep.log.write.mode("overwrite").parquet(args.repair_log_out)
        for name, stage, msg in fix_errors:
            print(f"repair error [{stage}] {name}: {msg}", file=sys.stderr)
        df = spark.read.parquet(args.fix_out)

    if args.resume_manifest:
        if embed is None or not args.partition_col:
            print("--resume-manifest requires --embed and "
                  "--partition-col", file=sys.stderr)
            return 2
        from .manifest import run_with_resume
        from .plans.compiler import compile_ruleset as _compile
        # after --fix-out the repaired copy is the table of record: it is
        # what must be validated and what the manifest fingerprints
        resume_table = args.fix_out if args.fix_out else args.input
        compiled = _compile(
            embed, spark.read.parquet(resume_table).schema,
            name=os.path.splitext(os.path.basename(args.embed))[0],
            extra_checks=_builtin_checks())
        out = run_with_resume(
            spark, resume_table, partition_col=args.partition_col,
            compiled=compiled, row_id=args.row_id,
            manifest_path=args.resume_manifest, run_id=val_run_id,
            per_partition_snapshots=True,
            ruleset_doc=embed if args.prune_stats else None)
        verdict_rows = out.get("verdict_rows", [])
        # run-over-run anomalies: the manifest now holds this run's entries
        # next to earlier fingerprints — flag volume drops / rate jumps /
        # pass regressions between consecutive runs of each partition
        from .manifest import Manifest, metric_regressions
        regressions = metric_regressions(
            Manifest.load(args.resume_manifest),
            ruleset_hash=compiled.ruleset_hash)
        summary = {
            "validated": out["validated"],
            "skipped": out["skipped"],
            "proven_by_footer_stats": out.get("proven", []),
            "verdicts": [r.asDict() for r in verdict_rows],
            "regressions": regressions,
            "schema_drift": out.get("schema_drift", []),
        }
        print(json.dumps(summary, default=str))
        for r in regressions:
            print(f"manifest regression [{r['kind']}] {r['message']}",
                  file=sys.stderr)
        for d in out.get("schema_drift", []):
            print(f"schema drift [{d['kind']}] {d['message']}",
                  file=sys.stderr)
        failed = any(not r.passed for r in verdict_rows)
        return 1 if (args.frail and failed) else 0

    if args.prune_stats:
        if embed is None:
            print("--prune-stats requires --embed (per-row routed "
                  "rulesets cannot be decided per file)", file=sys.stderr)
            return 2
        from .operators.stats_prune import validate_with_stats_pruning

        table_for_scan = args.fix_out if args.fix_out else args.input
        pruned = validate_with_stats_pruning(
            spark, table_for_scan, embed, row_id=args.row_id,
            name=os.path.splitext(os.path.basename(args.embed))[0],
            partition_col=args.partition_col, run_id=val_run_id)
        summ = pruned["report"].summary()
        print(f"footer-stats pruning: skipped "
              f"{len(pruned['skipped_files'])}/{summ['n_files']} files "
              f"({pruned['rows_skipped']} rows proven clean by metadata)",
              file=sys.stderr)
        res = pruned["result"]
        report = RoutingReport(passes=[RoutedPass(
            res.compiled.name, res.compiled, "embed+footer-stats", res)])
    else:
        report = route_and_validate(
            df, row_id=args.row_id, registry=registry, embed=embed,
            ruleset_col=ruleset_col, patterns=patterns,
            partition_col=args.partition_col, run_id=val_run_id,
            schema_dirs=schema_dirs, dims=_parse_dims(args, spark),
            extra_checks=_builtin_checks())
    violations, verdicts = report.violations, report.verdicts

    # The violations relation can be consumed up to three times (count,
    # sink write, report render) — persist it once instead of re-running
    # the full validation plan per consumer, and skip the count entirely
    # when nothing needs it (--report none without --frail).
    n_consumers = sum((args.report != "none", bool(args.violations_out),
                       args.frail or args.report == "json"))
    if violations is not None and n_consumers > 1:
        violations = violations.persist()
    n_viol = 0
    if violations is not None and (args.frail or args.report == "json"):
        n_viol = violations.count()

    if args.violations_out and violations is not None:
        sinks.write_violations(violations, args.violations_out,
                               run_id=val_run_id)
    if args.verdicts_out and verdicts is not None:
        sinks.write_verdicts(verdicts, args.verdicts_out)

    if args.report == "text":
        if violations is not None:
            print(sinks.render_report(violations))
        for name, stage, msg in report.errors:
            print(f"config error [{stage}] {name}: {msg}", file=sys.stderr)
    elif args.report == "json":
        out = {
            "n_violations": int(n_viol),
            "passes": [{"ruleset": p.ruleset_name, "source": p.source}
                       for p in report.passes],
            "errors": [{"ruleset": n, "stage": s, "message": m}
                       for n, s, m in report.errors],
        }
        if verdicts is not None:
            out["verdicts"] = [r.asDict() for r in verdicts.collect()]
        print(json.dumps(out, default=str))

    if violations is not None and n_consumers > 1:
        violations.unpersist()
    # free what reuse=True operators persisted (e.g. x-skew's per-key
    # counts) once the last consumer above has run, as the workspace
    # path does
    from .operators.dedup import release_all
    release_all()
    if args.frail and (n_viol > 0 or report.errors):
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
