"""One benchmark session: start Spark, lint in a closed loop, check every
output, and write the measurements as JSON.

Started by ``run.py`` as a fresh process so that ``setup_s`` covers what a
CLI user pays on every invocation. One client: each lint starts after the
previous one returned. With ``--trace 1`` the session writes an
uncompressed event log, tags every Spark job with a job group naming the
iteration and the layer, and runs the standalone layer passes.
"""

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import time


def _warm_python_workers(spark, n: int) -> None:
    """Start one Python worker per core (pandas UDF, Arrow path)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, n, 1, n).select(ident("id")).collect()


_HZ = os.sysconf("SC_CLK_TCK")


def _cpu_clock() -> tuple[float, float]:
    """(CPU seconds used by this process and its descendants, CPU seconds
    the hypervisor stole from the host's CPUs so far). Descendants that
    exited count through their parent's reaped-children time."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stats[int(name)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                pass
    todo, used = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        used += sum(int(x) for x in stats[pid][11:15])
        todo.extend(p for p, f in stats.items() if int(f[1]) == pid)
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8])
    return used / _HZ, steal / _HZ


# the local properties SparkContext.setJobGroup sets
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class Tracer:
    """In-memory spans plus Spark job groups. A span's job group is
    ``it<k>:<name>``; the enclosing group is restored on exit, so jobs
    launched outside any wrapped call stay charged to the enclosing span."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.spans: list = []
        self.it = 0
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(f"it{self.it}:{name}", name)
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"it": self.it, "name": name, "parent": parent,
                               "s": time.perf_counter() - t0})
            self._stack.pop()
            for k, v in zip(_GROUP_PROPS, prev):
                self.sc.setLocalProperty(k, v)

    def wrap(self, module, attr: str, name: str, on_result=None):
        """Replace ``module.attr`` with a span-recording wrapper."""
        fn = getattr(module, attr)

        def wrapped(*a, **kw):
            if self._stack and self._stack[-1] == name:   # recursion
                return fn(*a, **kw)
            with self.span(name):
                out = fn(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        setattr(module, attr, wrapped)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    root = os.getcwd()
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    wl = args.workload
    with open(args.expected) as fh:
        expected = json.load(fh)

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from remark_lint_frontmatter_schema_spark import (
        bundle, cli, compile_ruleset, get_spark, validate)
    from remark_lint_frontmatter_schema_spark import sinks
    from remark_lint_frontmatter_schema_spark.functions.audio import (
        register_audio_checks)
    from remark_lint_frontmatter_schema_spark.operators import (
        dedup, table_checks)
    from remark_lint_frontmatter_schema_spark.plans import (
        bundler, routing)

    import gen
    import oracle

    conf = {"spark.sql.shuffle.partitions": str(cpus)}
    if args.trace:
        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cpus}]", app_name=f"perfbench-{wl}",
                      extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    fact_dir = os.path.join(
        args.inputs, "clips_payload" if wl == "lint_payload" else "clips")
    dim_dir = os.path.join(args.inputs, "speakers")
    fact = spark.read.parquet(fact_dir)
    if wl == "lint_cli":
        spark.read.parquet(dim_dir)
    n_clips = fact.count()
    _warm_python_workers(spark, cpus)
    ready = time.time()

    tracer = Tracer(sc, bool(args.trace))
    clip_yaml = os.path.join(root, "rulesets", "clip.schema.yaml")
    checks = register_audio_checks() if wl == "lint_payload" else None
    compiled_info: dict = {}
    rs_path = clip_yaml
    if wl == "lint_payload":
        rs_path = os.path.join(args.work, "payload.schema.json")
        with open(rs_path, "w") as fh:
            json.dump({"allOf": [{"$ref": clip_yaml}, {"properties": {
                "bytes": {"allOf": [{"x-spark-check": "codec_header"},
                                    {"x-spark-check": "not_clipped"}]}}}]},
                      fh)
    elif wl == "lint_cli":
        rs_path = os.path.join(args.work, "cli.schema.json")
        with open(rs_path, "w") as fh:
            json.dump({"allOf": [{"$ref": clip_yaml}, {"properties": {
                "clip_id": {"x-unique": True},
                "speaker_id": {"x-ref": {"dim": "speakers",
                                         "key": "speaker_id"}},
                "dur_ms": {"x-drift": {
                    "partition_col": "part_date", "side_a": "2026-01-01",
                    "side_b": "2026-01-08", "lo": 0, "hi": 48000}}}}]}, fh)

    want = expected["constraints"]
    want_verdicts = expected["verdicts"]
    digests: set = set()
    walls: list = []
    failures: list = []
    sink_stats: list = []
    viol_counts: list = []

    def check(name: str, got, exp) -> None:
        if got != exp:
            raise AssertionError(f"{name}: got {got!r}, expected {exp!r}")

    def check_verdicts(rows: dict) -> None:
        parts = {p: v["n_rows"] for p, v in rows.items()}
        check("verdict n_rows", parts,
              {p: v["n_rows"] for p, v in want_verdicts.items()})
        total = sum(v["n_violations"] for v in rows.values())
        row_ids = [k for k in want if k.startswith("/")]
        check("verdict n_violations", total, sum(want[k] for k in row_ids))
        if wl != "lint_payload":
            check("verdicts", rows, want_verdicts)

    def lint_library(k: int) -> dict:
        with tracer.span("bundle"):
            doc = bundle(rs_path)
        with tracer.span("compile"):
            compiled = compile_ruleset(doc, fact.schema, name="clip",
                                       extra_checks=checks)
        with tracer.span("validate.plan"):
            res = validate(fact, compiled, row_id="clip_id",
                           partition_col="part_date",
                           applicability=F.col("ruleset_id").isNotNull())
        ids = sorted({c.constraint_id for c in compiled.checks})
        obs = Observation(f"v{k}")
        row_hash = F.pmod(F.xxhash64("row_id", "partition_id",
                                     "constraint_id", "actual"),
                          F.lit(2147483647))
        observed = res.violations.observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.sum(row_hash).alias("digest"),
            *[F.count_if(F.col("constraint_id") == c).alias(f"c{i}")
              for i, c in enumerate(ids)])
        with tracer.span("validate.violations"):
            observed.write.format("noop").mode("overwrite").save()
        with tracer.span("validate.verdicts"):
            verdicts = res.verdicts.collect()
        compiled_info.update(n_checks=len(compiled.checks),
                             n_table_checks=len(compiled.table_checks))
        return {"obs": obs, "ids": ids, "verdicts": verdicts}

    def check_library(out: dict) -> None:
        m = out["obs"].get
        got = {oracle.suffix(c): m[f"c{i}"]
               for i, c in enumerate(out["ids"]) if m[f"c{i}"]}
        check("constraint counts", got,
              {k: v for k, v in want.items() if k.startswith("/")})
        check_verdicts({str(r.partition_id): {
            "n_rows": r.n_rows, "n_violations": r.n_violations,
            "n_failed_rows": r.n_failed_rows} for r in out["verdicts"]})
        digests.add((m["n"], m["digest"]))
        viol_counts.append(m["n"])

    def lint_cli(k: int) -> dict:
        vout = os.path.join(args.work, "sinks", f"violations_{k}")
        dout = os.path.join(args.work, "sinks", f"verdicts_{k}")
        argv = [fact_dir, "--row-id", "clip_id", "--partition-col",
                "part_date", "--embed", rs_path,
                "--dim", f"speakers={dim_dir}",
                "--violations-out", vout, "--verdicts-out", dout,
                "--report", "json"]
        buf = io.StringIO()
        with tracer.span("cli"), contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        return {"rc": rc, "stdout": buf.getvalue(), "vout": vout,
                "dout": dout}

    def check_cli(out: dict) -> None:
        check("exit code", out["rc"], 0)
        report = json.loads(out["stdout"].strip().splitlines()[-1])
        check("config errors", report["errors"], [])
        got = oracle.sink_summary(out["vout"], out["dout"])
        counts = {}
        for cid, n in got["counts"].items():
            key = "drift" if cid.startswith("drift:") else oracle.suffix(cid)
            counts[key] = counts.get(key, 0) + n
        check("constraint counts", counts, {**want, "drift": 1})
        check("report n_violations", report["n_violations"], got["n"])
        check_verdicts(got["verdicts"])
        digests.add(got["digest"])
        viol_counts.append(got["n"])
        v, d = (gen.table_facts(out[k]) for k in ("vout", "dout"))
        sink_stats.append({"bytes": v["bytes"] + d["bytes"],
                           "files": v["files"] + d["files"]})
        shutil.rmtree(os.path.join(args.work, "sinks"), ignore_errors=True)

    if wl == "lint_cli":
        run_lint, run_check = lint_cli, check_cli
        if args.trace:
            tracer.wrap(bundler, "bundle", "bundle")

            def note(c):
                compiled_info.update(
                    n_checks=len(c.checks),
                    n_table_checks=len(c.table_checks))
            tracer.wrap(routing, "compile_ruleset", "compile", note)
            tracer.wrap(routing, "validate", "validate.plan")
            tracer.wrap(routing, "route_and_validate", "routing")
            tracer.wrap(table_checks, "table_check_violations",
                        "table_checks.plan")
            tracer.wrap(sinks, "write_violations", "sinks.write_violations")
            tracer.wrap(sinks, "write_verdicts", "sinks.write_verdicts")
            tracer.wrap(sinks, "render_report", "sinks.report")
    else:
        run_lint, run_check = lint_library, check_library

    def layer_passes(reps: int = 2) -> dict:
        """Layer passes run apart from the lints, each under its own job
        group: the payload checks alone over the payload table, or the
        table checks alone over the fact table."""
        out: dict = {}
        for r in range(reps):
            tracer.it = f"L{r}"
            t0 = time.perf_counter()
            if wl == "lint_payload":
                with tracer.span("audio"):
                    row = fact.select(
                        (~checks["codec_header"](F.col("bytes")))
                        .cast("int").alias("h"),
                        (~checks["not_clipped"](F.col("bytes")))
                        .cast("int").alias("c")).agg(
                            F.sum("h").alias("h"), F.sum("c").alias("c"),
                            F.count(F.lit(1)).alias("n")).first()
                out.setdefault("audio_s", []).append(
                    time.perf_counter() - t0)
                out["audio_decode_fail"] = row.c / max(row.n, 1)
            elif wl == "lint_cli":
                compiled = compile_ruleset(bundle(rs_path), fact.schema,
                                           name="embed")
                dims = {"speakers": spark.read.parquet(dim_dir)}
                t0 = time.perf_counter()
                with tracer.span("table_checks"):
                    tv = table_checks.table_check_violations(
                        fact, compiled, row_id="clip_id", dims=dims)
                    tv.write.format("noop").mode("overwrite").save()
                out.setdefault("table_checks_s", []).append(
                    time.perf_counter() - t0)
                # the event log carries no block sizes: read the storage
                # status of what the pass persisted before releasing it
                out["table_checks_cache_bytes"] = sum(
                    i.memSize() + i.diskSize() for i in
                    sc._jsc.sc().getRDDStorageInfo())
                dedup.release_all()
        return out

    attempted = 0
    cpus_used: list = []
    first_lint_s = first_lint_cpu = None
    t_window = None
    while True:
        tracer.it = attempted
        attempted += 1
        cpu0 = _cpu_clock()
        t0 = time.perf_counter()
        try:
            out = run_lint(attempted)
            wall = time.perf_counter() - t0
            cpu = [b - a for a, b in zip(cpu0, _cpu_clock())]
            run_check(out)
            if first_lint_s is None:
                first_lint_s, first_lint_cpu = wall, cpu
            else:
                walls.append((tracer.it, wall))
                cpus_used.append(cpu)
        except Exception as exc:  # a failed lint is counted, not fatal
            failures.append(f"lint {attempted}: {type(exc).__name__}: {exc}")
            if first_lint_s is None:
                first_lint_s = time.perf_counter() - t0
                first_lint_cpu = [b - a for a, b in zip(cpu0, _cpu_clock())]
        # what table checks persisted dies with a real CLI process
        dedup.release_all()
        if t_window is None:
            t_window = time.perf_counter()
        elif time.perf_counter() - t_window >= args.seconds:
            break
    if len(digests) > 1:
        failures.append(f"violation digests differ across lints: {digests}")

    result = {
        "workload": wl, "ready": ready, "session_s": session_s,
        "n_clips": n_clips, "attempted": attempted,
        "failed": min(attempted, len(failures)), "failures": failures,
        "first_lint_s": first_lint_s, "first_lint_cpu": first_lint_cpu,
        "its": [i for i, _w in walls],
        "walls": [w for _i, w in walls], "cpu": cpus_used,
        "violations": viol_counts[-1:],
        "sinks": sink_stats[-1:], "compiled": compiled_info,
    }

    if args.trace:
        result["layers"] = layer_passes()
        result["spans"] = tracer.spans
    spark.stop()
    if args.trace:
        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
                if not f.endswith(".inprogress")]
        result["eventlog"] = logs[0] if len(logs) == 1 else None
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
