"""Clip-lint benchmark.

    python3 perfbench/run.py --workload lint_cli --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the seeded clip tables (cached per
seed under ``.perfbench_work/``), starts one fresh Spark session per
measurement at ``local[<cpus>]`` and lints in a closed loop with one
client for ``--seconds`` seconds after the first lint. Every lint's output
is checked against a DuckDB recount and the generator's defect map.

Workloads:

* ``lint_rows``    library path (bundle -> compile_ruleset -> validate) over
                   a payload-free clip table; violations go to a ``noop``
                   write, verdicts are collected.
* ``lint_payload`` the same path with two payload checks (``codec_header``
                   and the full-decode ``not_clipped``) over a small table
                   of real WAV/FLAC/Opus payloads.
* ``lint_cli``     ``cli.main`` with ``--embed``: the clip rules plus
                   x-unique, x-ref and x-drift table checks, parquet
                   violation and verdict sinks and a JSON report.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start
until the session is up, inputs are listed and the Python workers are
warm), ``first_lint_cpu_s`` (CPU seconds of the first lint of the fresh
session: compile, codegen and JIT) and ``clips_per_cpu_s`` (input rows over
the median CPU seconds of the lints after the first). CPU seconds are
those of the benchmark session's Python process, its JVM and the Python
workers, read from ``/proc``. They stand in for wall time because this benchmark was built
on a 4-vCPU virtual machine whose hypervisor took 0.5% to 10% of the CPU
time from run to run: over ten runs the quartile spread of the wall-clock
figures reached 0.2 to 0.4, that of the CPU figures 0.1 to 0.18.
``--trace 1`` splits the window between an untraced session and a traced
one (event log on, job groups per layer) and prints the per-layer metrics,
folded from the event log, plus the wall-clock ``lint.first_s`` and
``lint.clips_per_s`` and the host's ``lint.steal_share``.

The last stdout line is the result JSON; the line before it is the run's
artifact: host facts, input sizes, generation time, wall and CPU time of
every lint, the stolen CPU share and ``peak_rss_mb`` (the Spark JVM plus
its Python workers, sampled from ``/proc``). Peak RSS is not an end-to-end
metric because it does not repeat: it follows when the JVM grows its heap,
and varied from 2.2 to 3.5 GB between runs of ``lint_cli``.

``lint_rows`` is not listed in BENCHMARK.json: on a 4-core host one
session costs about 15 s of set-up and 8 to 13 s of first lint, and a
third workload made a full pass of the benchmark too long.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("lint_rows", "lint_payload", "lint_cli")
N_ROWS = 50_000          # clips: lint_rows and lint_cli
N_PAYLOAD_ROWS = 800      # clips_payload: lint_payload
RUN_TIMEOUT_S = 165      # all sessions of one run
# Throughput is taken over this many lints after the first. JIT warm-up
# keeps lowering later lints, so a run that fits more lints into its
# window would otherwise read faster for that reason alone.
SAMPLE_LINTS = 3
WORK = ".perfbench_work"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _procs() -> dict:
    """{pid: (state, ppid, process group)} of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(name)] = (fields[0], int(fields[1]), int(fields[2]))
    return out


def _kill_group(pgid: int, timeout: float = 10.0) -> None:
    """SIGKILL a session's process group and wait until none of its
    processes runs any more (zombies have ended)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.monotonic() + timeout
    while time.monotonic() < end and any(
            g == pgid and st != "Z" for st, _p, g in _procs().values()):
        time.sleep(0.1)


class RssSampler(threading.Thread):
    """Peak summed RSS of every descendant of ``pid`` (the Spark JVM and
    the Python workers it forks), excluding ``pid`` itself."""

    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.done = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _descendants(self) -> list:
        children: dict = {}
        for pid, (_state, ppid, _pgrp) in _procs().items():
            children.setdefault(ppid, []).append(pid)
        out, todo = [], list(children.get(self.pid, ()))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def run(self) -> None:
        while not self.done.wait(self.interval):
            total = 0
            for p in self._descendants():
                try:
                    with open(f"/proc/{p}/statm") as fh:
                        total += int(fh.read().split()[1]) * self.page
                except OSError:
                    pass
            self.peak = max(self.peak, total)


def _cpu_ticks() -> list:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_child(workload: str, inputs: str, work: str, expected: str,
              seconds: float, trace: int, tag: str, timeout: float) -> dict:
    """One fresh benchmark session; returns its measurements."""
    out = os.path.join(work, f"{tag}.json")
    log = os.path.join(work, f"{tag}.log")
    for p in (out, os.path.join(work, "eventlog")):
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(_cpus()),
               SPARK_LOCAL_DIRS=os.path.abspath(
                   os.path.join(work, "spark-local")),
               PYTHONPATH=os.pathsep.join(
                   [os.getcwd(), HERE] + ([os.environ["PYTHONPATH"]]
                                          if os.environ.get("PYTHONPATH")
                                          else [])))
    env.pop("SPARK_GRAFT_MASTER", None)
    cmd = [sys.executable, os.path.join(HERE, "lint.py"),
           "--workload", workload, "--inputs", inputs, "--work", work,
           "--expected", expected, "--seconds", str(seconds),
           "--trace", str(trace), "--out", out]
    ticks0 = _cpu_ticks()
    with open(log, "w") as logf:
        spawned = time.time()
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.done.set()
            sampler.join()
            _kill_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"benchmark session {tag} failed (exit {rc}):\n"
                           f"{tail}")
    with open(out) as fh:
        res = json.load(fh)
    # share of the host's CPU time the hypervisor took while this ran
    delta = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    res["steal_share"] = delta[7] / max(sum(delta), 1)
    res["setup_s"] = res["ready"] - spawned
    res["peak_rss_mb"] = sampler.peak / 2**20
    return res


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _span_s(spans, name) -> list:
    """Per-iteration summed duration of spans called ``name``."""
    per: dict = {}
    for s in spans:
        if s["name"] == name:
            per[s["it"]] = per.get(s["it"], 0.0) + s["s"]
    return list(per.values())


PER_LAYER_UNITS = {
    "session.start_s": "s", "bundler.bundle_s": "s",
    "compiler.compile_s": "s", "compiler.n_checks": "count",
    "compiler.n_table_checks": "count", "validate.plan_s": "s",
    "routing.plan_s": "s", "validate.violations_s": "s",
    "validate.verdicts_s": "s", "validate.cpu_ms": "ms",
    "validate.gc_ms": "ms", "validate.input_rows_per_clip": "rows/clip",
    "validate.input_bytes_per_clip": "B/clip",
    "validate.violations_per_clip": "rows/clip", "audio.checks_s": "s",
    "audio.rows_per_s": "rows/s", "audio.python_bytes_sent": "B",
    "audio.python_bytes_received": "B", "audio.decode_fail_share": "ratio",
    "table_checks.s": "s", "table_checks.input_rows_per_clip": "rows/clip",
    "table_checks.shuffle_write_bytes": "B",
    "table_checks.shuffle_read_bytes": "B", "table_checks.spill_bytes": "B",
    "table_checks.cache_bytes": "B", "table_checks.task_skew": "ratio",
    "table_checks.jobs": "count", "sinks.write_violations_s": "s",
    "sinks.write_verdicts_s": "s", "sinks.report_s": "s",
    "sinks.bytes_written": "B", "sinks.files_written": "count",
    "sinks.bytes_per_clip": "B/clip", "cli.main_s": "s", "cli.self_s": "s",
    "cli.jobs": "count", "cli.fact_rows_read_per_clip": "rows/clip",
    "lint.failed_share": "ratio", "trace.overhead_share": "ratio",
    "lint.first_s": "s", "lint.clips_per_s": "clips/s",
    "lint.steal_share": "ratio",
}


E2E_UNITS = {"setup_s": "s", "first_lint_cpu_s": "s",
             "clips_per_cpu_s": "clips/cpu_s"}


def end_to_end(res: dict) -> dict:
    """Wall and CPU figures of one session. CPU seconds are those of the
    session's processes; unlike wall time they do not grow with the CPU
    time the hypervisor steals from the host."""
    n = res["n_clips"]
    wall = _med(res["walls"][:SAMPLE_LINTS])
    cpu = _med([c for c, _steal in res["cpu"][:SAMPLE_LINTS]])
    return {"setup_s": res["setup_s"],
            "first_lint_s": res["first_lint_s"],
            "first_lint_cpu_s": res["first_lint_cpu"][0],
            "clips_per_s": n / wall if wall else 0.0,
            "clips_per_cpu_s": n / cpu if cpu else 0.0}


def layer_metrics(res: dict, untraced: dict, folded: dict) -> dict:
    """The per-layer metrics of one traced session."""
    n = res["n_clips"]
    spans = res["spans"]
    its = res["its"]               # the lints after the first
    rep = [s for s in spans if s["it"] in its]

    def groups(it, names=None) -> dict:
        """Totals of iteration ``it``'s job groups (all, or ``names``)."""
        return eventlog.merge([
            folded[g] for g in folded if g.split(":", 1)[0] == f"it{it}"
            and (names is None or g.split(":", 1)[1] in names)])

    def per_it(fn, names=None) -> float:
        return _med([fn(groups(it, names)) for it in its])

    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    m.update({
        "session.start_s": res["session_s"],
        "bundler.bundle_s": _med(_span_s(rep, "bundle")),
        "compiler.compile_s": _med(_span_s(rep, "compile")),
        "compiler.n_checks": res["compiled"].get("n_checks", 0),
        "compiler.n_table_checks": res["compiled"].get("n_table_checks", 0),
        "validate.plan_s": _med(_span_s(rep, "validate.plan")),
        "routing.plan_s": _med(_span_s(rep, "routing")),
        "lint.failed_share": (res["failed"] + untraced["failed"])
        / (res["attempted"] + untraced["attempted"]),
        "trace.overhead_share": (_med(res["walls"])
                                 / _med(untraced["walls"]) - 1
                                 if res["walls"] and untraced["walls"]
                                 else 0.0),
        "lint.first_s": untraced["first_lint_s"],
        "lint.clips_per_s": end_to_end(untraced)["clips_per_s"],
        "lint.steal_share": untraced["steal_share"],
    })
    val = ("validate.violations", "validate.verdicts")
    viol = res["violations"][-1] if res["violations"] else 0
    if res["workload"] in ("lint_rows", "lint_payload"):
        m.update({
            "validate.violations_s": _med(_span_s(rep, val[0])),
            "validate.verdicts_s": _med(_span_s(rep, val[1])),
            "validate.cpu_ms": per_it(lambda g: g["cpu_ms"], val),
            "validate.gc_ms": per_it(lambda g: g["gc_ms"], val),
            "validate.input_rows_per_clip":
                per_it(lambda g: g["input_rows"], val) / n,
            "validate.input_bytes_per_clip":
                per_it(lambda g: g["input_bytes"], val) / n,
            "validate.violations_per_clip": viol / n,
        })
    lay = res["layers"]
    if res["workload"] == "lint_payload":
        audio = [folded[g] for g in folded if g.endswith(":audio")]
        m.update({
            "audio.checks_s": _med(lay["audio_s"]),
            "audio.rows_per_s": n / _med(lay["audio_s"]),
            "audio.python_bytes_sent": _med(
                [a["py_sent_bytes"] for a in audio]),
            "audio.python_bytes_received": _med(
                [a["py_received_bytes"] for a in audio]),
            "audio.decode_fail_share": lay["audio_decode_fail"],
        })
    if res["workload"] == "lint_cli":
        tc = [folded[g] for g in folded if g.endswith(":table_checks")]
        # self time: the cli span less the wrapped layer spans inside it
        self_s = [sum(s["s"] if s["name"] == "cli" else -s["s"]
                      for s in rep if s["it"] == it
                      and "cli" in (s["name"], s["parent"]))
                  for it in its]
        sink = res["sinks"][-1] if res["sinks"] else {"bytes": 0, "files": 0}
        m.update({
            "table_checks.s": _med(lay["table_checks_s"]),
            "table_checks.input_rows_per_clip":
                _med([t["input_rows"] for t in tc]) / n,
            "table_checks.shuffle_write_bytes":
                _med([t["shuffle_write_bytes"] for t in tc]),
            "table_checks.shuffle_read_bytes":
                _med([t["shuffle_read_bytes"] for t in tc]),
            "table_checks.spill_bytes": _med([t["spill_bytes"] for t in tc]),
            "table_checks.cache_bytes": lay["table_checks_cache_bytes"],
            "table_checks.task_skew": _med([eventlog.task_skew(t)
                                            for t in tc]),
            "table_checks.jobs": _med([t["jobs"] for t in tc]),
            "sinks.write_violations_s":
                _med(_span_s(rep, "sinks.write_violations")),
            "sinks.write_verdicts_s":
                _med(_span_s(rep, "sinks.write_verdicts")),
            "sinks.report_s": _med(_span_s(rep, "sinks.report")),
            "sinks.bytes_written": sink["bytes"],
            "sinks.files_written": sink["files"],
            "sinks.bytes_per_clip": sink["bytes"] / n,
            "cli.main_s": _med(_span_s(rep, "cli")),
            "cli.self_s": _med(self_s),
            # every job of a lint_cli iteration runs inside cli.main
            "cli.jobs": per_it(lambda g: g["jobs"]),
            "cli.fact_rows_read_per_clip":
                per_it(lambda g: g["input_rows"]) / n,
            "validate.violations_per_clip": viol / n,
        })
    return m




def host_facts() -> dict:
    import duckdb
    import pyspark
    return {"cpus": _cpus(), "python": platform.python_version(),
            "spark": pyspark.__version__, "duckdb": duckdb.__version__,
            "machine": platform.machine()}


def _exit_on_signal(signum, _frame):
    # unwinds through run_child's finally, which kills the session's
    # process group
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_signal)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    root = os.getcwd()
    needed = ("remark_lint_frontmatter_schema_spark/__init__.py",
              "rulesets/clip.schema.yaml")
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)       # the payload encoders are the engine's

    work = os.path.join(root, WORK)
    os.makedirs(os.path.join(work, "cache"), exist_ok=True)
    run_dir = os.path.join(work, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    inputs = gen.ensure_inputs(os.path.join(work, "cache"), args.seed,
                               n_rows=N_ROWS, n_payload_rows=N_PAYLOAD_ROWS)
    table = "clips_payload" if args.workload == "lint_payload" else "clips"
    exp = oracle.expected(
        os.path.join(inputs["dir"], table),
        os.path.join(inputs["dir"], "speakers"),
        only_in_domain=args.workload != "lint_cli",
        truth=inputs["truth"][table],
        table_checks=args.workload == "lint_cli")
    exp_path = os.path.join(run_dir, "expected.json")
    with open(exp_path, "w") as fh:
        json.dump(exp, fh)

    # a traced run splits its window between an untraced and a traced
    # session, so trace.overhead_share compares the two
    sessions = [("untraced", 0)] + ([("traced", 1)] if args.trace else [])
    results = {}
    for tag, trace in sessions:
        results[tag] = run_child(args.workload, inputs["dir"], run_dir,
                                 exp_path, args.seconds / len(sessions),
                                 trace, tag, deadline - time.monotonic())
    base = results["untraced"]
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    for r in results.values():
        for f in r["failures"]:
            print(f"perfbench: {r['workload']}: {f}", file=sys.stderr)

    if args.trace:
        tr = results["traced"]
        folded = eventlog.fold_file(tr["eventlog"])
        values = layer_metrics(tr, base, folded)
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in end_to_end(base).items()
                   if k in E2E_UNITS}
    walls = base["walls"]
    artifact = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "host": host_facts(),
        "inputs": {"gen_s": inputs["gen_s"], "cached": inputs["cached"],
                   "tables": inputs["tables"], "truth": inputs["truth"]},
        "end_to_end": end_to_end(base), "sample_lints": SAMPLE_LINTS,
        "lint_s": {"first": base["first_lint_s"], "n_samples": len(walls),
                   "median": _med(walls), "max": max(walls, default=None),
                   "all": walls, "cpu_and_steal_s": base["cpu"]},
        "peak_rss_mb": base["peak_rss_mb"],
        "steal_share": base["steal_share"],
        "failed_share": failed / max(attempted, 1),
        "failures": [f for r in results.values() for f in r["failures"]],
    }
    with open(os.path.join(run_dir, "artifact.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(artifact))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
