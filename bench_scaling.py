"""Scaling-evidence runner (BASELINE.md protocol).

The north_rule's two-cluster-size criterion (N and 4N executors, >=0.8
throughput scaling efficiency) is evidenced in this sandbox by running the
IDENTICAL validation job on the IDENTICAL pre-generated input at two
parallelism levels (local[8] vs local[32]) and reporting
efficiency = (thr_32 / thr_8) / 4.

Usage:
  python bench_scaling.py prepare --rows N --data-dir D   # once
  spark-submit --py-files engine.zip bench_scaling.py run \\
      --master local[8] --data-dir D                      # per level

The measured job is the full validation pipeline over the clips table:
compiled-ruleset one-projection pass (+ per-partition verdicts), codec
header sanity (vectorized pandas UDF), salted uniqueness, referential
anti-join against speakers, and dur_ms drift KS — i.e. everything the
north_star names, in one run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from remark_lint_frontmatter_schema_spark import bundle, compile_ruleset, validate  # noqa: E402
from remark_lint_frontmatter_schema_spark.functions import audio  # noqa: E402
from remark_lint_frontmatter_schema_spark.operators import drift, referential, uniqueness  # noqa: E402
from remark_lint_frontmatter_schema_spark.session import get_spark  # noqa: E402
from remark_lint_frontmatter_schema_spark.sources import fixtures  # noqa: E402

RULESET = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "rulesets", "clip.schema.yaml")


def prepare(rows: int, data_dir: str, audio_ms: int,
            partitions: int = 128) -> None:
    # file count chosen so each file lands under
    # spark.sql.files.maxPartitionBytes -> one uniform split per file, and
    # the split count divides both parallelism levels (balanced waves at
    # N and 4N; ragged 128m+remainder splits skew the 4N tail)
    spark = get_spark(app_name="rlfs-bench-prepare")
    spark.sparkContext.setLogLevel("ERROR")
    clips = fixtures.generate_clips(spark, rows, audio_ms=audio_ms,
                                    num_partitions=partitions)
    fixtures.write_clips(clips, os.path.join(data_dir, "clips"))
    speakers = fixtures.generate_speakers(spark)
    speakers.write.mode("overwrite").parquet(os.path.join(data_dir, "speakers"))
    n = spark.read.parquet(os.path.join(data_dir, "clips")).count()
    print(json.dumps({"prepared_rows": n, "data_dir": data_dir}))
    spark.stop()


def run(master: str, data_dir: str, with_binary: bool = True,
        reps: int = 5, eval_only: bool = False) -> dict:
    cores = int(master.split("[")[1].rstrip("]")) if "[" in master else 8
    # heap scales with parallelism, mirroring a real cluster where a 4N-
    # executor fleet has 4x the aggregate memory (local mode hosts every
    # "executor" thread in the one driver JVM)
    spark = get_spark(master=master, app_name=f"rlfs-bench-{master}",
                      shuffle_partitions=cores,
                      extra_conf={"spark.driver.memory": f"{cores}g"})
    spark.sparkContext.setLogLevel("ERROR")
    # spark.driver.memory set via conf is only honored when this process
    # launches the JVM (plain `python bench_scaling.py`); under
    # spark-submit the driver JVM already exists, so the flag must be
    # `--driver-memory <cores>g` on the submit command line. Verify the
    # heap we actually got and warn loudly rather than OOM mysteriously.
    max_heap_gb = (spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
                   / (1 << 30))
    if max_heap_gb < 0.7 * cores:
        print(f"WARNING: JVM max heap {max_heap_gb:.1f}g < {cores}g; "
              f"under spark-submit pass --driver-memory {cores}g",
              file=sys.stderr)
    clips = spark.read.parquet(os.path.join(data_dir, "clips"))
    speakers = spark.read.parquet(os.path.join(data_dir, "speakers"))
    compiled = compile_ruleset(bundle(RULESET), clips.schema, name="clip",
                               schema_file="clip.schema.yaml",
                               exclude_columns=("ruleset_id",))
    n_rows = clips.count()  # warms file listing + page cache metadata

    def pipeline() -> dict:
        res = validate(clips, compiled, row_id="clip_id",
                       partition_col="part_date",
                       applicability=clips.ruleset_id.isNotNull())
        n_viol = res.violations.count()
        verd = res.verdicts.collect()
        if with_binary:
            # the codec_header check (64-byte-prefix pandas UDF): this
            # stage crosses to Python; it is also timed alone below as
            # the U3 surface.
            hdr_bad = (clips.where("bytes is not null")
                       .where(~audio.codec_header_ok_col())
                       .count())
        else:
            hdr_bad = -1
        n_dups = uniqueness.duplicate_keys(clips, "clip_id").count()
        n_dangling = referential.dangling_keys(
            clips, "speaker_id", speakers, "speaker_id").count()
        last = "2026-01-08"
        side = F.when(F.col("part_date") == F.lit(last).cast("date"), "b") \
                .otherwise("a")
        ks = drift.drift_check(clips.where("dur_ms > 0"), "dur_ms", side,
                               "a", "b", lo=0, hi=50000)
        return {"n_violations": n_viol, "n_header_bad": hdr_bad,
                "n_dup_keys": n_dups, "n_dangling": n_dangling,
                "ks_stat": round(ks["ks_stat"], 4),
                "n_partition_verdicts": len(verd)}

    # headline metric (north_rule): constraint-eval throughput — the
    # one-projection validation pass alone, min over reps. Measured FIRST,
    # before the full binary pipeline: the eval scan reads only the pruned
    # non-binary columns, and running the bytes-reading pipeline first
    # evicts exactly those pages from the OS cache / bloats the heap,
    # which contaminated the eval reps with disk I/O (observed as 3x
    # regressions at the higher parallelism level). Two untimed passes
    # fault the eval's working set in and JIT the codegen.
    res = validate(clips, compiled, row_id="clip_id",
                   partition_col="part_date",
                   applicability=clips.ruleset_id.isNotNull())
    t0 = time.perf_counter()
    res.violations.count()
    res.verdicts.collect()
    warm_sec = time.perf_counter() - t0
    res.violations.count()
    res.verdicts.collect()
    eval_times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        res.violations.count()
        res.verdicts.collect()
        eval_times.append(time.perf_counter() - t0)

    if eval_only:
        # eval-only mode: for interleaved A/B/A/B noise-controlled pairs —
        # skip the pipeline and UDF stages entirely so consecutive levels
        # measure under near-identical page-cache/heap conditions
        eval_best = min(eval_times)
        out = {
            "master": master,
            "n_rows": n_rows,
            "constraint_eval_sec": round(eval_best, 2),
            "validated_clips_per_sec": round(n_rows / eval_best, 1),
            "cold_sec": round(warm_sec, 2),
            "eval_runs_sec": [round(x, 2) for x in eval_times],
        }
        print(json.dumps(out))
        spark.stop()
        return out

    # full pipeline (adds binary header check, uniqueness, referential,
    # drift): first run untimed spawns Python workers + faults `bytes` in
    results = pipeline()
    pipe_times = []
    for _ in range(max(2, reps // 2)):
        t0 = time.perf_counter()
        r = pipeline()
        pipe_times.append(time.perf_counter() - t0)
        assert r == results, "nondeterministic pipeline results"

    # the vectorized-pandas-UDF header check (64-byte JVM-side prefix
    # slice feeding the Arrow channel), timed as its own metric —
    # same protocol as every other metric here: untimed warm pass (spawns
    # the Python workers, opens the Arrow channel), then min over reps
    if with_binary:
        udf_bad = clips.where("bytes is not null") \
                       .where(~audio.codec_header_ok_col())
        hdr_bad_udf = udf_bad.count()  # warm
        assert hdr_bad_udf == results["n_header_bad"], \
            "nondeterministic header check results"
        udf_times = []
        for _ in range(max(2, reps // 2)):
            t0 = time.perf_counter()
            udf_bad.count()
            udf_times.append(time.perf_counter() - t0)
        header_udf_sec = round(min(udf_times), 2)
    else:
        header_udf_sec = -1.0

    eval_best, pipe_best = min(eval_times), min(pipe_times)
    out = {
        "master": master,
        "n_rows": n_rows,
        "constraint_eval_sec": round(eval_best, 2),
        "validated_clips_per_sec": round(n_rows / eval_best, 1),
        "pipeline_sec": round(pipe_best, 2),
        "pipeline_clips_per_sec": round(n_rows / pipe_best, 1),
        "cold_sec": round(warm_sec, 2),
        "header_udf_sec": header_udf_sec,
        "eval_runs_sec": [round(x, 2) for x in eval_times],
        "pipeline_runs_sec": [round(x, 2) for x in pipe_times],
        **results,
    }
    print(json.dumps(out))
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["prepare", "run"])
    ap.add_argument("--rows", type=int, default=16_000_000)
    ap.add_argument("--audio-ms", type=int, default=40)
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--data-dir", default="/root/repo/.bench/clips_bench")
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--no-binary", action="store_true")
    ap.add_argument("--eval-only", action="store_true")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    if args.mode == "prepare":
        prepare(args.rows, args.data_dir, args.audio_ms, args.partitions)
    else:
        run(args.master, args.data_dir, with_binary=not args.no_binary,
            reps=args.reps, eval_only=args.eval_only)


if __name__ == "__main__":
    main()
