"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down for local
testing: AQE on (runtime re-plan + skew-join splitting), Arrow on (all
Python crossings are vectorized batches — the input_hint mandates no
per-row Python), shuffle partitions proportional to parallelism.
Generated classes are named without their codegen stage id, which AQE
renumbers from run to run, so one plan shape is compiled once per session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    master: str | None = None,
    app_name: str = "rlfs-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a real cluster this is
        # overridden to 2-3x total executor cores (or left to AQE coalescing)
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # runtime re-planning: coalesce small shuffle partitions, split skewed ones
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # every JVM<->Python crossing is an Arrow batch, never pickled rows
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # row-level runtime bloom filters for joins (free referential prefilter)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # stage ids stay in the `*(N)` plan markers and codegen comments
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
