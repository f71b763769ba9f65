"""Stream-static as-of enrichment + streaming x-ref-asof violations:
per-micro-batch results must equal the batch operator over the union of
all batches (stateless per-batch semantics), with batch provenance."""

import pyspark.sql.functions as F
import pytest

from remark_lint_frontmatter_schema_spark.streaming.asof import (
    enrich_stream_asof,
    ref_asof_stream,
)


@pytest.fixture()
def paths(spark, tmp_path):
    src = str(tmp_path / "src")
    # two "arrival waves" as separate files so availableNow may split
    spark.createDataFrame(
        [("e1", "u1", 3.0), ("e2", "u1", 7.0)],
        "eid string, uid string, ts double") \
        .coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [("e3", "u2", 4.0), ("e4", "u1", 1.0)],
        "eid string, uid string, ts double") \
        .coalesce(1).write.mode("append").parquet(src)
    return src


def test_enrich_stream_asof(spark, paths, tmp_path):
    dim = spark.createDataFrame(
        [("u1", 5.0, "v5"), ("u1", 2.0, "v2"), ("u2", 9.0, "v9")],
        "uid string, ts double, val string")
    schema = "eid string, uid string, ts double"
    sink = str(tmp_path / "enriched")
    q = enrich_stream_asof(
        spark, paths, schema, dim, on="uid", left_ts="ts",
        payload=["val"], sink=sink,
        checkpoint=str(tmp_path / "ckpt1"))
    q.awaitTermination()
    got = {r["eid"]: r["val"] for r in spark.read.parquet(sink).collect()}
    assert got == {"e1": "v2", "e2": "v5",
                   "e3": None,   # u2's dim row is later
                   "e4": None}   # before every u1 dim row


def test_ref_asof_stream_violations(spark, paths, tmp_path):
    dim = spark.createDataFrame([("u1", 5.0)], "uid string, ts double")
    schema = "eid string, uid string, ts double"
    sink = str(tmp_path / "viol")
    q = ref_asof_stream(
        spark, paths, schema, dim, fact_key="uid", dim_key="uid",
        ts_col="ts", dim_ts="ts", row_id="eid",
        violations_sink=sink, checkpoint=str(tmp_path / "ckpt2"))
    q.awaitTermination()
    v = spark.read.parquet(sink)
    rows = {r["row_id"]: r for r in v.collect()}
    # e1 (t=3 < 5), e3 (no u2 dim), e4 (t=1 < 5) dangle; e2 is covered
    assert set(rows) == {"e1", "e3", "e4"}
    assert all(r["keyword"] == "ref-asof" for r in rows.values())
    assert all(r["partition_id"].startswith("batch_")
               for r in rows.values())


def test_enrich_stream_with_refreshing_dim(spark, paths, tmp_path):
    # a callable dim is re-evaluated per batch (slowly-changing dim)
    calls = []

    def dim():
        calls.append(1)
        return spark.createDataFrame([("u1", 0.0, "x")],
                                     "uid string, ts double, val string")

    sink = str(tmp_path / "enr2")
    q = enrich_stream_asof(
        spark, paths, "eid string, uid string, ts double", dim,
        on="uid", left_ts="ts", payload=["val"], sink=sink,
        checkpoint=str(tmp_path / "ckpt3"))
    q.awaitTermination()
    assert len(calls) >= 1  # invoked per processed batch
    got = {r["eid"]: r["val"] for r in spark.read.parquet(sink).collect()}
    assert got["e1"] == "x" and got["e4"] == "x" and got["e3"] is None


def test_replayed_batch_does_not_duplicate(spark, paths, tmp_path):
    # simulate a foreachBatch replay: run the batch writer twice with the
    # same batch id — the idempotent partition overwrite must leave one
    # copy, not two (foreachBatch is at-least-once)
    from remark_lint_frontmatter_schema_spark.streaming.asof import (
        _write_batch_idempotent,
    )
    sink = str(tmp_path / "idem")
    df = spark.createDataFrame([("e1", 1.0), ("e2", 2.0)],
                               "eid string, v double")
    _write_batch_idempotent(df, 7, sink, "_batch")
    _write_batch_idempotent(df, 7, sink, "_batch")  # replay
    _write_batch_idempotent(df, 8, sink, "_batch")  # next batch
    out = spark.read.parquet(sink)
    assert out.count() == 4  # 2 rows x 2 batches, no replay duplicates
    assert out.where("_batch = 7").count() == 2


def test_empty_replay_clears_stale_batch_partition(spark, tmp_path):
    """A replayed batch whose recomputed output is EMPTY must remove the
    partition its prior attempt committed (dynamic overwrite alone only
    replaces partitions present in the new output)."""
    import os
    from remark_lint_frontmatter_schema_spark.streaming.asof import (
        _write_batch_idempotent)
    sink = str(tmp_path / "sink")
    full = spark.createDataFrame([("a", 1)], "k string, v int")
    _write_batch_idempotent(full, 7, sink, "_batch")
    assert os.path.isdir(os.path.join(sink, "_batch=7"))
    empty = full.where("1 = 0")
    _write_batch_idempotent(empty, 7, sink, "_batch")
    assert not os.path.exists(os.path.join(sink, "_batch=7"))


def test_ref_asof_replay_with_empty_result_clears_stale_violations(
        spark, tmp_path):
    """A batch that wrote its violations but crashed before its checkpoint
    commit replays on restart; when the refreshed dim now covers every
    event, the replay's result is empty and must still replace the stale
    ``partition_id=batch_0`` rows, leaving a readable, empty sink."""
    import os
    src = str(tmp_path / "src")
    spark.createDataFrame([("e1", "u1", 3.0), ("e2", "u1", 7.0)],
                          "eid string, uid string, ts double") \
        .coalesce(1).write.parquet(src)
    schema = "eid string, uid string, ts double"
    sink, ckpt = str(tmp_path / "viol"), str(tmp_path / "ckpt")
    dim_rows = [("u9", 0.0)]     # covers nothing: both events dangle

    def dim():
        return spark.createDataFrame(dim_rows, "uid string, ts double")

    def run():
        ref_asof_stream(
            spark, src, schema, dim, fact_key="uid", dim_key="uid",
            ts_col="ts", dim_ts="ts", row_id="eid",
            violations_sink=sink, checkpoint=ckpt).awaitTermination()

    run()
    got = {(r["row_id"], r["partition_id"])
           for r in spark.read.parquet(sink).collect()}
    assert got == {("e1", "batch_0"), ("e2", "batch_0")}
    # crash after the write, before the commit: batch 0 is uncommitted
    for name in ("0", ".0.crc"):
        p = os.path.join(ckpt, "commits", name)
        if os.path.exists(p):
            os.remove(p)
    dim_rows[:] = [("u1", 0.0)]  # the refreshed dim covers both events
    run()
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))  # replayed
    assert spark.read.schema("row_id string, partition_id string") \
        .parquet(sink).count() == 0
