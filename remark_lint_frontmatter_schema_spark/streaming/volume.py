"""Streaming ingest-volume monitoring: the streaming twin of
``operators/outliers.volume_anomalies``.

Bucket row-counts are additive, so each micro-batch appends its own
(bucket, n) partials — the exact mechanism of ``streaming/windowed.py``
histogram partials (``_batch``-partitioned, so a replayed batch
rewrites rather than double-counts) — and the
median/MAD anomaly scan runs at READ time over the summed partials,
identical numerics to the batch operator on the same rows (pinned by
test). Late rows are not special here: a late event increments its own
(old) bucket in a later batch, and the read-time sum sees the corrected
count — no watermark needed because the scan is not incremental state,
it is a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _drain, _file_stream, _fs, _write_batch_idempotent


def run_volume_stream(spark, input_path: str, input_schema, ts_col: str, *,
                      unit: str = "hour", out_path: str, checkpoint: str,
                      max_files_per_trigger: int = 1):
    """File-source stream -> per-batch (bucket, n) count partials at
    ``out_path`` (``_batch``-partitioned, replay-safe)."""
    if unit not in ("minute", "hour", "day", "week", "month"):
        raise ValueError(f"unsupported unit {unit!r}")
    t = F.col(ts_col)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch_idempotent(
            batch_df.where(t.isNotNull())
            .groupBy(F.date_trunc(unit, t).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")),
            batch_id, out_path, "_batch")

    return _drain(_file_stream(spark, input_path, input_schema,
                               max_files_per_trigger),
                  checkpoint=checkpoint, process=process_batch)


_FOLD_MANIFEST = "_folded.json"      # inside the folded partition
_FOLD_TMP = ".fold_tmp"              # hidden staging dir (dot = invisible
#                                      to Spark listings), swapped in by
#                                      a single filesystem rename


def _write_manifest(spark, dir_path: str, max_folded: int) -> None:
    import json
    fs, p, jvm = _fs(spark, f"{dir_path}/{_FOLD_MANIFEST}")
    out = fs.create(p, True)
    out.write(bytearray(json.dumps({"max_folded": int(max_folded)})
                        .encode("utf-8")))
    out.close()


def _read_manifest(spark, dir_path: str):
    """max_folded from a fold partition's manifest, or None (legacy
    pre-manifest sink / no fold yet)."""
    import json
    fs, p, _ = _fs(spark, f"{dir_path}/{_FOLD_MANIFEST}")
    if not fs.exists(p):
        return None
    # Hadoop FS API plus the JDK only: the length from the file status,
    # then one full read of that many bytes. InputStream.readNBytes is
    # readFully into a fresh array; py4j copies a JVM byte[] into Python
    # bytes, so an array handed in by the caller would never be filled.
    n = fs.getFileStatus(p).getLen()
    stream = fs.open(p)
    try:
        raw = bytes(stream.readNBytes(n))
    finally:
        stream.close()
    if len(raw) != n:
        raise OSError(f"short read of {dir_path}/{_FOLD_MANIFEST}: "
                      f"{len(raw)} of {n} bytes")
    return int(json.loads(raw.decode("utf-8"))["max_folded"])


def _batch_ids(spark, out_path: str) -> list[int]:
    fs, root, jvm = _fs(spark, out_path)
    if not fs.exists(root):
        return []
    ids = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("_batch="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(ids)


def _fold_state(spark, out_path: str):
    """(data_dir, max_folded) of the COMMITTED fold, resolving crash
    states: a finished ``.fold_tmp`` (self-describing manifest inside)
    stands in for a ``_batch=-1`` deleted mid-swap; a manifest-less
    ``_batch=-1`` is a legacy fold covering nothing skippable."""
    fs, _, jvm = _fs(spark, out_path)
    minus1 = f"{out_path}/_batch=-1"
    tmp = f"{out_path}/{_FOLD_TMP}"
    if fs.exists(jvm.org.apache.hadoop.fs.Path(minus1)):
        return minus1, _read_manifest(spark, minus1)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(
            f"{tmp}/{_FOLD_MANIFEST}")):
        return tmp, _read_manifest(spark, tmp)
    return None, None


def volume_anomalies_from_sink(spark, out_path: str, *,
                               k: float = 3.5) -> DataFrame:
    """Median/MAD anomaly scan over the accumulated count partials —
    identical numerics to the batch ``volume_anomalies`` on the same
    rows (partials sum to exactly the batch bucket counts). Reads the
    compacted fold partition and live batch partials alike — both are
    (bucket, n) addends.

    Crash-consistent with :func:`compact_volume_sink`: the fold's own
    manifest says which batch ids it already covers (all ids <=
    max_folded), so source partitions a crashed compaction failed to
    delete are DETECTED and skipped instead of double-counted; a fold
    that finished staging but died mid-swap is read from its hidden
    staging dir. Partition selection is an explicit path list (never a
    blanket directory read), so no crash state can leak into the sum."""
    from ..operators.outliers import outlier_scores
    data_dir, max_folded = _fold_state(spark, out_path)
    live = [b for b in _batch_ids(spark, out_path)
            if b >= 0 and (max_folded is None or b > max_folded)]
    paths = ([data_dir] if data_dir else []) \
        + [f"{out_path}/_batch={b}" for b in live]
    if not paths:
        buckets = spark.createDataFrame([], "bucket timestamp, "
                                            "n_rows long")
    else:
        # explicit schema: an all-empty sink (every observed batch had
        # only NULL timestamps) reads as zero buckets, not a
        # schema-infer failure
        parts = spark.read.schema("bucket timestamp, n long") \
            .parquet(*paths)
        buckets = parts.groupBy("bucket").agg(F.sum("n").alias("n_rows"))
    return (outlier_scores(buckets, "n_rows", row_id="bucket", k=k)
            .select(F.col("row_id").alias("bucket"), "value", "z"))


def compact_volume_sink(spark, out_path: str, *,
                        keep_last: int = 2) -> int:
    """Fold committed batch partials into one summed ``_batch=-1``
    partition so the sink stays O(buckets) over a long stream lifetime
    instead of O(buckets x batches).

    Partials with ``_batch > max_batch - keep_last`` are left in place:
    Structured Streaming replays at most the batches after the last
    checkpoint commit, and a replayed batch rewrites ITS OWN partition
    (dynamic overwrite) — folding a batch that could still replay would
    double-count it, so ``keep_last`` must cover the replayable tail
    (>= 1; the default 2 is belt-and-braces). Older partitions are
    committed and can never be rewritten, so summing them (together
    with any previous fold) is exact: read-time numerics are unchanged,
    and re-running compaction is idempotent.

    CRASH-CONSISTENT via a self-describing fold (round 5, advisor):
    the new sums are staged in a hidden ``.fold_tmp`` dir, a manifest
    recording ``max_folded`` (every batch id <= it is included) is
    written INSIDE, and one filesystem rename swaps the dir into
    ``_batch=-1`` — data and manifest move together, so no observable
    state separates "which sums exist" from "which sources they cover".
    Every crash window is repaired here and tolerated by the reader:
    a manifest-less staging dir is discarded (sources intact), a
    finished staging dir orphaned mid-swap is renamed into place, and
    stale sources <= max_folded (deletes interrupted) are dropped
    before anything new is folded. The only assumed primitive is an
    atomic rename — what HDFS and POSIX give; on eventual-consistency
    object stores point the sink at an Iceberg table instead
    (sources/table.py). Returns the number of batch partitions folded
    away."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the replayable tail "
                         "must survive compaction)")
    fs, root, jvm = _fs(spark, out_path)
    Path = jvm.org.apache.hadoop.fs.Path
    minus1, tmp = f"{out_path}/_batch=-1", f"{out_path}/{_FOLD_TMP}"
    # --- repair interrupted attempts -------------------------------
    if fs.exists(Path(tmp)):
        if not fs.exists(Path(minus1)) \
                and fs.exists(Path(f"{tmp}/{_FOLD_MANIFEST}")):
            # died mid-swap: staging is complete and authoritative
            fs.rename(Path(tmp), Path(minus1))
        else:
            # incomplete staging (no manifest) or old -1 still present:
            # sources are intact, redo the fold from scratch
            fs.delete(Path(tmp), True)
    max_folded = _read_manifest(spark, minus1) \
        if fs.exists(Path(minus1)) else None
    live = [b for b in _batch_ids(spark, out_path) if b >= 0]
    if max_folded is not None:
        # deletes interrupted after a committed fold: drop stale
        # sources BEFORE computing the next fold (they are already in
        # the -1 sums; re-folding them would double-count)
        for b in [b for b in live if b <= max_folded]:
            fs.delete(Path(f"{out_path}/_batch={b}"), True)
        live = [b for b in live if b > max_folded]
    if not live:
        return 0
    cutoff = max(live) - int(keep_last)
    fold = [b for b in live if b <= cutoff]
    if not fold:
        return 0
    paths = [f"{out_path}/_batch={b}" for b in fold]
    if fs.exists(Path(minus1)):
        paths.append(minus1)
    # materialize the fold on the driver before writing: the summed
    # relation is bucket-scale (time buckets, not rows) by construction
    folded = (spark.read.schema("bucket timestamp, n long")
              .parquet(*paths)
              .groupBy("bucket").agg(F.sum("n").alias("n")).collect())
    (spark.createDataFrame([(r.bucket, r.n) for r in folded],
                           "bucket timestamp, n long")
        .coalesce(1).write.parquet(tmp))
    _write_manifest(spark, tmp, max(fold))   # staging now self-describing
    fs.delete(Path(minus1), True)
    fs.rename(Path(tmp), Path(minus1))
    for b in fold:
        fs.delete(Path(f"{out_path}/_batch={b}"), True)
    return len(fold)
