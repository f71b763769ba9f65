"""Cross-batch incremental NEAR-dup detection: streaming MinHash-LSH.

The batch engine finds near-dups with explode-signatures + a banded
self-join (operators/dedup.py). A continuously-ingested corpus can't
self-join its whole history per micro-batch — the streaming analog keeps
the LSH *buckets* as managed state: each (band, band_hash) bucket remembers
the first document that ever landed in it, and every later arrival in an
occupied bucket is emitted as a candidate near-dup pair against that
representative. This is exactly the batch banded-join semantics restricted
to first-vs-later (the dedup decision needs only "does an earlier doc share
a bucket", not all pairs).

Scale design:

* Signatures are a PURE MAP (``minhash_signature_staged``): no streaming
  groupBy, so the only stateful operator is the bucket store. A streaming
  aggregation ahead of ``applyInPandasWithState`` would itself be stateful
  and is not composable in append mode.
* State per bucket is ONE (id) tuple — O(distinct buckets), independent of
  stream length, and never holds text. At 10^12 docs × 8 bands this is
  ~8×10^12 small rows spread over the state store's key space (RocksDB
  state backend territory; the memory provider here is the local-mode
  stand-in).
* Emitted pairs are LSH candidates (same guarantee as batch
  ``lsh_candidates``): verify with exact Jaccard downstream — e.g. a
  foreachBatch join back to the corpus, or the batch
  ``ngram_jaccard_pairs`` over the day's candidates — the same
  candidates-then-verify split the batch path uses.

Reference: the source linter re-lints files as they change
(``/root/reference/index.ts`` runs per-file on the unified pipeline); this
is the Spark-native continuous analog for content-level duplicate checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..operators.dedup import band_hashes, minhash_signature_staged
from . import _drain, _file_stream

_PAIRS_SCHEMA = ("band int, bhash long, id string, dup_of string, "
                 "n_prior long")


def neardup_candidates(stream_df: DataFrame, text_col: str, id_col: str, *,
                       n_hashes: int = 64, bands: int = 8,
                       shingle_n: int = 5) -> DataFrame:
    """Streaming docs -> candidate near-dup pairs (id, dup_of, band).

    ``dup_of`` is the bucket's first-seen representative; ``n_prior`` is
    how many docs (including the representative) the bucket had already
    seen — a monitoring signal for hot buckets (a skewed bucket at scale
    means a degenerate band, e.g. empty-text shingle collisions).

    Docs with no shingles (NULL/short text) hash to a degenerate signature;
    they are dropped before banding (absent content is never a near-dup —
    same policy as ``char_shingles``/``exact_groups``).

    A doc hit in k>1 bands of the same representative emits k rows;
    downstream verification dedups with ``distinct`` on (id, dup_of) — kept
    here in the candidate stream because per-band multiplicity is the
    bucket-health signal, and a streaming distinct would be another
    stateful operator.
    """
    sig = minhash_signature_staged(
        stream_df.where(F.length(F.col(text_col)) >= shingle_n),
        text_col, id_col, n_hashes=n_hashes, shingle_n=shingle_n)
    banded = (sig.select("id", band_hashes(n_hashes, bands).alias("bb"))
                 .select(F.col("bb.band").alias("band"),
                         F.col("bb.bhash").alias("bhash"),
                         # fixed state/output schema regardless of the
                         # caller's id type (bigint doc_id, uuid, path)
                         F.col("id").cast("string").alias("id")))

    def fn(key, pdf_iter, state):
        band, bhash = key
        rows = []
        rep = None
        n_prior = 0
        if state.exists:
            rep, n_prior = state.get
        for pdf in pdf_iter:
            for doc_id in pdf["id"].sort_values():
                if rep is None:
                    rep = doc_id
                else:
                    rows.append((band, bhash, doc_id, rep, n_prior))
                n_prior += 1
        state.update((rep, n_prior))
        if not rows:
            return iter(())
        import pandas as pd
        return iter([pd.DataFrame(
            rows, columns=["band", "bhash", "id", "dup_of", "n_prior"])])

    return (banded.groupBy("band", "bhash")
            .applyInPandasWithState(fn, _PAIRS_SCHEMA, "rep string, n long",
                                    "append", GroupStateTimeout.NoTimeout))


def run_neardup_stream(spark, input_path: str, input_schema, *,
                       text_col: str, id_col: str,
                       query_name: str = "neardup",
                       checkpoint: str | None = None,
                       sink_path: str | None = None,
                       n_hashes: int = 64, bands: int = 8,
                       shingle_n: int = 5,
                       max_files_per_trigger: int = 1):
    """Drain a file-source document stream through the incremental LSH
    bucketer. ``maxFilesPerTrigger=1`` makes each input file one
    micro-batch, so cross-batch detection is actually exercised (file
    order = ingest order). Returns the query.

    Sink: with ``sink_path``, an append-mode parquet FILE sink — the
    recoverable form; stopping and restarting against the same
    ``checkpoint`` resumes the bucket state and skips already-committed
    batches (memory sinks refuse checkpoint recovery by design, so a
    restartable deployment must use a file/table sink). Without
    ``sink_path``, a memory sink for bounded drains — read
    ``spark.table(query_name)`` after ``awaitTermination``.
    """
    stream = _file_stream(spark, input_path, input_schema,
                          max_files_per_trigger)
    cands = neardup_candidates(stream, text_col, id_col,
                               n_hashes=n_hashes, bands=bands,
                               shingle_n=shingle_n)
    return _drain(cands, checkpoint=checkpoint, query_name=query_name,
                  sink_path=sink_path)
