"""Benchmark decontamination: remove training documents that overlap an
evaluation set.

The standard LLM-pipeline guard (word-n-gram overlap against held-out
benchmarks — the GPT-3/PaLM-style 8-13-gram rule): a training document
sharing >= ``min_shared`` distinct word n-grams with any benchmark
document is contaminated and must be dropped (or flagged for audit with
its matching benchmark attribution).

Scale design (100 TB corpus, benchmark sets are small by nature):

* The benchmark side reduces to its DISTINCT shingle-hash set once —
  typically 10^5-10^7 longs — and BROADCASTS. The corpus is then a single
  map-side pass: explode its shingle hashes, hash-join against the
  broadcast set, partial-count survivors per document. No corpus shuffle
  carries text; the only wide exchange is (doc_id, n_shared) counts.
* Joining on ``xxhash64`` of the shingle (8 bytes) instead of the shingle
  string keeps the broadcast and the probe rows fixed-width; a 64-bit
  collision would need ~10^9 distinct shingles to become likely
  (birthday bound), far above any benchmark's size.
* Attribution (WHICH benchmark doc matched) joins the same broadcast with
  (hash, bench_id) retained — still benchmark-sized.

Reference parity: the reference has no corpus-level stage (single-file
unit of work, ``/root/reference/index.ts:201-320``); this module is part
of the LLM-training-data operator family layered on the engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from .text import tokens
from .validate import violation_rows


def word_shingle_hashes(col, n: int = 8) -> Column:
    """Distinct ``xxhash64`` hashes of word n-grams (lowercased,
    whitespace-tokenized). Texts with fewer than ``n`` tokens (or NULL)
    yield the empty set — a short text can never contaminate."""
    toks = F.transform(tokens(col), lambda t: F.lower(t))
    n_sh = F.greatest(F.size(toks) - n + 1, F.lit(0))
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))))
    return F.when(n_sh > 0, F.array_distinct(sh)) \
            .otherwise(F.array().cast("array<bigint>"))


def contamination_pairs(df: DataFrame, bench: DataFrame, text_col: str,
                        id_col: str, *, bench_text_col: str | None = None,
                        bench_id_col: str | None = None, n: int = 8,
                        min_shared: int = 1,
                        use_bloom: bool = False,
                        n_items_hint: int | None = None) -> DataFrame:
    """(id, bench_id, n_shared) for every (document, benchmark-doc) pair
    sharing at least ``min_shared`` distinct word n-grams.

    Default strategy: the benchmark's exploded (hash, bench_id) relation
    is broadcast; the corpus side is one scan -> explode ->
    broadcast-hash-join -> partial-count aggregate.

    ``use_bloom`` — the scale path for benchmark SUITES too big to
    broadcast (hundreds of eval sets x ~10^6 shingles each): a Bloom
    filter over the bench shingle hashes (built with the referential
    check's partial-merge builder) prefilters the exploded corpus
    map-side, so the exact attribution join shuffles only the
    Bloom-positive shingles — typically a vanishing fraction of a clean
    corpus — instead of every shingle of every document. False positives
    are removed by that exact join; results are identical to the
    broadcast path. ``n_items_hint`` sizes the Bloom (distinct bench
    shingle count) without an extra scan.
    """
    bench_text_col = bench_text_col or text_col
    bench_id_col = bench_id_col or id_col
    b = (bench.select(F.col(bench_id_col).alias("bench_id"),
                      F.explode(word_shingle_hashes(
                          F.col(bench_text_col), n)).alias("h"))
              .distinct())
    d = df.select(F.col(id_col).alias("id"),
                  F.explode(word_shingle_hashes(F.col(text_col), n))
                   .alias("h"))
    if use_bloom:
        from .referential import BloomFilter, build_bloom

        bf = build_bloom(b, "h", n_items_hint=n_items_hint)
        bc = df.sparkSession.sparkContext.broadcast(
            (bf.n_bits, bf.n_hashes, bf.bits.tobytes()))

        @F.pandas_udf(BooleanType())
        def maybe_in_bench(keys: pd.Series) -> pd.Series:
            n_bits, n_hashes, raw = bc.value
            local = BloomFilter(n_bits, n_hashes,
                                np.frombuffer(raw, dtype=np.uint64))
            return pd.Series(local.might_contain(keys), index=keys.index)

        # Bloom-positive shingles only reach the exact join (NOT
        # broadcast — this path exists because the bench side is large)
        d = d.where(maybe_in_bench(F.col("h")))
        joined = d.join(b, "h")
    else:
        joined = d.join(F.broadcast(b), "h")
    return (joined
             .groupBy("id", "bench_id")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .where(F.col("n_shared") >= min_shared)
             .select(F.col("id").alias(id_col), "bench_id", "n_shared"))


def contamination_violations(df: DataFrame, bench: DataFrame,
                             text_col: str, id_col: str, *,
                             bench_text_col: str | None = None,
                             bench_id_col: str | None = None,
                             n: int = 8, min_shared: int = 1,
                             use_bloom: bool = False,
                             n_items_hint: int | None = None,
                             ruleset_name: str = "engine",
                             severity: str = "warning") -> DataFrame:
    """Violation rows for the ``x-decontaminate`` table check — one per
    (document, benchmark-doc) overlap (``actual`` carries the matched
    benchmark id; the shared-shingle count is in the message)."""
    pairs = contamination_pairs(
        df, bench, text_col, id_col, bench_text_col=bench_text_col,
        bench_id_col=bench_id_col, n=n, min_shared=min_shared,
        use_bloom=use_bloom, n_items_hint=n_items_hint)
    return violation_rows(
        pairs, row_id=F.col(id_col), constraint_id=f"decontaminate:{text_col}",
        keyword="decontaminate", instance_path=f"/{text_col}",
        schema_path=f"#/x-decontaminate/{text_col}",
        message=F.concat(F.lit("Must not overlap the benchmark set: shares "),
                         F.col("n_shared").cast("string"),
                         F.lit(f" {n}-gram(s) with `"),
                         F.col("bench_id").cast("string"), F.lit("`")),
        actual=F.col("bench_id"), ruleset_name=ruleset_name,
        severity=severity)


def decontaminate(df: DataFrame, bench: DataFrame, text_col: str,
                  id_col: str, *, bench_text_col: str | None = None,
                  bench_id_col: str | None = None, n: int = 8,
                  min_shared: int = 1) -> DataFrame:
    """The corpus minus every contaminated document (anti-join against the
    distinct contaminated-id set — the benchmark relation never touches
    the surviving rows' payload)."""
    bad = contamination_pairs(
        df, bench, text_col, id_col, bench_text_col=bench_text_col,
        bench_id_col=bench_id_col, n=n, min_shared=min_shared
    ).select(id_col).distinct()
    return df.join(bad, id_col, "left_anti")


def semantic_overlap(corpus: DataFrame, bench: DataFrame, *,
                     vec_col: str, id_col: str,
                     bench_id_col: str, bench_vec_col: str | None = None,
                     threshold: float = 0.95, method: str = "broadcast",
                     n_bits: int = 12, n_tables: int = 4,
                     dim: int | None = None, seed: int = 42) -> DataFrame:
    """SEMANTIC decontamination: corpus rows whose embedding is
    near-identical (cosine >= ``threshold``) to ANY benchmark embedding —
    catches paraphrased/reformatted eval contamination the n-gram rule
    misses (the n-gram rule stays the first line; this is the second).

    Two physical routes, same output shape:

    - ``method="broadcast"`` (default): the benchmark side is small by
      nature, so it BROADCASTS and the corpus makes one pass — a
      broadcast nested-loop scoring pass with the pure-JVM
      zip_with/aggregate cosine (similarity.cosine), linear in corpus
      size with an n_bench-wide inner loop. Exact.
    - ``method="lsh"``: for a benchmark suite that outgrows a broadcast.
      Both sides hash to random-hyperplane sign buckets
      (similarity.hyperplane_signature — pure JVM); the exact cosine
      runs only inside colliding buckets of an equi-join that shuffles
      on the bucket key, never all-pairs. ``n_tables`` independent
      hash tables (seeds ``seed..seed+n_tables-1``) are unioned for
      recall: a pair at angle theta collides in one table with
      p = (1 - theta/pi)^n_bits, so the miss rate is (1-p)^n_tables —
      at threshold 0.99, n_bits=12, n_tables=4 that is ~5e-3, and
      IDENTICAL vectors (theta=0) always collide, so exact-duplicate
      contamination has recall 1.0 by construction. Raise n_bits (finer
      buckets => smaller join fan-out) and n_tables together at larger
      scale.

    Output: one row per contaminated corpus id —
    (id, nearest_bench id, max_sim) with the deterministic
    (sim desc, bench id asc) tiebreak via a per-id window (partitioned,
    never global).
    """
    from pyspark.sql import Window
    from .similarity import _hyperplanes, cosine, hyperplane_signature
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    if method not in ("broadcast", "lsh"):
        raise ValueError(f"unknown method {method!r}")
    bv = bench_vec_col or vec_col
    b = bench.select(
        F.col(bench_id_col).alias("_bid"),
        F.col(bv).cast("array<double>").alias("_bvec"))
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_cvec"))
    sim = cosine(F.col("_cvec"), F.col("_bvec"))
    if method == "broadcast":
        hits = (c.crossJoin(F.broadcast(b))
                .select(F.col(id_col), F.col("_bid"), sim.alias("_sim"))
                .where(F.col("_sim") >= F.lit(float(threshold))))
    else:
        if dim is None:
            row = b.where(F.col("_bvec").isNotNull()) \
                   .select("_bvec").first()
            if row is None:  # empty benchmark: nothing can be contaminated
                return (c.select(
                    F.col(id_col),
                    F.lit(None).cast(b.schema["_bid"].dataType)
                     .alias("nearest_bench"),
                    F.lit(0.0).alias("max_sim")).where(F.lit(False)))
            dim = len(row[0])
        # all n_tables signatures in ONE pass per side (an explode of
        # (table, bucket) structs), so the corpus is scanned once and the
        # candidate join shuffles once on (table, bucket) — never
        # n_tables scans
        all_planes = [_hyperplanes(dim, n_bits, seed + t)
                      for t in range(int(n_tables))]
        def _sigs(frame, vec):
            ent = [F.struct(
                       F.lit(t).alias("_t"),
                       hyperplane_signature(F.col(vec), p).alias("_bkt"))
                   for t, p in enumerate(all_planes)]
            return (frame.select("*", F.explode(F.array(*ent)).alias("_e"))
                         .select(*frame.columns, "_e._t", "_e._bkt"))
        cand = (_sigs(c, "_cvec").join(_sigs(b, "_bvec"), ["_t", "_bkt"])
                .select(F.col(id_col), F.col("_bid"), sim.alias("_sim"))
                .where(F.col("_sim") >= F.lit(float(threshold))))
        # a pair colliding in several tables scores identically each
        # time — distinct collapses the duplicates before the window
        hits = cand.distinct()
    w = Window.partitionBy(id_col).orderBy(F.col("_sim").desc(),
                                           F.col("_bid").asc())
    return (hits.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col(id_col),
                    F.col("_bid").alias("nearest_bench"),
                    F.round(F.col("_sim"), 6).alias("max_sim")))
