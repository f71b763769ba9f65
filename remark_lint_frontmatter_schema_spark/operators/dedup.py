"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:

* exact — hash-groupBy on sha256(text): one shuffle of (hash, id) pairs
  only, never the text bodies.
* n-gram Jaccard — exact pairwise verification *within blocking keys*;
  O(n^2) per block, so only usable after a blocker (LSH buckets, lang,
  length band). The LSH path below is the 10^12-row front door.
* MinHash+LSH — shingles -> k min-hashes (xxhash64 with k seeds, all
  JVM-side) -> band hashes -> self-join per band bucket -> candidate pairs
  -> exact Jaccard verify. The only shuffle carries (band_hash, id,
  signature); bodies stay columnar at rest.
* SimHash — 64 weighted bit votes over token hashes, one aggregate per
  document, near-dup = Hamming distance <= d on the 64-bit key (bucketable
  by hash bands of the simhash itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens
from .validate import to_col, violation_rows


# Session-scoped registry of every intermediate a reuse=True operator
# persisted. `_track` additionally hangs the handles off the returned
# DataFrame for targeted `release(df)`, but any downstream transform
# (.select/.where) returns a new DataFrame without the attribute — the
# registry guarantees `release_all()` frees the blocks regardless of what
# the caller did to the returned relation (long-lived sessions otherwise
# accumulate cached signature/shingle relations monotonically).
_PERSISTED: list = []


def _persist(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel
    p = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(p)
    return p


def _track(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach the persisted intermediates to the returned DataFrame so
    callers can free them with :func:`release` (persist-then-unpersist is
    the repo convention, see drift.py; the returned plan is lazy so the
    operator itself cannot know when the caller is done)."""
    existing = []
    for c in cached:
        existing.extend(getattr(c, "_rlfs_persisted", []))
    result._rlfs_persisted = existing + [
        c for c in cached if c.is_cached]  # noqa: SLF001
    return result


def release(df: DataFrame) -> None:
    """Unpersist the intermediate relations a reuse=True operator cached
    for ``df``. No-op for DataFrames without cached intermediates."""
    for d in getattr(df, "_rlfs_persisted", []):
        d.unpersist()
        try:
            _PERSISTED.remove(d)
        except ValueError:
            pass


def release_all() -> None:
    """Unpersist EVERY intermediate any reuse=True operator (dedup or
    similarity) persisted in this session. The safety net for callers that
    transformed the returned DataFrame (losing the ``_rlfs_persisted``
    handle) or run many operator invocations in one session — bench loops
    call this between reps so cached blocks never accumulate."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(text_sha, n_docs, keep_id): one row per distinct NON-NULL text;
    dedup keeps the minimum id (deterministic survivor).

    NULL-text rows are excluded: sha2(NULL) is NULL, so an unfiltered
    groupBy would collapse every NULL-text document into one group and
    dedup would discard all but one — but NULL texts are ABSENT content,
    not identical content (same policy as char_shingles, where NULL texts
    never near-dup each other)."""
    return (df.where(F.col(text_col).isNotNull())
              .select(F.sha2(F.col(text_col), 256).alias("text_sha"),
                      F.col(id_col))
              .groupBy("text_sha")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.min(id_col).alias("keep_id")))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Survivors only — min(id) per identical non-NULL text; NULL-text
    rows all survive (absent content is never a duplicate)."""
    groups = exact_groups(df, text_col, id_col)
    kept = df.join(groups.select(F.col("keep_id").alias(id_col)), id_col,
                   "left_semi")
    return kept.unionByName(df.where(F.col(text_col).isNull()))


# ---------------------------------------------------------------------------
# shingles + exact Jaccard (the verifier)
# ---------------------------------------------------------------------------

def char_shingles(col, n: int = 3):
    """Distinct character n-grams; texts shorter than ``n`` (and NULL)
    yield the EMPTY set. The guard matters: ``sequence(1, 0)`` is the
    descending array [1, 0] (not empty), and ``substr`` treats position 0
    like 1 — without the guard every short/empty/NULL text got one bogus
    shingle, so e.g. two NULL-text docs compared as Jaccard-1 near-dups."""
    c = to_col(col)
    n_sh = F.greatest(F.length(c) - n + 1, F.lit(0))
    arr = F.array_distinct(
        F.transform(F.sequence(F.lit(1), n_sh), lambda i: c.substr(i, F.lit(n))))
    return F.when(n_sh > 0, arr).otherwise(F.array().cast("array<string>"))


def jaccard(a, b):
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str, *,
                        block_col: str | None = None, n: int = 3,
                        threshold: float = 0.6, reuse: bool = True,
                        allow_full_cross: bool = False) -> DataFrame:
    """Exact pairwise n-gram Jaccard within a blocking key. The self-join is
    O(block^2) — ONLY for small blocks or LSH-bucket verification.
    ``reuse`` persists the shingle relation so the self-join's two sides
    don't each recompute it (see :func:`lsh_candidates`).

    ``block_col`` is REQUIRED: without it the whole table is one block and
    the self-join is a full O(n^2) cross join — a scale-killer a caller
    should never hit by omission. Pass ``allow_full_cross=True`` to state
    explicitly that the input is small enough for all-pairs verification.
    """
    if block_col is None and not allow_full_cross:
        raise ValueError(
            "ngram_jaccard_pairs without block_col is a full O(n^2) "
            "cross-join of the whole table; pass block_col (lang, length "
            "band, LSH bucket) or allow_full_cross=True for small inputs")
    sh = df.select(F.col(id_col).alias("id"),
                   *( [F.col(block_col).alias("blk")] if block_col else
                      [F.lit(1).alias("blk")] ),
                   char_shingles(text_col, n).alias("sh"))
    if reuse:
        sh = _persist(sh)
    a = sh.select(F.col("blk"), F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("blk"), F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = (a.join(b, "blk")
              .where(F.col("id_a") < F.col("id_b"))
              .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
              .where(F.col("jaccard") >= threshold)
              .select("id_a", "id_b", "jaccard"))
    return _track(pairs, sh)


def containment_pairs(df: DataFrame, text_col: str, id_col: str, *,
                      block_col: str | None = None, n: int = 5,
                      threshold: float = 0.8, reuse: bool = True,
                      allow_full_cross: bool = False) -> DataFrame:
    """DIRECTED near-dup detection: word-``n``-gram containment
    ``|A ∩ B| / |A|`` per ordered pair — the asymmetric statistic
    Jaccard misses. A short document quoted wholesale inside a long one
    (stitched pages, syndicated articles with added boilerplate, quoted
    posts) has containment ~1 in one direction while Jaccard, diluted by
    the long side's extra shingles, stays far below any dedup threshold.

    Output: (id_small, id_big, containment, jaccard) for pairs where the
    SMALLER shingle set's containment in the larger reaches
    ``threshold`` (ties by id); ``jaccard`` rides along so callers can
    separate true near-dups (both high) from subset relations (high
    containment, low Jaccard).

    Same scale contract as :func:`ngram_jaccard_pairs`: the self-join is
    O(block²) and ``block_col`` is REQUIRED unless
    ``allow_full_cross=True`` states the input is small. NOTE that
    Jaccard-MinHash buckets do NOT reliably catch containment pairs
    (P[minhash collision] = Jaccard, which containment keeps LOW by
    construction — B's minimum can come from B\\A), and fixed-cardinality
    blocks (lang, length bands) make block SIZE grow with the corpus —
    at scale generate candidates with
    :func:`containment_pairs_rare` instead and keep this form as the
    within-block verifier."""
    if block_col is None and not allow_full_cross:
        raise ValueError(
            "containment_pairs without block_col is a full O(n^2) "
            "cross-join of the whole table; pass block_col or "
            "allow_full_cross=True for small inputs")
    staged = df.select(F.col(id_col).alias("id"),
                       *([F.col(block_col).alias("blk")] if block_col else
                         [F.lit(1).alias("blk")]),
                       tokens(text_col).alias("_t"))
    sh = staged.select("id", "blk", word_shingles("_t", n).alias("sh")) \
               .where(F.size("sh") > 0)
    if reuse:
        sh = _persist(sh)
    a = sh.select("blk", F.col("id").alias("id_a"),
                  F.col("sh").alias("sh_a"))
    b = sh.select("blk", F.col("id").alias("id_b"),
                  F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    sz_a, sz_b = F.size("sh_a"), F.size("sh_b")
    small_first = (sz_a < sz_b) | ((sz_a == sz_b)
                                   & (F.col("id_a") < F.col("id_b")))
    pairs = (a.join(b, "blk")
              .where(F.col("id_a") != F.col("id_b"))
              .where(small_first)      # one row per unordered pair
              .withColumn("containment",
                          F.round(inter / F.least(sz_a, sz_b), 6))
              .where(F.col("containment") >= threshold)
              .select(F.col("id_a").alias("id_small"),
                      F.col("id_b").alias("id_big"),
                      "containment",
                      F.round(inter / (sz_a + sz_b - inter), 6)
                       .alias("jaccard")))
    return _track(pairs, sh)


def containment_pairs_rare(df: DataFrame, text_col: str, id_col: str, *,
                           n: int = 5, threshold: float = 0.8,
                           max_df: int = 20, min_shared: int = 2,
                           reuse: bool = True) -> DataFrame:
    """Corpus-scalable directed containment: candidates are pairs
    sharing at least one RARE word n-gram (corpus document frequency
    <= ``max_df``), verified exactly with the :func:`containment_pairs`
    statistic — (id_small, id_big, containment, jaccard).

    Why rare-shingle candidates (the dup_ngram/decontaminate pattern)
    rather than blocks or MinHash: Jaccard-LSH misses containment pairs
    by construction (collision probability IS the Jaccard the asymmetry
    keeps low), and fixed-cardinality blocks grow quadratically with the
    corpus. A rare shingle's posting list is <= max_df docs, so the
    candidate join emits at most sum_over_rare_shingles df^2 <=
    max_df * (total postings) pairs — linear in the corpus for a fixed
    cap — and the exploded relation shuffles (xxhash64, id) pairs only.
    Honest miss-mode: a contained document NONE of whose shared
    n-grams is corpus-rare (pure boilerplate) produces no candidate —
    those are :func:`dedup_lines` / :func:`cross_doc_dup_fraction`
    territory, not subset detection.

    ``min_shared`` requires candidates to share that many rare shingles
    before verification (a genuine containment at any useful threshold
    shares many; single-shingle collisions are noise) — at the measured
    design point it cuts the verify join ~5x with zero recall loss on
    verified pairs. ``reuse`` persists the shingle relation (tokenize
    once for postings + both verify sides); free with
    :func:`release_all`."""
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    if max_df < 2:
        raise ValueError("max_df must be >= 2 (df 1 shingles pair nothing)")
    staged = df.select(F.col(id_col).alias("id"),
                       tokens(text_col).alias("_t"))
    sh = staged.select("id", word_shingles("_t", n).alias("sh")) \
               .where(F.size("sh") > 0)
    if reuse:
        sh = _persist(sh)
    post = sh.select("id", F.explode(
        F.transform(F.col("sh"), lambda g: F.xxhash64(g))).alias("h"))
    rare = (post.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") <= max_df))
    rp = post.join(rare.select("h"), "h")
    cand = (rp.select("h", F.col("id").alias("id_a"))
              .join(rp.select("h", F.col("id").alias("id_b")), "h")
              .where(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("_nsh"))
              .where(F.col("_nsh") >= int(min_shared))
              .select("id_a", "id_b"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    sz_a, sz_b = F.size("sh_a"), F.size("sh_b")
    small_a = (sz_a < sz_b) | ((sz_a == sz_b)
                               & (F.col("id_a") < F.col("id_b")))
    pairs = (cand.join(a, "id_a").join(b, "id_b")
                 .withColumn("containment",
                             F.round(inter / F.least(sz_a, sz_b), 6))
                 .where(F.col("containment") >= threshold)
                 .select(F.when(small_a, F.col("id_a"))
                          .otherwise(F.col("id_b")).alias("id_small"),
                         F.when(small_a, F.col("id_b"))
                          .otherwise(F.col("id_a")).alias("id_big"),
                         "containment",
                         F.round(inter / (sz_a + sz_b - inter), 6)
                          .alias("jaccard")))
    return _track(pairs, sh)


def prefix_filter_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                                *, n: int = 3, threshold: float = 0.6,
                                shingle: str = "word",
                                reuse: bool = True) -> DataFrame:
    """Exact set-similarity self-join via PREFIX FILTERING (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al.): every
    pair with n-gram Jaccard >= ``threshold`` is returned — same output
    contract as :func:`ngram_jaccard_pairs` with no block at all — but
    candidates are generated by joining only each document's
    ``|s| - floor(t*|s|) + 1`` globally-RAREST shingles, so there is no
    quadratic block anywhere in the plan.

    Why exact recall holds: if Jaccard(A,B) >= t then
    |A∩B| >= t*|A∪B| >= ceil(t*max(|A|,|B|)), so under any global total
    order on shingles the smallest common shingle must sit inside BOTH
    prefixes (a suffix of length ceil(t*|A|)-1 cannot absorb all >= that
    many shared shingles). Ordering by ascending global document
    frequency makes those prefix shingles the rarest ones, so candidate
    join groups are small by construction — frequent shingles (" th",
    "ing") sort to the suffix and never enter the join. Float guards:
    prefix length uses floor (>= the exact ceil form, never shorter) and
    the length-ratio filter subtracts 1e-9, so rounding can only ADD
    candidates; the exact-Jaccard verify then makes the output identical
    to the exhaustive all-pairs result.

    Scale shape at 10^12 rows: one linear (tok -> doc-frequency)
    aggregate (map-side partial, ~vocab-sized result AQE broadcasts
    back), one shuffle of (id, tok, freq) partitioned by id for the
    per-doc ranking window, a candidate join keyed on rare tokens only,
    and a verify join that ships shingle arrays solely for surviving
    candidate pairs. Shuffle payloads are ids + shingles — never
    document bodies.

    ``shingle``: ``"word"`` (default) = space-joined word ``n``-grams,
    ``"char"`` = character ``n``-grams. Prefix filtering is only as
    selective as the shingle-frequency distribution: char 3-grams over
    ordinary prose have a few hundred distinct values, so every doc's
    "rarest" shingles are still corpus-common and the candidate join
    degenerates toward all-pairs (measured: 314M candidate multiplicity
    vs 12.5M all-pairs on the 5k-doc fixture corpus — WORSE than
    exhaustive). Word n-grams have a vocabulary that grows with the
    corpus (27k for the same fixture, max doc-frequency 25, 0.39M
    candidates), which is why text set-similarity literature shingles
    on words/tokens. Use ``"char"`` only for short-string domains
    (names, URLs) where word tokens are too coarse.
    """
    from pyspark.sql.window import Window

    narrow = df.select(F.col(id_col).alias("id"),
                       F.col(text_col).alias("_txt"))
    # shingling is CPU-heavy per input split; a small corpus arriving as
    # one parquet file would otherwise run it in ONE task (measured: 7 s
    # single-task vs sub-second parallel on the 5k-doc fixture). At real
    # scale the input already has >= cluster parallelism and this is a
    # no-op — never an unconditional full-text shuffle.
    target = df.sparkSession.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < target:
        narrow = narrow.repartition(target, "id")
    if shingle == "word":
        # stage the token array in its own projection — word_shingles'
        # HOF lambda references it per position and HOF lambdas are never
        # CSE'd, so an inlined tokens(text) would re-split the text for
        # every shingle
        base = narrow.select("id", tokens(F.col("_txt")).alias("_tk"))
        sh_expr = word_shingles(F.col("_tk"), n)
    elif shingle == "char":
        base = narrow.select("id", F.col("_txt").alias("_tk"))
        sh_expr = char_shingles(F.col("_tk"), n)
    else:
        raise ValueError(f"shingle must be 'word' or 'char', got {shingle!r}")
    # The shingle-array relation is persisted BEFORE the explode, not
    # after: Spark's InferFiltersFromGenerate puts a size(arr) > 0
    # filter under the Generate, and filter pushdown substitutes
    # projection aliases — without the cache boundary the entire
    # tokenize+shingle chain is inlined into the pre-shuffle scan
    # Filter and evaluated row-by-row in the (often single-task) input
    # stage, then recomputed again for the output (measured 6-8 s ->
    # 0.9 s on the 5k-doc fixture). The flat (id, set-size, shingle)
    # relation derived from it is what every stage reads — frequency
    # ranking, prefix selection, candidate join and the exact
    # intersection count — so shuffles never carry arrays.
    sh = base.select("id", sh_expr.alias("_sh"))
    if reuse:
        sh = _persist(sh)
    tok = sh.select("id", F.size("_sh").alias("sz"),
                    F.explode("_sh").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("_df"))
    # rank each doc's shingles by (global rarity, shingle) — one shuffle
    # by id
    w = Window.partitionBy("id").orderBy("_df", "tok")
    pre = (tok.join(freq, "tok")
              .withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <=
                     F.col("sz") - F.floor(F.lit(threshold) * F.col("sz"))
                     + F.lit(1))
              .select("id", "sz", "tok", F.col("_rn").alias("pos")))
    a = pre.select("tok", F.col("id").alias("id_a"),
                   F.col("sz").alias("sz_a"), F.col("pos").alias("pos_a"))
    b = pre.select("tok", F.col("id").alias("id_b"),
                   F.col("sz").alias("sz_b"), F.col("pos").alias("pos_b"))
    eps = 1e-9
    # PPJoin positional filter (exact): if J(A,B) >= t the overlap is at
    # least alpha = t/(1+t)*(|A|+|B|), and at the FIRST common token
    # (positions p_a, p_b in the frequency-sorted order) the achievable
    # overlap is 1 + min(|A|-p_a, |B|-p_b) — every other common token
    # sorts after it on both sides. That first common token is inside
    # both prefixes, so the qualifying occurrence is always seen by this
    # join; occurrences that fail the bound are safely dropped before
    # the distinct. Measured on the 5k-doc fixture: 257k -> 9k candidate
    # pairs at t=0.55.
    alpha = (F.lit(threshold / (1.0 + threshold))
             * (F.col("sz_a") + F.col("sz_b")))
    cand = (a.join(b, "tok")
             .where(F.col("id_a") < F.col("id_b"))
             .where((F.col("sz_b") >= F.lit(threshold) * F.col("sz_a") - eps)
                    & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b") - eps))
             .where(1 + F.least(F.col("sz_a") - F.col("pos_a"),
                                F.col("sz_b") - F.col("pos_b"))
                    >= alpha - eps)
             .select("id_a", "id_b", "sz_a", "sz_b")
             .distinct())
    # exact verify WITHOUT shipping shingle arrays: |A ∩ B| is a join of
    # the candidate pairs against the flat token relation on both sides
    # + a count — fully partition-parallel (an array-based intersect here
    # rode AQE's coalesce of the small candidate relation into ONE task)
    ta = tok.select(F.col("id").alias("id_a"), "tok")
    tb = tok.select(F.col("id").alias("id_b"), "tok")
    inter = (cand.join(ta, "id_a")
                 .join(tb, ["id_b", "tok"])
                 .groupBy("id_a", "id_b", "sz_a", "sz_b")
                 .agg(F.count("*").alias("_inter")))
    pairs = (inter
             .withColumn("jaccard",
                         F.round(F.col("_inter") /
                                 (F.col("sz_a") + F.col("sz_b")
                                  - F.col("_inter")), 6))
             .where(F.col("jaccard") >= threshold)
             .select("id_a", "id_b", "jaccard"))
    return _track(pairs, sh)


def edit_similarity(a, b, *, decimals: int = 6):
    """THE engine's edit-similarity measure: 1 - levenshtein / longer
    length, rounded. One definition — :func:`edit_distance_pairs` and
    the audio label-conflict grading both compare against it, so the
    formula must not fork."""
    a, b = to_col(a), to_col(b)
    return F.round(
        1 - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b)),
        decimals)


def edit_distance_pairs(pairs: DataFrame, df: DataFrame, text_col: str,
                        id_col: str, *, prefix_len: int = 256) -> DataFrame:
    """Verify candidate near-dup ``pairs`` (``id_a``, ``id_b`` + any
    carry-through columns) with character-level edit distance: appends
    ``dist`` (Levenshtein on the first ``prefix_len`` chars, pure JVM
    ``F.levenshtein``) and ``edit_sim`` (1 - dist / longer-prefix-length).

    Edit similarity grades what set-based Jaccard cannot see — shingle
    sets ignore ORDER, so "the dog bit the man" and "the man bit the dog"
    are Jaccard-identical but edit-distant; conversely a single long
    insertion tanks Jaccard while edit_sim stays high. Running both on
    the same candidate pairs separates reorderings from insertions.

    Scale shape: texts join ONLY onto the already-blocked candidate
    pairs, truncated to ``prefix_len`` chars before the shuffle, so the
    payload per pair is bounded; Levenshtein's O(prefix_len^2) worst
    case is a constant, not a function of document size. NULL-text
    members drop out (absent evidence — the family's NULL policy)."""
    t = (df.where(F.col(text_col).isNotNull())
           .select(F.col(id_col).alias("_eid"),
                   F.substring(F.col(text_col), 1, prefix_len).alias("_t")))
    out = (pairs
           .join(t.select(F.col("_eid").alias("id_a"),
                          F.col("_t").alias("_ta")), "id_a")
           .join(t.select(F.col("_eid").alias("id_b"),
                          F.col("_t").alias("_tb")), "id_b")
           .withColumn("dist", F.levenshtein("_ta", "_tb"))
           .withColumn("edit_sim", edit_similarity("_ta", "_tb"))
           .drop("_ta", "_tb"))
    return _track(out, pairs)


# ---------------------------------------------------------------------------
# MinHash + LSH banding (the scale path)
# ---------------------------------------------------------------------------

_MH_PRIME = 4294967311  # smallest prime > 2^32 (classic minhash modulus)


def _mh_coeffs(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a odd, a < 2^30 so that
    a * base32 + b never overflows a signed 64-bit long — Spark 4 runs in
    ANSI mode where long overflow throws instead of wrapping). The
    ``mod _MH_PRIME`` in the stream is essential: without it min(a*x+b) is
    monotonic in x and every stream would pick the same min-shingle."""
    import random
    rnd = random.Random(seed)
    return [(rnd.randrange(1, 1 << 29) * 2 + 1, rnd.randrange(0, 1 << 30))
            for _ in range(n_hashes)]


def _mh_base32(col):
    """One string hash per shingle, truncated to 32 bits; the k permuted
    hash streams derive from it by multiply-add (k arithmetic ops per
    shingle instead of k full string hashes)."""
    return F.xxhash64(col).bitwiseAND(F.lit((1 << 32) - 1))


def minhash_signature(col, *, n_hashes: int = 64, shingle_n: int = 5):
    """k min-hashes of the shingle set — all JVM expressions: one xxhash64
    per shingle, k universal-hash derivations, array_min per stream."""
    base = F.transform(char_shingles(col, shingle_n), _mh_base32)

    def perm_fn(a, b):
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MH_PRIME))

    return F.array(*[F.array_min(F.transform(base, perm_fn(a, b)))
                     for a, b in _mh_coeffs(n_hashes)])


def minhash_signature_staged(df: DataFrame, text_col: str, id_col: str, *,
                             n_hashes: int = 64, shingle_n: int = 5,
                             extra_cols: list[str] | None = None) -> DataFrame:
    """(id, h0..h{k-1}) signatures as a PURE MAP — no shuffle, no groupBy.

    The shingle-hash array is materialized ONCE in a lower projection (the
    ``simhash_signatures_df`` staged pattern: CollapseProject keeps
    multi-referenced non-cheap aliases in place), then the k min-streams are
    ``array_min(transform(_base, a*h+b mod P))`` over the existing long
    array — linear arithmetic, not k re-shingles (the trap the inline
    ``minhash_signature`` expression falls into).

    Use this where a stateless per-row plan is required — Structured
    Streaming stages ahead of a stateful operator (a streaming groupBy would
    itself be a stateful aggregation and cannot precede
    ``applyInPandasWithState`` in append mode) — or wherever avoiding the
    explode shuffle beats the explode form's smaller per-row working set.
    Batch callers keep :func:`minhash_signatures_df` (explode + map-side
    combined partial mins), whose shuffle carries one 64-long row per doc.
    """
    staged = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in (extra_cols or [])],
        F.transform(char_shingles(text_col, shingle_n), _mh_base32)
        .alias("_base"),
    )
    sig_cols = [
        F.array_min(F.transform(
            F.col("_base"),
            (lambda a_, b_: lambda h: F.pmod(h * F.lit(a_) + F.lit(b_),
                                             F.lit(_MH_PRIME)))(a, b)))
        .alias(f"h{i}")
        for i, (a, b) in enumerate(_mh_coeffs(n_hashes))
    ]
    return staged.select("id", *(extra_cols or []), *sig_cols)


def band_hashes(n_hashes: int, bands: int):
    """The band-hash explode column shared by batch LSH and the streaming
    first-seen bucketer: ``explode(array(struct(band, xxhash64(h_slice))))``
    over an (id, h0..h{k-1}) signature relation."""
    assert n_hashes % bands == 0
    r = n_hashes // bands
    return F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"h{b * r + j}") for j in range(r)])
                 .alias("bhash"))
        for b in range(bands)
    ]))


def minhash_signatures_df(df: DataFrame, text_col: str, id_col: str, *,
                          n_hashes: int = 64, shingle_n: int = 5) -> DataFrame:
    """(id, h0..h{k-1}) signatures via explode + partial-aggregated mins.

    This is the scale plan: one explode of shingles (linear work, no array
    materialization per hash), ONE xxhash64 per shingle, then
    ``min(a_i * base + b_i)`` per document per stream — hash-aggregate with
    map-side combine, so the shuffle carries one 64-long row per document,
    never the shingles. (The expression-only ``minhash_signature`` inlines
    the shingle construction into each of the 64 array ops — measured 70x
    slower at 5k docs.)"""
    sh = df.select(F.col(id_col).alias("id"),
                   F.explode(char_shingles(text_col, shingle_n)).alias("_sh")) \
           .select("id", _mh_base32(F.col("_sh")).alias("_base"))
    aggs = [F.min(F.pmod(F.col("_base") * F.lit(a) + F.lit(b),
                         F.lit(_MH_PRIME))).alias(f"h{i}")
            for i, (a, b) in enumerate(_mh_coeffs(n_hashes))]
    return sh.groupBy("id").agg(*aggs)


def lsh_candidates(df: DataFrame, text_col: str, id_col: str, *,
                   n_hashes: int = 64, bands: int = 8,
                   shingle_n: int = 5, reuse: bool = True) -> DataFrame:
    """Candidate near-dup pairs: equal band-hash in >=1 of ``bands`` bands.

    rows_per_band = n_hashes/bands sets the similarity knee
    (s-curve threshold ~ (1/bands)^(1/rows_per_band)).

    ``reuse`` persists the signature relation (spill-to-disk) before the
    banded self-join: Spark does not reuse structurally-aliased self-join
    subtrees, so without it BOTH sides recompute the full explode +
    64-min aggregation — the dominant cost. Signatures are tiny relative
    to text (id + 64 longs/doc; ~0.5 KB/doc at any scale), and at the
    10^12-row design point the same relation would be checkpointed to a
    table between stages anyway.
    """
    assert n_hashes % bands == 0
    sig = minhash_signatures_df(df, text_col, id_col, n_hashes=n_hashes,
                                shingle_n=shingle_n)
    if reuse:
        sig = _persist(sig)
    banded = (sig.select("id", band_hashes(n_hashes, bands).alias("bb"))
                 .select("id", "bb.band", "bb.bhash"))
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (a.join(b, ["band", "bhash"])
              .where(F.col("a.id") < F.col("b.id"))
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
              .distinct())
    return _track(cands, sig)


def minhash_dedup_pairs(df: DataFrame, text_col: str, id_col: str, *,
                        threshold: float = 0.7, n_hashes: int = 64,
                        bands: int = 8, shingle_n: int = 5,
                        reuse: bool = True) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard.

    ``reuse`` (see :func:`lsh_candidates`) also persists the shingle-set
    relation consumed by both sides of the verify join."""
    cands = lsh_candidates(df, text_col, id_col, n_hashes=n_hashes,
                           bands=bands, shingle_n=shingle_n, reuse=reuse)
    sh = df.select(F.col(id_col).alias("id"),
                   char_shingles(text_col, shingle_n).alias("sh"))
    if reuse:
        sh = _persist(sh)
    pairs = (cands
             .join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
             .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
             .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
             .where(F.col("jaccard") >= threshold)
             .select("id_a", "id_b", "jaccard"))
    return _track(pairs, cands, sh)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_from_hashes(h) -> "F.Column":
    """64-bit SimHash from an already-materialized token-hash array column:
    per-bit signed votes via 64 aggregate passes — pure arithmetic over a
    long array that exists once per row."""
    def vote_fn(i):
        # NB: pyspark HOF lambdas must have exactly (acc, x) params — a
        # `i=i` default would be parsed as a third lambda variable
        return lambda acc, x: acc + F.when(
            F.shiftright(x, i).bitwiseAND(F.lit(1).cast("long")) == 1,
            F.lit(1)).otherwise(F.lit(-1))

    bits = []
    for i in range(64):
        votes = F.aggregate(h, F.lit(0), vote_fn(i))
        bits.append(F.when(votes > 0,
                           F.shiftleft(F.lit(1).cast("long"), i))
                    .otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def simhash(col) -> "F.Column":
    """64-bit SimHash over whitespace tokens as ONE expression.

    WARNING — inline form for tests/ad-hoc use only: higher-order array
    functions are CodegenFallback and never CSE'd, so the token-hash array
    here is re-evaluated by each of the 64 bit-vote aggregates (64 full
    tokenize+hash passes per document). The scale path is
    :func:`simhash_signatures_df`, which stages the hash array once per row
    (the ``text.profile_columns`` staged-projection pattern)."""
    return _simhash_from_hashes(
        F.transform(tokens(col), lambda t: F.xxhash64(t)))


def simhash_signatures_df(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh) SimHash signatures via a staged projection: the token-hash
    array is computed ONCE in a lower Project and all 64 bit-vote
    aggregates iterate the materialized array (cheap long arithmetic).

    Catalyst's CollapseProject keeps multi-referenced non-cheap aliases in
    place (same mechanism as ``text.profile_columns``), so the lower
    projection is not inlined back into the 64 aggregates. Pure map over
    the scan — no shuffle, no Python; survives any scale-up."""
    staged = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("_h"),
    )
    return staged.select("id", _simhash_from_hashes(F.col("_h")).alias("sh"))


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def hamming_pairs(sigs: DataFrame, *, sig_col: str = "sh",
                  id_col: str = "id", max_distance: int = 3,
                  reuse: bool = True) -> DataFrame:
    """Pairs within Hamming distance ``max_distance`` over ANY 64-bit
    signature column (text SimHash, audio spectral fingerprint, …),
    blocked on equal-width chunks of the signature: a pair within
    distance d differs in at most d chunks, so with MORE than d chunks it
    shares at least one (pigeonhole) — no full cross-join ever happens,
    and recall inside the radius is exact, not probabilistic.

    Chunk count scales with the radius: 4x16-bit for d <= 3, 8x8-bit for
    d <= 7 (the widest radius 64 bits supports with non-degenerate keys;
    larger is refused rather than silently losing pairs). The trade-off is
    explicit: 8-bit keys have 256 buckets per chunk, so random signatures
    collide in SOME chunk with probability ~8/256 — callers wanting d > 3
    on very large corpora should verify bucket sizes (the same discipline
    as LSH band tuning).

    ``reuse`` persists the signature relation before the chunked
    self-join — Spark does not dedupe aliased self-join subtrees, so
    without it both sides would recompute the upstream signature plan
    (for audio fingerprints that would be TWO full decode+FFT passes)."""
    if max_distance > 7:
        raise ValueError(
            "chunk blocking over a 64-bit signature supports "
            "max_distance <= 7 (8 chunks of 8 bits); larger radii need a "
            "longer signature")
    n_chunks = 4 if max_distance <= 3 else 8
    width = 64 // n_chunks
    mask = (1 << width) - 1
    s = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sh"))
    if reuse:
        s = _persist(s)
    chunks = s.select("id", "sh", F.explode(F.array(*[
        F.struct(F.lit(k).alias("chunk"),
                 F.shiftright(F.col("sh"), k * width).bitwiseAND(F.lit(mask))
                 .alias("ckey"))
        for k in range(n_chunks)
    ])).alias("c")).select("id", "sh", "c.chunk", "c.ckey")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (a.join(b, ["chunk", "ckey"])
             .where(F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"))
             .where(F.col("hamming") <= max_distance)
             .distinct())
    return _track(pairs, s)


def simhash_pairs(df: DataFrame, text_col: str, id_col: str, *,
                  max_distance: int = 3, reuse: bool = True) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — the text instantiation
    of :func:`hamming_pairs` over :func:`simhash_signatures_df`."""
    return hamming_pairs(simhash_signatures_df(df, text_col, id_col),
                         max_distance=max_distance, reuse=reuse)


# ---------------------------------------------------------------------------
# cross-document duplication metrics (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": a document's training value
# degrades with the fraction of its n-gram spans that also occur elsewhere
# in the corpus — the whole-doc near-dup passes above miss partial overlap)
# ---------------------------------------------------------------------------

def word_shingles(tokens_col, n: int = 5):
    """Distinct word n-grams (space-joined) over an ALREADY-MATERIALIZED
    token array column. Texts with fewer than ``n`` tokens yield the empty
    set (same guard rationale as :func:`char_shingles`: ``sequence(1, 0)``
    is [1, 0], not empty). Takes the token array, not the text, so callers
    stage the tokenization once — referencing ``tokens(text)`` here would
    re-split the text per shingle (HOF lambdas are never CSE'd)."""
    t = to_col(tokens_col)
    n_sh = F.greatest(F.size(t) - n + 1, F.lit(0))
    arr = F.array_distinct(F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: F.concat_ws(" ", F.slice(t, i, n))))
    return F.when(n_sh > 0, arr).otherwise(F.array().cast("array<string>"))


def cross_doc_dup_fraction(df: DataFrame, text_col: str, id_col: str, *,
                           n: int = 5, reuse: bool = True) -> DataFrame:
    """Per-document fraction of word n-grams that occur in at least one
    OTHER document: (id, n_shingles, n_dup_shingles, dup_frac).

    Shuffle accounting (the reason this survives 10^12 rows): the exploded
    relation carries only (id, xxhash64(shingle)) 16-byte pairs — never the
    shingle strings, never the text. Two shuffles on the hash (global
    occurrence count + join-back) and one on the id (per-doc fold); all
    three are partial-aggregated map-side. The join-back side is the
    (hash, n_docs) count relation — commonly much smaller than the exploded
    pairs and AQE-broadcastable per partition at moderate scale.

    A shingle counts as duplicated when it appears in >= 2 documents;
    within-document repeats are collapsed first (``word_shingles`` is
    distinct per doc), so a doc repeating its own phrase is NOT penalized —
    that is :func:`~..text.dup_word_fraction`'s job. Documents with fewer
    than ``n`` tokens (or NULL text) return n_shingles = 0 and a NULL
    ``dup_frac`` (nothing measurable, distinct from "0.0 = all unique").
    """
    staged = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("_t"))
    sh = staged.select(
        "id", F.explode(word_shingles("_t", n)).alias("g")
    ).select("id", F.xxhash64("g").alias("h"))
    # sh feeds BOTH the global count and the join-back side; without the
    # persist Spark re-tokenizes and re-shingles the whole corpus for each
    # (same self-reuse trap as lsh_candidates' signature relation)
    if reuse:
        sh = _persist(sh)
    # distinct-per-doc already guaranteed by word_shingles' array_distinct,
    # so count(*) per hash == number of documents containing the shingle
    counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (sh.join(counts, "h")
                 .groupBy("id")
                 .agg(F.count(F.lit(1)).alias("n_shingles"),
                      F.sum((F.col("n_docs") > 1).cast("long"))
                       .alias("n_dup_shingles")))
    base = df.select(F.col(id_col).alias("id"))
    out = (base.join(per_doc, "id", "left")
               .select(F.col("id").alias(id_col),
                       F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                       F.coalesce("n_dup_shingles", F.lit(0))
                        .alias("n_dup_shingles"))
               .withColumn(
                   "dup_frac",
                   F.when(F.col("n_shingles") > 0,
                          F.round(F.col("n_dup_shingles")
                                  / F.col("n_shingles"), 6))))
    return _track(out, sh)


def dup_ngram_violations(df: DataFrame, text_col: str, id_col: str, *,
                         n: int = 5, max_frac: float = 0.5,
                         ruleset_name: str = "engine",
                         severity: str = "warning") -> DataFrame:
    """Violation rows for the ``x-dup-ngram`` table check: documents whose
    :func:`cross_doc_dup_fraction` exceeds ``max_frac``. Unlike ``x-dedup``
    this flags PARTIAL overlap — a document may be no one's duplicate yet
    still be mostly stitched from spans that exist elsewhere."""
    scored = cross_doc_dup_fraction(df, text_col, id_col, n=n)
    return violation_rows(
        scored.where(F.col("dup_frac") > max_frac),
        row_id=F.col(id_col), constraint_id=f"dup-ngram:{text_col}",
        keyword="dup-ngram", instance_path=f"/{text_col}",
        schema_path=f"#/x-dup-ngram/{text_col}",
        message=F.concat(
            F.lit(f"Must have <= {max_frac:g} duplicated {n}-gram "
                  "fraction across the corpus: got "),
            F.col("dup_frac").cast("string")),
        actual=F.col("dup_frac"), expected=[f"<= {max_frac:g}"],
        ruleset_name=ruleset_name, severity=severity)


# ---------------------------------------------------------------------------
# corpus-level line dedup (C4 / RefinedWeb: boilerplate lines — nav bars,
# cookie banners, license footers — repeat across MANY pages; drop every
# occurrence of a line whose corpus-wide count crosses a threshold and
# reassemble the documents)
# ---------------------------------------------------------------------------

def line_counts(df: DataFrame, text_col: str, *,
                min_line_chars: int = 16) -> DataFrame:
    """(line_hash, n_occurrences) across the corpus for every ELIGIBLE
    line. The count key is xxhash64(lower(trim(line))) — case/margin
    variants of a boilerplate line collapse — and only lines with at least
    ``min_line_chars`` trimmed characters are counted: short generic lines
    ("Introduction", list bullets) repeat naturally and dropping them would
    shred ordinary documents. Only 8-byte hashes shuffle."""
    line = F.col("_line")
    return (df.select(F.explode(F.split(F.col(text_col), "\n"))
                       .alias("_line"))
              .where(F.length(F.trim(line)) >= min_line_chars)
              .select(F.xxhash64(F.lower(F.trim(line))).alias("line_hash"))
              .groupBy("line_hash")
              .agg(F.count(F.lit(1)).alias("n_occurrences")))


def dedup_lines(df: DataFrame, text_col: str, id_col: str, *,
                min_count: int = 2, min_line_chars: int = 16,
                broadcast_hot: bool = True, reuse: bool = True) -> DataFrame:
    """Corpus-level line dedup: rewrite each document with every line whose
    corpus-wide occurrence count >= ``min_count`` removed (ALL occurrences
    drop, C4-style — a boilerplate line is noise in every copy). Returns
    (id, text_clean, n_lines, n_dropped); NULL-text documents pass through
    with NULL text_clean and zero counts.

    Lines shorter than ``min_line_chars`` (trimmed) are never dropped (see
    :func:`line_counts`). Scale shape: the count pass shuffles 8-byte
    hashes only; the rewrite necessarily moves the surviving line text
    twice (join-back on line_hash, reassembly fold on id) — inherent to
    rewriting documents, and the payload is lines, never whole documents,
    until the final fold. The (hash, count) relation joined back is
    filtered to n_occurrences >= min_count first, so the common case
    broadcast-joins: only boilerplate hashes ship to executors. Set
    ``broadcast_hot=False`` when the boilerplate set itself is too large to
    broadcast (a pathological corpus) — the join falls back to a shuffle.
    """
    lines = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    # the exploded relation feeds both the count pass and the rewrite —
    # persist so the corpus is read and split exactly once
    if reuse:
        lines = _persist(lines)
    key = F.xxhash64(F.lower(F.trim(F.col("line"))))
    eligible = F.length(F.trim(F.col("line"))) >= min_line_chars
    hot = (lines.where(eligible)
                .select(key.alias("line_hash"))
                .groupBy("line_hash")
                .agg(F.count(F.lit(1)).alias("n_occurrences"))
                .where(F.col("n_occurrences") >= min_count))
    if broadcast_hot:
        hot = F.broadcast(hot)
    tagged = (lines.withColumn("_key",
                               F.when(eligible, key))
                   .join(hot,
                         F.col("_key") == F.col("line_hash"), "left")
                   .withColumn("_drop", F.col("line_hash").isNotNull()))
    rebuilt = (tagged.groupBy("id")
               .agg(F.count(F.lit(1)).alias("n_lines"),
                    F.sum(F.col("_drop").cast("long")).alias("n_dropped"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.when(~F.col("_drop"),
                                       F.struct("pos", "line")))),
                            lambda s: s["line"]),
                        "\n").alias("text_clean")))
    base = df.select(F.col(id_col).alias("id"),
                     F.col(text_col).isNull().alias("_null_text"))
    out = (base.join(rebuilt, "id", "left")
               .select(F.col("id").alias(id_col),
                       F.when(~F.col("_null_text"),
                              F.coalesce("text_clean", F.lit("")))
                        .alias("text_clean"),
                       F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                       F.coalesce("n_dropped", F.lit(0)).alias("n_dropped")))
    return _track(out, lines)


# ---------------------------------------------------------------------------
# exact-substring span dedup (Lee et al. 2022 "Deduplicating Training Data
# Makes Language Models Better", the ExactSubstr variant: any token span
# appearing >= min_count times in the corpus is removed from all but one
# occurrence). The paper builds a corpus-wide suffix array — inherently
# sequential; the distributed-friendly equivalent used here is a
# positional n-gram cover: a maximal duplicated substring of L >= n tokens
# contributes exactly its L-n+1 fixed-n windows, whose covered-position
# union is exactly its L tokens, so every duplicated span of length >= n
# is removed precisely (no over-extension: windows straddling the span
# boundary carry unique context and never reach min_count). Spans shorter
# than n are below the detection floor by design — the same "minimum match
# length" knob as the paper's 50-token threshold.
# ---------------------------------------------------------------------------

def remove_dup_spans(df: DataFrame, text_col: str, id_col: str, *,
                     n: int = 8, min_count: int = 2,
                     keep_first: bool = True, broadcast_hot: bool = True,
                     reuse: bool = True) -> DataFrame:
    """Remove every corpus-duplicated token span of >= ``n`` tokens:
    (id, text_clean, n_tokens, n_dup_tokens, n_spans).

    An OCCURRENCE is a (document, start-position) of a word n-gram; unlike
    :func:`cross_doc_dup_fraction` occurrences are positional and NOT
    collapsed per document, so within-document repeats count toward
    ``min_count`` (ExactSubstr semantics: the corpus contains the span
    twice, wherever the copies live). With ``keep_first`` the globally
    first occurrence of each duplicated n-gram — smallest (id, position),
    deterministic, id order is the tiebreak — survives, so one copy of
    every duplicated span remains in the corpus (the paper's
    all-but-one); ``keep_first=False`` drops every occurrence
    (boilerplate-style, like :func:`dedup_lines`).

    ``text_clean`` is rebuilt from the kept tokens joined with single
    spaces — whitespace-canonical output for EVERY document (the
    :mod:`..chunking` precedent), including untouched ones. NULL text
    passes through with NULL ``text_clean`` and zero counts; documents
    with fewer than ``n`` tokens are untouched (nothing detectable).

    Scale shape: the exploded relation carries (id, pos, xxhash64) —
    ~20 bytes per token position, never the grams, never the text. One
    shuffle on the hash for the global occurrence count, a join-back of
    the duplicated-hash relation (filtered to n_occ >= min_count FIRST, so
    it is commonly small and ``broadcast_hot`` broadcast-joins it; set
    False for pathologically duplicated corpora), one int-only shuffle on
    the id for the covered-position fold, and the inherent rebuild join
    that moves each document's token array once. ``reuse`` persists the
    exploded relation so the corpus tokenizes once for count + join-back
    (the :func:`lsh_candidates` self-reuse trap); free with
    :func:`release`/:func:`release_all`.
    """
    if n < 2:
        raise ValueError("remove_dup_spans requires n >= 2")
    staged = df.select(F.col(id_col).alias("id"),
                       tokens(text_col).alias("_t"))
    occ = (staged.where(F.size("_t") >= n)
           .select("id", F.posexplode(F.transform(
               F.sequence(F.lit(1), F.size("_t") - n + 1),
               lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("_t"),
                                                             i, n)))))
               .alias("p", "h")))
    if reuse:
        occ = _persist(occ)
    dup = (occ.groupBy("h")
              .agg(F.count(F.lit(1)).alias("n_occ"),
                   F.min(F.struct("id", "p")).alias("first_occ"))
              .where(F.col("n_occ") >= min_count))
    if broadcast_hot:
        dup = F.broadcast(dup)
    marked = occ.join(dup, "h")
    if keep_first:
        marked = marked.where(F.struct("id", "p") != F.col("first_occ"))
    cov = (marked.select(
               "id",
               F.explode(F.sequence(F.col("p"),
                                    F.col("p") + n - 1)).alias("pos"))
           .groupBy("id")
           .agg(F.array_sort(F.collect_set("pos")).alias("_cov")))
    # merged maximal runs from the sorted covered set: starts = elements
    # with no predecessor, ends = elements with no successor (linear, no
    # membership scans). _cov is an aggregate output attribute, not an
    # inlined alias, so the HOFs below iterate a materialized array.
    arr = F.col("_cov")
    starts = F.filter(arr, lambda v, i: (i == 0)
                      | (v - F.element_at(arr, i) > 1))
    ends = F.filter(arr, lambda v, i: (i == F.size(arr) - 1)
                    | (F.element_at(arr, i + 2) - v > 1))
    spans = cov.select(
        "id",
        F.size(arr).alias("n_dup_tokens"),
        F.size(starts).alias("n_spans"),
        F.zip_with(starts, ends,
                   lambda s, e: F.struct(s.alias("s"), e.alias("e")))
         .alias("_spans"))
    # rebuild: each kept token is checked against the doc's few merged
    # spans (O(n_tokens x n_spans)), never against the raw covered set
    rejoined = staged.join(spans, "id", "left")
    kept = F.filter(
        F.transform(F.col("_t"),
                    lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(F.col("_spans"),
                            lambda sp: (s["i"] >= sp["s"])
                            & (s["i"] <= sp["e"])))
    text_clean = F.when(
        F.col("_t").isNotNull(),
        F.when(F.col("_spans").isNull(), F.concat_ws(" ", F.col("_t")))
         .otherwise(F.concat_ws(
             " ", F.transform(kept, lambda s: s["t"]))))
    out = rejoined.select(
        F.col("id").alias(id_col),
        text_clean.alias("text_clean"),
        F.when(F.col("_t").isNull(), F.lit(0))
         .otherwise(F.size("_t")).alias("n_tokens"),
        F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"))
    return _track(out, occ)


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS
# algorithm): select the minimum k-gram hash in every window of w
# consecutive positions. Guarantees: any shared substring of length
# >= w + k - 1 yields at least one SHARED selected fingerprint, while only
# ~2/(w+1) of positions are kept — a sparse, overlap-complete sketch that
# sits between full positional spans (remove_dup_spans: exact but dense)
# and MinHash (sparse but set-level, no positions).
# ---------------------------------------------------------------------------

def _winnow_norm(col):
    """Lowercased, whitespace-collapsed text — winnowing's canonical form
    (case/format noise must not perturb gram hashes)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str, *,
                        k: int = 8, w: int = 8,
                        hash: str = "md5") -> DataFrame:
    """Selected (id, pos, fp) winnowing fingerprints over character
    k-grams of the normalized text; ``pos`` is the 1-based gram start,
    ``fp`` the first 16 hex chars of the gram's md5.

    md5 (not xxhash64) because the SELECTION depends on hash ORDER, not
    just equality — md5's byte order is engine-independent, so any SQL
    twin selects byte-identical fingerprints (xxhash64 exists only
    Spark-side). Ties inside a window go to the RIGHTMOST minimal hash
    (the paper's rule), encoded by taking the string-min of
    ``fp || '|' || lpad(10^9 - pos)`` so one ``min`` resolves both keys.

    Scale shape: one shuffle on the id, then a per-document ordered
    window (docs bound their own sort, as in sessionize); the selected
    set is ~2/(w+1) of positions. Documents shorter than w + k - 1
    normalized chars produce no fingerprints (no full window exists)."""
    if k < 2 or w < 2:
        raise ValueError("winnow_fingerprints requires k >= 2 and w >= 2")
    if hash not in ("md5", "xxhash64"):
        raise ValueError("hash must be 'md5' or 'xxhash64'")
    from pyspark.sql.window import Window
    # any FIXED total order over gram hashes yields a valid winnowing
    # scheme (the guarantee only needs per-window argmin consistency):
    # md5-prefix order is engine-portable (the oracle mode); xxhash64
    # rendered as zero-padded two's-complement hex is the fast
    # production mode (~2.5x cheaper per position, Spark-only order)
    if hash == "md5":
        def _h(g):
            return F.substring(F.md5(g), 1, 16)
    else:
        def _h(g):
            return F.lower(F.lpad(F.hex(F.xxhash64(g)), 16, "0"))
    staged = df.select(F.col(id_col).alias("id"),
                       _winnow_norm(F.col(text_col)).alias("_t"))
    grams = (staged.where(F.length("_t") >= k)
             .select("id", F.posexplode(F.transform(
                 F.sequence(F.lit(1), F.length("_t") - k + 1),
                 lambda i: _h(F.col("_t").substr(i, F.lit(k)))))
                 .alias("_p0", "fp"))
             .select("id", (F.col("_p0") + 1).alias("pos"), "fp"))
    key = F.concat(F.col("fp"), F.lit("|"),
                   F.lpad((F.lit(1000000000) - F.col("pos"))
                          .cast("string"), 10, "0"))
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    sel = (grams.select("id", key.alias("_key"),
                        F.min(key).over(win).alias("_mk"),
                        F.count(F.lit(1)).over(win).alias("_n"))
                .where(F.col("_n") == w)
                .select("id", F.col("_mk").alias("_key")).distinct())
    return sel.select(
        F.col("id"),
        (F.lit(1000000000)
         - F.substring("_key", 18, 10).cast("int")).alias("pos"),
        F.substring("_key", 1, 16).alias("fp"))


def winnow_dup_pairs(df: DataFrame, text_col: str, id_col: str, *,
                     k: int = 8, w: int = 8, min_shared: int = 2,
                     max_df: int | None = None,
                     hash: str = "md5") -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints:
    (id_a, id_b, n_shared) with id_a < id_b — the MOSS-style overlap
    candidate generator (every shared run of >= w + k - 1 chars is
    guaranteed to contribute).

    Scale shape: the self-join runs on the SELECTED fingerprint relation
    (~2/(w+1) density) and shuffles (fp, id) pairs only. A fingerprint
    occurring in many documents makes that hash's bucket quadratic —
    boilerplate grams are exactly such hubs — so ``max_df`` drops
    fingerprints present in more than that many documents before the
    join (the standard df-cap; NULL keeps all, small corpora only)."""
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w,
                              hash=hash) \
        .select("id", "fp").distinct()
    if max_df is not None:
        eligible = (fps.groupBy("fp")
                       .agg(F.count(F.lit(1)).alias("_df"))
                       .where(F.col("_df") <= max_df))
        fps = fps.join(F.broadcast(eligible.select("fp")), "fp")
    a = fps.select(F.col("fp"), F.col("id").alias("id_a"))
    b = fps.select(F.col("fp"), F.col("id").alias("id_b"))
    return (a.join(b, "fp")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .where(F.col("n_shared") >= min_shared))
