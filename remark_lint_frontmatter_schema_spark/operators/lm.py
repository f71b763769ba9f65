"""Distributed n-gram language-model training + perplexity scoring.

The CCNet recipe (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data") filters web corpora by
language-model perplexity: documents whose per-token log-probability
under a reference LM is poor are tail-quality candidates. CCNet uses a
KenLM 5-gram; this module implements the same *pipeline shape* —
train an n-gram model over one corpus, score every document of another
(or the same) corpus — as pure DataFrame algebra with add-k smoothing,
so both phases are shuffles of counts, never of text bodies.

Reference analog: the reference engine's per-file lint verdict
(`/root/reference/index.ts:118-137`) is a per-document quality gate;
perplexity scoring is the corpus-scale generalization a training-data
pipeline needs (a `quality` column to threshold instead of a boolean).

Scale design (the 100 TB story):

* Tokenize + build n-gram arrays entirely JVM-side (``lower`` +
  ``regexp_replace`` + ``split`` + ``slice``/``arrays_zip`` — no UDF),
  one projection per document.
* TRAIN = explode n-grams -> groupBy(context, token).count(). Map-side
  partial aggregation means the shuffle carries one row per *distinct*
  n-gram per task, not per occurrence. Context totals derive from the
  n-gram counts themselves (sum over the token position) — the corpus
  is scanned ONCE for both tables.
* SCORE = explode n-grams -> two left joins against the count tables
  -> groupBy(doc) sum of log-probs. With ``hash_keys=True`` (default)
  the join keys are ``xxhash64`` longs on BOTH sides, so the shuffled
  payload is (hash, count) / (hash, doc_id) — 16-byte rows — instead
  of raw token strings. A 64-bit collision merges the counts of two
  distinct n-grams; at 4e9 distinct n-grams the expected number of
  colliding *pairs* is ~0.4 (birthday bound 2^-65 per pair), and one
  collision perturbs one smoothed count — negligible for a quality
  score and switchable off (``hash_keys=False``) for byte-exact
  parity with the DuckDB oracle.
* ``broadcast_model=True`` skips the shuffle joins entirely when the
  model is known to fit an executor (e.g. a domain-specific LM) —
  the score phase is then map-only.

Smoothing: add-k (Lidstone). P(t | ctx) = (C(ctx,t) + k) / (C(ctx) +
k·V) with V = |observed vocabulary| + 1 (the +1 reserves mass for
unseen tokens). Unseen context => C(ctx)=0 and the formula degrades to
the uniform 1/V, exactly as the closed form requires — no special
case. Kneser-Ney is deliberately out of scope: its discount bookkeeping
buys little for *relative* document ranking, which is how CCNet uses
the score (threshold on head/middle/tail buckets).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _persist, _track
from .validate import to_col, violation_rows

#: Beginning-of-document sentinel. Prepended (n-1)× so the first real
#: token is conditioned on document start, as in any sentence-level LM.
BOS = "<s>"

#: Join-key separator for multi-token contexts; \x1f cannot appear in
#: canonical tokens (they are [a-z]+ by construction).
_SEP = "\x1f"


def canon_tokens(col) -> F.Column:
    """Canonical token array: lowercase, every non-letter run becomes a
    single space, split — the corpus-wide tokenization also used by the
    gibberish scorer (operators/text.py), chosen because it is
    reproducible verbatim in ANSI SQL for the oracle."""
    c = to_col(col)
    canon = F.trim(F.regexp_replace(F.lower(c), "[^a-z]+", " "))
    return F.filter(F.split(canon, " "), lambda t: t != "")


def _ngram_pairs(docs: DataFrame, *, n: int, id_col: str,
                 text_col: str) -> DataFrame:
    """(id, ctx, tok) — one row per n-gram occurrence. The (n-1)-token
    context is space-joined into one string (single-token for bigrams).
    Built JVM-side: BOS-padding + two slices + zip, then ONE explode."""
    toks = F.concat(F.array(*[F.lit(BOS)] * (n - 1)),
                    canon_tokens(text_col))
    # ctx_i = join(toks[i .. i+n-2]), tok_i = toks[i+n-1]
    staged = docs.select(
        F.col(id_col).alias("_lm_id"), toks.alias("_lm_toks"))
    sz = F.size("_lm_toks")
    ctxs = F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.concat_ws(
            _SEP, F.slice("_lm_toks", i, n - 1)))
    tks = F.slice("_lm_toks", n, sz - (n - 1))
    pairs = staged.where(sz >= n).select(
        "_lm_id",
        F.explode(F.arrays_zip(ctxs.alias("ctx"),
                               tks.alias("tok"))).alias("_ng"))
    return pairs.select(
        "_lm_id", F.col("_ng.ctx").alias("_lm_ctx"),
        F.col("_ng.tok").alias("_lm_tok"))


class NgramLM:
    """A trained add-k n-gram model: two count DataFrames + two scalars.

    ``ngram_counts``: (_lm_ctx, _lm_tok, _lm_n) — C(ctx, tok).
    ``ctx_counts``:   (_lm_ctx, _lm_ctx_n)      — C(ctx) = Σ_t C(ctx,t).
    ``vocab_size``:   |distinct observed tokens| + 1 (unseen mass).

    Both DataFrames are lazy plans over the training corpus unless
    ``persist=True`` was passed to :func:`train_ngram_lm` (the default —
    scoring joins against each of them, and ctx_counts derives from
    ngram_counts, so an unpersisted model would re-scan the corpus
    three times per scoring pass).
    """

    def __init__(self, ngram_counts: DataFrame, ctx_counts: DataFrame,
                 vocab_size: int, *, n: int, k: float):
        self.ngram_counts = ngram_counts
        self.ctx_counts = ctx_counts
        self.vocab_size = int(vocab_size)
        self.n = n
        self.k = k


def train_ngram_lm(docs: DataFrame, *, n: int = 2, k: float = 0.5,
                   id_col: str = "doc_id", text_col: str = "text",
                   persist: bool = True) -> NgramLM:
    """Train an add-k n-gram LM over ``docs``. One corpus scan: the
    exploded n-gram relation feeds C(ctx,tok) via groupBy (map-side
    combine — shuffle rows bounded by distinct n-grams per task), and
    C(ctx) + vocabulary both derive from those counts, not from the
    corpus. ``vocab_size`` is the one driver-side scalar (a count over
    the distinct-token relation — driver receives ONE long)."""
    if n < 2:
        raise ValueError("n must be >= 2 (unigram perplexity is just "
                         "token frequency — use text.profile instead)")
    if k <= 0:
        raise ValueError("add-k smoothing needs k > 0")
    pairs = _ngram_pairs(docs, n=n, id_col=id_col, text_col=text_col)
    counts = pairs.groupBy("_lm_ctx", "_lm_tok").agg(
        F.count(F.lit(1)).alias("_lm_n"))
    if persist:
        counts = _persist(counts)
    ctx = counts.groupBy("_lm_ctx").agg(F.sum("_lm_n").alias("_lm_ctx_n"))
    if persist:
        ctx = _persist(ctx)
    # Every non-BOS token appears in the tok position (BOS padding makes
    # position 0..n-2 the only BOS-bearing slots), so distinct(_lm_tok)
    # IS the observed vocabulary.
    vocab = counts.select("_lm_tok").distinct().count() + 1
    model = NgramLM(counts, ctx, vocab, n=n, k=k)
    return model


def release_model(model: NgramLM) -> None:
    """Unpersist a model trained with persist=True (idempotent)."""
    for df in (model.ngram_counts, model.ctx_counts):
        if df.is_cached:
            df.unpersist()


def perplexity(docs: DataFrame, model: NgramLM, *,
               id_col: str = "doc_id", text_col: str = "text",
               hash_keys: bool = True,
               broadcast_model: bool = False) -> DataFrame:
    """Score every document: (id_col, n_ngrams, avg_logp, ppl).

    ppl = exp(-mean ln P(tok|ctx)) over the document's n-grams under
    ``model``; documents with fewer than one n-gram (empty after
    canonicalization) get NULLs, preserved by the final left join so
    every input row comes back.

    ``hash_keys=True`` (default) re-keys both joins on xxhash64 longs —
    the scale path (see module docstring for the collision budget);
    ``False`` joins on the raw strings for byte-exact oracle parity.
    ``broadcast_model=True`` hints both model tables broadcast-able
    (map-only scoring) — only for models known to fit an executor."""
    pairs = _ngram_pairs(docs, n=model.n, id_col=id_col,
                         text_col=text_col)
    result = _score_pairs(docs, pairs, model, id_col=id_col,
                          hash_keys=hash_keys,
                          broadcast_model=broadcast_model)
    return _track(result, model.ngram_counts, model.ctx_counts)


def train_and_score(docs: DataFrame, *, n: int = 2, k: float = 0.5,
                    id_col: str = "doc_id", text_col: str = "text",
                    hash_keys: bool = True) -> DataFrame:
    """Self-scoring (the CCNet corpus-quality shape: every document's
    perplexity under the corpus's own LM) with the n-gram relation
    materialized ONCE: the exploded (id, ctx, tok) pairs are persisted
    and feed the count tables AND the scoring joins, so the corpus is
    tokenized exactly once regardless of how Catalyst duplicates the
    array-build under the Generate (the separate train+score path
    re-tokenizes per phase — fine cross-corpus, wasteful here).
    Returns the same columns as :func:`perplexity`. Cached
    intermediates are released via dedup.release / release_all
    (attached with the repo's ``_rlfs_persisted`` convention)."""
    if n < 2:
        raise ValueError("n must be >= 2 (unigram perplexity is just "
                         "token frequency — use text.profile instead)")
    if k <= 0:
        raise ValueError("add-k smoothing needs k > 0")
    pairs = _persist(_ngram_pairs(docs, n=n, id_col=id_col,
                                  text_col=text_col))
    counts = _persist(pairs.groupBy("_lm_ctx", "_lm_tok").agg(
        F.count(F.lit(1)).alias("_lm_n")))
    ctx = counts.groupBy("_lm_ctx").agg(F.sum("_lm_n").alias("_lm_ctx_n"))
    v = counts.select("_lm_tok").distinct().count() + 1
    model = NgramLM(counts, ctx, v, n=n, k=k)
    out = _score_pairs(docs, pairs, model, id_col=id_col,
                       hash_keys=hash_keys)
    return _track(out, pairs, counts)


def _score_pairs(docs: DataFrame, pairs: DataFrame, model: NgramLM, *,
                 id_col: str, hash_keys: bool,
                 broadcast_model: bool = False) -> DataFrame:
    """Join pre-built (id, ctx, tok) pairs against a model's count
    tables and aggregate per document (shared by perplexity and
    train_and_score)."""
    k, v = float(model.k), model.vocab_size
    ng, cx = model.ngram_counts, model.ctx_counts
    if hash_keys:
        hkey = F.xxhash64(F.concat_ws(_SEP, "_lm_ctx", "_lm_tok"))
        ckey = F.xxhash64("_lm_ctx")
        pairs = pairs.select("_lm_id", hkey.alias("_lm_h"),
                             ckey.alias("_lm_ch"))
        ng = ng.select(hkey.alias("_lm_h"), "_lm_n")
        cx = cx.select(ckey.alias("_lm_ch"), "_lm_ctx_n")
        on_ng, on_cx = ["_lm_h"], ["_lm_ch"]
    else:
        ng = ng.select("_lm_ctx", "_lm_tok", "_lm_n")
        cx = cx.select("_lm_ctx", "_lm_ctx_n")
        on_ng, on_cx = ["_lm_ctx", "_lm_tok"], ["_lm_ctx"]
    if broadcast_model:
        ng, cx = F.broadcast(ng), F.broadcast(cx)
    logp = F.log((F.coalesce("_lm_n", F.lit(0)) + k) /
                 (F.coalesce("_lm_ctx_n", F.lit(0)) + k * v))
    scored = (pairs
              .join(ng, on=on_ng, how="left")
              .join(cx, on=on_cx, how="left")
              .groupBy("_lm_id")
              .agg(F.count(F.lit(1)).alias("n_ngrams"),
                   F.avg(logp).alias("avg_logp")))
    out = docs.select(F.col(id_col)).join(
        scored.withColumnRenamed("_lm_id", id_col), on=id_col, how="left")
    return out.select(
        id_col, "n_ngrams", "avg_logp",
        F.exp(-F.col("avg_logp")).alias("ppl"))


def lm_ppl_violations(df: DataFrame, text_col: str, id_col: str, *,
                      max_ppl: float, n: int = 2, k: float = 0.5,
                      ruleset_name: str = "engine",
                      severity: str = "warning") -> DataFrame:
    """Violation rows for documents whose perplexity under the corpus's own n-gram LM exceeds
    ``max_ppl`` — the ``x-lm-ppl`` declarative gate (the CCNet tail
    bucket as a lint finding). Unscorable documents (no n-grams after
    canonicalization) never violate here: emptiness/shortness is
    minLength's finding, not a language-model one (the x-gibberish
    policy)."""
    scored = train_and_score(df, n=n, k=k, id_col=id_col,
                             text_col=text_col)
    bad = scored.where(F.col("ppl") > max_ppl)
    out = violation_rows(
        bad, row_id=F.col(id_col), constraint_id=f"lm-ppl:{text_col}",
        keyword="lm-ppl", instance_path=f"/{text_col}",
        schema_path=f"#/x-lm-ppl/{text_col}",
        message=(f"Must score at most {max_ppl:g} perplexity under the "
                 f"corpus {n}-gram LM"),
        actual=F.col("ppl"), expected=[f"<= {max_ppl:g}"],
        ruleset_name=ruleset_name, severity=severity)
    return _track(out, scored)


def perplexity_py(texts: dict, *, n: int = 2, k: float = 0.5):
    """Pure-python twin for tests: {id: text} -> {id: (n_ngrams,
    avg_logp, ppl) | None}. Mirrors train_ngram_lm + perplexity
    (self-scored) exactly, including BOS padding and V = vocab+1."""
    import re

    def toks(t):
        return [w for w in re.sub(r"[^a-z]+", " ", t.lower()).split() if w]

    grams = {}
    for t in texts.values():
        ts = [BOS] * (n - 1) + toks(t)
        for i in range(len(ts) - n + 1):
            key = (_SEP.join(ts[i:i + n - 1]), ts[i + n - 1])
            grams[key] = grams.get(key, 0) + 1
    ctx = {}
    for (c, _), m in grams.items():
        ctx[c] = ctx.get(c, 0) + m
    vocab = len({t for (_, t) in grams}) + 1
    out = {}
    for did, t in texts.items():
        ts = [BOS] * (n - 1) + toks(t)
        if len(ts) < n:
            out[did] = None
            continue
        lps = []
        for i in range(len(ts) - n + 1):
            c, tok = _SEP.join(ts[i:i + n - 1]), ts[i + n - 1]
            num = grams.get((c, tok), 0) + k
            den = ctx.get(c, 0) + k * vocab
            lps.append(math.log(num / den))
        avg = sum(lps) / len(lps)
        out[did] = (len(lps), avg, math.exp(-avg))
    return out
