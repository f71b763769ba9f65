"""Two-sample embedding drift via kernel MMD with random Fourier features.

SURVEY.md W1 covers scalar drift (KS / PSI / EMD / chi-square on
histograms); embeddings need a MULTIVARIATE two-sample test — per-dimension
KS misses joint-distribution shifts (e.g. a rotation) entirely. Maximum
Mean Discrepancy with an RBF kernel (Gretton et al., "A Kernel Two-Sample
Test", JMLR 2012) is the standard answer; the exact statistic is O(n^2)
kernel evaluations, which is dead at scale. Rahimi & Recht's random
Fourier features (NeurIPS 2007) make it linear: with z(x) =
sqrt(2/D) * cos(W^T x + b), W ~ N(0, 2*gamma*I), b ~ U[0, 2*pi),
E[z(x)^T z(y)] = exp(-gamma*||x-y||^2), so

    MMD^2 ~= || mean_{x in A} z(x) - mean_{y in B} z(y) ||^2

— two D-dimensional feature means. Each side's mean is a streaming sum:
one Arrow-batched ``mapInPandas`` pass emits a (side, n, partial-sum)
row PER BATCH (vectorized numpy matmul, never per-row Python), so the
shuffle carries ~2 x n_batches tiny rows instead of n x D exploded
values; a groupBy over the exploded partials (batches x D rows) merges
them. Deterministic: W and b come from a seeded generator, so the
statistic is reproducible run-to-run and across partitionings (feature
sums are order-independent up to float addition order; tests pin to 1e-6).

No SQL twin (the statistic needs a seeded Gaussian matrix), so the driver
records a rows-only check; correctness is pinned quantitatively in pytest:
identical distributions -> MMD^2 ~ 0, a mean shift or covariance change
-> MMD^2 large, and the Spark value matches a pure-numpy reference
implementation on the same rows to 1e-6.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _persist
from .validate import to_col


def _rff_partials(batches, *, w, b, side_col: str, vec_col: str, dim: int):
    """Per-Arrow-batch partial feature sums: rows (side, n, sums[D])."""
    import numpy as np
    import pandas as pd

    d_feat = w.shape[1]
    scale = math.sqrt(2.0 / d_feat)
    for pdf in batches:
        if not len(pdf):
            continue
        out_side, out_n, out_sums = [], [], []
        for side, grp in pdf.groupby(side_col, dropna=True):
            vecs = [v for v in grp[vec_col] if v is not None and len(v) == dim]
            if not vecs:
                continue
            x = np.asarray(np.stack(vecs), dtype=np.float64)
            z = scale * np.cos(x @ w + b)
            out_side.append(str(side))
            out_n.append(len(vecs))
            out_sums.append(z.sum(axis=0).tolist())
        if out_side:
            yield pd.DataFrame({"side": out_side, "n": out_n,
                                "sums": out_sums})


def mmd_drift(df: DataFrame, vec_col: str, side_col, side_a: str,
              side_b: str, *, n_features: int = 128,
              gamma: float | None = None, seed: int = 42,
              dim: int | None = None) -> DataFrame:
    """One-row MMD^2 drift statistic between two embedding populations.

    ``side_col`` is a Column or column name whose (string) value labels
    each row's population; rows matching neither ``side_a`` nor
    ``side_b`` are ignored, as are NULL / wrong-length vectors (counted
    into neither side — validate shape first with the array keywords).
    ``gamma`` defaults to 1/dim (the sklearn RBF convention); ``dim`` is
    probed from the first non-null vector when not given (one tiny job —
    pass it explicitly in pipelines).

    Output columns: n_a, n_b, n_features, gamma, mmd2, mmd — the
    statistics are NULL when either side ends up with zero valid rows
    (an empty population is an error to surface, not zero drift, and
    definitely not the phantom ||mean_other||^2 a zero-filled mean
    would produce).
    """
    side = to_col(side_col)
    src = (df.select(side.cast("string").alias("_side"),
                     F.col(vec_col).alias("_vec"))
           .where(F.col("_side").isin([side_a, side_b])
                  & F.col("_vec").isNotNull()))
    if dim is None:
        probe = src.select(F.size("_vec").alias("d")).first()
        if probe is None:
            raise ValueError("mmd_drift: no rows on either side")
        dim = int(probe["d"])
    if gamma is None:
        gamma = 1.0 / dim
    import numpy as np
    rng = np.random.default_rng(seed)
    w = rng.normal(0.0, math.sqrt(2.0 * gamma), size=(dim, n_features))
    b = rng.uniform(0.0, 2.0 * math.pi, size=n_features)

    partials = _persist(src.mapInPandas(
        lambda it: _rff_partials(it, w=w, b=b, side_col="_side",
                                 vec_col="_vec", dim=dim),
        schema="side string, n long, sums array<double>"))
    ns = partials.groupBy("side").agg(F.sum("n").alias("n"))
    sums = (partials
            .select("side", F.posexplode("sums").alias("pos", "val"))
            .groupBy("side", "pos").agg(F.sum("val").alias("s")))
    means = (sums.join(F.broadcast(ns), "side")
             .select("side", "pos", (F.col("s") / F.col("n")).alias("m")))
    diff = (means.groupBy("pos").agg(
        (F.coalesce(F.sum(F.when(F.col("side") == side_a, F.col("m"))),
                    F.lit(0.0))
         - F.coalesce(F.sum(F.when(F.col("side") == side_b, F.col("m"))),
                      F.lit(0.0))).alias("dm")))
    mmd2 = diff.agg(F.sum(F.col("dm") * F.col("dm")).alias("mmd2"))
    n_a = F.coalesce(F.sum(F.when(F.col("side") == side_a, F.col("n"))),
                     F.lit(0)).alias("n_a")
    n_b = F.coalesce(F.sum(F.when(F.col("side") == side_b, F.col("n"))),
                     F.lit(0)).alias("n_b")
    counts = ns.agg(n_a, n_b)
    # one side empty (bad label, all-wrong-length vectors): its "mean"
    # would coalesce to the zero vector and mmd2 would report
    # ||mean_other||^2 — a large, meaningless statistic. NULL the result
    # instead so an alerting gate surfaces the empty population, not
    # phantom drift.
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return (counts.crossJoin(F.broadcast(mmd2)).select(
        "n_a", "n_b",
        F.lit(n_features).alias("n_features"),
        F.round(F.lit(float(gamma)), 9).alias("gamma"),
        F.when(both, F.round(F.col("mmd2"), 9)).alias("mmd2"),
        F.when(both,
               F.round(F.sqrt(F.greatest(F.col("mmd2"), F.lit(0.0))), 9))
         .alias("mmd")))


def mmd_reference(xa, xb, *, n_features: int = 128,
                  gamma: float | None = None, seed: int = 42) -> float:
    """Pure-numpy twin of :func:`mmd_drift` (same W, b, estimator) for
    test parity — O(n*D), driver-side, numpy only."""
    import numpy as np
    xa = np.asarray(xa, dtype=np.float64)
    xb = np.asarray(xb, dtype=np.float64)
    dim = xa.shape[1]
    if gamma is None:
        gamma = 1.0 / dim
    rng = np.random.default_rng(seed)
    w = rng.normal(0.0, math.sqrt(2.0 * gamma), size=(dim, n_features))
    b = rng.uniform(0.0, 2.0 * math.pi, size=n_features)
    scale = math.sqrt(2.0 / n_features)
    za = scale * np.cos(xa @ w + b)
    zb = scale * np.cos(xb @ w + b)
    d = za.mean(axis=0) - zb.mean(axis=0)
    return float(d @ d)
