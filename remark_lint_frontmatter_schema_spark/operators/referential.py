"""Referential-integrity checks (SURVEY.md J3, north_star).

Reference analog: the schema<->file association resolve is the reference's
only join-shaped computation (``index.ts:250-268``); the north_star adds a
real FK check ("referential checks via broadcast Bloom filters").

Two strategies:

* ``dangling_keys`` — exact: ``fact LEFT ANTI JOIN broadcast(dim)``. The
  dim is broadcast, so the 10^12-row fact side never shuffles.
* ``bloom_prefilter`` — for dims too large to broadcast raw: build partial
  Bloom bitmaps per dim partition (mapInPandas, vectorized numpy double
  hashing), OR-merge on the driver (bitmaps are associative), broadcast the
  ~MB bitmap, test fact keys in a pandas UDF. Survivors (possible
  danglings, including false positives) then take the exact anti-join —
  the Bloom only shrinks the exact join's input, it never decides alone.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from .validate import violation_rows

_MERSENNE = (1 << 61) - 1


def _hash2(keys: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Two vectorized 64-bit hash streams per key (double hashing)."""
    h = pd.util.hash_array(keys.astype("string").to_numpy(dtype=object),
                           hash_key="0123456789abcdef")
    h1 = h.astype(np.uint64)
    h2 = (h1 * np.uint64(0x9E3779B97F4A7C15) + np.uint64(1)) & np.uint64(2**64 - 1)
    return h1, h2


class BloomFilter:
    """numpy bitset Bloom; vectorized add/test; OR-mergeable."""

    def __init__(self, n_bits: int, n_hashes: int = 5,
                 bits: np.ndarray | None = None):
        self.n_bits = int(n_bits)
        self.n_hashes = int(n_hashes)
        self.bits = bits if bits is not None else np.zeros(
            (self.n_bits + 63) // 64, dtype=np.uint64)

    @classmethod
    def sized_for(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        n_bits = max(64, int(-n_items * np.log(fpp) / (np.log(2) ** 2)))
        k = max(1, int(round(n_bits / max(n_items, 1) * np.log(2))))
        return cls(n_bits, min(k, 8))

    def _positions(self, keys: pd.Series) -> np.ndarray:
        h1, h2 = _hash2(keys)
        idx = [(h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)
               for i in range(self.n_hashes)]
        return np.stack(idx)  # (n_hashes, n_keys)

    def add(self, keys: pd.Series) -> None:
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, (pos // 64).astype(np.int64),
                         np.uint64(1) << (pos % np.uint64(64)))

    def might_contain(self, keys: pd.Series) -> np.ndarray:
        pos = self._positions(keys)
        words = self.bits[(pos // 64).astype(np.int64)]
        hit = (words >> (pos % np.uint64(64))) & np.uint64(1)
        return hit.all(axis=0).astype(bool)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        return BloomFilter(self.n_bits, self.n_hashes, self.bits | other.bits)


# fallback Bloom capacity when neither a hint nor plan stats are available:
# 4M keys at 1% fpp is a ~4.6 MB bitmap — broadcastable, and overflowing it
# only degrades fpp (more rows survive to the exact anti-join), never
# correctness.
_BLOOM_DEFAULT_CAPACITY = 4_000_000


def _estimate_rows(dim: DataFrame) -> int | None:
    """Row-count estimate from Catalyst plan statistics — metadata only,
    NO extra scan (rowCount when the catalog has it, else
    sizeInBytes/64B-per-row). Accuracy only sizes the bitmap: under-
    estimation degrades fpp gracefully (bloom is a prefilter, the exact
    anti-join decides), over-estimation wastes some broadcast bytes."""
    try:
        stats = dim._jdf.queryExecution().optimizedPlan().stats()  # noqa: SLF001
        rc = stats.rowCount()
        if rc.isDefined():
            return max(1, int(str(rc.get())))
        return max(1, int(str(stats.sizeInBytes())) // 64)
    except Exception:
        return None


def build_bloom(dim: DataFrame, key: str, *, n_items_hint: int | None = None,
                fpp: float = 0.01) -> BloomFilter:
    """Partial blooms per partition -> driver OR-merge (associative).

    Sizing never costs a scan: an explicit ``n_items_hint`` (dim row count
    — cheap catalog metadata on real tables, carried by the ``x-ref``
    DSL's ``n_items``) wins; else Catalyst plan statistics estimate it
    (×2 safety margin); else a pessimistic 4M default. A right-sized
    bitmap matters beyond broadcast bytes: membership probes on a small
    dim's bitmap stay in L1/L2 instead of random-accessing megabytes."""
    if n_items_hint:
        n = n_items_hint
    else:
        est = _estimate_rows(dim)
        # clamp: plans without real stats report sizeInBytes near
        # Long.MaxValue — the estimate may only SHRINK the bitmap below
        # the pessimistic cap, never grow it (big dims just degrade fpp)
        n = min(est * 2, _BLOOM_DEFAULT_CAPACITY) if est \
            else _BLOOM_DEFAULT_CAPACITY
    proto = BloomFilter.sized_for(n, fpp)
    n_bits, n_hashes = proto.n_bits, proto.n_hashes

    def partial(batches):
        bf = BloomFilter(n_bits, n_hashes)
        seen = False
        for pdf in batches:
            k = pdf[key].dropna()
            if len(k):
                bf.add(k)
                seen = True
        if seen:
            yield pd.DataFrame({"bits": [bf.bits.tobytes()]})

    parts = dim.select(key).mapInPandas(partial, schema="bits binary").collect()
    merged = BloomFilter(n_bits, n_hashes)
    for row in parts:
        merged = merged.merge(BloomFilter(
            n_bits, n_hashes, np.frombuffer(bytes(row.bits), dtype=np.uint64).copy()))
    return merged


def dangling_keys(fact: DataFrame, fact_key: str, dim: DataFrame,
                  dim_key: str, *, use_bloom: bool = False,
                  bloom: BloomFilter | None = None,
                  n_items_hint: int | None = None) -> DataFrame:
    """Fact rows whose key has no match in dim (NULLs are not dangling —
    required/NULL is a separate constraint, matching SQL FK semantics)."""
    fact_nn = fact.where(F.col(fact_key).isNotNull())
    if use_bloom and (fact.schema[fact_key].dataType
                      != dim.schema[dim_key].dataType):
        # the Bloom hashes pandas string renderings, which differ across
        # types ('5.0' for a double vs '5' for a long) while Spark's join
        # coerces and matches — Bloom-negative rows would be declared
        # dangling with no exact check. Mixed-type keys take the exact
        # anti-join; align the key types to use the Bloom strategy.
        use_bloom = False
    if use_bloom:
        bf = bloom or build_bloom(dim, dim_key, n_items_hint=n_items_hint)
        spark = fact.sparkSession
        bc = spark.sparkContext.broadcast((bf.n_bits, bf.n_hashes,
                                           bf.bits.tobytes()))

        @F.pandas_udf(BooleanType())
        def maybe_in_dim(keys: pd.Series) -> pd.Series:
            n_bits, n_hashes, raw = bc.value
            bf_local = BloomFilter(n_bits, n_hashes,
                                   np.frombuffer(raw, dtype=np.uint64))
            return pd.Series(bf_local.might_contain(keys), index=keys.index)

        # Bloom-negative rows are *definitely* dangling; Bloom-positive
        # survivors still need the exact anti-join (false positives)
        fact_nn = fact_nn.withColumn("_maybe", maybe_in_dim(F.col(fact_key)))
        definite = fact_nn.where(~F.col("_maybe")).drop("_maybe")
        candidates = fact_nn.where(F.col("_maybe")).drop("_maybe")
        survivors = candidates.join(
            F.broadcast(dim.select(dim_key).distinct()),
            on=candidates[fact_key] == dim[dim_key], how="left_anti")
        return definite.unionByName(survivors)
    return fact_nn.join(F.broadcast(dim.select(dim_key).distinct()),
                        on=fact_nn[fact_key] == dim[dim_key], how="left_anti")


def referential_violations(fact: DataFrame, fact_key: str, dim: DataFrame,
                           dim_key: str, *, row_id: str,
                           ruleset_name: str = "engine",
                           use_bloom: bool = False,
                           n_items_hint: int | None = None,
                           severity: str = "warning") -> DataFrame:
    return violation_rows(
        dangling_keys(fact, fact_key, dim, dim_key, use_bloom=use_bloom,
                      n_items_hint=n_items_hint),
        row_id=F.col(row_id), constraint_id=f"ref:{fact_key}->{dim_key}",
        keyword="ref", instance_path=f"/{fact_key}",
        schema_path=f"#/x-ref/{fact_key}",
        message=f"Must reference an existing '{dim_key}'",
        actual=F.col(fact_key), ruleset_name=ruleset_name,
        severity=severity)
