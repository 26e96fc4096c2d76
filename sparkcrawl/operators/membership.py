"""Prefix-sharded bloom membership over url_hash digests (F1).

Direct generalization of the reference's ``UniqueUriFilter``
(src/spyder/core/uri_uniq.py, SURVEY F1): the reference shards its
seen-set dict by the first ``depth`` hex chars of the URL digest; we
shard bloom filters by the same prefix so each shard stays small and
shards can be built/merged independently per partition.

The crawl engine does not use these filters: seen-URL dedup is the
``left_anti`` join of operators/dedup.py alone, which reads every seen
key whether or not a bloom prefilters the candidates.
:class:`ShardedBloom` and :class:`BloomStore` stay only until a
benchmark change drops the ``membership.bloom_*`` spans that
perfbench/trace.py resolves from them; after that only
:func:`_bloom_params` and :func:`bloom_fpr_curve` (the
``membership_bloom_fpr`` query) are needed.

Background (public literature, see PAPERS.md): sizing follows the
classic bloom formulae; the space-budget tradeoff across a shard
*collection* is the subject of "Optimizing Collections of Bloom Filters
within a Space Budget" (VLDB 2024), and "Vacuum Filters" (VLDB 2019)
add deletion at better space efficiency.

Implementation: numpy bit arrays built per Spark partition via
``mapInPandas``, OR-merged on the driver (bounded: shards × m/8 bytes),
broadcast back for the membership probe.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_HASH_ROUNDS = 2  # double-hashing: h1 + i*h2


def _bloom_params(capacity: int, fpp: float) -> tuple[int, int]:
    m = max(64, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
    m = 1 << (m - 1).bit_length()  # pow2 for cheap modulo
    k = max(1, int(round(m / capacity * math.log(2))))
    return m, min(k, 8)


def _positions(hashes_hex: pd.Series, m: int, k: int) -> np.ndarray:
    """k bit positions per 40-char sha1 hex digest, derived from two
    independent 32-bit slices (double hashing)."""
    h1 = np.array([int(h[:8], 16) for h in hashes_hex], dtype=np.uint64)
    h2 = np.array([int(h[8:16], 16) | 1 for h in hashes_hex], dtype=np.uint64)
    idx = np.arange(k, dtype=np.uint64)[:, None]
    return ((h1[None, :] + idx * h2[None, :]) % np.uint64(m)).astype(np.int64)


class ShardedBloom:
    """Immutable sharded bloom built from a DataFrame of url_hash values."""

    def __init__(self, shards: dict[str, np.ndarray], m: int, k: int, depth: int):
        self.shards = shards  # prefix -> uint8 bit array (m/8 bytes)
        self.m = m
        self.k = k
        self.depth = depth

    @classmethod
    def build(
        cls,
        hashes: DataFrame,
        column: str = "url_hash",
        depth: int = 2,
        capacity_per_shard: int = 1 << 16,
        fpp: float = 0.01,
    ) -> "ShardedBloom":
        m, k = _bloom_params(capacity_per_shard, fpp)
        nbytes = m // 8

        schema = T.StructType(
            [
                T.StructField("prefix", T.StringType()),
                T.StructField("bits", T.BinaryType()),
            ]
        )

        def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            local: dict[str, np.ndarray] = {}
            for pdf in batches:
                col = pdf[column].dropna()
                if col.empty:
                    continue
                prefixes = col.str[:depth]
                for prefix, grp in col.groupby(prefixes):
                    arr = local.setdefault(prefix, np.zeros(nbytes, dtype=np.uint8))
                    pos = _positions(grp, m, k).ravel()
                    np.bitwise_or.at(arr, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            yield pd.DataFrame(
                {"prefix": list(local), "bits": [a.tobytes() for a in local.values()]}
            )

        rows = hashes.select(column).mapInPandas(_build, schema=schema).collect()
        shards: dict[str, np.ndarray] = {}
        for r in rows:  # OR-merge partition-local shards on the driver
            arr = np.frombuffer(r["bits"], dtype=np.uint8)
            if r["prefix"] in shards:
                shards[r["prefix"]] = shards[r["prefix"]] | arr
            else:
                shards[r["prefix"]] = arr
        return cls(shards, m, k, depth)

    def might_contain_series(self, hashes: pd.Series) -> pd.Series:
        """Vectorized probe: False means definitely-new."""
        out = np.zeros(len(hashes), dtype=bool)
        if not self.shards or hashes.empty:
            return pd.Series(out, index=hashes.index)
        prefixes = hashes.str[: self.depth]
        for prefix, grp in hashes.groupby(prefixes):
            arr = self.shards.get(prefix)
            if arr is None:
                continue
            pos = _positions(grp, self.m, self.k)  # (k, n)
            bits = (arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            out[hashes.index.get_indexer(grp.index)] = bits.all(axis=0)
        return pd.Series(out, index=hashes.index)

    def merged_with(self, other: "ShardedBloom") -> "ShardedBloom":
        """OR-merge two sharded blooms (same m/k/depth)."""
        assert (self.m, self.k, self.depth) == (other.m, other.k, other.depth)
        shards = dict(self.shards)
        for p, arr in other.shards.items():
            shards[p] = (shards[p] | arr) if p in shards else arr
        return ShardedBloom(shards, self.m, self.k, self.depth)

    def prefilter(self, candidates: DataFrame, column: str = "url_hash") -> DataFrame:
        """Tag candidates with ``maybe_seen``; maybe_seen=False rows can
        safely skip the anti-join (no false negatives in a bloom)."""
        spark = candidates.sparkSession
        bc = spark.sparkContext.broadcast(
            {"shards": {p: a.tobytes() for p, a in self.shards.items()},
             "m": self.m, "k": self.k, "depth": self.depth}
        )

        @F.pandas_udf(T.BooleanType())
        def _probe(hashes: pd.Series) -> pd.Series:
            st = bc.value
            bloom = ShardedBloom(
                {p: np.frombuffer(b, dtype=np.uint8) for p, b in st["shards"].items()},
                st["m"], st["k"], st["depth"],
            )
            return bloom.might_contain_series(hashes)

        return candidates.withColumn("maybe_seen", _probe(F.col(column)))


class BloomStore:
    """Bloom shards persisted as one npz blob under ``<root>/bloom`` and
    updated incrementally with new hashes (O(new) per update, not a
    full rebuild); write-temp-then-rename commits. No crawl path builds
    one (see the module docstring).
    """

    def __init__(self, root: str, depth: int = 2,
                 capacity_per_shard: int = 1 << 16, fpp: float = 0.01):
        import os

        self.dir = os.path.join(root, "bloom")
        os.makedirs(self.dir, exist_ok=True)
        self.depth = depth
        self.m, self.k = _bloom_params(capacity_per_shard, fpp)
        self.capacity = capacity_per_shard
        self.fpp = fpp

    def _path(self) -> str:
        import os

        return os.path.join(self.dir, "shards.npz")

    def load(self) -> ShardedBloom | None:
        import os

        if not os.path.exists(self._path()):
            return None
        with np.load(self._path()) as z:
            shards = {p: z[p].copy() for p in z.files}
        return ShardedBloom(shards, self.m, self.k, self.depth)

    def update(self, new_hashes: DataFrame, column: str = "url_hash") -> ShardedBloom:
        """Fold only the NEW hashes into the persisted shards; atomic
        commit. Re-ORing a delta on replay is idempotent."""
        import os
        import uuid

        delta = ShardedBloom.build(
            new_hashes, column=column, depth=self.depth,
            capacity_per_shard=self.capacity, fpp=self.fpp,
        )
        current = self.load()
        merged = delta if current is None else current.merged_with(delta)
        tmp = self._path() + f".tmp.{uuid.uuid4().hex}.npz"
        np.savez(tmp, **merged.shards)
        os.replace(tmp, self._path())
        return merged


def bloom_fpr_curve(
    spark, capacity: int, fpp: float, points: int = 20, max_load: float = 2.0
) -> DataFrame:
    """Analytic false-positive-rate curve for the SEEN-URL bloom as
    actually sized by :func:`_bloom_params` — the membership-side
    companion of :func:`sparkcrawl.operators.textops.lsh_collision_curve`.

    For a filter of ``m`` bits and ``k`` hashes holding ``n`` keys the
    exact-expectation FPR is

        fpr(n) = (1 - (1 - 1/m)^(k*n))^k

    The curve answers the operational question the crawl loop keeps
    hitting: the filter was sized for ``capacity`` URLs at ``fpp`` —
    how fast does the false-positive rate (i.e. NEVER-crawled URLs
    silently dropped as seen) degrade as the frontier OVERSHOOTS that
    capacity? Rows sweep fill = n/capacity from 1/points to
    ``max_load`` (default 2x — past design load). Pure generate-series
    arithmetic on the driver-declared grid; no data read, no shuffle.

    Returns (fill, n_keys, m_bits, k_hashes, fpr).
    """
    m, k = _bloom_params(capacity, fpp)
    fill = F.round(F.col("id") * max_load / points, 6)
    n = F.floor(F.col("id") * max_load / points * capacity)
    return spark.range(1, points + 1).select(
        fill.alias("fill"),
        n.alias("n_keys"),
        F.lit(m).alias("m_bits"),
        F.lit(k).alias("k_hashes"),
        F.round(
            F.pow(
                1.0 - F.pow(F.lit(1.0 - 1.0 / m), F.lit(float(k)) * n),
                F.lit(float(k)),
            ),
            9,
        ).alias("fpr"),
    )
