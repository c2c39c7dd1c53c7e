"""Distributed URL-seen set: Bloom filters (+ cuckoo variant with delete).

The reference's only memo is scrapelib's SQLite response cache
(``/root/reference/src/spatula/cli.py:91-93``) plus the per-page-object
"fetch exactly once" contract (``pages.py:135-139``). At 10^10 URLs the
seen set is the scaling bottleneck, so (north rule) it becomes:

* canonical URL -> ``xxhash64`` (native, JVM-side — no Python)
* **exact tier**: a persisted DataFrame of seen hashes; membership =
  ``left_anti`` join. Ground truth for parity & resume.
* **bloom tier**: per-shard numpy Bloom filters built with
  ``applyInPandas`` (vectorized double-hashing, no per-row Python),
  merged driver-side (bitwise OR is associative => tree-reduce at
  scale), broadcast to executors; membership is an Arrow-batched
  pandas UDF. "Definitely unseen" rows skip the exact anti-join
  entirely; only "maybe seen" rows (a tiny, FPR-bounded fraction)
  shuffle — that asymmetry is what survives the 100x scale-up.
* **cuckoo tier**: supports deletion (re-crawl invalidation), 16-bit
  fingerprints, 4-slot buckets, numpy-vectorized lookup.

Serialization: plain bytes blobs -> checkpointable next to the frontier.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _splitmix(h: np.ndarray) -> np.ndarray:
    """Cheap second hash derived from the 64-bit key (vectorized)."""
    z = (h + _MIX).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


class BloomFilter:
    """Vectorized Bloom filter over int64 keys (already-hashed URLs)."""

    def __init__(self, capacity: int, fpr: float = 1e-3, bits: bytes | None = None):
        m = max(64, int(-capacity * math.log(fpr) / (math.log(2) ** 2)))
        self.m = (m + 63) // 64 * 64
        self.k = max(1, round(self.m / max(capacity, 1) * math.log(2)))
        if bits is not None:
            self.words = np.frombuffer(bits, dtype=np.uint64).copy()
            self.m = len(self.words) * 64
        else:
            self.words = np.zeros(self.m // 64, dtype=np.uint64)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        # mix the raw key first: url hashes are well distributed but
        # test/synthetic keys may be structured (sequential, multiples)
        h1 = _splitmix(keys.astype(np.int64).view(np.uint64))
        h2 = _splitmix(h1) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * h2[None, :]) % np.uint64(self.m)

    def add(self, keys: np.ndarray) -> None:
        pos = self._positions(np.asarray(keys)).ravel()
        np.bitwise_or.at(
            self.words, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )

    def contains(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys)
        if keys.size == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        bits = (
            self.words[(pos >> np.uint64(6)).astype(np.int64)]
            >> (pos & np.uint64(63))
        ) & np.uint64(1)
        return bits.all(axis=0).astype(bool)

    def union(self, other: "BloomFilter") -> "BloomFilter":
        assert self.m == other.m and self.k == other.k
        out = BloomFilter.__new__(BloomFilter)
        out.m, out.k = self.m, self.k
        out.words = self.words | other.words
        return out

    def to_bytes(self) -> bytes:
        return self.words.tobytes()


class CuckooFilter:
    """Cuckoo filter over int64 keys: 4-slot buckets, 16-bit
    fingerprints, supports delete (the north rule's "cuckoo-filter
    variant for deletions"). Vectorized lookup; inserts are per-key
    (build-time only, off the query hot path). Only tests use it: the
    engine's seen set is append-only until a recrawl path deletes seen
    keys, which is what this filter is for."""

    MAX_KICKS = 500

    def __init__(self, capacity: int, table: np.ndarray | None = None):
        if table is not None:
            self.table = table.copy()
            self.nbuckets = table.shape[0]
        else:
            self.nbuckets = 1 << max(4, math.ceil(math.log2(capacity / 4 * 1.25 + 1)))
            self.table = np.zeros((self.nbuckets, 4), dtype=np.uint16)

    def _fp_and_buckets(self, keys: np.ndarray):
        h = _splitmix(np.asarray(keys).astype(np.int64).view(np.uint64))
        fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 = empty sentinel
        i1 = (h % np.uint64(self.nbuckets)).astype(np.int64)
        i2 = (
            (i1.view(np.uint64) ^ _splitmix(fp.astype(np.uint64)))
            % np.uint64(self.nbuckets)
        ).astype(np.int64)
        return fp, i1, i2

    def _alt(self, i: int, fp: int) -> int:
        return int(
            (np.uint64(i) ^ _splitmix(np.array([fp], dtype=np.uint64))[0])
            % np.uint64(self.nbuckets)
        )

    def add(self, keys: np.ndarray) -> None:
        fps, i1s, i2s = self._fp_and_buckets(keys)
        rng_state = 0x12345678
        for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
            if fp in self.table[i1] or fp in self.table[i2]:
                continue
            placed = False
            for b in (i1, i2):
                empties = np.where(self.table[b] == 0)[0]
                if len(empties):
                    self.table[b, empties[0]] = fp
                    placed = True
                    break
            if placed:
                continue
            # displace (deterministic LCG, no wall-clock/np.random)
            b, f = i1, fp
            for _ in range(self.MAX_KICKS):
                rng_state = (rng_state * 1103515245 + 12345) & 0x7FFFFFFF
                slot = rng_state % 4
                f, self.table[b, slot] = int(self.table[b, slot]), f
                b = self._alt(b, f)
                empties = np.where(self.table[b] == 0)[0]
                if len(empties):
                    self.table[b, empties[0]] = f
                    break
            else:
                raise RuntimeError("cuckoo filter full")

    def contains(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys)
        if keys.size == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_and_buckets(keys)
        hit1 = (self.table[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Remove keys; returns per-key bool (was present)."""
        fp, i1, i2 = self._fp_and_buckets(keys)
        out = np.zeros(len(fp), dtype=bool)
        for n, (f, a, b) in enumerate(zip(fp.tolist(), i1.tolist(), i2.tolist())):
            for bucket in (a, b):
                slots = np.where(self.table[bucket] == f)[0]
                if len(slots):
                    self.table[bucket, slots[0]] = 0
                    out[n] = True
                    break
        return out

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        table = np.frombuffer(data, dtype=np.uint16).reshape(-1, 4)
        return cls(0, table=table)


# ------------------------------------------------------- Spark integration
class ShardedBloom:
    """Driver-held sharded Bloom state, updated **incrementally**.

    Rebuilding the filter from the full seen table every wave is
    O(total-seen) per wave — fatal at 10^10 URLs. Bitwise OR is
    associative, so instead shard blobs are built from only the *new*
    hashes (one small ``applyInPandas`` job; the engine folds in the
    keys seen since the previous probe, on the wave that probes next)
    and ORed into driver state; the merged blobs are re-broadcast.
    Blob size is fixed by (capacity, fpr) at construction, but the
    SHARD COUNT auto-grows: when the fill ratio crosses the engine's
    threshold, :meth:`regrow` re-shards ``4x`` wider and rebuilds
    from the exact seen table (geometric growth =>
    O(N) total rebuild work), so a crawl that outlives its initial
    sizing keeps its FPR instead of silently degrading. At 10^10 keys
    that converges to ~2.5k shards of ~18 MB at fpr 1e-3; keep the
    OR-merge a tree-reduce across executors — the driver never sees
    individual hashes either way.
    """

    def __init__(self, n_shards: int, capacity_per_shard: int, fpr: float):
        self.n_shards = n_shards
        self.cap = capacity_per_shard
        self.fpr = fpr
        proto = BloomFilter(capacity_per_shard, fpr)
        self.m, self.k = proto.m, proto.k
        self.words: dict[int, np.ndarray] = {}
        self.count = 0
        # broadcast lifecycle: one live broadcast at a time. Re-broadcast
        # only when the filter changed since the last one, and unpersist
        # the stale blob (hundreds of waves would otherwise accrete
        # stale broadcasts on driver+executors).
        self._bc = None
        self._dirty = False
        self.broadcasts_created = 0
        self.regrows = 0

    def add_hashes_df(self, new_hashes_df, key_col: str = "url_hash") -> None:
        """One Spark job: shard-group the wave's new hashes, build one
        blob per shard (vectorized), collect, OR into state."""
        from pyspark.sql import functions as F

        cap, fpr = self.cap, self.fpr

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            bf = BloomFilter(cap, fpr)
            bf.add(pdf["key"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {"shard": [int(pdf["shard"].iloc[0])], "blob": [bf.to_bytes()],
                 "n": [len(pdf)]}
            )

        rows = (
            new_hashes_df.select(F.col(key_col).alias("key"))
            .withColumn(
                "shard", F.pmod(F.col("key"), F.lit(self.n_shards)).cast("int")
            )
            .groupBy("shard")
            .applyInPandas(_build, schema="shard int, blob binary, n long")
            .collect()
        )
        for r in rows:
            w = np.frombuffer(bytes(r["blob"]), dtype=np.uint64)
            s = int(r["shard"])
            if s in self.words:
                self.words[s] = self.words[s] | w
            else:
                self.words[s] = w.copy()
            self.count += int(r["n"])
        if rows:
            self._dirty = True

    def fill_ratio(self) -> float:
        """Keys inserted / designed total capacity. Past ~1.0 the FPR
        degrades geometrically (p = (1 - e^{-kn/m})^k)."""
        return self.count / max(1, self.n_shards * self.cap)

    def estimated_fpr(self) -> float:
        """Expected FPR at the CURRENT key count (uniform shards)."""
        n_per_shard = self.count / max(1, self.n_shards)
        return (1.0 - math.exp(-self.k * n_per_shard / self.m)) ** self.k

    def needs_regrow(self, threshold: float = 1.0) -> bool:
        return self.fill_ratio() > threshold

    def regrow(self, seen_df, key_col: str = "url_hash",
               growth: int = 4) -> None:
        """Re-shard ``growth``x wider and rebuild from the EXACT seen
        table (the ground-truth DataFrame the engine keeps anyway —
        Bloom bits can't be rescaled without the keys). Called at
        geometric fill points, so total rebuild work over a crawl is
        O(N * (1 + 1/growth + ...)) = O(N); without it a long crawl
        silently degrades FPR until 'maybe seen' stops filtering
        anything and every row pays the exact anti-join."""
        self.n_shards *= growth
        self.words = {}
        self.count = 0
        if self._bc is not None:  # stale sharding — release the blob
            self._bc.unpersist(blocking=False)
            self._bc = None
        self._dirty = True
        self.regrows += 1
        self.add_hashes_df(seen_df, key_col=key_col)

    def membership_udf(self, spark):
        """Arrow-batched ``maybe_seen(key) -> boolean``. False =>
        definitely unseen (skips the exact anti-join)."""
        from pyspark.sql import functions as F

        k, m, n_shards = self.k, self.m, self.n_shards
        if self._bc is None or self._dirty:
            if self._bc is not None:
                self._bc.unpersist(blocking=False)
            blobs = {s: w.tobytes() for s, w in self.words.items()}
            self._bc = spark.sparkContext.broadcast(blobs)
            self.broadcasts_created += 1
            self._dirty = False
        bc = self._bc

        @F.pandas_udf("boolean")
        def maybe_seen(key: pd.Series) -> pd.Series:
            local = bc.value
            h = key.to_numpy(dtype=np.int64)
            out = np.zeros(len(h), dtype=bool)
            shards = np.mod(h, n_shards)
            shards = np.where(shards < 0, shards + n_shards, shards)
            for s in np.unique(shards):
                blob = local.get(int(s))
                if blob is None:
                    continue
                bf = BloomFilter.__new__(BloomFilter)
                bf.words = np.frombuffer(blob, dtype=np.uint64)
                bf.m, bf.k = m, k
                mask = shards == s
                out[mask] = bf.contains(h[mask])
            return pd.Series(out)

        return maybe_seen
