"""Distributed URL-seen set: exact anti-join + membership-sketch fast path.

The reference's only dedupe is a per-run `visited` list guarding repeated
XHR captures (il_scraper.py:200–204; ny_scraper.py:203,211–212). The
engine generalizes it (north rule):

- **Exact path** — ``filter_unseen_exact``: a left-anti join of the
  candidates against a DataFrame of already-seen URLs (the crawler passes
  the frontier's URLs; there is no separate seen table). Used at test
  scale and for the parity invariant (identical final seen-set).
- **Sketch path** — a Bloom bitset or a (deletable) cuckoo table. Any
  sketch with ``add_hashes``/``contains_hashes``/``merge`` shares ONE
  build and ONE probe: per-partition sketches built from JVM-precomputed
  xxhash64 columns (so Python never hashes strings row-at-a-time) in one
  ``mapInPandas``, merged via ``RDD.treeAggregate`` (the engine's single
  RDD touchpoint) in ``_sketch_from_df``; then broadcast and probed
  inside one vectorized ``mapInPandas`` in ``filter_unseen_sketch``.
  False positives only *suppress* re-fetches — exactly the `visited`
  semantics — never invent URLs, so the sketch path is safe at 10^10
  scale with an ε·|frontier| re-fetch-suppression budget.

The exact probe takes a seen DataFrame and the sketch probe takes a
built sketch, so the crawler picks a path by its ``seen_mode`` and keeps
the sketch (``seen_bloom``) across waves.
"""

from __future__ import annotations

import math
import pickle
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_H1 = "__seen_h1"
_H2 = "__seen_h2"


def _with_hash_cols(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Two independent 64-bit hashes computed JVM-side (xxhash64 with
    different seeds via an extra literal column). Double hashing
    h1 + i*h2 gives the k Bloom probes."""
    return df.withColumn(_H1, F.xxhash64(F.col(url_col))).withColumn(
        _H2, F.xxhash64(F.col(url_col), F.lit("bloom-seed-2"))
    )


class BloomFilter:
    """Fixed-size Bloom bitset with vectorized numpy add/contains."""

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m = int(m_bits)
        self.k = int(k)
        self.bits = (
            bits if bits is not None else np.zeros((self.m + 7) // 8, dtype=np.uint8)
        )

    @classmethod
    def sized(cls, expected_n: int, fpp: float = 1e-3) -> "BloomFilter":
        # fpp >= 1 would size a saturating 64-bit k=1 filter that reports
        # every URL as seen; fpp <= 0 has no finite size
        if not 0 < fpp < 1:
            raise ValueError(f"Bloom fpp must be in (0, 1), got {fpp!r}")
        n = max(expected_n, 1)
        m = int(-n * math.log(fpp) / (math.log(2) ** 2))
        m = max(64, (m + 63) // 64 * 64)
        k = max(1, round(m / n * math.log(2)))
        return cls(m, min(k, 16))

    def _probe_idx(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        h1 = h1.astype(np.uint64)
        h2 = h2.astype(np.uint64) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(self.m)).astype(np.int64)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        idx = self._probe_idx(h1, h2)
        np.bitwise_or.at(self.bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._probe_idx(h1, h2)
        hit = (self.bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
        return hit.all(axis=1)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.m, self.k) != (other.m, other.k):
            raise ValueError(
                f"Bloom filter shapes differ: (m, k) = {(self.m, self.k)} vs "
                f"{(other.m, other.k)}; the persisted filter was built with other "
                "settings (bloom_expected_n / bloom_fpp)"
            )
        return BloomFilter(self.m, self.k, np.bitwise_or(self.bits, other.bits))

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, m: int, k: int, raw: bytes) -> "BloomFilter":
        return cls(m, k, np.frombuffer(raw, dtype=np.uint8).copy())


def _sketch_from_df(df: DataFrame, new, url_col: str = "url"):
    """Build one merged sketch over df[url_col]. ``new()`` makes an empty
    sketch; each partition adds its Arrow batches' hashes to one sketch
    (one pickled sketch per partition), then the sketches merge in a
    depth-2 tree so the driver never receives more than sqrt(P) of them
    at once. Pickle exists only in flight between tasks and the driver."""
    zero = new()
    hashed = _with_hash_cols(df, url_col).select(_H1, _H2)
    # each partition emits ONE full-size sketch; a large-n sketch over
    # many partitions would push partitions × sketch bytes through the
    # merge (a 38 MB bitset × 256 parts = 9.7 GB of byte[] rows —
    # measured JVM OOM at the 4M-URL soak). Cap in-flight sketch bytes
    # at ~512 MB by coalescing (narrow, no shuffle) — hashing loses some
    # parallelism only when sketches are huge, exactly when the merge
    # would otherwise dominate. The 10^10-scale form is sharded blooms
    # (SCALE.md §Bloom): shard by url hash, each shard m/256 bits.
    max_parts = max(8, (512 << 20) // len(zero.to_bytes()))
    if hashed.rdd.getNumPartitions() > max_parts:
        hashed = hashed.coalesce(int(max_parts))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketch = new()
        for b in batches:
            sketch.add_hashes(b[_H1].to_numpy(np.int64), b[_H2].to_numpy(np.int64))
        yield pd.DataFrame({"sketch": [pickle.dumps(sketch)]})

    def merge(a, b):
        return a.merge(b)

    shards = hashed.mapInPandas(build, "sketch binary").rdd.map(
        lambda row: pickle.loads(row.sketch)
    )
    return shards.treeAggregate(zero, merge, merge, depth=2)


def bloom_from_df(
    df: DataFrame, url_col: str = "url", expected_n: int | None = None, fpp: float = 1e-3
) -> BloomFilter:
    """One merged Bloom filter over df[url_col], sized for ``expected_n``
    URLs (default: df.count()) at false-positive rate ``fpp``."""
    n = expected_n if expected_n is not None else df.count()
    proto = BloomFilter.sized(n, fpp)
    m, k = proto.m, proto.k  # the closure ships (m, k), not the bitset
    return _sketch_from_df(df, lambda: BloomFilter(m, k), url_col)


class CuckooFilter:
    """Bucketized cuckoo filter (the public Fan et al. CoNEXT'14 design):
    m buckets × 4 slots of 16-bit fingerprints. Same probe contract as
    the Bloom path (false positives only suppress re-fetches, never any
    false negatives) plus the one thing a Bloom bitset cannot do:
    **delete** — un-seeing a URL so a scheduled re-crawl can fetch it
    again without rebuilding the whole seen-set.

    Inserts/deletes walk an eviction loop per item (inherently
    sequential); membership probes are fully vectorized. The engine uses
    it like the Bloom: per-partition builds merged by fingerprint
    reinsertion (bucket index + fingerprint determine the partner bucket,
    so a table row is self-contained).
    """

    SLOTS = 4
    MAX_KICKS = 500
    _FP_MIX = np.uint64(0x5BD1E995)  # odd multiplier: fp → partner-bucket offset

    def __init__(self, m_buckets: int, table: np.ndarray | None = None, seed: int = 7):
        assert m_buckets & (m_buckets - 1) == 0, "bucket count must be a power of two"
        self.m = int(m_buckets)
        self.table = (
            table
            if table is not None
            else np.zeros((self.m, self.SLOTS), dtype=np.uint16)
        )
        self._rng = np.random.default_rng(seed)

    @classmethod
    def sized(cls, expected_n: int, load: float = 0.84) -> "CuckooFilter":
        n = max(expected_n, 1)
        m = 1
        while m * cls.SLOTS * load < n:
            m <<= 1
        return cls(max(m, 8))

    # -- hashing ---------------------------------------------------------------
    def _fp(self, h2: np.ndarray) -> np.ndarray:
        # fingerprints 1..65535 (0 is the empty-slot sentinel)
        return (h2.astype(np.uint64) % np.uint64(65535) + np.uint64(1)).astype(np.uint16)

    def _i1(self, h1: np.ndarray) -> np.ndarray:
        return (h1.astype(np.uint64) & np.uint64(self.m - 1)).astype(np.int64)

    def _partner(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        mix = (fp.astype(np.uint64) * self._FP_MIX) & np.uint64(self.m - 1)
        return (i.astype(np.uint64) ^ mix).astype(np.int64)

    # -- mutation (per-item, eviction loop) -------------------------------------
    def _insert_one(self, i: int, fp: int) -> None:
        for idx in (i, int(self._partner(np.array([i]), np.array([fp], dtype=np.uint16))[0])):
            row = self.table[idx]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = fp
                return
        cur_i, cur_fp = i, fp
        for _ in range(self.MAX_KICKS):
            slot = int(self._rng.integers(self.SLOTS))
            cur_fp, self.table[cur_i, slot] = int(self.table[cur_i, slot]), cur_fp
            cur_i = int(
                self._partner(np.array([cur_i]), np.array([cur_fp], dtype=np.uint16))[0]
            )
            row = self.table[cur_i]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = cur_fp
                return
        raise RuntimeError(
            "cuckoo filter over capacity — size with headroom (load ≤ 0.84)"
        )

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> None:
        fps = self._fp(h2)
        i1s = self._i1(h1)
        for i, fp in zip(i1s.tolist(), fps.tolist()):
            self._insert_one(i, fp)

    def delete_hashes(self, h1: np.ndarray, h2: np.ndarray) -> int:
        """Remove one stored fingerprint per item; returns #removed."""
        fps = self._fp(h2)
        i1s = self._i1(h1)
        i2s = self._partner(i1s, fps)
        removed = 0
        for i1, i2, fp in zip(i1s.tolist(), i2s.tolist(), fps.tolist()):
            for idx in (i1, i2):
                slots = np.nonzero(self.table[idx] == fp)[0]
                if len(slots):
                    self.table[idx, slots[0]] = 0
                    removed += 1
                    break
        return removed

    # -- probes (vectorized) -----------------------------------------------------
    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        fps = self._fp(h2)
        i1s = self._i1(h1)
        i2s = self._partner(i1s, fps)
        hit1 = (self.table[i1s] == fps[:, None]).any(axis=1)
        hit2 = (self.table[i2s] == fps[:, None]).any(axis=1)
        return hit1 | hit2

    # -- merge / serde ------------------------------------------------------------
    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        if self.m != other.m:
            raise ValueError(
                f"cuckoo filter shapes differ: m = {self.m} vs {other.m} buckets; "
                "the persisted filter was built with other settings (expected_n)"
            )
        out = CuckooFilter(self.m, self.table.copy())
        occ_i, occ_s = np.nonzero(other.table)
        for i, s in zip(occ_i.tolist(), occ_s.tolist()):
            out._insert_one(i, int(other.table[i, s]))
        return out

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, m: int, raw: bytes) -> "CuckooFilter":
        return cls(m, np.frombuffer(raw, dtype=np.uint16).reshape(m, cls.SLOTS).copy())


def cuckoo_from_df(
    df: DataFrame, url_col: str = "url", expected_n: int | None = None
) -> CuckooFilter:
    """One merged cuckoo filter over df[url_col], sized for
    ``expected_n`` URLs (default: df.count()); per-partition tables merge
    by fingerprint reinsertion."""
    n = expected_n if expected_n is not None else df.count()
    m = CuckooFilter.sized(n).m
    return _sketch_from_df(df, lambda: CuckooFilter(m), url_col)


def unsee_urls(cuckoo: CuckooFilter, df: DataFrame, url_col: str = "url") -> int:
    """Delete URLs from the cuckoo seen-set (driver-side over the small
    re-crawl list) so a scheduled refetch passes the filter again —
    the operation a Bloom bitset cannot express. Returns #removed."""
    rows = _with_hash_cols(df, url_col).select(_H1, _H2).collect()
    if not rows:
        return 0
    h1 = np.array([r[_H1] for r in rows], dtype=np.int64)
    h2 = np.array([r[_H2] for r in rows], dtype=np.int64)
    return cuckoo.delete_hashes(h1, h2)


def filter_unseen_exact(candidates: DataFrame, seen: DataFrame, url_col: str = "url") -> DataFrame:
    """Exact path: anti-join on the canonical URL. At scale the join key
    is the 64-bit url_hash first (cheap shuffle) with the string equality
    as the residual — Catalyst plans that from this one expression.

    The seen side is not deduplicated: a left-anti join keeps the same
    candidate rows whatever the multiplicity of the right side's keys,
    and a ``distinct`` there would plan one more aggregate and shuffle
    per call (tests/test_plans.py pins its absence)."""
    seen_keys = seen.select(F.col(url_col).alias("__seen_url"))
    return candidates.join(
        seen_keys, candidates[url_col] == F.col("__seen_url"), "left_anti"
    )


def filter_unseen_sketch(candidates: DataFrame, sketch, url_col: str = "url") -> DataFrame:
    """Sketch path: broadcast the merged sketch (Bloom or cuckoo), drop
    the candidates it contains in one vectorized mapInPandas probe."""
    b = candidates.sparkSession.sparkContext.broadcast(sketch)
    hashed = _with_hash_cols(candidates, url_col)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = b.value
        for batch in batches:
            hit = sk.contains_hashes(
                batch[_H1].to_numpy(np.int64), batch[_H2].to_numpy(np.int64)
            )
            yield batch[~hit]

    return hashed.mapInPandas(probe, hashed.schema).drop(_H1, _H2)
