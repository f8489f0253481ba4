"""URL-seen sketches: Bloom pre-filter + Cuckoo partition filters.

From-scratch NumPy implementations of two public constructions:

* Bloom filter (Bloom, CACM 1970) with Kirsch–Mitzenmacher double hashing —
  broadcast as the *definitely-new* pre-filter: candidates the bloom has
  never seen skip the exact anti-join entirely, which at 10^10 URLs removes
  the dominant shuffle (only the maybe-seen residual is joined).
* Cuckoo filter (Fan et al., CoNEXT 2014) — 4-way buckets, 16-bit
  fingerprints, deterministic eviction, insert-only — used as the
  per-partition compact seen-set: one table per pid, kept as a partitioned
  state table and carried forward from epoch to epoch (partition-disjoint
  key spaces make merge = disjoint union).

Both operate on pre-computed unsigned 64-bit key hashes — at scale those are
produced JVM-side by ``xxhash64(url)`` so Python never touches raw URLs.

Merge for both is associative and commutative over disjoint (or identical)
key sets — the precondition any tree/partition-wise merge needs; property-tested in
tests/test_sketches.py with hypothesis.
"""

from __future__ import annotations

import numpy as np

__all__ = ["BloomFilter", "CuckooFilter"]

_FP_BITS = 16
_SLOTS = 4
_MAX_KICKS = 500


class BloomFilter:
    """Fixed-size bloom over uint64 key hashes."""

    __slots__ = ("n_bits", "n_hashes", "bits")

    def __init__(self, n_bits: int, n_hashes: int = 5, bits: np.ndarray | None = None):
        if n_bits % 64:
            n_bits += 64 - (n_bits % 64)
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 64, dtype=np.uint64)

    @classmethod
    def for_capacity(cls, n_items: int, fpp: float = 0.01) -> "BloomFilter":
        """Optimal sizing: m = -n ln p / (ln 2)^2, k = (m/n) ln 2."""
        n_items = max(n_items, 1)
        m = int(-n_items * np.log(fpp) / (np.log(2) ** 2)) + 64
        k = max(1, round((m / n_items) * np.log(2)))
        return cls(m, int(k))

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.uint64)
        h1 = h
        h2 = (h >> np.uint64(32)) | (h << np.uint64(32))
        i = np.arange(self.n_hashes, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * (h2[None, :] | np.uint64(1))) % np.uint64(self.n_bits)

    def add_many(self, hashes) -> None:
        pos = self._positions(hashes).ravel()
        np.bitwise_or.at(
            self.bits, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )

    def contains_many(self, hashes) -> np.ndarray:
        pos = self._positions(hashes)
        words = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
        hit = (words >> (pos & np.uint64(63))) & np.uint64(1)
        return hit.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if other.n_bits != self.n_bits or other.n_hashes != self.n_hashes:
            raise ValueError("bloom parameter mismatch")
        self.bits |= other.bits
        return self

    def to_bytes(self) -> bytes:
        header = np.array([self.n_bits, self.n_hashes], dtype=np.uint64).tobytes()
        return header + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        n_bits, n_hashes = np.frombuffer(blob[:16], dtype=np.uint64)
        bits = np.frombuffer(blob[16:], dtype=np.uint64).copy()
        return cls(int(n_bits), int(n_hashes), bits)


class CuckooFilter:
    """Cuckoo filter over uint64 key hashes (4 slots, 16-bit fingerprints).

    Fingerprint 0 is reserved for "empty", so fingerprints live in [1, 2^16).
    Eviction is deterministic (slot = kicks % 4), keeping inserts replayable.

    Disjoint hash bits (``LAYOUT``): bits 0–15 are left to the caller's
    pid (the engine's ``pmod(xxhash64(url), P)``, P ≤ 2^16), bits 16–47
    pick the bucket (n_buckets ≤ 2^32), bits 48–63 the fingerprint. One
    pid's keys share their low bits, so buckets taken from them would fill
    at ~half load: Fan et al.'s load bound assumes uniform bucket indices.
    """

    __slots__ = ("n_buckets", "table", "n_items")
    LAYOUT = 2

    def __init__(self, n_buckets: int, table: np.ndarray | None = None, n_items: int = 0):
        # power-of-two bucket count → index math is masking
        n_buckets = 1 << max(4, int(np.ceil(np.log2(max(n_buckets, 16)))))
        self.n_buckets = n_buckets
        self.table = (
            table if table is not None else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        )
        self.n_items = n_items

    @classmethod
    def for_capacity(cls, n_items: int, load: float = 0.84) -> "CuckooFilter":
        return cls(max(16, int(n_items / (load * _SLOTS)) + 1))

    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = (h >> np.uint64(48)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return ((h >> np.uint64(16)) & np.uint64(self.n_buckets - 1)).astype(np.int64)

    def _alt(self, i, fp):
        # partial-key cuckoo hashing: i2 = i1 xor H(fp); on ints or int64
        # arrays (fp < 2^16, so the product never overflows 64 bits)
        return (i ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)

    def _insert_one(self, i: int, fp: int) -> bool:
        row = self.table[i]
        empty = np.nonzero(row == 0)[0]
        if empty.size:
            row[empty[0]] = fp
            return True
        return False

    def _insert(self, i1: int, fp: int) -> None:
        """Store one fingerprint whose candidate buckets are ``i1`` and its
        alternate; raises when the eviction chain runs out of kicks."""
        i2 = self._alt(i1, fp)
        # One stored copy per insert — duplicates are kept (Fan et al. §3.2).
        # Exception (also per the paper): once BOTH candidate buckets are
        # full and already hold this fingerprint (2b copies), further
        # copies are dropped rather than evicting live entries.
        saturated = (
            0 not in self.table[i1]
            and 0 not in self.table[i2]
            and (fp in self.table[i1] or fp in self.table[i2])
        )
        if not saturated and not (self._insert_one(i1, fp) or self._insert_one(i2, fp)):
            # deterministic eviction chain
            i, cur = i2, fp
            for kick in range(_MAX_KICKS):
                slot = kick % _SLOTS
                cur, self.table[i][slot] = int(self.table[i][slot]), cur
                i = self._alt(i, cur)
                if self._insert_one(i, cur):
                    break
            else:
                raise RuntimeError("cuckoo filter full — size for capacity upfront")
        self.n_items += 1

    def add_many(self, hashes) -> None:
        h = np.asarray(hashes, dtype=np.uint64)
        for fp, i1 in zip(self._fp(h).tolist(), self._i1(h).tolist()):
            self._insert(i1, fp)

    def contains_many(self, hashes) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.uint64)
        fps = self._fp(h)
        i1 = self._i1(h)
        i2 = self._alt(i1, fps.astype(np.int64))
        in1 = (self.table[i1] == fps[:, None]).any(axis=1)
        in2 = (self.table[i2] == fps[:, None]).any(axis=1)
        return in1 | in2

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union by re-inserting the other filter's fingerprints through the
        displacement logic (valid for partition-disjoint key sets). A stored
        fingerprint's bucket and its alternate are the key's two candidates,
        so the bucket it sits in stands in for the key's first one. The
        item counts add: copies ``other`` dropped as saturated were counted
        there but are not in its table."""
        if other.n_buckets != self.n_buckets:
            raise ValueError("cuckoo parameter mismatch")
        n_items = self.n_items + other.n_items
        rows, slots = np.nonzero(other.table)
        for i, fp in zip(rows.tolist(), other.table[rows, slots].tolist()):
            self._insert(i, fp)
        self.n_items = n_items
        return self

    def to_bytes(self) -> bytes:
        header = np.array([self.n_buckets, self.n_items], dtype=np.uint64).tobytes()
        return header + self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        n_buckets, n_items = np.frombuffer(blob[:16], dtype=np.uint64)
        table = (
            np.frombuffer(blob[16:], dtype=np.uint16)
            .reshape(int(n_buckets), _SLOTS)
            .copy()
        )
        return cls(int(n_buckets), table, int(n_items))
