"""URL-seen sketches: Bloom pre-filter + Cuckoo partition filters.

From-scratch NumPy implementations of two public constructions:

* Bloom filter (Bloom, CACM 1970) with Kirsch–Mitzenmacher double hashing —
  broadcast as the *definitely-new* pre-filter: candidates the bloom has
  never seen skip the exact anti-join entirely, which at 10^10 URLs removes
  the dominant shuffle (only the maybe-seen residual is joined).
* Cuckoo filter (Fan et al., CoNEXT 2014) — 4-way buckets, 16-bit
  fingerprints, deterministic eviction. Supports deletion (bloom cannot),
  used as the per-partition compact seen-set: one table per pid, kept as a
  partitioned state table and carried forward from epoch to epoch
  (partition-disjoint key spaces make merge = disjoint union).

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
    """

    __slots__ = ("n_buckets", "table", "n_items")

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
        fp = ((h >> np.uint64(40)) & np.uint64(0xFFFF)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (h & np.uint64(self.n_buckets - 1)).astype(np.int64)

    def _alt(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # partial-key cuckoo hashing: i2 = i1 xor H(fp)
        fph = fp.astype(np.uint64) * np.uint64(0x5BD1E995)
        return (i.astype(np.uint64) ^ fph).astype(np.int64) & (self.n_buckets - 1)

    def _insert_one(self, i: int, fp: int) -> bool:
        row = self.table[i]
        empty = np.nonzero(row == 0)[0]
        if empty.size:
            row[empty[0]] = fp
            return True
        return False

    def add_many(self, hashes) -> None:
        h = np.asarray(hashes, dtype=np.uint64)
        fps = self._fp(h)
        i1s = self._i1(h)
        for fp, i1 in zip(fps.tolist(), i1s.tolist()):
            i2 = int(self._alt(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
            # One stored copy per insert — duplicates are kept, which is what
            # makes deletion safe (Fan et al. §3.2: delete removes one copy).
            # Exception (also per the paper): once BOTH candidate buckets are
            # full and already hold this fingerprint (2b copies), further
            # copies are dropped rather than evicting live entries.
            if (
                0 not in self.table[i1]
                and 0 not in self.table[i2]
                and (fp in self.table[i1] or fp in self.table[i2])
            ):
                self.n_items += 1
                continue
            if self._insert_one(i1, fp) or self._insert_one(i2, fp):
                self.n_items += 1
                continue
            # deterministic eviction chain
            i, cur = i2, fp
            for kick in range(_MAX_KICKS):
                slot = kick % _SLOTS
                cur, self.table[i][slot] = int(self.table[i][slot]), cur
                i = int(
                    self._alt(np.array([i]), np.array([cur], dtype=np.uint16))[0]
                )
                if self._insert_one(i, cur):
                    cur = None
                    break
            if cur is not None:
                raise RuntimeError("cuckoo filter full — size for capacity upfront")
            self.n_items += 1

    def contains_many(self, hashes) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.uint64)
        fps = self._fp(h)
        i1 = self._i1(h)
        i2 = self._alt(i1, fps)
        in1 = (self.table[i1] == fps[:, None]).any(axis=1)
        in2 = (self.table[i2] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete_many(self, hashes) -> int:
        """Remove one fingerprint copy per present key; returns #deleted."""
        h = np.asarray(hashes, dtype=np.uint64)
        deleted = 0
        for hh in h:
            fp = int(self._fp(np.array([hh], dtype=np.uint64))[0])
            i1 = int(self._i1(np.array([hh], dtype=np.uint64))[0])
            i2 = int(self._alt(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
            for i in (i1, i2):
                slots = np.nonzero(self.table[i] == fp)[0]
                if slots.size:
                    self.table[i][slots[0]] = 0
                    deleted += 1
                    self.n_items -= 1
                    break
        return deleted

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union by re-inserting the other filter's fingerprints through the
        displacement logic (valid for partition-disjoint key sets)."""
        if other.n_buckets != self.n_buckets:
            raise ValueError("cuckoo parameter mismatch")
        occupied = np.nonzero(other.table)
        for i, slot in zip(*occupied):
            fp = int(other.table[i, slot])
            i1 = int(i)
            i2 = int(self._alt(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
            if (
                0 not in self.table[i1]
                and 0 not in self.table[i2]
                and (fp in self.table[i1] or fp in self.table[i2])
            ):
                self.n_items += 1
                continue
            if self._insert_one(i1, fp) or self._insert_one(i2, fp):
                self.n_items += 1
                continue
            cur, pos = fp, i2
            for kick in range(_MAX_KICKS):
                slot2 = kick % _SLOTS
                cur, self.table[pos][slot2] = int(self.table[pos][slot2]), cur
                pos = int(
                    self._alt(np.array([pos]), np.array([cur], dtype=np.uint16))[0]
                )
                if self._insert_one(pos, cur):
                    cur = None
                    break
            if cur is not None:
                raise RuntimeError("cuckoo filter full during merge")
            self.n_items += 1
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
