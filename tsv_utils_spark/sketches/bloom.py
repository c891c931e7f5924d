"""Bloom filter — mergeable membership sketch (the ``bloom`` sketch spec of
``sketch_agg``) for probabilistic membership and dedup.

Replaces the reference's in-memory hash sets: ``tsv-join``'s filter-file
hash (tsv-join.d:456, practical limit ~10M entries per README.md:327) and
``tsv-uniq``'s key set (tsv-uniq.d:355).

- ``m`` bits stored as a uint64 word array; ``k`` probes via Kirsch-
  Mitzenmacher double hashing ``idx_j = (h1 + j*h2) mod m`` from one
  64-bit item hash.
- ``from_capacity(n, fpr)`` sizes m,k optimally:
  ``m = -n ln(fpr) / ln(2)^2``, ``k = m/n ln 2``.
- False-positive rate after inserting n items: ``(1 - e^{-kn/m})^k``
  (exposed via ``expected_fpr``); NO false negatives.
- Merge: bitwise OR (exact-associative; requires same (m, k, seed)).
"""

from __future__ import annotations

import struct

import numpy as np

from tsv_utils_spark.sketches.hashing import hash64, hash64_with_seed


class BloomFilter:
    __slots__ = ("m", "k", "words", "n_inserted")

    def __init__(self, m: int, k: int):
        if m <= 0 or k <= 0:
            raise ValueError("m and k must be positive")
        self.m = int(m)
        self.k = int(k)
        self.words = np.zeros((self.m + 63) // 64, dtype=np.uint64)
        self.n_inserted = 0

    @classmethod
    def from_capacity(cls, n: int, fpr: float = 0.01) -> "BloomFilter":
        n = max(n, 1)
        m = int(np.ceil(-n * np.log(fpr) / (np.log(2) ** 2)))
        k = max(1, int(round(m / n * np.log(2))))
        return cls(m=m, k=k)

    # -- bit addressing --------------------------------------------------
    def _positions(self, values) -> np.ndarray:
        """(k, n) bit positions for a batch of values."""
        arr = np.asarray(values)
        h1 = hash64(arr)
        h2 = hash64_with_seed(arr, 0x5BD1E995) | np.uint64(1)  # odd => full period
        pos = np.empty((self.k, h1.size), dtype=np.uint64)
        m = np.uint64(self.m)
        for j in range(self.k):
            with np.errstate(over="ignore"):
                pos[j] = (h1 + np.uint64(j) * h2) % m
        return pos

    # -- update ----------------------------------------------------------
    def update(self, values) -> None:
        arr = np.asarray(values)
        if arr.size == 0:
            return
        pos = self._positions(arr).ravel()
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        np.bitwise_or.at(self.words, word, bit)
        self.n_inserted += int(arr.size)

    # -- query -----------------------------------------------------------
    def contains(self, values) -> np.ndarray:
        """Vectorized membership test -> bool array (no false negatives)."""
        arr = np.asarray(values)
        if arr.size == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(arr)
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        hits = (self.words[word] & bit) != 0
        return hits.all(axis=0)

    @property
    def expected_fpr(self) -> float:
        kn_m = self.k * self.n_inserted / self.m
        return float((1.0 - np.exp(-kn_m)) ** self.k)

    # -- merge / serde ----------------------------------------------------
    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (other.m, other.k) != (self.m, self.k):
            raise ValueError("Bloom shape mismatch")
        np.bitwise_or(self.words, other.words, out=self.words)
        self.n_inserted += other.n_inserted
        return self

    def serialize(self) -> bytes:
        head = struct.pack("<QIQ", self.m, self.k, self.n_inserted)
        return head + self.words.tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "BloomFilter":
        m, k, n = struct.unpack_from("<QIQ", blob)
        off = struct.calcsize("<QIQ")
        out = cls(m=m, k=k)
        out.n_inserted = n
        out.words = np.frombuffer(blob, dtype=np.uint64, offset=off).copy()
        return out
