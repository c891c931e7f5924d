"""HyperLogLog with a sparse (exact) phase — mergeable distinct-count sketch.

Replaces the reference's exact in-memory distinct count
(``tsv-summarize --unique-count``, tsv-summarize.d:3800-3835, which aborts
past RAM) with a bounded-memory mergeable sketch:

- **Sparse phase** (like HLL++): store the distinct 64-bit hashes exactly
  (sorted ``uint64`` array). Estimates are exact (w.h.p. — 64-bit hash
  collisions) while cardinality <= ``sparse_limit``. This is what makes
  small-group answers match the exact oracle bit-for-bit.
- **Dense phase**: classic HLL with ``m = 2**p`` 6-bit registers (stored as
  uint8), standard bias handling: linear counting below 2.5*m, raw HLL
  otherwise (64-bit hash -> no large-range correction needed).

Standard error of the dense estimate: ``1.04 / sqrt(m)`` (Flajolet et al.,
2007). Merge is exact-associative in sparse x sparse (set union) and
register-wise ``max`` in dense — estimates are invariant under merge order.

Serialization: 1-byte mode + 1-byte p + payload.
"""

from __future__ import annotations

import struct

import numpy as np

_MODE_SPARSE = 0
_MODE_DENSE = 1


class HyperLogLog:
    __slots__ = ("p", "m", "sparse_limit", "_sparse", "_regs")

    def __init__(self, p: int = 14, sparse_limit: int | None = None):
        if not 4 <= p <= 18:
            raise ValueError("HLL precision p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        # default sparse limit: the point where exact uint64 storage costs
        # about as much as the dense register array (m bytes / 8 per hash)
        self.sparse_limit = _sparse_limit(p, sparse_limit)
        self._sparse: np.ndarray | None = np.empty(0, dtype=np.uint64)
        self._regs: np.ndarray | None = None

    # -- update ---------------------------------------------------------
    def update_hashes(self, hashes: np.ndarray) -> None:
        """Batch update from pre-computed 64-bit hashes (vectorized)."""
        if hashes.size == 0:
            return
        h = hashes.astype(np.uint64, copy=False)
        if self._sparse is not None:
            self._sparse = np.union1d(self._sparse, h)
            if self._sparse.size > self.sparse_limit:
                self._densify()
        else:
            self._dense_update(h)

    def update(self, values) -> None:
        from tsv_utils_spark.sketches.hashing import hash64

        arr = np.asarray(values)
        if arr.size == 0:
            return
        self.update_hashes(hash64(arr))

    def _densify(self) -> None:
        hashes = self._sparse
        self._sparse = None
        self._regs = np.zeros(self.m, dtype=np.uint8)
        if hashes is not None and hashes.size:
            self._dense_update(hashes)

    def _dense_update(self, h: np.ndarray) -> None:
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        # rank of first set bit in the remaining (64-p) bits, 1-based;
        # all-zero remainder -> 64-p+1
        rem = (h << np.uint64(self.p)) | np.uint64((1 << self.p) - 1)
        # number of leading zeros of rem, vectorized via float64 exponent
        # trick is unsafe for full 64-bit; use bit-scan loop over 6 steps
        rho = _leading_zeros64(rem) + 1
        np.maximum.at(self._regs, idx, rho.astype(np.uint8))

    # -- merge ----------------------------------------------------------
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if other.p != self.p:
            raise ValueError("cannot merge HLLs with different precision")
        if self._sparse is not None and other._sparse is not None:
            self._sparse = np.union1d(self._sparse, other._sparse)
            if self._sparse.size > self.sparse_limit:
                self._densify()
            return self
        if self._sparse is not None:
            self._densify()
        if other._sparse is not None:
            if other._sparse.size:
                self._dense_update(other._sparse)
        else:
            np.maximum(self._regs, other._regs, out=self._regs)
        return self

    # -- estimate -------------------------------------------------------
    def estimate(self) -> float:
        if self._sparse is not None:
            return float(self._sparse.size)
        regs = self._regs
        m = float(self.m)
        zeros = int(np.count_nonzero(regs == 0))
        if zeros > 0:
            lc = m * np.log(m / zeros)
            if lc <= 2.5 * m:
                return float(lc)
        alpha = 0.7213 / (1.0 + 1.079 / m)
        est = alpha * m * m / float(np.sum(np.exp2(-regs.astype(np.float64))))
        return float(est)

    @property
    def relative_error(self) -> float:
        """One standard deviation of the dense estimate: 1.04/sqrt(m)."""
        return 1.04 / np.sqrt(self.m)

    # -- serialization --------------------------------------------------
    def serialize(self) -> bytes:
        if self._sparse is not None:
            return struct.pack("<BB", _MODE_SPARSE, self.p) + self._sparse.tobytes()
        return struct.pack("<BB", _MODE_DENSE, self.p) + self._regs.tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "HyperLogLog":
        mode, p = struct.unpack_from("<BB", blob)
        out = cls(p=p)
        payload = blob[2:]
        if mode == _MODE_SPARSE:
            out._sparse = np.frombuffer(payload, dtype=np.uint64).copy()
        else:
            out._sparse = None
            out._regs = np.frombuffer(payload, dtype=np.uint8).copy()
        return out


def _sparse_limit(p: int, sparse_limit: int | None) -> int:
    return sparse_limit if sparse_limit is not None else (1 << p) // 2


def sparse_blobs(hashes: np.ndarray, bounds: np.ndarray, p: int = 14,
                 sparse_limit: int | None = None) -> list:
    """Per group g, the blob of ``HyperLogLog(p, sparse_limit)`` after one
    ``update_hashes`` with the nonzero ``hashes[bounds[g]:bounds[g + 1]]``
    — or None where the group's distinct count passes the sparse limit
    (that sketch goes dense: build it through the object). All groups'
    sparse sets come from one sort (``distinct_by_group``)."""
    from tsv_utils_spark.sketches.hashing import distinct_by_group

    limit = _sparse_limit(p, sparse_limit)
    h, ob = distinct_by_group(hashes, bounds)
    head = struct.pack("<BB", _MODE_SPARSE, p)
    raw = h.tobytes()
    return [head + raw[8 * a:8 * b] if b - a <= limit else None
            for a, b in zip(ob[:-1].tolist(), ob[1:].tolist())]


_HEAD = np.dtype([("mode", "u1"), ("p", "u1")])


class SparseMerge:
    """Every group's HLL partials merged at once (level 2): group g's
    blobs are ``blobs[bounds[g]:bounds[g + 1]]``, in run order. Group g
    is merged here (``ok[g]``) when every blob is sparse with one p and
    the union holds at most the sparse limit (``sparse_limit``, else the
    default of that p); the union is then the sketch that
    ``deserialize`` + ``merge`` of the blobs would hold. Every group's
    union comes from one sort (``distinct_by_group``). Other groups,
    mixed p included, are left to the sketch objects."""

    def __init__(self, blobs: list, bounds: np.ndarray,
                 sparse_limit: int | None = None):
        from tsv_utils_spark.sketches.hashing import (
            blob_headers,
            distinct_by_group,
            group_all,
            group_bounds,
            same_as_first,
        )

        nb = np.diff(bounds)
        head, lens = blob_headers(blobs, _HEAD)
        p = head["p"].astype(np.int64)
        good = ((lens >= 2) & (head["mode"] == _MODE_SPARSE)
                & ((lens - 2) % 8 == 0) & (p >= 4) & (p <= 18)
                & same_as_first(p, bounds))
        ok = group_all(good, bounds)
        use = np.repeat(ok, nb)
        h = np.frombuffer(b"".join(b[2:] for b, u in zip(blobs, use.tolist())
                                   if u), dtype=np.uint64)
        per_group = np.add.reduceat(np.where(use, (lens - 2) // 8, 0),
                                    bounds[:-1])
        self.p = p[bounds[:-1]]
        self.hashes, self.ob = distinct_by_group(h, group_bounds(per_group))
        limit = (1 << self.p) // 2 if sparse_limit is None else sparse_limit
        self.ok = ok & (np.diff(self.ob) <= limit)

    def estimates(self) -> np.ndarray:
        return np.diff(self.ob).astype(np.float64)

    def blobs(self) -> list:
        """Each merged group's blob (None where not ``ok``)."""
        raw = self.hashes.tobytes()
        return [struct.pack("<BB", _MODE_SPARSE, p) + raw[8 * a:8 * b]
                if ok else None
                for ok, p, a, b in zip(self.ok.tolist(), self.p.tolist(),
                                       self.ob[:-1].tolist(),
                                       self.ob[1:].tolist())]


def _leading_zeros64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (binary-search on bits)."""
    x = x.astype(np.uint64, copy=False)
    n = np.zeros(x.shape, dtype=np.int64)
    for shift, bits in ((32, 0xFFFFFFFF00000000), (16, 0xFFFF000000000000),
                        (8, 0xFF00000000000000), (4, 0xF000000000000000),
                        (2, 0xC000000000000000), (1, 0x8000000000000000)):
        mask = (x & np.uint64(bits)) == np.uint64(0)
        n = np.where(mask, n + shift, n)
        x = np.where(mask, x << np.uint64(shift), x)
    return n
