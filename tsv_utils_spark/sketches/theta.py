"""Theta sketch (k-minimum-values flavor) — mergeable DISTINCT-COUNT
sketch that, unlike HLL, also supports SET OPERATIONS: intersection and
difference cardinality estimates between sketches built independently
(different groups, different tables, different days).

Model (standard KMV / theta formulation, e.g. Dasgupta et al. 2016,
"Theta-Sketch Framework"): hash every item to a uniform 64-bit value,
keep the k SMALLEST distinct hashes. theta = (k-th smallest)/2^64 is the
sampling threshold; the retained hashes are a uniform sample of the
distinct items at rate theta, so

    estimate         = (k - 1) / theta          (when at capacity)
    |A ∩ B| estimate = |{h in A.set ∩ B.set : h < theta}| / theta,
                       theta = min(theta_A, theta_B)
    |A \\ B| estimate = same with set difference.

Below capacity the sketch holds EVERY distinct hash (theta = 1) and all
answers are exact — the same exact-below-limit property the engine's
HLL sparse phase uses for exact oracles. Merge = set-union + retrim
(associative, commutative; permutation-tested).

Error: relative standard error ~ 1/sqrt(k - 1) for estimates at
capacity; intersections inherit the rate from the retained overlap.

HASH-DOMAIN CONTRACT: set operations only make sense between sketches
whose items were hashed by the SAME hash family. Sketches built through
the Spark pipeline (``SketchSpec('theta')`` — items hashed JVM-side
with xxhash64) and sketches built directly with ``update()`` (Python
``hash64``) live in DISJOINT hash domains: intersecting across them
silently returns ~0. Build every sketch you intend to combine through
the same path.
"""

from __future__ import annotations

import struct

import numpy as np

from tsv_utils_spark.sketches.hashing import (
    blob_headers,
    distinct_by_group,
    group_all,
    group_bounds,
    hash64,
    same_as_first,
)

_TWO64 = float(1 << 64)


class ThetaKMV:
    __slots__ = ("k", "hashes")

    def __init__(self, k: int = 4096):
        if k < 2:
            raise ValueError("k must be >= 2")
        self.k = k
        self.hashes = np.empty(0, dtype=np.uint64)  # sorted, distinct

    # -- update ---------------------------------------------------------
    def update(self, values) -> None:
        arr = np.asarray(values)
        if arr.size == 0:
            return
        self.update_hashes(hash64(arr))

    def update_hashes(self, h: np.ndarray) -> None:
        if h.size == 0:
            return
        merged = np.union1d(self.hashes, h.astype(np.uint64, copy=False))
        self.hashes = merged[: self.k]

    # -- query ----------------------------------------------------------
    @property
    def theta(self) -> float:
        if self.hashes.size < self.k:
            return 1.0
        # threshold = the largest RETAINED hash; everything below it is
        # a uniform sample of the distinct items
        return float(self.hashes[-1]) / _TWO64

    def estimate(self) -> float:
        if self.hashes.size < self.k:
            return float(self.hashes.size)  # exact below capacity
        return (self.k - 1) / self.theta

    def _joint(self, other: "ThetaKMV"):
        """(theta, retained-below-threshold hashes of both sides), with
        the threshold held as an EXACT uint64 — a float64 round-trip of
        a value near 2^64 can be off by ~1024 ulps, occasionally
        re-including the theta-defining hash itself (which would make
        self.intersect_estimate(self) disagree with estimate())."""
        bounds = [s.hashes[-1] for s in (self, other)
                  if s.hashes.size >= s.k]
        if not bounds:
            return 1.0, self.hashes, other.hashes
        bound = min(bounds)
        th = float(bound) / _TWO64
        return (th, self.hashes[self.hashes < bound],
                other.hashes[other.hashes < bound])

    def intersect_estimate(self, other: "ThetaKMV") -> float:
        th, a, b = self._joint(other)
        return np.intersect1d(a, b).size / th

    def difference_estimate(self, other: "ThetaKMV") -> float:
        """|self \\ other|."""
        th, a, b = self._joint(other)
        return np.setdiff1d(a, b).size / th

    def union_estimate(self, other: "ThetaKMV") -> float:
        # unlike intersect/difference (valid across capacities via the
        # shared threshold), a union at MIXED k would treat the smaller
        # sketch's discarded hashes as nonexistent and undercount
        # arbitrarily — same-k is required, as in merge()
        if other.k != self.k:
            raise ValueError("theta k mismatch")
        m = ThetaKMV(k=self.k)
        m.update_hashes(self.hashes)
        m.update_hashes(other.hashes)
        return m.estimate()

    @property
    def rse(self) -> float:
        """Relative standard error bound at capacity (~1/sqrt(k-1))."""
        return 1.0 / float(np.sqrt(self.k - 1))

    # -- merge / serde --------------------------------------------------
    def merge(self, other: "ThetaKMV") -> "ThetaKMV":
        if other.k != self.k:
            raise ValueError("theta k mismatch")
        self.update_hashes(other.hashes)
        return self

    def serialize(self) -> bytes:
        head = struct.pack("<II", self.k, self.hashes.size)
        return head + self.hashes.tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "ThetaKMV":
        k, n = struct.unpack_from("<II", blob)
        out = cls(k=k)
        out.hashes = np.frombuffer(blob, dtype=np.uint64, count=n,
                                   offset=8).copy()
        return out


def kmv_blobs(hashes: np.ndarray, bounds: np.ndarray,
              k: int = 4096) -> list:
    """Per group g, the blob of ``ThetaKMV(k)`` after one
    ``update_hashes`` with the nonzero ``hashes[bounds[g]:bounds[g + 1]]``:
    one update keeps the k smallest distinct hashes, so every group —
    below k or past it — is one slice of one sort
    (``distinct_by_group``)."""
    h, ob = distinct_by_group(hashes, bounds)
    raw = h.tobytes()
    out = []
    for a, b in zip(ob[:-1].tolist(), ob[1:].tolist()):
        n = min(b - a, k)
        out.append(struct.pack("<II", k, n) + raw[8 * a:8 * (a + n)])
    return out


_HEAD = np.dtype([("k", "<u4"), ("n", "<u4")])


class KMVMerge:
    """Every group's theta partials merged at once (level 2): group g's
    blobs are ``blobs[bounds[g]:bounds[g + 1]]``. Group g is merged here
    (``ok[g]``) when its blobs share one k and each holds at most k
    hashes: the merged sketch is then the k smallest hashes of the
    union, from one sort for all groups (``distinct_by_group``). Other
    groups, mixed k included, are left to the sketch objects."""

    def __init__(self, blobs: list, bounds: np.ndarray):
        head, lens = blob_headers(blobs, _HEAD)
        k = head["k"].astype(np.int64)
        n = head["n"].astype(np.int64)
        good = ((lens >= 8 + 8 * n) & (k >= 2) & (n <= k)
                & same_as_first(k, bounds))
        self.ok = group_all(good, bounds)
        use = np.repeat(self.ok, np.diff(bounds))
        h = np.frombuffer(b"".join(b[8:8 + 8 * c] for b, c, u in
                                   zip(blobs, n.tolist(), use.tolist()) if u),
                          dtype=np.uint64)
        per_group = np.add.reduceat(np.where(use, n, 0), bounds[:-1])
        self.hashes, self.ob = distinct_by_group(h, group_bounds(per_group))
        self.k = k[bounds[:-1]]
        self.size = np.minimum(np.diff(self.ob), self.k)

    def estimates(self) -> np.ndarray:
        est = self.size.astype(np.float64)
        full = np.flatnonzero(self.ok & (self.size >= self.k))
        # (k - 1) / theta, theta = the k-th smallest hash / 2^64
        theta = self.hashes[self.ob[full] + self.k[full] - 1] \
            .astype(np.float64) / _TWO64
        est[full] = (self.k[full] - 1) / theta
        return est

    def blobs(self) -> list:
        """Each merged group's blob (None where not ``ok``)."""
        raw = self.hashes.tobytes()
        return [struct.pack("<II", k, m) + raw[8 * a:8 * (a + m)]
                if ok else None
                for ok, k, m, a in zip(self.ok.tolist(), self.k.tolist(),
                                       self.size.tolist(),
                                       self.ob[:-1].tolist())]
