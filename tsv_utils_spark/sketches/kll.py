"""KLL quantile sketch (Karnin, Lang, Liberty 2016) — mergeable, rank-error
bounded, NumPy-vectorized.

Replaces the reference's exact in-memory quantiles
(``tsv-summarize --median/--quantile``, tsv-summarize.d:3434-3592,
numerics.d:486-716) with a bounded-memory mergeable sketch for the
10^12-row regime.

Design:
- ``levels[h]`` is an unsorted float64 buffer of items with weight ``2**h``.
- Level capacities follow the KLL geometric rule
  ``cap(h) = max(ceil(k * c**(H-1-h)), min_cap)`` with c = 2/3, min_cap = 8.
- Compaction of a level: sort, take every other item (random even/odd
  offset), promote to the next level (weight doubles).
- Randomness is drawn from a deterministic PCG64 stream seeded from the
  items being compacted — same data => same sketch, independent of
  process; different data => effectively random offsets. This keeps test
  runs and the two-parallelism-level benchmark reproducible.

Normalized rank error is ~< 1.65 * c^1.5 / k  (single-sided, KLL paper
Thm. 1 constants rounded up); ``rank_error()`` exposes a conservative
bound used by the pytest accuracy gates.

Quantile semantics: ``quantile(q)`` returns the item whose weighted rank
straddles q*N — the distributed analogue of the reference's R-1 style
lookup; while the sketch holds fewer than k items (level 0 only, no
compactions yet) results are **exact** and interpolated with the R-7 rule
(numerics.d:632 default) to match tsv-summarize bit-for-bit on small
groups.
"""

from __future__ import annotations

import struct

import numpy as np

_C = 2.0 / 3.0
_MIN_CAP = 8


class KLL:
    __slots__ = ("k", "levels", "n")

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0

    # -- update ---------------------------------------------------------
    def update(self, values) -> None:
        arr = np.asarray(values, dtype=np.float64)
        arr = arr[~np.isnan(arr)]
        if arr.size == 0:
            return
        self.n += int(arr.size)
        self.levels[0] = np.concatenate([self.levels[0], arr])
        self._compress()

    def _cap(self, h: int, num_levels: int) -> int:
        return max(int(np.ceil(self.k * _C ** (num_levels - 1 - h))), _MIN_CAP)

    def _total_cap(self, num_levels: int) -> int:
        return sum(self._cap(h, num_levels) for h in range(num_levels))

    def _compress(self) -> None:
        # compact while total item count exceeds total capacity
        while sum(lv.size for lv in self.levels) > self._total_cap(len(self.levels)):
            H = len(self.levels)
            for h in range(H):
                if self.levels[h].size > self._cap(h, H):
                    self._compact_level(h)
                    break
            else:
                break

    def _compact_level(self, h: int) -> None:
        buf = np.sort(self.levels[h])
        # deterministic offset derived from the buffer contents
        seed = np.uint64(buf.view(np.uint64).sum(dtype=np.uint64))
        offset = int(seed) & 1
        promoted = buf[offset::2]
        self.levels[h] = np.empty(0, dtype=np.float64)
        if h + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    # -- merge ----------------------------------------------------------
    def merge(self, other: "KLL") -> "KLL":
        if other.n == 0:
            return self
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, lv in enumerate(other.levels):
            if lv.size:
                self.levels[h] = np.concatenate([self.levels[h], lv])
        self.n += other.n
        self._compress()
        return self

    # -- query ----------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for h, lv in enumerate(self.levels):
            if lv.size:
                items.append(lv)
                weights.append(np.full(lv.size, 1 << h, dtype=np.float64))
        if not items:
            return np.empty(0), np.empty(0)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    @property
    def is_exact(self) -> bool:
        """True while no compaction has happened (all items at level 0)."""
        return len(self.levels) == 1 or all(lv.size == 0 for lv in self.levels[1:])

    def quantile(self, q: float) -> float:
        if self.n == 0:
            return float("nan")
        if self.is_exact:
            # R-7 linear interpolation — matches the reference default
            # (numerics.d:632 QuantileInterpolation.R7) and Spark/DuckDB
            # percentile/quantile_cont.
            return float(np.quantile(self.levels[0], q, method="linear"))
        it, wt = self._weighted()
        cum = np.cumsum(wt)
        target = q * cum[-1]
        idx = int(np.searchsorted(cum, target, side="left"))
        idx = min(idx, it.size - 1)
        return float(it[idx])

    def quantiles(self, qs) -> list[float]:
        return [self.quantile(q) for q in qs]

    def rank(self, value: float) -> float:
        """Estimated normalized rank of ``value``."""
        if self.n == 0:
            return float("nan")
        it, wt = self._weighted()
        mask = it <= value
        return float(wt[mask].sum() / wt.sum())

    def rank_error(self) -> float:
        """Conservative single-sided normalized rank error bound."""
        if self.is_exact:
            return 0.0
        return 1.65 * (_C ** 1.5) / self.k * np.sqrt(
            max(1.0, np.log2(max(self.n / self.k, 2.0)))
        )

    # -- serialization --------------------------------------------------
    def serialize(self) -> bytes:
        head = struct.pack("<IQI", self.k, self.n, len(self.levels))
        sizes = struct.pack(f"<{len(self.levels)}I", *[lv.size for lv in self.levels])
        payload = b"".join(lv.tobytes() for lv in self.levels)
        return head + sizes + payload

    @classmethod
    def deserialize(cls, blob: bytes) -> "KLL":
        k, n, nlv = struct.unpack_from("<IQI", blob)
        off = struct.calcsize("<IQI")
        sizes = struct.unpack_from(f"<{nlv}I", blob, off)
        off += 4 * nlv
        out = cls(k=k)
        out.n = n
        out.levels = []
        for s in sizes:
            out.levels.append(np.frombuffer(blob, dtype=np.float64, count=s, offset=off).copy())
            off += 8 * s
        if not out.levels:
            out.levels = [np.empty(0, dtype=np.float64)]
        return out


def exact_blobs(values: np.ndarray, bounds: np.ndarray,
                k: int = 200) -> list:
    """Per group g, the blob of ``KLL(k)`` after one ``update`` with
    ``values[bounds[g]:bounds[g + 1]]`` (float64, row order) — or None
    where more than k values are left after NaN is dropped (that sketch
    compacts: build it through the object). A sketch of n <= k values
    is one level holding them in update order."""
    from tsv_utils_spark.sketches.hashing import group_bounds

    keep = ~np.isnan(values)
    g = np.repeat(np.arange(bounds.size - 1), np.diff(bounds))
    ob = group_bounds(np.bincount(g[keep], minlength=bounds.size - 1))
    raw = values[keep].tobytes()
    return [struct.pack("<IQII", k, b - a, 1, b - a) + raw[8 * a:8 * b]
            if b - a <= k else None
            for a, b in zip(ob[:-1].tolist(), ob[1:].tolist())]


_HEAD = np.dtype([("k", "<u4"), ("n", "<u8"), ("levels", "<u4"),
                  ("size", "<u4")])


class ExactMerge:
    """Every group's KLL partials merged at once (level 2): group g's
    blobs are ``blobs[bounds[g]:bounds[g + 1]]``, in run order. Group g
    is merged here (``ok[g]``) when every blob is one level with one k
    and the group holds at most that k values in all: then no merge
    compacts, and the merged sketch is one level of the blobs' values in
    run order. Other groups (a multi-level blob, or more than k values)
    are left to the sketch objects."""

    def __init__(self, blobs: list, bounds: np.ndarray):
        from tsv_utils_spark.sketches.hashing import (
            blob_headers,
            group_all,
            group_bounds,
            same_as_first,
        )

        head, lens = blob_headers(blobs, _HEAD)
        k = head["k"].astype(np.int64)
        size = head["size"].astype(np.int64)
        good = ((head["levels"] == 1) & (head["n"] == head["size"])
                & (lens >= 20 + 8 * size) & (k >= 8)
                & same_as_first(k, bounds))
        ok = group_all(good, bounds)
        size = np.where(np.repeat(ok, np.diff(bounds)), size, 0)
        self.k = k[bounds[:-1]]
        total = np.add.reduceat(size, bounds[:-1])
        self.ok = ok & (total <= self.k)
        self.values = np.frombuffer(b"".join(
            b[20:20 + 8 * s] for b, s in zip(blobs, size.tolist()) if s),
            dtype=np.float64)
        self.ob = group_bounds(total)

    def quantiles(self, qs: list) -> np.ndarray:
        """(len(qs), groups): each merged group's R-7 quantiles (NaN for
        an empty group), as ``KLL.quantile`` gives them: groups of equal
        size go through one ``np.quantile(axis=1)``."""
        out = np.full((len(qs), self.ok.size), np.nan)
        n = np.diff(self.ob)
        for m in np.unique(n[self.ok & (n > 0)]).tolist():
            gs = np.flatnonzero(self.ok & (n == m))
            vals = self.values[self.ob[gs][:, None] + np.arange(m)]
            out[:, gs] = np.quantile(vals, qs, axis=1, method="linear")
        return out

    def blobs(self) -> list:
        """Each merged group's blob (None where not ``ok``)."""
        raw = self.values.tobytes()
        return [struct.pack("<IQII", k, b - a, 1, b - a) + raw[8 * a:8 * b]
                if ok else None
                for ok, k, a, b in zip(self.ok.tolist(), self.k.tolist(),
                                       self.ob[:-1].tolist(),
                                       self.ob[1:].tolist())]
