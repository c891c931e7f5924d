"""Per-group answer checks against exact answers, using published bounds.

Pure functions over plain Python/NumPy values, so they can be tested
without Spark. Every check returns the error it measured and whether that
error is inside the bound; a workload turns any miss into a failed query.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass, field

import numpy as np

# HyperLogLog: SketchSpec's per-group default precision and sparse limit.
HLL_P = 12
HLL_SPARSE_LIMIT = (1 << HLL_P) // 2
# The published bound 1.04/sqrt(m) is one standard error; a per-group
# check at one sigma would fail about a third of dense groups by design.
HLL_SIGMAS = 4.0
# KLL: SketchSpec's default k.
KLL_K = 200
# Exact quantile answers (operators.summarize) must match Spark's
# F.percentile; the library promises bit-identical results.
EXACT_REL_TOL = 1e-12


def hll_bound(p: int = HLL_P) -> float:
    return HLL_SIGMAS * 1.04 / math.sqrt(1 << p)


def hll_error(estimate: float, exact: int) -> tuple[float, bool]:
    """(relative error, within bound). Exact while the sketch is sparse."""
    err = abs(estimate - exact) / max(exact, 1)
    if exact <= HLL_SPARSE_LIMIT:
        return err, estimate == exact
    return err, err <= hll_bound()


def kll_bound(k: int = KLL_K) -> float:
    """Single-sided normalised rank error of a KLL sketch at 99%
    confidence, as published by Apache DataSketches
    (``KllSketch.getNormalizedRankError(k, false)``): 1.33% at k = 200."""
    return 2.296 / k ** 0.9723


@functools.lru_cache(maxsize=None)
def kll_library_bound(n: int, k: int = KLL_K) -> float:
    """The bound the library itself reports (``KLL.rank_error``) for a
    sketch that has seen n items; 0 while it is exact."""
    from tsv_utils_spark.sketches.kll import KLL

    sketch = KLL(k=k)
    sketch.update(np.arange(n, dtype=np.float64))
    return sketch.rank_error()


@dataclass
class ValueHistogram:
    """Exact sorted distinct values of one group with cumulative counts."""

    values: np.ndarray
    cum: np.ndarray

    @classmethod
    def from_counts(cls, pairs) -> "ValueHistogram":
        pairs = sorted(pairs)
        vals = np.array([v for v, _ in pairs], dtype=np.float64)
        return cls(vals, np.cumsum([c for _, c in pairs], dtype=np.int64))

    @property
    def n(self) -> int:
        return int(self.cum[-1]) if self.cum.size else 0

    def rank_interval(self, v: float) -> tuple[float, float]:
        """(share of items < v, share of items <= v)."""
        lo = int(np.searchsorted(self.values, v, side="left"))
        hi = int(np.searchsorted(self.values, v, side="right"))
        below = int(self.cum[lo - 1]) if lo else 0
        upto = int(self.cum[hi - 1]) if hi else 0
        return below / self.n, upto / self.n


def kll_error(estimate: float, q: float, hist: ValueHistogram,
              exact_value: float) -> tuple[float, bool]:
    """(normalised-rank error, within bound). While the sketch is exact
    (n <= k) the estimate must equal the exact R-7 percentile; after that
    its rank must lie within ``kll_bound()`` of q."""
    if hist.n <= KLL_K and exact_equal(estimate, exact_value):
        return 0.0, True
    lo, hi = hist.rank_interval(estimate)
    err = max(0.0, lo - q, q - hi)
    return err, hist.n > KLL_K and err <= kll_bound()


def exact_equal(got: float | None, want: float | None) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return math.isclose(got, want, rel_tol=EXACT_REL_TOL, abs_tol=0.0)


@dataclass
class Check:
    """Outcome of checking one answer: worst errors and every miss."""

    hll_rel_err_max: float = 0.0
    kll_rank_err_max: float = 0.0
    # worst KLL rank error as a share of the library's own rank_error()
    kll_over_library_bound_max: float = 0.0
    cm_groups: int = 0
    cm_misses: int = 0
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems

    @property
    def cm_mode_miss_frac(self) -> float:
        return self.cm_misses / self.cm_groups if self.cm_groups else 0.0

    def hll(self, key, name, estimate, exact) -> None:
        err, ok = hll_error(estimate, exact)
        self.hll_rel_err_max = max(self.hll_rel_err_max, err)
        if not ok:
            self.problems.append(
                f"{key} {name}: hll {estimate} vs exact {exact}")

    def kll(self, key, name, estimate, q, hist, exact_value) -> None:
        err, ok = kll_error(estimate, q, hist, exact_value)
        self.kll_rank_err_max = max(self.kll_rank_err_max, err)
        if err and hist.n > KLL_K:
            self.kll_over_library_bound_max = max(
                self.kll_over_library_bound_max,
                err / kll_library_bound(hist.n))
        if not ok:
            self.problems.append(
                f"{key} {name}: kll q={q} {estimate} rank error {err:.5f}"
                f" > {kll_bound():.5f} (n={hist.n})")

    def mode(self, key, name, estimate, modes) -> None:
        self.cm_groups += 1
        if estimate not in modes:
            self.cm_misses += 1
            self.problems.append(
                f"{key} {name}: mode {estimate!r} not in {sorted(modes)[:4]}")
