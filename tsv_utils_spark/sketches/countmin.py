"""Count-Min sketch + heavy-hitter candidate tracking — mergeable frequency
sketch for mode / mode-count / heavy-hitter queries.

Replaces the reference's exact in-memory value->count maps
(``tsv-summarize --mode/--mode-count``, tsv-summarize.d:4016-4185) at
unbounded cardinality.

- Table: ``depth x width`` int64 counters; width is a power of two.
- Row hashes are derived from one 64-bit item hash via seeded splitmix
  re-mixing (pairwise-independent enough in practice; standard CM usage),
  computed for all rows in one broadcast pass as flat cell indices
  (``row * width + column``).
- **Sparse phase** (like the HLL's): a per-group sketch in the two-level
  plan touches about ``depth x distinct values`` cells, not the whole
  table. While it holds at most 1/64 of the cells, the sketch keeps only
  sorted unique flat cell indices and their nonzero int64 counts;
  update, merge, point lookups (by ``searchsorted``) and serde work on
  that form, so their cost follows the cells touched, not the width.
  Before an update or merge that could take it past 1/64, it turns into
  the dense table once and for good (a deserialized blob stays in the
  form it was stored in until then). 1/64 is measured, not guessed: per
  group, level-1 partials cost more sparse than dense from about 1/32
  of the cells, and level-2 merges re-sort the sparse cells on every
  merge, so coarser bounds lose on high-cardinality groups while finer
  ones gain nothing. The switch changes no counter, estimate or blob;
  ``table`` builds the dense form on demand (read-only).
- Guarantee (Cormode & Muthukrishnan 2005): point estimate overestimates
  true count by at most ``eps * N`` with probability ``1 - delta_fail``,
  where ``eps = e / width`` and ``delta_fail = exp(-depth)``.
- Merge: element-wise add (exact-associative), in either phase.
- Heavy hitters / mode: CM alone can't enumerate values, so each sketch
  carries a bounded candidate set (value -> CM estimate), merged by union
  and re-truncated to ``max_candidates`` by estimated count (Space-Saving
  flavored). With ``max_candidates`` >= true distinct count the mode is
  exact up to CM collisions.
- Blob: header ``<BIIQII`` (mode, depth, width, n, max_candidates,
  candidate length), typed-JSON candidates, then a sparse payload
  ((uint32 flat index, int64 count) pairs, ascending index, zero counts
  dropped) iff ``nnz * 12 < depth * width * 8``, else the raw table. The
  format does not depend on the in-memory phase: either phase writes the
  same bytes for the same counters. ``deserialize`` rejects a sparse
  payload whose indices are not strictly ascending inside the table.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import struct

import numpy as np

from tsv_utils_spark.sketches.hashing import hash64, splitmix64


def _enc_candidates(cand: dict) -> bytes:
    """Typed-JSON candidate encoding. Deliberately NOT pickle: blobs round-
    trip through checkpoint/streaming-state parquet, and unpickling data
    read back from storage would execute attacker-controlled bytecode.
    JSON is data-only. Floats/bytes use hex for exact round-trip."""
    return json.dumps([(*_enc_value(v), n) for v, n in cand.items()],
                      ensure_ascii=False).encode("utf-8")


def _enc_value(v) -> tuple:
    """(type tag, JSON-safe payload) of one candidate key."""
    if v is None:
        return ("n", None)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, (bytes, bytearray)):
        return ("B", bytes(v).hex())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, datetime.datetime):  # before date: subclass
        return ("t", v.isoformat())
    if isinstance(v, datetime.date):
        return ("D", v.isoformat())
    # a silent str(v) fallback would split a key's counts in two
    # after a serialize round-trip (stringified vs typed) and
    # change the finalized mode's type — reject loudly instead
    raise TypeError(
        f"count-min candidate key type {type(v).__name__} is not "
        f"round-trippable; supported: None/bool/int/float/bytes/"
        f"str/Decimal/date/datetime")


def _dec_candidates(blob: bytes) -> dict:
    out: dict = {}
    for t, v, n in json.loads(blob.decode("utf-8")):
        if t == "n":
            key = None
        elif t == "b":
            key = bool(v)
        elif t == "i":
            key = int(v)
        elif t == "f":
            key = float.fromhex(v)
        elif t == "B":
            key = bytes.fromhex(v)
        elif t == "d":
            key = decimal.Decimal(v)
        elif t == "t":
            key = datetime.datetime.fromisoformat(v)
        elif t == "D":
            key = datetime.date.fromisoformat(v)
        else:
            key = v
        out[key] = int(n)
    return out


_SEED_MULT = 0xA076_1D64_78BD_642F
_U64 = 0xFFFF_FFFF_FFFF_FFFF
# the sparse phase holds at most (depth * width) >> _SPARSE_SHIFT cells
# (640 of the 40,960 at 5 x 2^13; see the module docstring)
_SPARSE_SHIFT = 6


@functools.lru_cache(maxsize=None)
def _row_layout(depth: int, width: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-row hash seeds (depth, 1) and flat row offsets (depth, 1)."""
    seeds = np.array([_SEED_MULT * (d + 1) & _U64 for d in range(depth)],
                     dtype=np.uint64)[:, None]
    offsets = (np.arange(depth, dtype=np.int64) * width)[:, None]
    # cached and shared by every sketch of this shape
    seeds.flags.writeable = offsets.flags.writeable = False
    return seeds, offsets


def _sum_cells(cells: np.ndarray,
               counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sum ``counts`` per flat cell: sorted unique cells with their
    nonzero totals (exact int64 sums; zero totals are dropped)."""
    if not cells.size:
        return cells, counts
    order = np.argsort(cells, kind="stable")
    cells, counts = cells[order], counts[order]
    start = np.flatnonzero(np.concatenate(([True], cells[1:] != cells[:-1])))
    cells, counts = cells[start], np.add.reduceat(counts, start)
    keep = counts != 0
    return cells[keep], counts[keep]


def _flat_indices(h: np.ndarray, depth: int, width: int) -> np.ndarray:
    """(depth, n) flat cell indices (row * width + column) from item
    hashes: one broadcast splitmix64 over all rows."""
    seeds, offsets = _row_layout(depth, width)
    cols = splitmix64(h[None, :] ^ seeds) & np.uint64(width - 1)
    return cols.astype(np.int64) + offsets


class CountMin:
    __slots__ = ("depth", "width", "n", "candidates", "max_candidates",
                 "_cells", "_counts", "_dense")

    def __init__(self, depth: int = 5, width: int = 1 << 16,
                 max_candidates: int = 256):
        if width & (width - 1):
            raise ValueError("width must be a power of two")
        self.depth = depth
        self.width = width
        self.n = 0
        self.max_candidates = max_candidates
        self.candidates: dict = {}
        # sparse phase: sorted unique flat cell indices + nonzero counts;
        # dense phase: _dense is the (depth, width) table, _cells is None
        self._cells: np.ndarray | None = np.empty(0, dtype=np.int64)
        self._counts = np.empty(0, dtype=np.int64)
        self._dense: np.ndarray | None = None

    @property
    def table(self) -> np.ndarray:
        """Read-only dense ``(depth, width)`` view of the counters."""
        out = self._dense.view() if self._dense is not None \
            else self._scatter()
        out.flags.writeable = False
        return out

    def _scatter(self) -> np.ndarray:
        """A fresh dense table holding the sparse phase's counts."""
        dense = np.zeros((self.depth, self.width), dtype=np.int64)
        dense.reshape(-1)[self._cells] = self._counts
        return dense

    # -- hashing --------------------------------------------------------
    def _indices(self, h: np.ndarray) -> np.ndarray:
        return _flat_indices(h, self.depth, self.width)

    def _lookup(self, flat: np.ndarray) -> np.ndarray:
        """Counter values at flat cell indices (any shape)."""
        if self._dense is not None:
            return self._dense.reshape(-1)[flat]
        if not self._cells.size:
            return np.zeros(flat.shape, dtype=np.int64)
        pos = np.minimum(np.searchsorted(self._cells, flat),
                         self._cells.size - 1)
        return np.where(self._cells[pos] == flat, self._counts[pos], 0)

    def _add_cells(self, cells: np.ndarray, counts: np.ndarray,
                   unique: bool = False) -> None:
        """Add counts at flat cells (``unique``: no cell repeats). A sparse
        sketch turns dense, for good, before an addition that could take
        it past its bound; the switch changes no estimate or blob."""
        if not cells.size:
            return
        if self._dense is None:
            bound = (self.depth * self.width) >> _SPARSE_SHIFT
            if self._cells.size + cells.size <= bound:
                self._cells, self._counts = _sum_cells(
                    np.concatenate((self._cells, cells)),
                    np.concatenate((self._counts, counts)))
                return
            self._dense = self._scatter()
            self._cells = self._counts = None
        flat = self._dense.reshape(-1)
        if unique:
            flat[cells] += counts
        else:
            np.add.at(flat, cells, counts)

    # -- update ---------------------------------------------------------
    def update(self, values, counts: np.ndarray | None = None) -> None:
        """Batch update. ``values`` may repeat; pass ``counts`` to add
        pre-aggregated (value, count) pairs (the map-side-combined path)."""
        arr = np.asarray(values)
        if arr.size == 0:
            return
        if counts is None:
            # hash-based pre-aggregation (pandas factorize) — much faster
            # than sort-based np.unique on object/string arrays
            import pandas as pd

            codes, uniq = pd.factorize(arr)
            cnt = np.bincount(codes[codes >= 0]).astype(np.int64)
            uniq = np.asarray(uniq)
        else:
            uniq, cnt = arr, np.asarray(counts, dtype=np.int64)
        idx = self._indices(hash64(uniq))
        self._add_cells(idx.reshape(-1), np.tile(cnt, self.depth))
        self.n += int(cnt.sum())
        # track candidates — keys canonicalized (tz-aware datetimes ->
        # naive UTC) so partials from the Arrow kernel (aware) and
        # pandas callers (naive) merge into ONE candidate per instant
        # instead of splitting its counts
        from tsv_utils_spark.sketches.hashing import canon_datetime

        est = self._lookup(idx).min(axis=0)
        if uniq.dtype.kind == "M":
            # datetime64[ns].tolist() yields raw epoch-ns ints (ns exceeds
            # datetime.datetime precision) — the candidate key would then
            # split between int (this path) and datetime (Arrow-kernel /
            # re-score path) across merged partials, and a typed-mode
            # finalize could return an int where out_type='timestamp'.
            # Down-convert to [us] first so .tolist() gives naive datetimes.
            keys = uniq.astype("datetime64[us]").tolist()
        else:
            keys = uniq.tolist()
        for v, e in zip(keys, est.tolist()):
            v = canon_datetime(v)
            self.candidates[v] = max(self.candidates.get(v, 0), int(e))
        self._truncate()

    def _truncate(self) -> None:
        if len(self.candidates) > self.max_candidates:
            keep = sorted(self.candidates.items(), key=lambda kv: (-kv[1], str(kv[0])))
            self.candidates = dict(keep[: self.max_candidates])

    # -- query ----------------------------------------------------------
    def count(self, value) -> int:
        return int(self.counts(np.asarray([value]))[0])

    def counts(self, values) -> np.ndarray:
        return self._lookup(self._indices(hash64(values))).min(axis=0)

    def heavy_hitters(self, k: int | None = None) -> list[tuple[object, int]]:
        """Candidates re-scored against the merged table, sorted by
        (-count, value) — deterministic tie-break on the value itself
        (the distributed stand-in for the reference's first-seen rule)."""
        if not self.candidates:
            return []
        vals = list(self.candidates.keys())
        est = self.counts(np.asarray(vals, dtype=object))
        out = sorted(zip(vals, est.tolist()), key=lambda kv: (-kv[1], str(kv[0])))
        return out[:k] if k else out

    def mode(self) -> tuple[object, int] | None:
        hh = self.heavy_hitters(1)
        return hh[0] if hh else None

    @property
    def epsilon(self) -> float:
        """CM overestimate bound factor: err <= e/width * N w.p. 1-exp(-depth)."""
        return float(np.e / self.width)

    # -- merge / serde --------------------------------------------------
    def merge(self, other: "CountMin") -> "CountMin":
        if (other.depth, other.width) != (self.depth, self.width):
            raise ValueError("CM shape mismatch")
        if other._dense is None:
            self._add_cells(other._cells, other._counts, unique=True)
        elif self._dense is not None:
            self._dense += other._dense
        else:
            self._dense = self._scatter() + other._dense
            self._cells = self._counts = None
        self.n += other.n
        for v, e in other.candidates.items():
            self.candidates[v] = max(self.candidates.get(v, 0), e)
        self._truncate()
        return self

    def serialize(self) -> bytes:
        """Sparse payload = (uint32 flat index, int64 count) pairs in
        ascending index order, zero counts dropped; dense = raw table.
        Whichever is smaller wins (sparse iff nnz * 12 < depth*width*8)."""
        cand = _enc_candidates(self.candidates)
        if self._dense is None:
            nz, counts = self._cells, self._counts
        else:
            flat = self._dense.reshape(-1)
            nz = np.flatnonzero(flat)
            counts = flat[nz]
        if nz.size * 12 < self.depth * self.width * 8:
            return _sparse_blob(self.depth, self.width, self.n,
                                self.max_candidates, cand, nz.size,
                                nz.astype(np.uint32).tobytes(),
                                counts.tobytes())
        head = struct.pack("<BIIQII", 0, self.depth, self.width, self.n,
                           self.max_candidates, len(cand))
        return head + cand + self.table.tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "CountMin":
        mode, depth, width, n, mc, clen = struct.unpack_from("<BIIQII", blob)
        off = struct.calcsize("<BIIQII")
        out = cls(depth=depth, width=width, max_candidates=mc)
        out.n = n
        out.candidates = _dec_candidates(blob[off:off + clen])
        off += clen
        if mode:
            (nnz,) = struct.unpack_from("<Q", blob, off)
            off += 8
            cells = np.frombuffer(blob, dtype=np.uint32, count=nnz,
                                  offset=off).astype(np.int64)
            off += 4 * nnz
            counts = np.frombuffer(blob, dtype=np.int64, count=nnz,
                                   offset=off)
            # the sparse phase's lookups assume sorted unique in-range
            # cells: a stored blob that breaks that is corrupt, not data
            if nnz and (cells[-1] >= depth * width
                        or np.any(cells[1:] <= cells[:-1])):
                raise ValueError("corrupt count-min blob: sparse cell "
                                 "indices not ascending within the table")
            keep = counts != 0
            out._cells, out._counts = cells[keep], counts[keep]
        else:
            out._dense = (np.frombuffer(blob, dtype=np.int64,
                                        count=depth * width, offset=off)
                          .reshape(depth, width).copy())
        return out


def _sparse_blob(depth: int, width: int, n: int, max_candidates: int,
                 cand: bytes, nnz: int, cells: bytes, counts: bytes) -> bytes:
    """A blob with the sparse payload: ``nnz`` ascending flat cells
    (uint32 bytes), then their nonzero counts (int64 bytes)."""
    return (struct.pack("<BIIQII", 1, depth, width, n, max_candidates,
                        len(cand))
            + cand + struct.pack("<Q", nnz) + cells + counts)


def sparse_blobs(values: np.ndarray, vids: np.ndarray, counts: np.ndarray,
                 bounds: np.ndarray, depth: int = 5, width: int = 1 << 16,
                 max_candidates: int = 256) -> list:
    """Per group g, the blob of ``CountMin(depth, width, max_candidates)``
    after one ``update(values[v], counts=c)`` with ``v, c =
    vids[s], counts[s]`` for ``s = slice(bounds[g], bounds[g + 1])``:
    ``values`` is an object array of distinct values, and each group
    lists its own distinct value ids in first-seen order. None where the
    group has more values than fit the sparse phase (depth x values
    past 1/64 of the cells) or ``max_candidates`` (those sketches go
    dense or truncate: build them through the object).

    Each distinct value is hashed once for all groups. The cells are
    summed with one sort of (group, cell), and every candidate's
    estimate comes from one ``searchsorted`` into those sums."""
    from tsv_utils_spark.sketches.hashing import canon_datetime

    ng = bounds.size - 1
    nv = np.diff(bounds)
    fast = ((nv * depth <= (depth * width) >> _SPARSE_SHIFT)
            & (nv <= max_candidates))
    sel = np.repeat(fast, nv)
    g = np.repeat(np.arange(ng), nv)[sel]
    vids, counts = vids[sel], counts[sel]
    # (group, cell) keys, (depth, pairs): group-major, so one sort sums
    # every group's cells and one searchsorted reads them back
    dw = depth * width
    q = g * dw + _flat_indices(hash64(values), depth, width)[:, vids]
    ks, sums = _sum_cells(q.reshape(-1), np.tile(counts, depth))
    # each candidate's estimate: the min over its depth cells
    if ks.size:
        pos = np.minimum(np.searchsorted(ks, q), ks.size - 1)
        est = np.where(ks[pos] == q, sums[pos], 0).min(axis=0).tolist()
    else:
        est = [0] * g.size
    cb = np.searchsorted(ks, np.arange(ng + 1) * dw).tolist()
    cells = (ks - np.repeat(np.arange(ng), np.diff(cb)) * dw) \
        .astype(np.uint32).tobytes()
    sums = sums.tobytes()
    csum = np.concatenate(([0], np.cumsum(counts))).tolist()
    vals, vl = values.tolist(), vids.tolist()
    # each used value's JSON item up to its count: '["s", "py", ' — the
    # candidate list is then exactly _enc_candidates' json.dumps output
    heads: dict = {}
    out: list = [None] * ng
    p = 0  # first pair of the next fast group
    for i in np.flatnonzero(fast).tolist():
        e = p + int(nv[i])
        items = []
        for v, c in zip(vl[p:e], est[p:e]):
            h = heads.get(v)
            if h is None:
                h = heads[v] = json.dumps(
                    _enc_value(canon_datetime(vals[v])),
                    ensure_ascii=False)[:-1] + ", "
            items.append(f"{h}{c}]")
        cand = f"[{', '.join(items)}]".encode("utf-8")
        a, b = cb[i], cb[i + 1]
        out[i] = _sparse_blob(depth, width, csum[e] - csum[p],
                              max_candidates, cand, b - a,
                              cells[4 * a:4 * b], sums[8 * a:8 * b])
        p = e
    return out
