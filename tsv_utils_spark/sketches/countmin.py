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

from tsv_utils_spark.sketches.hashing import (
    blob_headers,
    group_all,
    hash64,
    splitmix64,
)


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
    """Candidate dict of a typed-JSON list. Keys merge by Python equality
    (every NaN is one key), as in ``merge``: a key listed twice keeps the
    larger estimate."""
    out: dict = {}
    for t, v, n in json.loads(blob.decode("utf-8")):
        key = _dec_value(t, v)
        out[key] = max(out.get(key, int(n)), int(n))
    return out


_NAN = float("nan")  # the one NaN candidate key: NaN != NaN, so only
#                      the identical object finds its dict entry again


def _dec_value(t: str, v):
    """The candidate key of one (type tag, payload) pair."""
    if t == "n":
        return None
    if t == "b":
        return bool(v)
    if t == "i":
        return int(v)
    if t == "f":
        key = float.fromhex(v)
        return _NAN if key != key else key
    if t == "B":
        return bytes.fromhex(v)
    if t == "d":
        return decimal.Decimal(v)
    if t == "t":
        return datetime.datetime.fromisoformat(v)
    if t == "D":
        return datetime.date.fromisoformat(v)
    return v


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
    vals = values.tolist()
    ends = np.cumsum(nv[fast]).tolist()
    spans = list(zip([0] + ends[:-1], ends))
    cands = _cand_lists(vids.tolist(), est, spans,
                        lambda v: canon_datetime(vals[v]))
    out: list = [None] * ng
    for i, (p, e), cand in zip(np.flatnonzero(fast).tolist(), spans, cands):
        a, b = cb[i], cb[i + 1]
        out[i] = _sparse_blob(depth, width, csum[e] - csum[p],
                              max_candidates, cand, b - a,
                              cells[4 * a:4 * b], sums[8 * a:8 * b])
    return out


def _cand_lists(ids: list, counts: list, spans: list, value) -> list:
    """Per span (a, b), the typed-JSON candidate list that
    ``_enc_candidates`` writes for the keys ``value(ids[i])`` with
    ``counts[i]``, i in a..b-1. Each id's JSON item up to its count
    ('["s", "py", ') is encoded once for all spans."""
    heads: dict = {}
    out = []
    for a, b in spans:
        items = []
        for v, c in zip(ids[a:b], counts[a:b]):
            h = heads.get(v)
            if h is None:
                h = heads[v] = json.dumps(_enc_value(value(v)),
                                          ensure_ascii=False)[:-1] + ", "
            items.append(f"{h}{c}]")
        out.append(f"[{', '.join(items)}]".encode("utf-8"))
    return out


_HEAD = np.dtype([("mode", "u1"), ("depth", "<u4"), ("width", "<u4"),
                  ("n", "<u8"), ("max_candidates", "<u4"),
                  ("cand_len", "<u4")])
_HSIZE = _HEAD.itemsize


class SparseMerge:
    """Every group's count-min partials merged at once (level 2): group
    g's blobs are ``blobs[bounds[g]:bounds[g + 1]]``, in run order.

    Group g is merged here (``ok[g]``) when every blob is sparse, well
    formed (cells strictly ascending inside the table) and of one
    (depth, width, max_candidates) — the batch's — and the union of its
    candidates, keyed by Python equality, holds at most max_candidates:
    then no merge truncates, and the merged sketch holds the summed cells
    and every candidate, in first-seen order, with its largest listed
    estimate and its first-seen key object, as ``deserialize`` +
    ``merge`` would. A group whose merged cells would serialize dense is
    left to the sketch objects too, as are the rest (which also raise on
    a corrupt blob or mixed shapes).

    Cells are summed with one sort of (group, cell) for all groups; every
    candidate list of the batch is parsed with one ``json.loads``; each
    distinct candidate is decoded and hashed once per batch."""

    def __init__(self, blobs: list, bounds: np.ndarray):
        ng = bounds.size - 1
        nb = np.diff(bounds)
        gb = np.repeat(np.arange(ng), nb)  # group of each blob
        head, lens = blob_headers(blobs, _HEAD)
        self.n = np.add.reduceat(head["n"].astype(np.int64), bounds[:-1]) \
            if ng else np.zeros(0, dtype=np.int64)
        self.ok = np.zeros(ng, dtype=bool)
        self._objs: list = []
        self._cf = self._cg = self._cu = self._stored = self._est = \
            np.zeros(0, dtype=np.int64)
        clen = head["cand_len"].astype(np.int64)
        good = (head["mode"] == 1) & (lens >= _HSIZE + clen + 8)
        if not good.any():
            return
        first = int(np.argmax(good))  # the batch's shape: its first
        self.depth, self.width, self.max_candidates = (  # sparse blob's
            int(head[f][first])
            for f in ("depth", "width", "max_candidates"))
        self.dw = dw = self.depth * self.width
        good &= ((head["depth"] == self.depth)
                 & (head["width"] == self.width)
                 & (head["max_candidates"] == self.max_candidates))
        if self.depth < 1 or self.width < 1 or self.width & (self.width - 1):
            return
        cl = clen.tolist()
        nnz = np.frombuffer(b"".join(
            b[_HSIZE + c:_HSIZE + c + 8] if u else bytes(8)
            for b, c, u in zip(blobs, cl, good.tolist())),
            dtype="<u8").astype(np.int64)
        good &= (nnz >= 0) & (nnz <= lens) \
            & (lens >= _HSIZE + clen + 8 + 12 * nnz)
        ok = group_all(good, bounds)
        use = np.flatnonzero(np.repeat(ok, nb))
        nl = nnz.tolist()
        off = [(i, _HSIZE + cl[i] + 8, nl[i]) for i in use.tolist()]
        cells = np.frombuffer(b"".join(blobs[i][o:o + 4 * z]
                                       for i, o, z in off),
                              dtype="<u4").astype(np.int64)
        counts = np.frombuffer(b"".join(blobs[i][o + 4 * z:o + 12 * z]
                                        for i, o, z in off), dtype="<i8")
        cb = np.repeat(use, nnz[use])  # blob of each cell
        # a corrupt blob is left to deserialize, which rejects it
        corrupt = np.zeros(len(blobs), dtype=bool)
        corrupt[cb[cells >= dw]] = True
        corrupt[cb[1:][(cells[1:] <= cells[:-1]) & (cb[1:] == cb[:-1])]] \
            = True
        ok &= group_all(~corrupt, bounds)

        # candidates: (group, equality class) pairs in first-seen order
        use = np.flatnonzero(np.repeat(ok, nb))
        lists = json.loads(b"[" + b",".join(
            blobs[i][_HSIZE:_HSIZE + cl[i]] for i in use.tolist()) + b"]")
        unit_of: dict = {}  # (type tag, payload) -> unit id
        eu = [unit_of.setdefault((t, v), len(unit_of))
              for lst in lists for t, v, _ in lst]
        en = np.array([c for lst in lists for _, _, c in lst],
                      dtype=np.int64)
        eg = np.repeat(gb[use], [len(lst) for lst in lists])
        objs = [_dec_value(t, v) for t, v in unit_of]
        eq_of: dict = {}
        ucls = np.array([eq_of.setdefault(o, len(eq_of)) for o in objs],
                        dtype=np.int64)
        eu = np.array(eu, dtype=np.int64)
        key = eg * max(len(eq_of), 1) + ucls[eu] if eu.size else eu
        order = np.argsort(key, kind="stable")
        ks = key[order]
        start = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1]))) \
            if ks.size else ks
        self._cf = order[start]  # each candidate's first listing
        self._cg = eg[self._cf]
        self._cu = eu[self._cf]
        self._stored = np.maximum.reduceat(en[order], start) \
            if ks.size else en
        ok &= np.bincount(self._cg, minlength=ng) <= self.max_candidates

        # cells summed per (group, cell) over the groups still merged here
        keep = ok[gb[cb]]
        self._keys, self._sums = _sum_cells(
            gb[cb][keep] * dw + cells[keep], counts[keep])
        self._cb = np.searchsorted(self._keys, np.arange(ng + 1) * dw)
        ok &= np.diff(self._cb) * 12 < dw * 8
        self.ok = ok

        # re-score each kept candidate against its group's summed cells
        keep = ok[self._cg]
        self._cf, self._cg, self._cu, self._stored = (
            a[keep] for a in (self._cf, self._cg, self._cu, self._stored))
        self._objs = objs
        arr = np.empty(len(objs), dtype=object)
        arr[:] = objs
        q = self._cg * dw + _flat_indices(hash64(arr), self.depth,
                                          self.width)[:, self._cu]
        if self._keys.size:
            pos = np.minimum(np.searchsorted(self._keys, q),
                             self._keys.size - 1)
            self._est = np.where(self._keys[pos] == q, self._sums[pos], 0) \
                .min(axis=0)
        else:
            self._est = np.zeros(self._cg.size, dtype=np.int64)

    def ranked(self) -> tuple[list, list, list]:
        """(values, estimates, bounds): each merged group's candidates in
        ``heavy_hitters`` order — by estimate, descending, then by
        ``str(value)``, then first seen — at ``bounds[g]:bounds[g + 1]``."""
        ng = self.ok.size
        if not self._cg.size:
            return [], [], [0] * (ng + 1)
        strs = np.empty(len(self._objs), dtype=object)
        strs[:] = [str(o) for o in self._objs]
        srank = np.unique(strs, return_inverse=True)[1]
        order = np.lexsort((self._cf, srank[self._cu], -self._est,
                            self._cg))
        values = [self._objs[u] for u in self._cu[order].tolist()]
        bounds = np.searchsorted(self._cg[order], np.arange(ng + 1))
        return values, self._est[order].tolist(), bounds.tolist()

    def blobs(self) -> list:
        """Each merged group's blob (None where not ``ok``), byte-equal to
        ``serialize()`` of the merged sketch."""
        out: list = [None] * self.ok.size
        if not self.ok.any():
            return out
        order = np.lexsort((self._cf, self._cg))
        cb = np.searchsorted(self._cg[order],
                             np.arange(self.ok.size + 1)).tolist()
        ok = np.flatnonzero(self.ok).tolist()
        cands = _cand_lists(self._cu[order].tolist(),
                            self._stored[order].tolist(),
                            [(cb[g], cb[g + 1]) for g in ok],
                            self._objs.__getitem__)
        cells = (self._keys % self.dw).astype(np.uint32).tobytes()
        sums = self._sums.tobytes()
        kb = self._cb.tolist()
        for g, cand in zip(ok, cands):
            a, b = kb[g], kb[g + 1]
            out[g] = _sparse_blob(self.depth, self.width, int(self.n[g]),
                                  self.max_candidates, cand, b - a,
                                  cells[4 * a:4 * b], sums[8 * a:8 * b])
        return out
        dw = self.dw
        cells = (self._keys % dw).astype(np.uint32).tobytes()
        sums = self._sums.tobytes()
        cb = self._cb.tolist()
        for g in np.flatnonzero(self.ok).tolist():
            items = []
            for u, e in zip(units[cbounds[g]:cbounds[g + 1]],
                            stored[cbounds[g]:cbounds[g + 1]]):
                h = heads.get(u)
                if h is None:
                    h = heads[u] = json.dumps(_enc_value(self._objs[u]),
                                              ensure_ascii=False)[:-1] + ", "
                items.append(f"{h}{e}]")
            cand = f"[{', '.join(items)}]".encode("utf-8")
            a, b = cb[g], cb[g + 1]
            out[g] = _sparse_blob(self.depth, self.width, int(self.n[g]),
                                  self.max_candidates, cand, b - a,
                                  cells[4 * a:4 * b], sums[8 * a:8 * b])
        return out
