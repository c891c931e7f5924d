"""Arrow-native level-1 kernel (mapInArrow) — the only level-1 kernel.

Every level-1 partial goes through it: ``sketch_agg`` at any key count
(none included), ``sketch_partials``, salt mode, the checkpoint epochs
and the streaming micro-batches. It keeps everything columnar, from the
key sort to the blobs:

- group keys: ``pc.dictionary_encode`` per key column -> int codes (-1
  for null); one stable ``np.lexsort`` over the code columns makes each
  distinct key tuple one run of rows (no keys: the batch is one run).
  Keys compare by dictionary code, so NaN is one group and null another,
  as in a groupBy. Each run's key is read from its first row: one
  ``take`` + ``to_pylist`` per key column per batch, with every NaN
  replaced by one shared NaN object (``_NAN``): NaN never equals NaN,
  so only the identical object finds the task's NaN group again. Each
  distinct key gets a group id, in first-seen order, per flush;
- hll/theta inputs (int64 xxhash64 from the JVM, 0 = NULL) and
  kll/t-digest inputs (float64, NaN = NULL) are buffered as the batch's
  column in run order, next to a group id per row;
- cm/bloom inputs are dictionary-encoded too: per batch, one sort of
  (run, value code) gives each group's distinct values with their
  counts, in the order the batch's dictionary first saw them. Each
  distinct value gets a value id per flush, keyed by Python equality,
  as one dict of values per group would merge them (-0.0 keeps an id of
  its own, and a group holding both zeros folds the later into the
  earlier, as that dict would). Every floating NaN is the shared
  ``_NAN`` object, so NaN is one value in every batch, as in a groupBy.

A flush (at the end of the task, or early when the groups pass
``max_groups`` or the buffered rows ``max_buffered_rows``) sorts the
rows by group id once (stable, so each group keeps its row order), sums
the cm/bloom (group, value) counts over the flush's batches, and asks
each spec for all of its blobs at once (``SketchSpec.partial_blobs``):
hll sparse sets, theta KMV sets, kll sketches before their first
compaction and sparse count-min sketches that keep every candidate are
built for all groups with a few NumPy calls, each value hashed once per
flush; only groups past those gates (hll ``sparse_limit``, kll ``k``,
cm's 1/64 sparse bound or ``max_candidates``), and every tdigest and
bloom group, build a sketch object. Every blob is byte-equal to one
``make()`` + one update with the group's input + ``serialize()``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from tsv_utils_spark.plans.agg import FLUSH_CHUNK
from tsv_utils_spark.sketches.hashing import group_bounds

_NAN = float("nan")
_NEG_ZERO = object()  # value-id key of -0.0 (Python equality says 0.0)


class _ValueBuffer:
    """One cm/bloom spec's (group, value id, count) triples of a flush."""

    def __init__(self):
        self.ids: dict = {}  # value (Python equality) -> value id
        self.values: list = []  # value id -> first-seen value
        self.parts: list = []  # per batch: (group ids, value ids, counts)

    def value_ids(self, dictionary: pa.Array) -> np.ndarray:
        vals = dictionary.to_pylist()
        if pa.types.is_floating(dictionary.type):
            arr = dictionary.to_numpy(zero_copy_only=False)
            for j in np.flatnonzero(np.isnan(arr)).tolist():
                vals[j] = _NAN  # one value id for NaN in every batch
            keys = list(vals)
            for j in np.flatnonzero((arr == 0) & np.signbit(arr)).tolist():
                keys[j] = _NEG_ZERO
        else:
            keys = vals
        out = np.empty(len(vals), dtype=np.int64)
        for j, (key, v) in enumerate(zip(keys, vals)):
            vid = self.ids.get(key)
            if vid is None:
                vid = self.ids[key] = len(self.values)
                self.values.append(v)
            out[j] = vid
        return out

    def add(self, codes, dictionary, runs, gids) -> None:
        """``codes``/``runs``: per row, in run order (code -1 = null,
        dropped); ``gids``: per run."""
        keep = codes >= 0
        if not keep.any():
            return
        nd = len(dictionary)
        key = runs[keep] * nd + codes[keep]
        order = np.argsort(key, kind="stable")
        ks = key[order]
        start = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
        cnt = np.diff(np.append(start, ks.size))
        ks = ks[start]
        self.parts.append((gids[ks // nd],
                           self.value_ids(dictionary)[ks % nd], cnt))

    def groups(self, ng: int):
        """(value ids, counts, bounds, values): each group's distinct
        values in first-seen order, counts summed over the batches."""
        values = np.empty(len(self.values), dtype=object)
        values[:] = self.values
        if not self.parts:
            e = np.empty(0, dtype=np.int64)
            return e, e, np.zeros(ng + 1, dtype=np.int64), values
        g, v, c = (np.concatenate(a) for a in zip(*self.parts))
        # stable: the first pair of each (group, value) run is its first
        # sighting; then order each group's pairs by that sighting
        order = np.lexsort((v, g))
        gs, vs = g[order], v[order]
        start = np.flatnonzero(np.concatenate(
            ([True], (gs[1:] != gs[:-1]) | (vs[1:] != vs[:-1]))))
        cnt = np.add.reduceat(c[order], start)
        by_first = np.lexsort((order[start], gs[start]))
        g, v, c = gs[start][by_first], vs[start][by_first], cnt[by_first]
        zp, zn = self.ids.get(0.0), self.ids.get(_NEG_ZERO)
        if zp is not None and zn is not None:
            both = np.intersect1d(g[v == zp], g[v == zn])
            if both.size:
                ip = np.flatnonzero((v == zp) & np.isin(g, both))
                ineg = np.flatnonzero((v == zn) & np.isin(g, both))
                first, later = np.minimum(ip, ineg), np.maximum(ip, ineg)
                c[first] += c[later]
                keep = np.ones(g.size, dtype=bool)
                keep[later] = False
                g, v, c = g[keep], v[keep], c[keep]
        return v, c, group_bounds(np.bincount(g, minlength=ng)), values


def make_arrow_partial_fn(group_cols, in_names, specs, partial_schema,
                          max_groups: int, lineage_epoch: int | None = None,
                          max_buffered_rows: int = 4_000_000):
    from pyspark.sql.pandas.types import to_arrow_schema

    group_cols = list(group_cols)
    pa_schema = to_arrow_schema(partial_schema)
    value_based = {i for i, s in enumerate(specs) if s.op in ("cm", "bloom")}
    numeric = [i for i in range(len(specs)) if i not in value_based]

    def partial_fn(batches):
        import pyarrow.compute as pc

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        gid_of: dict = {}  # key tuple -> group id, first-seen order
        run_gids: list = []  # per batch: each run's group id
        run_rows: list = []  # per batch: each run's row count
        row_gids: list = []  # per batch: each row's group id, run order
        num_chunks = {i: [] for i in numeric}
        vbufs = {i: _ValueBuffer() for i in value_based}
        buffered = 0

        def flush():
            nonlocal buffered
            keys = list(gid_of)
            ng = len(keys)
            if not ng:
                return
            rows = np.zeros(ng, dtype=np.int64)
            np.add.at(rows, np.concatenate(run_gids),
                      np.concatenate(run_rows))
            blobs = [None] * len(specs)
            if numeric:
                g = np.concatenate(row_gids)
                perm = np.argsort(g, kind="stable")
                bounds = group_bounds(np.bincount(g, minlength=ng))
                for i in numeric:
                    blobs[i] = specs[i].partial_blobs(
                        np.concatenate(num_chunks[i])[perm], bounds)
            for i in value_based:
                vids, counts, bounds, values = vbufs[i].groups(ng)
                blobs[i] = specs[i].partial_blobs(vids, bounds,
                                                  counts=counts,
                                                  values=values)
            gid_of.clear()
            run_gids.clear()
            run_rows.clear()
            row_gids.clear()
            for chunks in num_chunks.values():
                chunks.clear()
            for i in value_based:
                vbufs[i] = _ValueBuffer()
            buffered = 0
            key_cols = [list(c) for c in zip(*keys)] if group_cols else []
            for lo in range(0, ng, FLUSH_CHUNK):
                hi = min(lo + FLUSH_CHUNK, ng)
                cols: dict = {"__rows": rows[lo:hi]}
                if lineage_epoch is not None:
                    cols["epoch"] = [lineage_epoch] * (hi - lo)
                    cols["partition_id"] = [pid] * (hi - lo)
                for j, gname in enumerate(group_cols):
                    cols[gname] = key_cols[j][lo:hi]
                for i, b in enumerate(blobs):
                    cols[f"__blob_{i}"] = b[lo:hi]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[f.name], type=f.type) for f in pa_schema],
                    schema=pa_schema)

        def column(batch, name):
            return batch.column(batch.schema.get_field_index(name))

        def codes_of(col):
            """(codes with -1 for null, dictionary) of an Arrow array."""
            d = pc.dictionary_encode(col)
            return (pc.fill_null(d.indices, -1)
                    .to_numpy(zero_copy_only=False), d.dictionary)

        def key_values(col):
            vals = col.to_pylist()
            if pa.types.is_floating(col.type):
                vals = [_NAN if v != v else v for v in vals]
            return vals

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            key_codes = [codes_of(column(batch, g))[0] for g in group_cols]
            # stable, and lexsort's LAST key is its primary one
            order = np.lexsort(key_codes[::-1]) if key_codes \
                else np.arange(n)
            new = np.zeros(n, dtype=bool)
            new[0] = True
            for codes in key_codes:
                sc = codes[order]
                new[1:] |= sc[1:] != sc[:-1]
            starts = np.flatnonzero(new)
            lengths = np.diff(np.append(starts, n))
            if group_cols:
                firsts = pa.array(order[starts])
                keys = zip(*(key_values(column(batch, g).take(firsts))
                             for g in group_cols))
            else:
                keys = [()]
            gids = np.fromiter((gid_of.setdefault(k, len(gid_of))
                                for k in keys),
                               dtype=np.int64, count=starts.size)
            run_gids.append(gids)
            run_rows.append(lengths)
            if numeric:
                row_gids.append(np.repeat(gids, lengths))
            for i in numeric:
                col = column(batch, in_names[i])
                if specs[i].op in ("hll", "theta"):
                    arr = col.to_numpy(zero_copy_only=False) \
                        .astype(np.int64, copy=False)
                else:
                    arr = pc.cast(col, pa.float64()) \
                        .to_numpy(zero_copy_only=False)
                num_chunks[i].append(arr[order])
            if value_based:
                runs = np.repeat(np.arange(starts.size), lengths)
                for i in value_based:
                    codes, dictionary = codes_of(column(batch, in_names[i]))
                    vbufs[i].add(codes[order], dictionary, runs, gids)
            buffered += n
            if len(gid_of) > max_groups or buffered > max_buffered_rows:
                yield from flush()
        yield from flush()

    return partial_fn
