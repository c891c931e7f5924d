"""Arrow-native level-1 kernel (mapInArrow) — the only level-1 kernel.

Every level-1 partial goes through it: ``sketch_agg`` at any key count
(none included), ``sketch_partials``, salt mode, the weighted count-min
path, the checkpoint epochs and the streaming micro-batches. It keeps
everything columnar:

- group keys: ``pc.dictionary_encode`` per key column -> int codes (-1
  for null); one stable ``np.lexsort`` over the code columns makes each
  distinct key tuple one run of rows (no keys: the batch is one run).
  Keys compare by dictionary code, so NaN is one group and null another,
  as in a groupBy. Each run's key is read from its first row: one
  ``take`` + ``to_pylist`` per key column per batch, with every NaN
  replaced by one shared NaN object (``_NAN``): NaN never equals NaN,
  so only the identical object finds the task's NaN group again;
- hll inputs: already int64 xxhash64 from the JVM — zero-copy numpy;
- kll/t-digest inputs: float64 numpy (nulls -> NaN, dropped by update);
- cm/bloom inputs: dictionary-encoded too; per-(group, value) counts come
  from one ``np.unique`` over the value codes of each run — counts feed
  CountMin.update(values, counts) and only distinct values are
  materialized.

With ``weight`` (an int64 column) each input row stands for that many
rows: ``__rows`` and the cm/bloom value counts add the weight (numeric
specs ignore it). The weighted count-min path feeds its JVM-side
(keys, value) -> count pre-aggregation this way.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from tsv_utils_spark.plans.agg import FLUSH_CHUNK

_NAN = float("nan")


def make_arrow_partial_fn(group_cols, in_names, specs, partial_schema,
                          max_groups: int, lineage_epoch: int | None = None,
                          weight: str | None = None,
                          max_buffered_rows: int = 4_000_000):
    from pyspark.sql.pandas.types import to_arrow_schema

    group_cols = list(group_cols)
    out_names = [f.name for f in partial_schema.fields]
    pa_schema = to_arrow_schema(partial_schema)
    value_based = {i for i, s in enumerate(specs) if s.op in ("cm", "bloom")}

    def partial_fn(batches):
        import pyarrow.compute as pc

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        # per-group state keyed by the key-value TUPLE: numeric specs
        # accumulate np chunks; value-based specs accumulate {value: count}
        buf: dict = {}
        rows: dict = {}
        buffered = 0

        def slot_for(key):
            s = buf.get(key)
            if s is None:
                s = [({} if i in value_based else [])
                     for i in range(len(specs))]
                buf[key] = s
                rows[key] = 0
            return s

        def flush():
            nonlocal buffered
            items = list(buf.items())
            buf.clear()
            buffered = 0
            for lo in range(0, len(items), FLUSH_CHUNK):
                cols: dict = {name: [] for name in out_names}
                for key, per_spec in items[lo:lo + FLUSH_CHUNK]:
                    if lineage_epoch is not None:
                        cols["epoch"].append(lineage_epoch)
                        cols["partition_id"].append(pid)
                    for j, gname in enumerate(group_cols):
                        cols[gname].append(key[j])
                    cols["__rows"].append(rows[key])
                    for i, spec in enumerate(specs):
                        sk = spec.make()
                        if i in value_based:
                            vc = per_spec[i]
                            if vc:
                                vals = np.asarray(list(vc.keys()),
                                                  dtype=object)
                                cnts = np.asarray(list(vc.values()),
                                                  dtype=np.int64)
                                if spec.op == "cm":
                                    sk.update(vals, counts=cnts)
                                else:  # bloom: distinct membership
                                    sk.update(vals)
                        else:
                            chunks = per_spec[i]
                            if chunks:
                                spec.update_array(
                                    sk, chunks[0] if len(chunks) == 1
                                    else np.concatenate(chunks))
                        cols[f"__blob_{i}"].append(sk.serialize())
                arrays = [pa.array(cols[name], type=field.type)
                          for name, field in zip(out_names, pa_schema)]
                yield pa.RecordBatch.from_arrays(arrays, schema=pa_schema)
            rows.clear()

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
            ends = np.append(starts[1:], n)
            if group_cols:
                firsts = pa.array(order[starts])
                keys = list(zip(*(key_values(column(batch, g).take(firsts))
                                  for g in group_cols)))
            else:
                keys = [()]
            if weight is None:
                w = None
                run_rows = (ends - starts).tolist()
            else:
                w = column(batch, weight).to_numpy(zero_copy_only=False)
                run_rows = np.add.reduceat(w[order], starts).tolist()

            # numeric input columns -> numpy once per batch
            num_cols = {}
            for i, spec in enumerate(specs):
                if i in value_based:
                    continue
                col = column(batch, in_names[i])
                if spec.op in ("hll", "theta"):
                    num_cols[i] = col.to_numpy(zero_copy_only=False) \
                        .astype(np.int64, copy=False)
                else:
                    num_cols[i] = pc.cast(col, pa.float64()) \
                        .to_numpy(zero_copy_only=False)
            # value-based columns -> (codes, distinct values) once per batch
            val_cols = {}
            for i in value_based:
                v_codes, v_dict = codes_of(column(batch, in_names[i]))
                val_cols[i] = (v_codes, v_dict.to_pylist())

            for key, s_, e_, nrows in zip(keys, starts.tolist(),
                                          ends.tolist(), run_rows):
                idx = order[s_:e_]
                slot = slot_for(key)
                rows[key] += nrows
                for i in range(len(specs)):
                    if i in value_based:
                        v_codes, v_list = val_cols[i]
                        sub = v_codes[idx]
                        keep = sub >= 0
                        sub = sub[keep]
                        if not sub.size:
                            continue
                        if w is None:
                            u, c = np.unique(sub, return_counts=True)
                        else:
                            u, inv = np.unique(sub, return_inverse=True)
                            c = np.bincount(inv, weights=w[idx][keep]) \
                                .astype(np.int64)
                        vc = slot[i]
                        for code_v, cnt in zip(u.tolist(), c.tolist()):
                            v = v_list[code_v]
                            vc[v] = vc.get(v, 0) + cnt
                    else:
                        slot[i].append(num_cols[i][idx])
            buffered += n
            if len(buf) > max_groups or buffered > max_buffered_rows:
                yield from flush()
        yield from flush()

    return partial_fn
