"""Arrow-native level-1 kernel (mapInArrow) — the fast path of sketch_agg.

The pandas kernel pays per-row Python object creation for every string
column crossing the Arrow boundary (group keys, count-min/Bloom values).
This kernel keeps everything columnar:

- group keys: ``pc.dictionary_encode`` per key column -> int codes, packed
  into ONE int64 mixed-radix code per row (supports up to 3 key columns
  per 64-bit budget); only the DISTINCT key tuples are ever converted to
  Python (one ``as_py`` per column per distinct group per batch);
- hll inputs: already int64 xxhash64 from the JVM — zero-copy numpy;
- kll/t-digest inputs: float64 numpy (nulls -> NaN, dropped by update);
- cm/bloom inputs: dictionary-encoded too; per-(group, value) counts come
  from one ``np.unique`` over the value codes of each group segment —
  counts feed CountMin.update(values, counts) and only distinct values
  are materialized.

Keys beyond 3 columns fall back to the pandas kernel transparently
(agg.sketch_agg routes).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from tsv_utils_spark.plans.agg import FLUSH_CHUNK

MAX_ARROW_KEYS = 3


def make_arrow_partial_fn(group_cols, in_names, specs, partial_schema,
                          max_groups: int, lineage_epoch: int | None = None,
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

        def encode_col(col):
            """(codes int64 with -1 for null, dictionary pa.Array)."""
            d = pc.dictionary_encode(col)
            if isinstance(d, pa.ChunkedArray):
                d = d.combine_chunks()
            codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            nulls = pc.is_null(col).to_numpy(zero_copy_only=False)
            return np.where(nulls, -1, codes), d.dictionary

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            key_codes, key_dicts, radices = [], [], []
            for gname in group_cols:
                kc = batch.column(batch.schema.get_field_index(gname))
                codes, dic = encode_col(kc)
                key_codes.append(codes)
                key_dicts.append(dic)
                radices.append(len(dic) + 1)
            # mixed-radix pack into one int64 per row (null -> digit 0)
            combined = np.zeros(n, dtype=np.int64)
            for codes, radix in zip(key_codes, radices):
                combined *= radix
                combined += codes + 1

            # numeric input columns -> numpy once per batch
            num_cols = {}
            for i, spec in enumerate(specs):
                if i in value_based:
                    continue
                col = batch.column(batch.schema.get_field_index(in_names[i]))
                if spec.op in ("hll", "theta"):
                    num_cols[i] = col.to_numpy(zero_copy_only=False) \
                        .astype(np.int64, copy=False)
                else:
                    num_cols[i] = pc.cast(col, pa.float64()) \
                        .to_numpy(zero_copy_only=False)
            # value-based columns -> (codes, dictionary) once per batch
            val_cols = {}
            for i in value_based:
                col = batch.column(batch.schema.get_field_index(in_names[i]))
                val_cols[i] = encode_col(col)

            order = np.argsort(combined, kind="stable")
            sorted_codes = combined[order]
            bounds = np.flatnonzero(np.diff(sorted_codes)) + 1
            starts = np.concatenate([[0], bounds])
            ends = np.concatenate([bounds, [n]])
            key_cache: dict = {}
            for s_, e_ in zip(starts, ends):
                code = int(sorted_codes[s_])
                if code in key_cache:
                    key = key_cache[code]
                else:
                    digits = []
                    rem = code
                    for radix in reversed(radices):
                        digits.append(rem % radix)
                        rem //= radix
                    digits.reverse()
                    key = tuple(
                        None if d == 0 else key_dicts[j][d - 1].as_py()
                        for j, d in enumerate(digits))
                    key_cache[code] = key
                idx = order[s_:e_]
                slot = slot_for(key)
                rows[key] += int(e_ - s_)
                for i in range(len(specs)):
                    if i in value_based:
                        v_codes, v_dict = val_cols[i]
                        sub = v_codes[idx]
                        sub = sub[sub >= 0]
                        if sub.size:
                            u, c = np.unique(sub, return_counts=True)
                            vc = slot[i]
                            for code_v, cnt in zip(u.tolist(), c.tolist()):
                                v = v_dict[code_v].as_py()
                                vc[v] = vc.get(v, 0) + cnt
                    else:
                        slot[i].append(num_cols[i][idx])
            buffered += n
            if len(buf) > max_groups or buffered > max_buffered_rows:
                yield from flush()
        yield from flush()

    return partial_fn
