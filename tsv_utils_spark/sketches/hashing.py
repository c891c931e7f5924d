"""Vectorized 64-bit hashing for sketch updates.

The reference (eBay/tsv-utils) uses MurmurHash3-32 for its deterministic
distinct sampling and key splitting (tsv-sample/src/tsv_utils/tsv-sample.d:915-944,
tsv-split/src/tsv_utils/tsv-split.d:1008). Here we need a *vectorized*
64-bit hash usable from NumPy/pandas batches. Two paths:

- Spark-side: ``F.xxhash64(col)`` (JVM, codegen'd) — preferred: hash once in
  the scan stage, ship int64 to the Python UDAF.
- Python-side fallback: ``pandas.util.hash_array`` (SipHash-1-3 based,
  deterministic with a fixed key, vectorized in C) for object/str arrays,
  plus a splitmix64 finalizer for integer re-mixing / multi-seed hashing.

All functions return ``np.uint64`` arrays.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd

_SPLITMIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def canon_datetime(v):
    """Canonical naive-UTC form of a datetime-like value. The Arrow
    kernel materializes Spark timestamps as TZ-AWARE datetimes
    (as_py on timestamp[..., tz=UTC]) while a direct sketch update from
    a pandas column sees NAIVE datetime64 — the same instant must be ONE
    candidate key and ONE hash cell, whichever path produced it."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set)."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += _GOLDEN
        x ^= x >> np.uint64(30)
        x *= _SPLITMIX_C1
        x ^= x >> np.uint64(27)
        x *= _SPLITMIX_C2
        x ^= x >> np.uint64(31)
    return x


def hash64(values) -> np.ndarray:
    """Deterministic vectorized 64-bit hash of an array-like of any dtype.

    Strings/objects go through ``pd.util.hash_array`` (stable across
    processes — fixed internal key); integers get splitmix64 re-mixing so
    that sequential ids spread uniformly (required by HLL/CM/Bloom).
    """
    arr = np.asarray(values)
    if arr.dtype.kind in ("i", "u"):
        return splitmix64(arr.astype(np.uint64, copy=False))
    if arr.dtype.kind == "f":
        # canonicalize -0.0 == 0.0, then hash the bit pattern
        arr = arr + 0.0
        return splitmix64(arr.view(np.uint64))
    if arr.dtype.kind == "M":  # datetime64 (timestamp columns): epoch-ns
        ns = arr.astype("datetime64[ns]").view(np.int64)
        return splitmix64(ns.astype(np.uint64, copy=False))
    if arr.dtype.kind == "O":
        # Per element, by class, so a value's hash never depends on what
        # else shares the array (checked per element, not by probing
        # arr[0]):
        # - date/datetime: CANONICAL epoch-ns. The update path sees
        #   timestamps as datetime64 batches (kind 'M' above) while
        #   candidate re-scoring sees Python date/datetime objects; both
        #   must hash to the SAME cell or heavy_hitters' re-score reads
        #   the wrong counters.
        # - str/bytes: hash_array hashes their (UTF-8) bytes.
        # - the rest (numbers, Decimal, bool, None): hash_array hashes
        #   str(v), through an astype(str) of the WHOLE array, which
        #   would decode bytes sharing it as ASCII (and raise on others).
        cls = np.fromiter(
            (0 if isinstance(v, (str, bytes)) else
             1 if isinstance(v, (datetime.date, datetime.datetime)) else 2
             for v in arr.flat), dtype=np.int8, count=arr.size)
        out = np.empty(arr.size, dtype=np.uint64)
        for k in np.flatnonzero(np.bincount(cls, minlength=3)).tolist():
            part = cls == k
            out[part] = _datetime_hash(arr[part]) if k == 1 \
                else _object_hash(arr[part])
        return out
    if arr.dtype.kind in ("U", "S"):
        return _object_hash(arr)
    raise TypeError(f"unhashable dtype for sketch update: {arr.dtype}")


def _datetime_hash(values: np.ndarray) -> np.ndarray:
    """date/datetime objects at their canonical epoch-ns, per element
    (NOT pd.to_datetime, which raises on arrays mixing tz-aware and
    naive values — the Arrow kernel yields aware datetimes for Spark
    timestamps while pandas callers yield naive ones)."""
    ns = np.array([np.datetime64(canon_datetime(v), "ns") for v in values],
                  dtype="datetime64[ns]").view(np.int64)
    return splitmix64(ns.astype(np.uint64, copy=False))


def _object_hash(values: np.ndarray) -> np.ndarray:
    return pd.util.hash_array(values.astype(object), categorize=False) \
        .astype(np.uint64, copy=False)


def hash64_with_seed(values, seed: int) -> np.ndarray:
    """Seeded variant: mix a seed into hash64 output (for CM rows, Bloom
    double-hashing, MinHash permutations)."""
    h = hash64(values)
    with np.errstate(over="ignore"):
        return splitmix64(h ^ np.uint64(seed & 0xFFFFFFFFFFFFFFFF))


def group_bounds(sizes: np.ndarray) -> np.ndarray:
    """Offsets (length n + 1) of n consecutive slices of ``sizes``."""
    out = np.zeros(sizes.size + 1, dtype=np.int64)
    np.cumsum(sizes, out=out[1:])
    return out


def distinct_by_group(hashes: np.ndarray,
                      bounds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each group's distinct nonzero 64-bit hashes, ascending: group g's
    input is ``hashes[bounds[g]:bounds[g + 1]]``, its output is
    ``out[ob[g]:ob[g + 1]]`` of the returned ``(out, ob)``. One
    ``lexsort`` of (group, hash) for all groups; 0 (the JVM-side NULL
    sentinel) is dropped."""
    h = hashes.view(np.uint64)
    g = np.repeat(np.arange(bounds.size - 1), np.diff(bounds))
    keep = h != 0
    h, g = h[keep], g[keep]
    order = np.lexsort((h, g))
    h, g = h[order], g[order]
    new = np.ones(h.size, dtype=bool)
    new[1:] = (h[1:] != h[:-1]) | (g[1:] != g[:-1])
    return h[new], group_bounds(np.bincount(g[new],
                                            minlength=bounds.size - 1))


def blob_headers(blobs: list,
                 dtype: np.dtype) -> tuple[np.ndarray, np.ndarray]:
    """(one ``dtype`` record per blob, each blob's byte length), read from
    the blobs' first ``dtype.itemsize`` bytes with one join and one
    ``np.frombuffer``. A blob shorter than that reads as zeros; callers
    send it to the sketch's own ``deserialize``, which rejects it."""
    size = dtype.itemsize
    lens = np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs))
    pad = bytes(size)
    raw = b"".join(b[:size] if n >= size else pad
                   for b, n in zip(blobs, lens.tolist()))
    return np.frombuffer(raw, dtype=dtype), lens


def group_all(mask: np.ndarray, bounds: np.ndarray) -> np.ndarray:
    """Per group g (rows ``bounds[g]:bounds[g + 1]``, none empty): is
    ``mask`` true on all of its rows?"""
    return np.logical_and.reduceat(mask, bounds[:-1]) if mask.size \
        else np.zeros(0, dtype=bool)


def same_as_first(x: np.ndarray, bounds: np.ndarray) -> np.ndarray:
    """Per row: does ``x`` equal its group's first row's ``x``?"""
    return x == np.repeat(x[bounds[:-1]], np.diff(bounds))
