"""Standalone sketch tests: accuracy within published bounds, merge
associativity under permuted merge order, serialization round-trips.

Mirrors the reference's operator-level incremental test strategy
(SURVEY.md §5; e.g. tsv-summarize.d:2865-2874) translated to the
distributed setting: instead of per-row incremental goldens, we assert
that (a) estimates track exact answers within each sketch's bound and
(b) any partition/merge order yields the same answer (within bound).
"""

from __future__ import annotations

import datetime
import decimal
import itertools
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tsv_utils_spark.sketches import (
    BloomFilter,
    CountMin,
    HyperLogLog,
    KLL,
    MinHash,
    TDigest,
)
from tsv_utils_spark.sketches.hashing import hash64
from tsv_utils_spark.sketches.minhash import (
    band_keys,
    estimate_jaccard,
    jaccard_exact,
    shingles,
    signature,
)
from tsv_utils_spark.sketches.simhash import hamming64, simhash_batch

RNG = np.random.default_rng(42)


# --------------------------------------------------------------------- HLL
class TestHLL:
    def test_sparse_exact(self):
        h = HyperLogLog(p=12)
        vals = np.asarray([f"v{i}" for i in range(1000)], dtype=object)
        h.update(vals)
        h.update(vals[:500])  # duplicates
        assert h.estimate() == 1000.0

    def test_dense_within_bound(self):
        p = 12
        h = HyperLogLog(p=p, sparse_limit=10)
        n = 200_000
        h.update(np.arange(n))
        err = abs(h.estimate() - n) / n
        assert err < 4 * 1.04 / np.sqrt(1 << p)  # 4 sigma

    def test_merge_associative_exact_sparse(self):
        parts = [np.arange(i * 100, i * 100 + 150) for i in range(4)]
        for perm in itertools.permutations(range(4)):
            h = HyperLogLog(p=12)
            for i in perm:
                o = HyperLogLog(p=12)
                o.update(parts[i])
                h.merge(o)
            assert h.estimate() == 450.0  # 0..449 distinct

    def test_merge_order_invariant_dense(self):
        parts = [RNG.integers(0, 50_000, 60_000) for _ in range(5)]
        ests = []
        for perm in itertools.permutations(range(5)):
            h = HyperLogLog(p=10, sparse_limit=8)
            for i in perm:
                o = HyperLogLog(p=10, sparse_limit=8)
                o.update(parts[i])
                h.merge(o)
            ests.append(h.estimate())
        assert len(set(ests)) == 1  # dense max-merge is exactly order-invariant

    def test_mixed_sparse_dense_merge(self):
        big = HyperLogLog(p=10, sparse_limit=8)
        big.update(np.arange(10_000))
        small = HyperLogLog(p=10, sparse_limit=8)
        small.update(np.asarray(["a", "b"], dtype=object))
        est = HyperLogLog.deserialize(big.serialize()).merge(small).estimate()
        assert abs(est - 10_002) / 10_002 < 4 * 1.04 / np.sqrt(1 << 10)

    def test_serde(self):
        h = HyperLogLog(p=14)
        h.update(np.arange(100))
        h2 = HyperLogLog.deserialize(h.serialize())
        assert h2.estimate() == h.estimate() == 100.0
        h.update(np.arange(50_000))  # force dense
        h3 = HyperLogLog.deserialize(h.serialize())
        assert h3.estimate() == h.estimate()


# --------------------------------------------------------------------- KLL
class TestKLL:
    def test_exact_small(self):
        k = KLL(k=200)
        data = RNG.normal(size=150)
        k.update(data)
        assert k.quantile(0.5) == pytest.approx(np.quantile(data, 0.5))
        assert k.quantile(0.25) == pytest.approx(np.quantile(data, 0.25))

    def test_rank_error_bound(self):
        k = KLL(k=200)
        n = 100_000
        data = RNG.exponential(size=n)
        for chunk in np.array_split(data, 20):
            k.update(chunk)
        s = np.sort(data)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = k.quantile(q)
            true_rank = np.searchsorted(s, est) / n
            assert abs(true_rank - q) <= max(k.rank_error() * 3, 0.01), q

    def test_merge_within_bound_any_order(self):
        n = 40_000
        data = RNG.normal(size=n)
        parts = np.array_split(data, 4)
        s = np.sort(data)
        for perm in itertools.permutations(range(4)):
            k = KLL(k=200)
            for i in perm:
                o = KLL(k=200)
                o.update(parts[i])
                k.merge(o)
            est = k.quantile(0.5)
            true_rank = np.searchsorted(s, est) / n
            assert abs(true_rank - 0.5) <= max(3 * k.rank_error(), 0.01)

    def test_serde(self):
        k = KLL(k=128)
        k.update(RNG.normal(size=10_000))
        k2 = KLL.deserialize(k.serialize())
        assert k2.n == k.n
        assert k2.quantile(0.9) == k.quantile(0.9)

    def test_nan_ignored(self):
        k = KLL()
        k.update(np.asarray([1.0, np.nan, 3.0]))
        assert k.n == 2


# ----------------------------------------------------------------- TDigest
class TestTDigest:
    def test_tail_rank_error_under_heavy_merge(self):
        """64-way partial merge on heavy-tailed data (the two-level plan
        shape): extreme-tail rank error stays within the k1 width times
        the suite's standard 3x safety factor (rank_error is a typical-
        case width, not a hard bound) — which is why the strict
        size-capped merge variant is not needed (NOTES.md r2 finding)."""
        rng = np.random.default_rng(3)
        data = rng.lognormal(0, 2, 200_000)
        digs = []
        for part in np.array_split(data, 64):
            t = TDigest(delta=200)
            t.update(part)
            digs.append(t)
        main = digs[0]
        for d in digs[1:]:
            main.merge(d)
        s = np.sort(data)
        for q in (0.9, 0.99, 0.999):
            est = main.quantile(q)
            rank = np.searchsorted(s, est) / len(s)
            assert abs(rank - q) <= 3 * main.rank_error(q), q

    def test_exact_small(self):
        t = TDigest(delta=200)
        data = RNG.normal(size=150)
        t.update(data)
        assert t.quantile(0.5) == pytest.approx(np.quantile(data, 0.5))

    def test_rank_error_bound(self):
        t = TDigest(delta=200)
        n = 100_000
        data = RNG.lognormal(size=n)
        for chunk in np.array_split(data, 25):
            t.update(chunk)
        s = np.sort(data)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99):
            est = t.quantile(q)
            true_rank = np.searchsorted(s, est) / n
            assert abs(true_rank - q) <= max(3 * t.rank_error(q), 0.005), q

    def test_merge_any_order_within_bound(self):
        n = 60_000
        data = RNG.normal(size=n)
        parts = np.array_split(data, 4)
        s = np.sort(data)
        for perm in itertools.permutations(range(4)):
            t = TDigest(delta=200)
            for i in perm:
                o = TDigest(delta=200)
                o.update(parts[i])
                t.merge(o)
            est = t.quantile(0.5)
            true_rank = np.searchsorted(s, est) / n
            assert abs(true_rank - 0.5) <= max(3 * t.rank_error(0.5), 0.005)

    def test_bounded_size(self):
        t = TDigest(delta=100)
        for _ in range(50):
            t.update(RNG.normal(size=10_000))
        assert t.means.size <= 2 * 100  # centroids bounded ~delta

    def test_serde(self):
        t = TDigest()
        t.update(RNG.normal(size=5_000))
        t2 = TDigest.deserialize(t.serialize())
        assert t2.quantile(0.5) == t.quantile(0.5)


# ---------------------------------------------------------------- CountMin
class TestCountMin:
    def test_point_exact_low_card(self):
        cm = CountMin(depth=5, width=1 << 14)
        vals = np.asarray(["a"] * 500 + ["b"] * 300 + ["c"] * 7, dtype=object)
        cm.update(vals)
        assert cm.count("a") == 500
        assert cm.count("b") == 300
        assert cm.count("c") == 7
        assert cm.mode() == ("a", 500)

    def test_datetime64_batch_keys_as_datetime(self):
        # ADVICE r4: datetime64[ns].tolist() yields raw epoch-ns ints —
        # a raw datetime64 batch (the public-API / pandas-kernel shape)
        # must produce the SAME candidate keys as the object-datetime
        # path (Arrow kernel / re-score), or the same instant splits
        # into two candidates across merged partials and a typed mode
        # can finalize as an int.
        import datetime

        batch = np.array(["2024-03-01T12:00", "2024-03-01T13:00",
                          "2024-03-01T12:00"], dtype="datetime64[ns]")
        a = CountMin(depth=3, width=256)
        a.update(batch)
        b = CountMin(depth=3, width=256)
        b.update(np.asarray(
            [datetime.datetime(2024, 3, 1, 12),
             datetime.datetime(2024, 3, 1, 13),
             datetime.datetime(2024, 3, 1, 12)], dtype=object))
        assert all(isinstance(k, datetime.datetime) for k in a.candidates)
        assert set(a.candidates) == set(b.candidates)
        merged = a.merge(b)
        assert merged.count(datetime.datetime(2024, 3, 1, 12)) == 4

    def test_overestimate_bound(self):
        cm = CountMin(depth=5, width=1 << 12)
        zipf = RNG.zipf(1.5, size=50_000)
        zipf = zipf[zipf < 10_000]
        cm.update(zipf)
        uniq, cnt = np.unique(zipf, return_counts=True)
        est = cm.counts(uniq)
        # CM never underestimates
        assert (est >= cnt).all()
        # eps*N bound with failure prob e^-depth; allow tiny slack
        viol = (est - cnt) > cm.epsilon * cm.n
        assert viol.mean() < 0.01

    def test_merge_associative_exact(self):
        parts = [np.asarray(["x"] * 10 + ["y"] * (i + 1), dtype=object) for i in range(3)]
        base = None
        for perm in itertools.permutations(range(3)):
            cm = CountMin(depth=3, width=1 << 10)
            for i in perm:
                o = CountMin(depth=3, width=1 << 10)
                o.update(parts[i])
                cm.merge(o)
            key = (cm.count("x"), cm.count("y"))
            base = base or key
            assert key == base == (30, 6)

    def test_serde(self):
        cm = CountMin()
        cm.update(np.asarray(["m"] * 42, dtype=object))
        cm2 = CountMin.deserialize(cm.serialize())
        assert cm2.count("m") == 42
        assert cm2.mode() == ("m", 42)

    def test_serde_preserves_typed_keys(self):
        # Decimal / date / datetime candidate keys must survive a
        # serialize round-trip with IDENTITY intact: a stringified
        # fallback would split a value's counts between the typed and
        # string form after merge
        import datetime
        import decimal

        keys = [decimal.Decimal("1.50"),
                datetime.date(2024, 3, 1),
                datetime.datetime(2024, 3, 1, 12, 30, 0)]
        cm = CountMin(depth=3, width=1 << 10)
        cm.update(np.asarray(keys * 5, dtype=object))
        cm2 = CountMin.deserialize(cm.serialize())
        fresh = CountMin(depth=3, width=1 << 10)
        fresh.update(np.asarray(keys * 3, dtype=object))
        cm2.merge(fresh)
        for k in keys:
            assert cm2.count(k) == 8
        mode_val, mode_n = cm2.mode()
        assert mode_n == 8
        assert type(mode_val) in (decimal.Decimal, datetime.date,
                                  datetime.datetime)

    def test_unsupported_key_type_rejected_loudly(self):
        import pytest

        class Weird:
            pass

        cm = CountMin(depth=3, width=1 << 10)
        cm.update(np.asarray([Weird()], dtype=object))
        with pytest.raises(TypeError, match="not\\s+round-trippable"):
            cm.serialize()


# ------------------------------------------------ CountMin sparse phase
def _cm_sparse_input():
    cm = CountMin(depth=5, width=1 << 13)
    cm.update(np.asarray(["a"] * 5 + ["b"] * 3 + ["c"], dtype=object))
    return cm


def _cm_dense_input():
    cm = CountMin(depth=3, width=1 << 4, max_candidates=8)
    cm.update(np.arange(200, dtype=np.int64) % 37)
    return cm


def _cm_typed_input():
    cm = CountMin(depth=3, width=1 << 8)
    cm.update(np.asarray([decimal.Decimal("1.50"), datetime.date(2024, 3, 1),
                          datetime.datetime(2024, 3, 1, 12, 30), 2.5,
                          b"\x00k", "s", 7] * 2 + [2.5], dtype=object))
    return cm


def _cm_merged_input():
    a = CountMin(depth=4, width=1 << 10, max_candidates=4)
    a.update(np.asarray(["x", "y", "z", "w"], dtype=object),
             counts=np.asarray([4, 0, 2, 0], dtype=np.int64))
    b = CountMin(depth=4, width=1 << 10, max_candidates=4)
    b.update(np.asarray(["y", "y", "v", "u", "t"], dtype=object))
    return a.merge(CountMin.deserialize(b.serialize()))


# blobs written by the dense-only implementation before the sparse phase
# existed (stored checkpoints and sketch_partials tables hold such bytes)
_CM_GOLDEN_HEX = {
    "sparse": (
        "0105000000002000000900000000000000000100002d0000005b5b2273222c20"
        "2261222c20355d2c205b2273222c202262222c20335d2c205b2273222c202263"
        "222c20315d5d0f0000000000000010050000c9190000bd1e0000e92000000437"
        "0000723e000081420000874a00006d590000816c0000016d000047700000db81"
        "0000fc830000df99000005000000000000000300000000000000010000000000"
        "0000030000000000000001000000000000000500000000000000030000000000"
        "0000050000000000000001000000000000000100000000000000030000000000"
        "0000050000000000000003000000000000000500000000000000010000000000"
        "0000"),
    "dense": (
        "000300000010000000c80000000000000008000000750000005b5b2269222c20"
        "31342c2032325d2c205b2269222c2032372c2032325d2c205b2269222c203330"
        "2c2032325d2c205b2269222c2031312c2031385d2c205b2269222c20312c2031"
        "375d2c205b2269222c20352c2031375d2c205b2269222c20382c2031375d2c20"
        "5b2269222c2031322c2031325d5d1b0000000000000011000000000000000f00"
        "00000000000012000000000000000b0000000000000016000000000000000500"
        "0000000000000a000000000000000b000000000000000a000000000000001100"
        "0000000000000c000000000000000a0000000000000005000000000000000500"
        "00000000000005000000000000000a000000000000000c000000000000001600"
        "00000000000006000000000000000b000000000000000a000000000000001100"
        "00000000000006000000000000000a0000000000000016000000000000000a00"
        "0000000000000a000000000000001b0000000000000005000000000000000500"
        "0000000000001100000000000000050000000000000016000000000000000600"
        "00000000000006000000000000000c000000000000000f000000000000000500"
        "0000000000000a000000000000000b0000000000000005000000000000000500"
        "000000000000170000000000000016000000000000000b000000000000001000"
        "0000000000001a00000000000000"),
    "typed": (
        "0103000000000100000f00000000000000000100009b0000005b5b2264222c20"
        "22312e3530222c20325d2c205b2244222c2022323032342d30332d3031222c20"
        "325d2c205b2274222c2022323032342d30332d30315431323a33303a3030222c"
        "20325d2c205b2266222c20223078312e34303030303030303030303030702b31"
        "222c20335d2c205b2242222c202230303662222c20325d2c205b2273222c2022"
        "73222c20325d2c205b2269222c20372c20325d5d150000000000000023000000"
        "3a0000005e000000680000006c000000d7000000fe000000060100000d010000"
        "490100004e010000a7010000e2010000f5010000200200002e02000046020000"
        "66020000bf020000c4020000ee02000002000000000000000200000000000000"
        "0200000000000000020000000000000002000000000000000200000000000000"
        "0300000000000000020000000000000002000000000000000200000000000000"
        "0300000000000000020000000000000002000000000000000200000000000000"
        "0200000000000000020000000000000002000000000000000200000000000000"
        "030000000000000002000000000000000200000000000000"),
    "merged": (
        "0104000000000400000b00000000000000040000003c0000005b5b2273222c20"
        "2278222c20345d2c205b2273222c202279222c20325d2c205b2273222c20227a"
        "222c20325d2c205b2273222c202274222c20315d5d1800000000000000dc0100"
        "002b0200002e0200006403000082030000d903000055040000c3040000560500"
        "00700600001a070000d70700009108000070090000eb0a0000f80a0000620b00"
        "00d00b0000f10c0000130d0000270d00003c0d00003f0e0000d70f0000010000"
        "0000000000010000000000000002000000000000000400000000000000010000"
        "0000000000020000000000000001000000000000000200000000000000020000"
        "0000000000010000000000000001000000000000000400000000000000010000"
        "0000000000010000000000000001000000000000000400000000000000020000"
        "0000000000020000000000000002000000000000000100000000000000020000"
        "0000000000010000000000000004000000000000000100000000000000"),
}


# (inputs, heavy_hitters() of the blob) per golden blob
_CM_GOLDEN_EXPECTED = {
    "sparse": (_cm_sparse_input, [("a", 5), ("b", 3), ("c", 1)]),
    "dense": (_cm_dense_input,
              [(27, 11), (30, 10), (8, 10), (11, 6), (12, 6), (1, 5),
               (14, 5), (5, 5)]),
    "typed": (_cm_typed_input,
              [(2.5, 3), (decimal.Decimal("1.50"), 2),
               (datetime.date(2024, 3, 1), 2),
               (datetime.datetime(2024, 3, 1, 12, 30), 2), (7, 2),
               (b"\x00k", 2), ("s", 2)]),
    "merged": (_cm_merged_input,
               [("x", 4), ("y", 2), ("z", 2), ("t", 1)]),
}


def _cm_as_dense(cm):
    """The same sketch through a dense-mode (mode 0) blob, so it
    deserializes straight into the dense phase."""
    blob = cm.serialize()
    head = struct.unpack_from("<BIIQII", blob)
    cand_end = struct.calcsize("<BIIQII") + head[-1]
    dense_blob = (struct.pack("<BIIQII", 0, *head[1:])
                  + blob[struct.calcsize("<BIIQII"):cand_end]
                  + cm.table.tobytes())
    return CountMin.deserialize(dense_blob)


def _cm_payload(blob):
    """(flat cell indices, counts) of a sparse-mode blob."""
    mode, _, _, _, _, clen = struct.unpack_from("<BIIQII", blob)
    assert mode == 1
    off = struct.calcsize("<BIIQII") + clen
    (nnz,) = struct.unpack_from("<Q", blob, off)
    idx = np.frombuffer(blob, np.uint32, nnz, off + 8)
    counts = np.frombuffer(blob, np.int64, nnz, off + 8 + 4 * nnz)
    return idx, counts


def _cm_reference_table(cm, values, counts):
    """Plain dense accumulation of (value, count) pairs at the sketch's
    own cells — the table any phase sequence must end up with."""
    table = np.zeros((cm.depth, cm.width), dtype=np.int64)
    cells = cm._indices(hash64(np.asarray(values)))
    for d in range(cm.depth):
        np.add.at(table.reshape(-1), cells[d], counts)
    return table


class TestCountMinSparsePhase:
    @pytest.mark.parametrize("name", sorted(_CM_GOLDEN_HEX))
    def test_golden_blob_decodes_to_same_answers(self, name):
        blob = bytes.fromhex(_CM_GOLDEN_HEX[name])
        _, hitters = _CM_GOLDEN_EXPECTED[name]
        cm = CountMin.deserialize(blob)
        assert cm.heavy_hitters() == hitters
        assert cm.mode() == hitters[0]
        assert cm.serialize() == blob

    @pytest.mark.parametrize("name", sorted(_CM_GOLDEN_HEX))
    def test_same_inputs_reproduce_golden_bytes(self, name):
        build, _ = _CM_GOLDEN_EXPECTED[name]
        assert build().serialize() == bytes.fromhex(_CM_GOLDEN_HEX[name])

    def test_golden_blobs_cover_both_payload_modes(self):
        modes = {bytes.fromhex(h)[0] for h in _CM_GOLDEN_HEX.values()}
        assert modes == {0, 1}

    def test_update_crosses_densify_point(self):
        # 3 x 1024 cells: the sparse phase holds at most 48 of them
        cm = CountMin(depth=3, width=1 << 10, max_candidates=64)
        first = np.asarray(["p", "q"], dtype=object)
        cm.update(first)
        assert cm._dense is None
        second = np.asarray([f"v{i}" for i in range(20)] * 2, dtype=object)
        cm.update(second)
        assert cm._dense is not None
        vals, cnt = np.unique(np.concatenate([first, second]),
                              return_counts=True)
        assert np.array_equal(cm.table, _cm_reference_table(cm, vals, cnt))
        one = CountMin(depth=3, width=1 << 10, max_candidates=64)
        one.update(np.concatenate([first, second]))
        assert cm.serialize() == one.serialize()
        assert cm.heavy_hitters() == one.heavy_hitters()

    @pytest.mark.parametrize("sparse_first", [True, False])
    def test_mixed_phase_merge_equals_combined_update(self, sparse_first):
        few = np.asarray(["a", "b", "a"], dtype=object)
        many = np.asarray([f"m{i % 40}" for i in range(300)], dtype=object)
        s = CountMin(depth=3, width=1 << 8, max_candidates=64)
        s.update(few)
        d = CountMin(depth=3, width=1 << 8, max_candidates=64)
        d.update(many)
        assert s._dense is None and d._dense is not None
        merged = s.merge(d) if sparse_first else d.merge(s)
        both = CountMin(depth=3, width=1 << 8, max_candidates=64)
        both.update(np.concatenate([few, many]))
        assert np.array_equal(merged.table, both.table)
        assert merged.n == both.n
        assert merged.heavy_hitters() == both.heavy_hitters()

    def test_zero_counts_stay_out_of_blob(self):
        cm = CountMin(depth=5, width=1 << 13)
        cm.update(np.asarray(["x", "y", "z"], dtype=object),
                  counts=np.asarray([3, 0, 1], dtype=np.int64))
        cm.update(np.asarray(["w"], dtype=object),
                  counts=np.asarray([0], dtype=np.int64))
        idx, counts = _cm_payload(cm.serialize())
        assert (counts != 0).all()
        assert np.array_equal(idx, np.flatnonzero(cm.table.reshape(-1)))
        assert cm.count("y") == 0 and cm.count("x") == 3
        assert cm.n == 4

    def test_count_on_empty_sketch(self):
        cm = CountMin(depth=5, width=1 << 13)
        assert cm.count("anything") == 0
        assert cm.counts(np.asarray([1, 2, 3])).tolist() == [0, 0, 0]
        assert cm.mode() is None and cm.heavy_hitters() == []
        back = CountMin.deserialize(cm.serialize())
        assert back.count("anything") == 0
        assert not back.table.any()

    @pytest.mark.parametrize("tamper", ["unsorted", "duplicate",
                                        "out_of_range"])
    def test_corrupt_sparse_payload_is_rejected(self, tamper):
        blob = bytes.fromhex(_CM_GOLDEN_HEX["sparse"])
        idx, _ = _cm_payload(blob)
        assert idx.size >= 2
        bad = idx.copy()
        if tamper == "unsorted":
            bad[[0, 1]] = bad[[1, 0]]
        elif tamper == "duplicate":
            bad[1] = bad[0]
        else:
            _, depth, width, _, _, _ = struct.unpack_from("<BIIQII", blob)
            bad[-1] = depth * width
        start = blob.index(idx.tobytes())
        tampered = blob[:start] + bad.tobytes() + blob[start + idx.nbytes:]
        with pytest.raises(ValueError, match="corrupt count-min blob"):
            CountMin.deserialize(tampered)

    def test_table_is_read_only(self):
        cm = _cm_sparse_input()
        with pytest.raises(ValueError):
            cm.table[0, 0] = 1
        with pytest.raises(ValueError):
            _cm_dense_input().table[0, 0] = 1

    @given(st.lists(st.integers(0, 300), max_size=60),
           st.lists(st.integers(0, 300), max_size=60))
    @settings(max_examples=60, deadline=None)
    def test_sparse_merge_equals_dense_merge(self, xs, ys):
        # 3 x 4096 cells: up to 64 distinct values stay sparse, so the
        # sparse-side merge both stays sparse and crosses the densify point
        def build(vals):
            cm = CountMin(depth=3, width=1 << 12, max_candidates=8)
            cm.update(np.asarray(vals, dtype=np.int64))
            return cm

        merged = build(xs).merge(build(ys))
        for a_dense, b_dense in [(True, True), (True, False),
                                 (False, True)]:
            a, b = build(xs), build(ys)
            a = _cm_as_dense(a) if a_dense else a
            b = _cm_as_dense(b) if b_dense else b
            other = a.merge(b)
            assert other._dense is not None
            assert np.array_equal(other.table, merged.table)
            assert other.serialize() == merged.serialize()


# ------------------------------------------------------------------- Bloom
class TestBloom:
    def test_no_false_negatives(self):
        b = BloomFilter.from_capacity(10_000, fpr=0.01)
        vals = np.asarray([f"k{i}" for i in range(10_000)], dtype=object)
        b.update(vals)
        assert b.contains(vals).all()

    def test_fpr_within_bound(self):
        b = BloomFilter.from_capacity(10_000, fpr=0.01)
        b.update(np.asarray([f"k{i}" for i in range(10_000)], dtype=object))
        probe = np.asarray([f"absent{i}" for i in range(20_000)], dtype=object)
        fpr = b.contains(probe).mean()
        assert fpr < 0.03  # 3x design FPR slack
        assert b.expected_fpr < 0.02

    def test_merge_is_union(self):
        a = BloomFilter(m=1 << 16, k=5)
        c = BloomFilter(m=1 << 16, k=5)
        a.update(np.asarray(["a1", "a2"], dtype=object))
        c.update(np.asarray(["c1"], dtype=object))
        a.merge(c)
        assert a.contains(np.asarray(["a1", "a2", "c1"], dtype=object)).all()

    def test_serde(self):
        b = BloomFilter.from_capacity(100, 0.01)
        b.update(np.asarray(["q"], dtype=object))
        b2 = BloomFilter.deserialize(b.serialize())
        assert b2.contains(np.asarray(["q"], dtype=object)).all()
        assert (b2.m, b2.k) == (b.m, b.k)


# ----------------------------------------------------------- MinHash / LSH
class TestMinHash:
    def test_jaccard_estimate(self):
        toks_a = [f"w{i}" for i in range(100)]
        toks_b = [f"w{i}" for i in range(20, 120)]  # Jaccard of shingle sets ~2/3
        sa = signature(shingles(toks_a, 3), k=256)
        sb = signature(shingles(toks_b, 3), k=256)
        exact = jaccard_exact(toks_a, toks_b, 3)
        est = estimate_jaccard(sa, sb)
        # std err of k=256 MinHash ~ sqrt(j(1-j)/k) ~ 0.03
        assert abs(est - exact) < 4 * np.sqrt(exact * (1 - exact) / 256)

    def test_identical_docs_collide_in_lsh(self):
        toks = ["the", "quick", "brown", "fox"] * 10
        s1 = signature(shingles(toks, 3), k=128)
        s2 = signature(shingles(list(toks), 3), k=128)
        assert (band_keys(s1, 16) == band_keys(s2, 16)).all()

    def test_object_lifecycle(self):
        m1, m2 = MinHash(k=128), MinHash(k=128)
        m1.update(np.asarray([f"x{i}" for i in range(50)], dtype=object))
        m2.update(np.asarray([f"x{i}" for i in range(50)], dtype=object))
        assert m1.jaccard(m2) == 1.0
        m3 = MinHash.deserialize(m1.serialize())
        assert m3.jaccard(m1) == 1.0


# ----------------------------------------------------------------- SimHash
class TestSimHash:
    def test_near_dups_close(self):
        a = [f"tok{i}" for i in range(200)]
        b = a[:195] + ["zzz1", "zzz2", "zzz3", "zzz4", "zzz5"]
        c = [f"other{i}" for i in range(200)]
        ha, hb, hc = simhash_batch([a, b, c])
        d_ab = hamming64(np.asarray([ha]), np.asarray([hb]))[0]
        d_ac = hamming64(np.asarray([ha]), np.asarray([hc]))[0]
        assert d_ab < 12
        assert d_ac > 20

    def test_deterministic(self):
        toks = ["alpha", "beta", "gamma"]
        assert simhash_batch([toks])[0] == simhash_batch([list(toks)])[0]


# ----------------------------------------------------------------- hashing
class TestHashing:
    def test_stable_across_dtypes(self):
        h1 = hash64(np.asarray(["abc", "def"], dtype=object))
        h2 = hash64(np.asarray(["abc", "def"], dtype=object))
        assert (h1 == h2).all()

    def test_mixed_object_array_hashes_each_value_alone(self):
        """A value's hash does not depend on what shares its array:
        non-ASCII bytes next to a number hash as they do alone (pandas
        would stringify the whole array and fail to decode them)."""
        import datetime
        import decimal

        values = [b"\xc3\xa9", b"abc", "\u00e9", "x", 7, 2.5, True,
                  decimal.Decimal("1.5"), None,
                  datetime.datetime(2024, 3, 1, 12, 0)]
        mixed = np.empty(len(values), dtype=object)
        mixed[:] = values
        h = hash64(mixed)
        for i, v in enumerate(values):
            alone = np.empty(1, dtype=object)
            alone[0] = v
            assert h[i] == hash64(alone)[0], v

    def test_int_spread(self):
        h = hash64(np.arange(10_000))
        # top byte should be near-uniform
        tops = (h >> np.uint64(56)).astype(np.int64)
        counts = np.bincount(tops, minlength=256)
        assert counts.std() / counts.mean() < 0.3


class TestTimezoneCanonicalization:
    def test_aware_and_naive_merge_to_one_candidate(self):
        # Arrow kernel yields tz-aware datetimes, pandas kernel naive
        # datetime64 — the same instant must be one candidate/cell
        import datetime

        import numpy as np

        from tsv_utils_spark.sketches.countmin import CountMin

        aware = datetime.datetime(2024, 3, 1, 12, 0,
                                  tzinfo=datetime.timezone.utc)
        shifted = datetime.datetime(2024, 3, 1, 14, 0,
                                    tzinfo=datetime.timezone(
                                        datetime.timedelta(hours=2)))
        naive = datetime.datetime(2024, 3, 1, 12, 0)
        a = CountMin(depth=3, width=1 << 10)
        a.update(np.asarray([aware] * 4, dtype=object))
        b = CountMin(depth=3, width=1 << 10)
        b.update(np.asarray([naive] * 3 + [shifted] * 2, dtype=object))
        a.merge(b)
        assert a.count(naive) == 9 == a.count(aware)
        assert a.mode() == (naive, 9)
        # serde round-trip keeps the canonical key
        c = CountMin.deserialize(a.serialize())
        assert c.mode() == (naive, 9)

    def test_mixed_aware_naive_array_hashes_without_crash(self):
        import datetime

        import numpy as np

        from tsv_utils_spark.sketches.hashing import hash64

        aware = datetime.datetime(2024, 3, 1, 12, 0,
                                  tzinfo=datetime.timezone.utc)
        naive = datetime.datetime(2024, 3, 1, 12, 0)
        h = hash64(np.asarray([aware, naive, "x", None], dtype=object))
        assert h[0] == h[1]


class TestThetaKMV:
    def test_exact_below_capacity_including_set_ops(self):
        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        a = ThetaKMV(k=1024)
        a.update(np.array([f"u{i}" for i in range(300)], dtype=object))
        b = ThetaKMV(k=1024)
        b.update(np.array([f"u{i}" for i in range(200, 500)], dtype=object))
        assert a.estimate() == 300.0 and b.estimate() == 300.0
        assert a.intersect_estimate(b) == 100.0
        assert a.difference_estimate(b) == 200.0
        assert a.union_estimate(b) == 500.0

    def test_error_within_bound_at_capacity(self):
        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        t = ThetaKMV(k=4096)
        # real update path: hash64 uniformizes over the FULL 64-bit
        # space (the estimator's assumption — raw hashes spanning only
        # part of the space would bias theta)
        t.update(np.arange(200_000))
        true = 200_000
        assert abs(t.estimate() - true) / true < 5 * t.rse

    def test_intersection_estimate_at_capacity(self):
        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        a = ThetaKMV(k=4096)
        b = ThetaKMV(k=4096)
        a.update(np.arange(0, 60_000))
        b.update(np.arange(30_000, 90_000))  # true overlap 30_000
        est = a.intersect_estimate(b)
        assert abs(est - 30_000) / 30_000 < 0.15  # ~several RSE of k=4096

    def test_merge_is_permutation_invariant_and_serde(self):
        import itertools

        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        chunks = [np.arange(i * 100, i * 100 + 150) for i in range(4)]
        results = set()
        for perm in itertools.permutations(range(4)):
            m = ThetaKMV(k=64)
            for i in perm:
                c = ThetaKMV(k=64)
                c.update(chunks[i])
                m.merge(ThetaKMV.deserialize(c.serialize()))
            results.add((m.estimate(), m.hashes.tobytes()))
        assert len(results) == 1  # identical sketch whatever the order

    def test_k_mismatch_rejected(self):
        import pytest

        from tsv_utils_spark.sketches.theta import ThetaKMV

        with pytest.raises(ValueError, match="mismatch"):
            ThetaKMV(k=64).merge(ThetaKMV(k=128))

    def test_self_intersection_equals_estimate_at_capacity(self):
        # the threshold is held as an EXACT uint64: a float64 round-trip
        # could re-include the theta-defining hash and make
        # a.intersect(a) != a.estimate()
        import numpy as np

        from tsv_utils_spark.sketches.theta import ThetaKMV

        t = ThetaKMV(k=1024)
        t.update(np.arange(50_000))
        assert t.intersect_estimate(t) == t.estimate()
        assert t.difference_estimate(t) == 0.0

    def test_union_rejects_k_mismatch_but_intersect_allows(self):
        import numpy as np
        import pytest

        from tsv_utils_spark.sketches.theta import ThetaKMV

        a = ThetaKMV(k=64)
        a.update(np.arange(1000))
        b = ThetaKMV(k=256)
        b.update(np.arange(500, 1500))
        with pytest.raises(ValueError, match="mismatch"):
            a.union_estimate(b)
        # intersect/difference stay valid across capacities (shared
        # exact threshold)
        est = a.intersect_estimate(b)
        assert abs(est - 500) / 500 < 0.5  # k=64 is coarse; just sane
