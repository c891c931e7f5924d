"""Tests for the local gate tooling (tools/check_oracles.py) and the
in-process kernel benchmarks (tools/bench_level1.py, bench_level2.py)."""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (_REPO, os.path.join(_REPO, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

from check_oracles import self_val_failures  # noqa: E402


class TestSelfValidationGate:
    def test_all_true_passes(self):
        flags, bad = self_val_failures(
            ["q", "est", "within_bound"],
            [(0.5, 1.0, True), (0.9, 2.0, True)])
        assert flags == ["within_bound"] and bad == 0

    def test_false_flag_fails(self):
        # a deliberately broken eps (VERDICT r3 #2): any false cell in a
        # self-validation column must make the gate fail
        flags, bad = self_val_failures(
            ["q", "est", "within_bound"],
            [(0.5, 1.0, True), (0.9, 2.0, False)])
        assert bad == 1

    def test_null_flag_fails(self):
        _, bad = self_val_failures(["planted_all_found"], [(None,)])
        assert bad == 1

    def test_multiple_flag_columns(self):
        flags, bad = self_val_failures(
            ["found_planted", "x", "planted_all_found"],
            [(True, 1, False), (False, 2, True)])
        assert set(flags) == {"found_planted", "planted_all_found"}
        assert bad == 2

    def test_no_flags_no_gate(self):
        flags, bad = self_val_failures(["a", "b"], [(1, 2)])
        assert flags == [] and bad == 0

    def test_empty_result_with_flag_columns_fails(self):
        # zero rows = zero witnesses: a recall regression that removes
        # nothing must not print green
        flags, bad = self_val_failures(["doc_id", "planted_all_found"], [])
        assert flags == ["planted_all_found"] and bad == 1

    def test_empty_result_without_flags_passes(self):
        flags, bad = self_val_failures(["a", "b"], [])
        assert flags == [] and bad == 0


class TestDriverBoardRotation:
    def test_front_of_board_names_resolve_and_fit_window(self):
        import __spark_entry__ as entrymod

        front = entrymod._FRONT_OF_BOARD
        assert len(front) == len(set(front))  # no duplicates
        missing = [n for n in front if n not in entrymod.QUERIES]
        assert not missing, f"unregistered names in _FRONT_OF_BOARD: {missing}"
        ordered = list(entrymod.queries())
        # the driver samples the first 50 — every front name must land there
        assert set(front) <= set(ordered[:50])
        # and nothing is lost by the reorder
        assert set(ordered) == set(entrymod.QUERIES)

    def test_every_query_has_oracle_or_selfval_marker(self):
        # contract hygiene: a query without a DuckDB oracle must be one
        # of the documented self-validating approximates (its driver row
        # carries an enforced flag column) — never silently ungated
        import __spark_entry__ as entrymod

        selfval = {"kll_quantiles", "tdigest_quantiles", "minhash_near_dup",
                   "simhash_near_dup", "ann_lsh", "ann_ivf",
                   "embedding_near_dup", "code_kll_sizes",
                   "text_compression", "decontaminate_near",
                   "semdedup_planted"}
        no_oracle = set(entrymod.queries()) - set(entrymod.oracle_sql())
        assert no_oracle == selfval, (
            f"queries without oracle or self-val classification: "
            f"{no_oracle ^ selfval}")


class TestBenchLevel1:
    def test_smoke_small_table_matches_reference(self, spark):
        """tools/bench_level1.py at 2k rows: every partial row equals the
        per-group reference build's."""
        import bench_level1

        res = bench_level1.run(spark, rows=2000, repos=10, slices=2,
                               runs=1)
        assert res["identical"], res
        assert res["partial_rows"] > 0
        assert res["kernel"]["min_s"] > 0


class TestBenchLevel2:
    def test_smoke_small_table_matches_reference(self, spark):
        """tools/bench_level2.py at 2k rows: every merged row equals the
        per-group object merge's, finalized and as blobs."""
        import bench_level2

        res = bench_level2.run(spark, rows=2000, repos=10, slices=2,
                               runs=1)
        assert res["identical"], res
        assert res["groups"] > 0 and res["partial_rows"] >= res["groups"]
        assert res["merge"]["min_s"] > 0
