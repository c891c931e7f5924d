"""Tests of the benchmark itself, at a tiny row count.

    python3 -m pytest perfbench/tests -q

The Spark tests start and stop one local session per benchmark run, like
the benchmark does, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import accuracy, harness, workloads  # noqa: E402

TINY_ROWS = 4000

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# ------------------------------------------------------------ pure checks
def test_hll_check_is_exact_while_sparse_and_bounded_when_dense():
    assert accuracy.hll_error(100.0, 100)[1]
    assert not accuracy.hll_error(101.0, 100)[1]
    dense = accuracy.HLL_SPARSE_LIMIT * 10
    assert accuracy.hll_error(dense * 1.01, dense)[1]
    assert not accuracy.hll_error(dense * 1.5, dense)[1]


def test_kll_check_uses_rank_not_value():
    hist = accuracy.ValueHistogram.from_counts(
        [(float(v), 1) for v in range(1000)])
    assert hist.rank_interval(499.0) == (0.499, 0.5)
    assert accuracy.kll_error(499.0, 0.5, hist, 499.5)[1]
    err, ok = accuracy.kll_error(600.0, 0.5, hist, 499.5)
    assert not ok and err == pytest.approx(0.1)
    small = accuracy.ValueHistogram.from_counts([(1.0, 1), (3.0, 1)])
    assert accuracy.kll_error(2.0, 0.5, small, 2.0)[1]   # exact R-7 phase
    assert not accuracy.kll_error(3.0, 0.5, small, 2.0)[1]


def test_mode_check_is_tie_aware():
    c = accuracy.Check()
    c.mode(("g",), "m", "a", {"a", "b"})
    c.mode(("g",), "m", "b", {"a", "b"})
    assert c.ok
    c.mode(("g",), "m", "c", {"a", "b"})
    assert not c.ok and c.cm_mode_miss_frac == pytest.approx(1 / 3)


def test_benchmark_json_names_match_the_harness():
    assert [m["name"] for m in BENCH["end_to_end"]] == list(harness.END_TO_END)
    assert [m["name"] for m in BENCH["per_layer"]] == list(harness.PER_LAYER)
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)
    for m in BENCH["end_to_end"]:
        assert m["unit"] == harness.END_TO_END[m["name"]]
    for m in BENCH["per_layer"]:
        assert m["unit"] == harness.PER_LAYER[m["name"]]


# ------------------------------------------------------------ Spark runs
@pytest.fixture(scope="module")
def runs():
    """(workload, trace) -> (result line, detail) of tiny runs."""
    return {(w, t): harness.run(w, 7, 0, bool(t), rows=TINY_ROWS)
            for w in workloads.WORKLOADS for t in (0, 1)}


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_emitted_with_its_unit(runs, workload, trace):
    line, detail = runs[(workload, trace)]
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    named = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in named} == {
        k: v["unit"] for k, v in line["metrics"].items()}
    for v in line["metrics"].values():
        assert isinstance(v["value"], float) and np.isfinite(v["value"])
    for name in ("merge_s", "stored_bytes_per_input_byte", "failed_frac",
                 "hll_rel_err_max", "kll_rank_err_max",
                 "cm_mode_miss_frac"):
        assert {"value", "unit", "samples"} <= set(
            detail["end_to_end_extra"][name])
    for name in BENCH["end_to_end"]:
        assert detail["end_to_end"][name["name"]]["samples"] >= 1
    if trace:
        assert os.path.isfile(os.path.join(ROOT, detail["trace_file"]))


def test_floors_and_merge_attribution(runs):
    low = runs[("code_lowcard", 1)][0]["metrics"]
    assert low["plans.arrow_kernel.boundary_floor_s"]["value"] > 0
    assert low["plans.arrow_kernel.python_data_sent_bytes"]["value"] > 0
    high = runs[("code_highcard", 1)][0]["metrics"]
    assert high["plans.agg.merge_python_total_s"]["value"] > 0
    exact = runs[("code_exact", 1)][0]["metrics"]
    assert exact["plans.quantiles.eager_jobs"]["value"] >= 1
    assert exact["operators.join.eager_jobs"]["value"] >= 1
    ckpt = runs[("code_checkpoint", 1)][0]["metrics"]
    assert ckpt["plans.checkpoint.files_written"]["value"] >= 1


def test_same_seed_same_table_bytes_and_errors(runs):
    again = harness.run("code_lowcard", 7, 0, False, rows=TINY_ROWS)[1]
    first = runs[("code_lowcard", 0)][1]
    for name in ("hll_rel_err_max", "kll_rank_err_max", "cm_mode_miss_frac"):
        assert again["end_to_end_extra"][name] == \
            first["end_to_end_extra"][name]
    assert again["facts"]["parquet_bytes"] == first["facts"]["parquet_bytes"]

    work = os.path.join(harness.OUT_DIR, "test-table")
    shutil.rmtree(work, ignore_errors=True)
    cores, mem = harness.machine()
    spark = harness.start_session(work, cores, mem)
    try:
        tables = []
        for i in range(2):
            path = os.path.join(work, f"t{i}")
            harness.write_table(spark, path, TINY_ROWS, 6, 7, 4)
            parts = sorted(n for n in os.listdir(path)
                           if n.endswith(".parquet"))
            tables.append([open(os.path.join(path, n), "rb").read()
                           for n in parts])
        assert tables[0] == tables[1]
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def test_a_corrupted_estimate_counts_as_failed(monkeypatch):
    real_run = workloads.SketchAggWorkload.run

    def corrupt(self, phase):
        rows = [r.asDict() for r in real_run(self, phase)]
        rows[0]["distinct_paths"] += 1
        return rows

    monkeypatch.setattr(workloads.SketchAggWorkload, "run", corrupt)
    line, detail = harness.run("code_lowcard", 7, 0, False, rows=TINY_ROWS)
    assert not line["correct"]
    assert line["failed"] == line["attempted"]
    assert detail["end_to_end_extra"]["failed_frac"]["value"] == 1.0


def test_refuses_to_run_without_the_library():
    bare = os.path.join(harness.OUT_DIR, "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "code_lowcard", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        assert out.returncode != 0
        assert out.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)
