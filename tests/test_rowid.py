"""input_row_id: stable (file, offset) input order for fresh scans, and
its auto-wiring into summarize/uniq order semantics
(tsv-summarize.d:4187/:4250 first-seen order, tsv-uniq.d:441-447)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tsv_utils_spark.functions.rowid import input_row_id, try_input_row_id
from tsv_utils_spark.operators import Op, summarize, uniq


@pytest.fixture()
def scan(spark, tmp_path):
    """A 3-file scan with known per-file contents: file order (sorted
    paths) then row order defines the reference 'input order'."""
    import pandas as pd

    base = tmp_path / "scan"
    rows = {
        "a": [("g1", "x"), ("g1", "y"), ("g2", "x")],
        "b": [("g1", "y"), ("g2", "z"), ("g1", "q")],
        "c": [("g2", "x"), ("g1", "x")],
    }
    for name, rs in rows.items():
        pd.DataFrame(rs, columns=["grp", "val"]).to_parquet(
            f"{base}_{name}.parquet")
    paths = [f"{base}_{n}.parquet" for n in ("a", "b", "c")]
    return spark.read.parquet(*paths)


class TestInputRowId:
    def test_ids_follow_file_then_offset(self, scan):
        out = input_row_id(scan).orderBy("row_id").collect()
        # concatenation order: file a rows, file b rows, file c rows
        assert [(r["grp"], r["val"]) for r in out] == [
            ("g1", "x"), ("g1", "y"), ("g2", "x"),
            ("g1", "y"), ("g2", "z"), ("g1", "q"),
            ("g2", "x"), ("g1", "x")]
        ids = [r["row_id"] for r in out]
        assert len(set(ids)) == len(ids)  # unique, orderable

    def test_non_file_input_returns_none(self, spark):
        df = spark.createDataFrame([(1,)], "x int")
        assert try_input_row_id(df) is None
        with pytest.raises(ValueError, match="file-backed"):
            input_row_id(df)

    def test_unresolved_metadata_returns_none(self, scan):
        """A file-backed plan whose _metadata column does not resolve
        (an aggregate over the scan) gives None, not an error."""
        assert try_input_row_id(scan.groupBy("grp").count()) is None

    def test_unexpected_error_propagates(self, spark, monkeypatch):
        from tsv_utils_spark.functions import rowid

        def boom(df, out_col):
            raise RuntimeError("boom")

        monkeypatch.setattr(rowid, "input_row_id", boom)
        with pytest.raises(RuntimeError, match="boom"):
            rowid.try_input_row_id(spark.range(1))

    def test_values_input_order_auto(self, scan):
        """summarize values without order_col on a fresh scan reproduces
        reference input order automatically."""
        out = {r["grp"]: r["vals"] for r in summarize(
            scan, ["grp"], [Op.values("val", header="vals")]).collect()}
        assert out["g1"] == "x|y|y|q|x"
        assert out["g2"] == "x|z|x"

    def test_unique_values_first_seen(self, scan):
        from tsv_utils_spark.functions.rowid import ROW_ID_COL

        withid = input_row_id(scan)
        out = {r["grp"]: r["uvals"] for r in summarize(
            withid, ["grp"], [Op.unique_values("val", header="uvals")],
            order_col=ROW_ID_COL).collect()}
        assert out["g1"] == "x|y|q"  # first-seen, not sorted
        assert out["g2"] == "x|z"

    def test_first_last_auto_order(self, scan):
        out = {r["grp"]: (r["f"], r["l"]) for r in summarize(
            scan, ["grp"],
            [Op.first("val", header="f"), Op.last("val", header="l")])
            .collect()}
        assert out["g1"] == ("x", "x")  # first file-a row, last file-c row
        assert out["g2"] == ("x", "x")

    def test_uniq_first_seen_auto_order(self, scan):
        out = uniq(scan, ["grp"]).orderBy("grp").collect()
        # first occurrence of g1 is ('g1','x') in file a; of g2 ('g2','x')
        assert [(r["grp"], r["val"]) for r in out] == [
            ("g1", "x"), ("g2", "x")]
        assert "row_id" not in out[0].asDict()  # derived col hidden

    def test_uniq_number_auto_order(self, scan):
        out = uniq(scan, ["grp"], mode="number")
        pdf = input_row_id(scan).join(
            out.withColumnRenamed("equiv_count", "n"),
            ["grp", "val"]).toPandas()
        assert len(pdf) >= 8  # join fan-out ok; numbering exists for all
        assert set(out.toPandas().columns) == {"grp", "val", "equiv_count"}
