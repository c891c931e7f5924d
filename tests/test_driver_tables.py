"""Small driver-side tables are ``LocalRelation``s built through
``plans.quantiles.local_table``, not ``createDataFrame(list)`` (a
``LogicalRDD`` that plans a Python stage), and the operators that build
them still give their answers."""

from __future__ import annotations

import pandas as pd


def _leaves(df) -> set[str]:
    """Class names of the leaves of ``df``'s optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return {leaves.apply(i).getClass().getSimpleName()
            for i in range(leaves.size())}


def _assert_local(df):
    kinds = _leaves(df)
    assert "LocalRelation" in kinds, kinds
    assert "LogicalRDD" not in kinds, kinds


def test_row_id_file_ordinals(spark, tmp_path):
    from tsv_utils_spark.functions.rowid import input_row_id

    paths = []
    for name, vals in (("a", ["x", "y"]), ("b", ["z"])):
        p = str(tmp_path / f"{name}.parquet")
        pd.DataFrame({"val": vals}).to_parquet(p)
        paths.append(p)
    out = input_row_id(spark.read.parquet(*paths))
    _assert_local(out)
    rows = out.orderBy("row_id").collect()
    assert [r["val"] for r in rows] == ["x", "y", "z"]
    assert rows[2]["row_id"] == 1 << 40  # file ordinal 1, row 0


def test_exact_header_id_anti_join(spark, tmp_path, monkeypatch):
    from tsv_utils_spark.sources import tsv

    d = tmp_path / "hdr"
    d.mkdir()
    (d / "a.tsv").write_text("k\tv\n1\t2\nk\tv\n")
    (d / "b.tsv").write_text("k\tv\n5\t6\n")
    # every header id goes through the anti-join, not the isin list
    monkeypatch.setattr(tsv, "HEADER_ISIN_MAX_IDS", 0)
    back = tsv.read_tsv(spark, str(d), exact_header=True)
    _assert_local(back)
    assert sorted(tuple(r) for r in back.collect()) == \
        [("1", "2"), ("5", "6"), ("k", "v")]


def test_csv_block_table(spark, tmp_path):
    from tsv_utils_spark.sources.tsv import read_csv_multiline_parallel

    p = tmp_path / "m.csv"
    p.write_text('a,b\n1,"x\ny"\n2,z\n')
    out = read_csv_multiline_parallel(spark, str(p), header=True)
    _assert_local(out)
    assert sorted(tuple(r) for r in out.collect()) == \
        [("1", "x\ny"), ("2", "z")]


def test_hashed_ngram_weight_table(spark):
    from tsv_utils_spark.operators.importance import hashed_ngram_score

    df = spark.range(1).selectExpr("id AS doc_id", "'x y z' AS text")
    for weights, score in (({b: 1 for b in range(64)}, 5),
                           ({b: 0.5 for b in range(64)}, 2.5)):
        out = hashed_ngram_score(df, weights, buckets=64)
        _assert_local(out)
        assert out.collect()[0]["score"] == score
