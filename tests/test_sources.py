"""Sources: deterministic source-code synthesis, TSV/CSV round-trips."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tsv_utils_spark.sources import (
    csv_to_tsv_df,
    read_tsv,
    synthesize_source_code_table,
    write_tsv,
)


class TestCodegen:
    def test_deterministic_across_partitioning(self, spark):
        a = synthesize_source_code_table(spark, 5000, partitions=2)
        b = synthesize_source_code_table(spark, 5000, partitions=16)
        def row_set_hash(df):
            h = F.xxhash64("repo", "path", "commit", "lang", "sha")
            return df.agg(F.sum(F.pmod(h, F.lit(1_000_000_007)))).first()[0]

        assert row_set_hash(a) == row_set_hash(b)  # identical rows any parallelism

    def test_skewed_repos(self, spark):
        df = synthesize_source_code_table(spark, 20_000)
        counts = (df.groupBy("repo").count().orderBy(F.desc("count"))
                    .limit(3).toPandas())
        assert counts.iloc[0]["repo"] == "repo_0"
        # the mega-repo holds a large share (Pareto head)
        assert counts.iloc[0]["count"] > 20_000 * 0.2

    def test_sha_invariant(self, spark):
        df = synthesize_source_code_table(spark, 100)
        bad = df.where(F.sha2(F.col("content"), 256) != F.col("sha")).count()
        assert bad == 0

    def test_schema(self, spark):
        df = synthesize_source_code_table(spark, 10)
        assert df.columns == ["repo", "path", "commit", "lang", "content", "sha"]


class TestTsvIO:
    def test_tsv_round_trip(self, spark, tmp_path):
        df = spark.createDataFrame(
            [("a", "1", 'say "hi"'), ("b", "2", "plain")],
            ["k", "n", "msg"])
        out = str(tmp_path / "t1")
        write_tsv(df, out)
        back = read_tsv(spark, out)
        rows = {tuple(r) for r in back.collect()}
        assert ("a", "1", 'say "hi"') in rows  # quotes survive as data
        assert ("b", "2", "plain") in rows

    def test_header_skip_is_positional_later_in_file(self, spark, tmp_path):
        # a DATA row identical to the header line must survive when it is
        # not line 1 (the reference skips line 1 by position,
        # tsv-select.d:508-511); default mode guarantees this outside the
        # first split — here the file is one split, so use two files to
        # also check the per-file rule
        d = tmp_path / "hdr_pos"
        d.mkdir()
        (d / "a.tsv").write_text("k\tv\n1\t2\nk\tv\n3\t4\n")
        (d / "b.tsv").write_text("k\tv\n5\t6\n")
        # exact mode: the mid-file "k\tv" data row survives; both files'
        # line-1 headers are dropped
        back = read_tsv(spark, str(d), exact_header=True)
        rows = sorted(tuple(r) for r in back.collect())
        assert rows == [("1", "2"), ("3", "4"), ("5", "6"), ("k", "v")]
        # default single-scan mode: positional within block-start splits
        # only — documented residual drops the header-equal data row when
        # it falls in the same (first) split, but never invents rows
        back_fast = read_tsv(spark, str(d))
        rows_fast = sorted(tuple(r) for r in back_fast.collect())
        assert rows_fast == [("1", "2"), ("3", "4"), ("5", "6")]

    def test_default_mode_keeps_header_equal_row_in_later_split(
            self, spark, tmp_path):
        """The 100TB shape: a file spanning MANY splits. The default
        (single-scan) rule only content-matches inside block-start
        splits, so a header-equal DATA row in any later split survives
        without the exact_header second pass."""
        d = tmp_path / "hdr_big"
        d.mkdir()
        lines = ["k\tv"] + [f"{i}\t{i}" for i in range(20000)]
        lines.insert(15000, "k\tv")  # header-equal data row, late in file
        (d / "big.tsv").write_text("\n".join(lines) + "\n")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024))
        try:
            back = read_tsv(spark, str(d))
            n_parts = back.rdd.getNumPartitions()
            assert n_parts > 2, f"file must span several splits, got {n_parts}"
            rows = back.collect()
            assert len(rows) == 20001  # all data incl. the late 'k\tv'
            assert sum(1 for r in rows if tuple(r) == ("k", "v")) == 1
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")

    def test_exact_header_skips_only_true_first_lines(self, spark,
                                                      tmp_path):
        # a file whose line 1 is NOT the header (headerless stray) but
        # which contains a header-equal DATA row must keep that data row
        # — line 1 is identified positionally, then content-checked
        d = tmp_path / "hdr_stray"
        d.mkdir()
        # a.tsv is the LARGEST file so split packing orders it first and
        # its line 1 establishes hdr_line (the documented "line 1 of some
        # input file" contract)
        (d / "a.tsv").write_text("k\tv\n1\t2\n3\t4\n5\t6\n7\t8\n")
        (d / "b.tsv").write_text("9\t9\nk\tv\n")  # headerless stray file
        back = read_tsv(spark, str(d), exact_header=True)
        rows = sorted(tuple(r) for r in back.collect())
        # b's line 1 ("9\t9") is not the header -> kept; b's header-equal
        # DATA row ("k\tv") is not line 1 -> kept; only a's line 1 dropped
        assert rows == [("1", "2"), ("3", "4"), ("5", "6"), ("7", "8"),
                        ("9", "9"), ("k", "v")]

    def test_csv_reader_path_keeps_header_equal_data_row(self, spark,
                                                         tmp_path):
        d = tmp_path / "hdr_csv"
        d.mkdir()
        (d / "a.tsv").write_text("k\tv\n1\t2\nk\tv\n")
        back = read_tsv(spark, str(d), fast=False)
        rows = sorted(tuple(r) for r in back.collect())
        assert rows == [("1", "2"), ("k", "v")]

    def test_hash_leading_cell_not_quoted(self, spark, tmp_path):
        # univocity quotes lines starting with its comment char ('#' by
        # default) — write_tsv redirects the comment char so '#'-leading
        # cells write verbatim (tsv-utils has no comment syntax)
        from tsv_utils_spark.sources.tsv import read_tsv, write_tsv

        df = spark.createDataFrame(
            [("#hash", "x"), ("a#b", "#tag")], ["a", "b"])
        out = str(tmp_path / "hashes")
        write_tsv(df, out)
        back = sorted(tuple(r) for r in read_tsv(spark, out).collect())
        assert back == [("#hash", "x"), ("a#b", "#tag")]

    def test_empty_lines_kept_as_empty_records(self, spark, tmp_path):
        # tsv-utils treats an empty line as a record with one empty field;
        # the fast path must keep it (univocity's CSV path drops it)
        d = tmp_path / "hdr_blank"
        d.mkdir()
        (d / "a.tsv").write_text("k\tv\n1\t2\n\n3\t4\n")
        back = read_tsv(spark, str(d))
        rows = sorted((r[0] or "", r[1] or "") for r in back.collect())
        assert ("", "") in rows
        assert len(rows) == 3

    def test_csv_to_tsv_semantics(self, spark, tmp_path):
        src = tmp_path / "in.csv"
        src.write_text('name,note\n"smith, j","line1\nline2\twide"\n')
        df = csv_to_tsv_df(spark, str(src))
        row = df.first()
        assert row["name"] == "smith, j"           # comma inside quotes kept
        assert row["note"] == "line1 line2 wide"   # newline+tab -> spaces


class TestWriteSplit:
    def test_write_split_by_key(self, spark, tables, tmp_path):
        from tsv_utils_spark.operators.split import write_split

        out = str(tmp_path / "split_out")
        write_split(tables["orders"], out, n=4, keys=["o_custkey"])
        back = spark.read.parquet(out)
        assert back.count() == tables["orders"].count()
        assert set(r.bucket for r in back.select("bucket").distinct().collect()) \
            <= set(range(4))

    def test_write_split_lines_per_file(self, spark, tables, tmp_path):
        import glob

        from tsv_utils_spark.operators.split import write_split

        out = str(tmp_path / "split_lines")
        write_split(tables["region"].coalesce(1), out, lines_per_file=2)
        files = glob.glob(out + "/part-*.parquet")
        assert len(files) >= 3  # 5 rows / 2 per file


class TestReadTable:
    def test_path_and_catalog_sources(self, spark, tables, tmp_path):
        from tsv_utils_spark.sources.tables import read_table

        # path form -> parquet scan
        import os
        sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                            "/root/testdata/sf0.001")
        by_path = read_table(spark, f"{sf}/region.parquet")
        assert by_path.count() == tables["region"].count()
        # catalog form -> spark.read.table (the Iceberg call path)
        tables["region"].createOrReplaceTempView("region_v")
        by_name = read_table(spark, "region_v")
        assert by_name.count() == by_path.count()
        # time travel options demand a catalog source
        import pytest
        with pytest.raises(ValueError, match="catalog"):
            read_table(spark, f"{sf}/region.parquet", snapshot_id=1)


class TestCsvAutoMultiline:
    def test_auto_picks_fast_path_on_newline_free_csv(self, spark, tmp_path):
        from tsv_utils_spark.sources.tsv import csv_to_tsv_df

        p = str(tmp_path / "plain")
        spark.createDataFrame(
            [(i, f'va"l,{i}') for i in range(100)], ["id", "v"]) \
            .write.mode("overwrite").option("header", True) \
            .option("quote", '"').option("escape", '"').csv(p)
        auto = csv_to_tsv_df(spark, p, multiline="auto")
        slow = csv_to_tsv_df(spark, p, multiline=True)
        assert sorted(map(tuple, auto.collect())) == \
            sorted(map(tuple, slow.collect()))

    def test_auto_falls_back_on_embedded_newlines(self, spark, tmp_path):
        from tsv_utils_spark.sources.tsv import csv_to_tsv_df

        p = str(tmp_path / "multi")
        spark.createDataFrame(
            [(1, "line one\nline two"), (2, "plain")], ["id", "v"]) \
            .write.mode("overwrite").option("header", True) \
            .option("quote", '"').option("escape", '"').csv(p)
        out = {tuple(r) for r in
               csv_to_tsv_df(spark, p, multiline="auto").collect()}
        # the embedded newline is a REAL record boundary only under the
        # multiline parser; auto must have chosen it (then TSV-normalized
        # the newline to a space)
        assert out == {("1", "line one line two"), ("2", "plain")}


class TestParallelMultilineCsv:
    def _write(self, path, n=3000):
        import random

        rng = random.Random(7)
        rows = []
        for i in range(n):
            r = rng.random()
            if r < 0.3:
                v = f'"multi\nline {i} with ""q"" and, comma"'
            elif r < 0.45:
                v = f'"crlf\r\ncell,{i}"'
            elif r < 0.55:
                v = '""'
            elif r < 0.6:
                v = ""  # unquoted empty
            else:
                v = f"plain{i}"
            rows.append(f"{i},{v},{i * 3}")
        with open(path, "w", newline="") as f:
            f.write("id,v,w\r\n" + "\r\n".join(rows) + "\r\n")

    def test_matches_univocity_across_tiny_blocks(self, spark, tmp_path):
        # tiny blocks force straddling records and blocks that start
        # inside quoted fields — parity with the one-task reference
        # parser must hold byte-for-byte after TSV normalization
        from tsv_utils_spark.sources.tsv import csv_to_tsv_df

        p = str(tmp_path / "pml.csv")
        self._write(p)
        for bb in (512, 4096):
            from tsv_utils_spark.sources.tsv import (
                read_csv_multiline_parallel,
            )

            par = read_csv_multiline_parallel(spark, p, header=True,
                                              block_bytes=bb)
            uni = (spark.read.option("header", True)
                   .option("multiLine", True).option("quote", '"')
                   .option("escape", '"').csv(p))
            a = sorted((r["id"], r["w"]) for r in par.collect())
            b = sorted((r["id"], r["w"]) for r in uni.collect())
            assert a == b, bb
            # full-row parity through the csv2tsv normalization
            ta = sorted(map(tuple, csv_to_tsv_df(
                spark, p, multiline="parallel").collect()))
            tb = sorted(map(tuple, csv_to_tsv_df(
                spark, p, multiline=True).collect()))
            # univocity pre-normalizes CRLF->LF; the reference replaces
            # CRLF with ONE char, which both paths now produce
            assert ta == tb

    def test_block_entirely_inside_quoted_field(self, spark, tmp_path):
        from tsv_utils_spark.sources.tsv import read_csv_multiline_parallel

        p = str(tmp_path / "giant.csv")
        big = "x" * 5000 + "\n" + "y" * 5000  # one quoted 10KB cell
        with open(p, "w") as f:
            f.write(f'id,v\n1,"{big}"\n2,plain\n')
        out = read_csv_multiline_parallel(spark, p, header=True,
                                          block_bytes=1024)
        rows = {r["id"]: r["v"] for r in out.collect()}
        assert rows["2"] == "plain"
        assert len(rows["1"]) == 10_001 and "\n" in rows["1"]

    def test_multi_file_header_per_file(self, spark, tmp_path):
        from tsv_utils_spark.sources.tsv import read_csv_multiline_parallel

        d = tmp_path / "many"
        d.mkdir()
        for k in range(3):
            with open(d / f"part-{k}.csv", "w") as f:
                f.write("id,v\n")
                for i in range(10):
                    f.write(f'{k * 10 + i},"a\nb{i}"\n')
        out = read_csv_multiline_parallel(spark, str(d), header=True)
        ids = sorted(int(r["id"]) for r in out.collect())
        assert ids == list(range(30))  # 3 headers skipped, 30 records

    def test_compressed_input_rejected_and_auto_falls_back(
            self, spark, tmp_path):
        import gzip

        from tsv_utils_spark.sources.tsv import (
            csv_to_tsv_df,
            read_csv_multiline_parallel,
        )

        p = str(tmp_path / "z.csv.gz")
        with gzip.open(p, "wt") as f:
            f.write('id,v\n1,"a\nb"\n2,c\n')
        with pytest.raises(ValueError, match="compressed"):
            read_csv_multiline_parallel(spark, p)
        # auto detects the quoted newline, tries parallel, falls back
        # to the exact serial parser instead of failing
        out = {tuple(r) for r in
               csv_to_tsv_df(spark, p, multiline="auto").collect()}
        assert out == {("1", "a b"), ("2", "c")}

    def test_empty_first_part_file_skipped(self, spark, tmp_path):
        from tsv_utils_spark.sources.tsv import read_csv_multiline_parallel

        d = tmp_path / "withempty"
        d.mkdir()
        (d / "part-0.csv").write_text("")  # sorts first, 0 bytes
        (d / "part-1.csv").write_text('id,v\n7,"x\ny"\n')
        out = read_csv_multiline_parallel(spark, str(d), header=True)
        rows = [tuple(r) for r in out.collect()]
        assert rows == [("7", "x\ny")]

    def test_quoted_newline_in_header(self, spark, tmp_path):
        from tsv_utils_spark.sources.tsv import read_csv_multiline_parallel

        p = str(tmp_path / "qh.csv")
        with open(p, "w") as f:
            f.write('"col\none",b\n1,2\n3,4\n')
        out = read_csv_multiline_parallel(spark, p, header=True)
        assert out.columns == ["col\none", "b"]
        assert sorted(map(tuple, out.collect())) == [("1", "2"),
                                                     ("3", "4")]

    def test_whitespace_only_cells_preserved(self, spark, tmp_path):
        from tsv_utils_spark.sources.tsv import read_csv_multiline_parallel

        p = str(tmp_path / "ws.csv")
        with open(p, "w") as f:
            f.write('id,v\n1,"a\nb"\n2,   \n3, \n')
        out = {r["id"]: r["v"]
               for r in read_csv_multiline_parallel(
                   spark, p, header=True, block_bytes=8).collect()}
        assert out == {"1": "a\nb", "2": "   ", "3": " "}

    def test_first_record_over_head_read_raises(self, spark, tmp_path):
        # a first record bigger than the driver's header read must
        # raise (wrong silent column inference would misparse every
        # block), pointing at the serial parser
        from tsv_utils_spark.sources.tsv import read_csv_multiline_parallel

        p = str(tmp_path / "bighead.csv")
        with open(p, "w") as f:
            f.write('id,"' + "x" * (5 << 20) + '\n')  # no closing line
        with pytest.raises(ValueError, match="exceeds"):
            read_csv_multiline_parallel(spark, p, header=True)

    def test_no_trailing_newline(self, spark, tmp_path):
        from tsv_utils_spark.sources.tsv import read_csv_multiline_parallel

        p = str(tmp_path / "notrail.csv")
        with open(p, "w") as f:
            f.write('id,v\n1,"a\nb"\n2,last')  # EOF mid-record line
        out = {r["id"]: r["v"]
               for r in read_csv_multiline_parallel(
                   spark, p, header=True, block_bytes=8).collect()}
        assert out == {"1": "a\nb", "2": "last"}


class TestJsonl:
    def test_roundtrip_preserves_escapes_and_nulls(self, spark, tmp_path):
        from tsv_utils_spark.sources.jsonl import read_jsonl, write_jsonl

        rows = [
            (0, 'tab\there "quoted" back\\slash', "en"),
            (1, "newline\nand unicode é中😀", "de"),
            (2, None, "fr"),            # explicit null text must survive
            (3, "", "es"),              # empty string stays distinct from null
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        p = str(tmp_path / "docs_jsonl")
        write_jsonl(df, p)
        back = read_jsonl(spark, p, schema=df.schema)
        got = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
        for i, t, lang in rows:
            assert got[i] == (t, lang)

    def test_null_fields_kept_by_default_dropped_on_optin(self, spark,
                                                          tmp_path):
        import glob

        from tsv_utils_spark.sources.jsonl import write_jsonl

        df = spark.createDataFrame([(1, None)], "a long, b string") \
            .coalesce(1)
        p1, p2 = str(tmp_path / "keep"), str(tmp_path / "drop")
        write_jsonl(df, p1)
        write_jsonl(df, p2, ignore_null_fields=True)
        read = lambda p: open(glob.glob(p + "/part-*.json")[0]).read()  # noqa: E731
        assert '"b":null' in read(p1)
        assert '"b"' not in read(p2)

    def test_malformed_policy(self, spark, tmp_path):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from tsv_utils_spark.sources.jsonl import read_jsonl

        p = tmp_path / "bad"
        p.mkdir()
        (p / "a.jsonl").write_text(
            '{"doc_id": 1, "text": "ok"}\n'
            'this is not json\n'
            '{"doc_id": 2, "text": "also ok"}\n')
        schema = StructType([StructField("doc_id", LongType()),
                             StructField("text", StringType())])
        kept = read_jsonl(spark, str(p), schema=schema,
                          mode="DROPMALFORMED")
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]
        cap = read_jsonl(spark, str(p), schema=schema, corrupt_col="_bad")
        bad = [r for r in cap.collect() if r["_bad"] is not None]
        assert len(bad) == 1 and bad[0]["_bad"] == "this is not json"


class TestSessionDefaults:
    def test_cores_default_to_machine(self, monkeypatch):
        from tsv_utils_spark.session import _default_cores

        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        assert _default_cores() == os.cpu_count()
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        assert _default_cores() == 3

    def test_driver_memory_fits_the_machine(self):
        from tsv_utils_spark.session import _default_driver_memory

        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        got = _default_driver_memory()
        assert got.endswith("m")
        mib = int(got[:-1])
        assert 0 < mib << 20 <= min(phys // 2, 24 << 30)


class TestMultilineListing:
    """The parallel CSV reader's pyarrow listing turns the errors it
    expects into ValueError (so csv_to_tsv_df's 'auto' can fall back)
    and lets anything else through."""

    def test_unknown_scheme_is_value_error(self, spark, monkeypatch):
        from tsv_utils_spark.sources import tsv

        monkeypatch.setattr(tsv, "_list_csv_files",
                            lambda _s, _p: ["nosuchscheme://x/y.csv"])
        with pytest.raises(ValueError, match="pyarrow cannot open"):
            tsv.read_csv_multiline_parallel(spark, "ignored")

    def test_other_errors_propagate(self, spark, monkeypatch):
        from tsv_utils_spark.sources import tsv

        def broken(_uri):
            raise RuntimeError("not a listing error")

        monkeypatch.setattr(tsv, "_list_csv_files",
                            lambda _s, _p: ["file:///nowhere/y.csv"])
        monkeypatch.setattr(tsv, "_file_size", broken)
        with pytest.raises(RuntimeError):
            tsv.read_csv_multiline_parallel(spark, "ignored")
