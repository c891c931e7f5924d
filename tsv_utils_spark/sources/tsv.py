"""TSV/CSV sources and sinks with the reference's format semantics.

- ``read_tsv``   — the reference's native format: TAB-delimited, no
                   quoting/escaping AT ALL (utils.d bufferedByLine just
                   splits on the delimiter), first line optionally header.
                   So: quote handling is disabled (quote='') — a quote
                   char is data, exactly like tsv-utils.
- ``csv_to_tsv_df`` — csv2tsv semantics (csv2tsv.d:429-640): RFC-4180
                   quotes/escapes honored on read, then TAB/CR/LF inside
                   fields replaced by a space so the output is valid TSV.
- ``write_tsv``  — TAB-separated, no quoting, header on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.plans.quantiles import local_table

# exact_header drops at most this many header rows by an isin literal
# list; more go through a broadcast anti-join against the row-id set
HEADER_ISIN_MAX_IDS = 1000


def read_tsv(spark: SparkSession, path: str, header: bool = True,
             schema=None, delimiter: str = "\t",
             fast: bool = True, exact_header: bool = False) -> DataFrame:
    """Read tsv-utils-format TSV: TAB-delimited, NO quoting/escaping.

    ``fast=True`` (default) models the format exactly as the reference
    does (utils.d bufferedByLine: split each line on the delimiter,
    nothing else): ``spark.read.text`` + a JVM-side split — measured
    ~1.4x the univocity CSV reader per core, and semantically tighter
    (quotes are data, never parsed). ``schema`` supplies names and
    per-field try_cast types; otherwise the header names all-string
    columns. ``fast=False`` falls back to the CSV reader with quoting
    disabled (positional per-file header skip, but univocity drops
    fully blank lines — the fast path keeps them as empty records,
    matching the reference).

    Header semantics (the reference skips line 1 of each file by
    POSITION — tsv-select.d:508-511, utils.d:1749; the text source has
    no ``_metadata.row_index``, so position is approximated from block
    offsets):

    - The header line is taken from a row whose file-block starts at
      byte 0, i.e. contractually line 1 of SOME input file (not just
      "whatever row came back first", which split packing can reorder).
    - Default removal rule: drop a row iff it equals the header line
      AND it sits in the block-start split of its file. Line 1 of every
      same-schema file is dropped (also covering tsv-append's
      repeated-header rule); a data row identical to the header in any
      LATER split always survives. Residual divergence: a header-equal
      data row inside the FIRST split of a file (≤ one
      maxPartitionBytes window) is still dropped — at scale a
      vanishing fraction; pass ``exact_header=True`` when it matters.
    - ``exact_header=True``: exact positional semantics — per file,
      only the header-equal row with the minimum scan row-id inside the
      block-start split is dropped (that row is physically line 1,
      since rows of one split are emitted in file order within a single
      partition). Costs a second pass over the input to collect the
      per-file header row-ids (a tiny driver-side set, one per file),
      so the default stays single-scan."""
    if fast:
        txt = spark.read.text(path)
        block_start = F.expr("input_file_block_start()")
        hdr_line = None
        if header:
            # restricting to block-start rows makes limit(1) return the
            # physical first line of SOME file: a filter preserves
            # partition-local order, and each partition's first
            # surviving row is the first row of a bs==0 split
            first = txt.where(block_start == 0).limit(1).collect()
            hdr_line = first[0]["value"] if first else None
        if schema is not None:
            fields = list(schema.fields)
        elif hdr_line is not None:
            fields = [T.StructField(n, T.StringType())
                      for n in hdr_line.split(delimiter)]
        else:
            raise ValueError("read_tsv needs header=True or a schema")
        if hdr_line is not None:
            is_cand = (block_start == 0) & (F.col("value") == hdr_line)
            if exact_header:
                # one row-id per file: within a file's bs==0 split all
                # its rows live in one partition in file order, so
                # min(monotonically_increasing_id) over ALL of the
                # file's bs==0 rows is PHYSICALLY line 1 (min over
                # header-equal rows only would mis-target a file whose
                # first line differs from hdr_line but which contains a
                # header-equal data row). Drop that line-1 row iff its
                # content equals the header. The id is a pure function
                # of (partition index, row order), both deterministic
                # for a fixed file listing + conf, so it is stable
                # across this job and the main scan below.
                mid = F.monotonically_increasing_id()
                hdr_ids = (txt
                           .select(F.expr("input_file_name()").alias("f"),
                                   mid.alias("m"), "value",
                                   block_start.alias("bs"))
                           .where(F.col("bs") == 0)
                           .groupBy("f")
                           .agg(F.min("m").alias("m"),
                                F.min_by("value", "m").alias("first_line"))
                           .where(F.col("first_line") == hdr_line)
                           .select("m").collect())
                drop_ids = {r["m"] for r in hdr_ids}
                txt = txt.withColumn("__mid", mid)
                if len(drop_ids) > HEADER_ISIN_MAX_IDS:
                    # millions of files would make an isin literal list
                    # unwieldy — broadcast anti-join against the id set
                    ids_df = local_table(
                        spark, [(int(i),) for i in drop_ids],
                        T.StructType([T.StructField("__mid", T.LongType())]))
                    txt = txt.join(F.broadcast(ids_df), "__mid", "left_anti")
                elif drop_ids:
                    txt = txt.where(~F.col("__mid").isin(*drop_ids))
            else:
                txt = txt.where(~is_cand)
        # keep the pattern a bare literal where possible: Spark's split
        # fast-paths simple patterns, and \Q..\E quoting forces the full
        # regex engine (measured 2.3x slower on a TAB split)
        meta = ".\\[]{}()*+?^$|"
        pattern = "".join(("\\" + c) if c in meta else c for c in delimiter)
        parts = F.split(F.col("value"), pattern, -1)
        # F.get (not getItem): a short/empty line yields NULL for the
        # missing trailing fields instead of an ANSI array-index error —
        # an empty line is a one-empty-field record (utils.d line
        # semantics), not a crash
        cols = [F.get(parts, i).try_cast(f.dataType).alias(f.name)
                for i, f in enumerate(fields)]
        return txt.select(*cols)
    r = (spark.read
         .option("sep", delimiter)
         .option("header", header)
         .option("quote", "")        # no quote handling: quotes are data
         .option("inferSchema", False))
    if schema is not None:
        r = r.schema(schema)
    return r.csv(path)


def _list_csv_files(spark: SparkSession, path: str) -> list[str]:
    """Deterministic (sorted) fully-qualified URIs under ``path`` —
    Spark's own listing, so globs/dirs behave identically to a read."""
    return sorted(spark.read.format("text").load(path).inputFiles())


def _file_size(uri: str) -> int:
    """Size in bytes of ``uri``, through ``pyarrow.fs``."""
    import pyarrow.fs as pafs

    fs, p = pafs.FileSystem.from_uri(uri)
    return fs.get_file_info(p).size


def _parity_boundaries(buf, state: int):
    """Record-start offsets (position AFTER each even-quote-parity
    newline) in a byte buffer, given the in-quote ``state`` at its
    first byte. THE quote-parity primitive — used by the driver header
    scan and every executor block task; keep one copy."""
    import numpy as np

    q = np.flatnonzero(buf == 0x22)
    n = np.flatnonzero(buf == 0x0A)
    if not len(n):
        return np.empty(0, dtype=np.int64)
    par = (np.searchsorted(q, n) + state) & 1
    return n[par == 0] + 1


def read_csv_multiline_parallel(spark: SparkSession, path: str,
                                header: bool = True,
                                block_bytes: int | None = None) -> DataFrame:
    """Parallel scan of RFC-4180 CSV **with quoted embedded newlines** —
    the case Spark's own reader forces to one task per file
    (``multiLine=true`` disables splitting because a task starting
    mid-file cannot know whether it is inside a quoted field).

    Two-pass quote-parity splitting makes the file splittable anyway:

    1. each ~``block_bytes`` block counts its ``\"`` BYTES in parallel
       (an RFC escaped quote is two characters, so parity is preserved;
       0x22 never occurs in UTF-8 continuation bytes, so the byte scan
       is encoding-safe). A prefix-XOR of the per-block parities — one
       bit per block, computed on the driver — yields every block's
       in-quote state at its start offset.
    2. each block, now knowing its starting state, locates the
       newlines at even quote-parity (true record boundaries), takes
       ownership of the records that START inside it (reading ahead
       into the next blocks for a record that straddles), and parses
       its record-aligned byte range with ``pyarrow.csv`` (C++,
       newlines_in_values) — not a per-row Python loop.

    All columns are returned as strings (csv2tsv semantics: cells are
    text until a downstream schema says otherwise). Requires
    RFC-conformant quoting: a bare ``\"`` inside an UNQUOTED field
    would flip the parity scan (the reference's csv2tsv state machine
    reads such input the same way — csv2tsv.d:505-640 treats any
    quote after a delimiter as opening a field).
    """
    files = _list_csv_files(spark, path)
    if not files:
        raise FileNotFoundError(path)
    _CODEC_EXTS = (".gz", ".bz2", ".zst", ".zstd", ".lz4", ".snappy",
                   ".deflate", ".br", ".xz")
    compressed = [u for u in files if u.lower().endswith(_CODEC_EXTS)]
    if compressed:
        # raw byte offsets are meaningless inside a compression stream;
        # Spark's own readers decompress transparently — stay there
        raise ValueError(
            f"read_csv_multiline_parallel reads raw byte ranges and "
            f"cannot split compressed files (e.g. {compressed[0]!r}) — "
            f"use csv_to_tsv_df(multiline=True)")

    # pyarrow.fs must understand the scheme (file://, s3://, hdfs://
    # with libhdfs, gcs://...); s3a://, abfss:// etc. are Hadoop-only.
    # An unknown scheme (ArrowInvalid, a ValueError) or an unreadable
    # file (OSError) becomes ValueError so csv_to_tsv_df's "auto" can
    # fall back to the univocity path.
    sizes = {}
    try:
        for uri in files:
            sizes[uri] = _file_size(uri)
    except (ValueError, OSError) as e:
        raise ValueError(
            f"read_csv_multiline_parallel: pyarrow cannot open "
            f"{uri!r} ({e}) — this scheme needs the built-in "
            f"Spark reader; use csv_to_tsv_df(multiline=True)") from e
    if block_bytes is None:
        # aim for ~4 blocks per core (pipelining + stragglers), clamped
        # to [4MB, 64MB] — one task per block
        par = spark.sparkContext.defaultParallelism or 8
        total = max(1, sum(sizes.values()))
        block_bytes = min(64 << 20, max(4 << 20, total // (4 * par)))

    # block table: (uri, start, end, file_size) — tiny, driver-built
    blocks = []
    for uri in files:
        size = sizes[uri]
        off = 0
        while off < size or off == 0:
            blocks.append((uri, off, min(off + block_bytes, size), size))
            off += block_bytes
            if off >= size:
                break

    # column names from the first FULL RECORD of the first non-empty
    # file (driver-side read of one small slice). "First record", not
    # "first physical line": a quoted header cell may itself contain a
    # newline, so cut at the first EVEN-QUOTE-PARITY newline.
    import csv as _csv
    import io as _io

    import numpy as _np
    import pyarrow.fs as pafs

    _HEAD_READ = 4 << 20
    header_rec = None
    for uri in files:
        if sizes[uri] == 0:
            continue
        fs1, p1 = pafs.FileSystem.from_uri(uri)
        with fs1.open_input_stream(p1) as f:
            head = f.read(_HEAD_READ)
        even = _parity_boundaries(
            _np.frombuffer(head, dtype=_np.uint8), 0)
        if len(even):
            header_rec = head[: int(even[0])]
        elif len(head) < _HEAD_READ or sizes[uri] <= _HEAD_READ:
            header_rec = head  # whole (newline-free) file IS the record
        else:
            raise ValueError(
                f"first record of {uri!r} exceeds {_HEAD_READ} bytes — "
                f"cannot infer the column count; use "
                f"csv_to_tsv_df(multiline=True)")
        break
    if header_rec is None:
        raise ValueError(f"no non-empty files under {path!r}")
    first_row = next(_csv.reader(
        _io.StringIO(header_rec.decode("utf-8", "replace"))))
    names = ([c if c else f"_c{i}" for i, c in enumerate(first_row)]
             if header else [f"_c{i}" for i in range(len(first_row))])

    sc = spark.sparkContext
    # ---- pass 1: per-block quote parity (numpy byte count) ----------
    def parity_of(block):
        import numpy as np
        import pyarrow.fs as pafs2

        uri, start, end, _ = block
        fs, p = pafs2.FileSystem.from_uri(uri)
        with fs.open_input_file(p) as f:
            f.seek(start)
            buf = np.frombuffer(f.read(end - start), dtype=np.uint8)
        return (uri, start, int((buf == 0x22).sum() & 1))

    parities = (sc.parallelize(blocks, len(blocks))
                  .map(parity_of).collect())
    state, start_state = {}, {}
    for uri, start, par in sorted(parities):
        s = state.get(uri, 0)
        start_state[(uri, start)] = s
        state[uri] = s ^ par

    bc_state = sc.broadcast(start_state)
    bc_names = sc.broadcast(names)

    # ---- pass 2: boundary-aligned parallel parse --------------------
    # mapInArrow, not mapInPandas: pyarrow.csv already produces Arrow
    # RecordBatches — yielding them directly skips a
    # Table -> pandas -> Arrow round-trip that measured ~as expensive
    # as the parse itself
    def parse_block(iterator):
        import numpy as np
        import pyarrow as pa
        import pyarrow.csv as pacsv
        import pyarrow.fs as pafs2

        from tsv_utils_spark.sources.tsv import (
            _parity_boundaries as boundaries,
        )

        out_schema = pa.schema([(c, pa.string())
                                for c in bc_names.value])

        for batch in iterator:
            for row in batch.to_pylist():
                uri, start, end, size = (row["uri"], int(row["start"]),
                                         int(row["end"]), int(row["size"]))
                fs, p = pafs2.FileSystem.from_uri(uri)
                with fs.open_input_file(p) as f:
                    f.seek(start)
                    buf = np.frombuffer(f.read(end - start),
                                        dtype=np.uint8)
                    st = bc_state.value[(uri, start)]
                    # ownership: record starts s in (start, end], plus
                    # s=0 for the first block. Boundary newlines inside
                    # this block yield exactly those starts.
                    bnd = boundaries(buf, st)  # local s offsets, >=1
                    if start == 0:
                        if not header:
                            first = 0
                        elif len(bnd):
                            # skip the header RECORD exactly: it ends
                            # at the first parity boundary (pyarrow's
                            # skip_rows counts physical lines and
                            # would split a quoted multi-line header)
                            first = int(bnd[0])
                        else:
                            continue  # file is all header
                    elif len(bnd):
                        first = int(bnd[0])
                    else:
                        continue  # block fully inside one record
                    # the last owned record runs until the first record
                    # start PAST global end — scan ahead with running
                    # parity until a boundary or EOF
                    tail = bytearray()
                    stop = None  # offset into (buf + tail), exclusive
                    cur_state = (st + int((buf == 0x22).sum())) & 1
                    pos = end
                    while stop is None and pos < size:
                        f.seek(pos)
                        nxt = np.frombuffer(
                            f.read(min(1 << 20, size - pos)),
                            dtype=np.uint8)
                        b2 = boundaries(nxt, cur_state)
                        if len(b2):
                            keep = int(b2[0])
                            tail.extend(nxt[:keep].tobytes())
                            stop = (end - start) + len(tail)
                        else:
                            tail.extend(nxt.tobytes())
                            cur_state = (cur_state
                                         + int((nxt == 0x22).sum())) & 1
                            pos += len(nxt)
                chunk = buf.tobytes()[first:] + bytes(tail) \
                    if stop is None else \
                    (buf.tobytes() + bytes(tail))[first:stop]
                if not chunk:  # not strip(): whitespace cells are data
                    continue
                tbl = pacsv.read_csv(
                    pa.BufferReader(chunk),
                    read_options=pacsv.ReadOptions(
                        column_names=bc_names.value,
                        use_threads=False),
                    parse_options=pacsv.ParseOptions(
                        newlines_in_values=True, quote_char='"',
                        double_quote=True),
                    convert_options=pacsv.ConvertOptions(
                        column_types={c: pa.string()
                                      for c in bc_names.value},
                        # univocity parity: Spark's CSV reader maps
                        # empty cells to NULL whether quoted or not
                        # (nullValue defaults to "")
                        strings_can_be_null=True,
                        null_values=[""],
                        quoted_strings_can_be_null=True))
                for rb in tbl.cast(out_schema).to_batches():
                    yield rb

    bdf = local_table(spark, blocks, T.StructType(
        [T.StructField("uri", T.StringType())]
        + [T.StructField(c, T.LongType()) for c in ("start", "end", "size")]))
    schema = ", ".join(f"`{c}` string" for c in names)
    return bdf.repartition(len(blocks)).mapInArrow(parse_block,
                                                   schema=schema)


def csv_to_tsv_df(spark: SparkSession, path: str, header: bool = True,
                  replacement: str = " ",
                  multiline: bool | str = True) -> DataFrame:
    """Read RFC-ish CSV and normalize every string cell to TSV-safe form
    (TAB/CR/LF -> ``replacement``), mirroring csv2tsv's state machine
    outcome (csv2tsv.d:505-640) declaratively.

    ``multiline=True`` (default) honors quoted embedded newlines like the
    reference always does — but makes files unsplittable (one task per
    file) and engages the slower parser. Pass ``multiline=False`` when
    the data is known newline-free: files split across tasks and the
    fast univocity path applies (~2x per core, parallel ingest).

    ``multiline="auto"`` PROVES which case holds with a cheap parallel
    pre-scan instead of guessing: a quoted field spans lines iff some
    physical line has an odd number of double-quote characters, so if
    every line's quote count is even the fast splittable parser is
    byte-for-byte safe. One extra text scan (pure JVM, splittable) buys
    the fast path on the overwhelmingly common newline-free corpus while
    silently falling back to the exact multiline parser otherwise.

    ``multiline="parallel"`` forces the quote-parity block scanner
    (``read_csv_multiline_parallel``): quoted newlines fully honored
    AND the file splits across tasks — ``"auto"`` picks it
    automatically when the pre-scan finds quoted newlines, so auto now
    parallelizes BOTH outcomes. Requires RFC-conformant quoting.

    Rule of thumb (measured, BENCH/BASELINE.md): use ``"auto"`` for
    few-huge-files ingest (3.3x on one 7M-row newline-free file, and
    the parallel scanner covers the quoted-newline case); keep the
    default on many-file inputs, where per-file parallelism already
    exists and the pre-scan is ~15% dead weight.
    """
    if multiline == "auto":
        odd_lines = (spark.read.text(path)
                     .select(((F.length("value")
                               - F.length(F.regexp_replace(
                                   "value", '"', ""))) % 2).alias("odd"))
                     .agg(F.sum("odd").alias("n")).first()["n"])
        # quoted newlines present -> the PARALLEL multiline scanner
        # (quote-parity block splitting, sources/tsv.py above) instead
        # of univocity's one-task-per-file multiLine mode. Inputs the
        # scanner cannot take (compressed files, Hadoop-only URI
        # schemes) raise ValueError at plan time — fall back to the
        # exact serial parser rather than failing "auto".
        if odd_lines:
            try:
                return _csv_clean(
                    read_csv_multiline_parallel(spark, path,
                                                header=header),
                    replacement)
            except ValueError:
                multiline = True
        else:
            multiline = False
    if multiline == "parallel":
        df = read_csv_multiline_parallel(spark, path, header=header)
    else:
        df = (spark.read
              .option("header", header)
              .option("multiLine", multiline)
              .option("quote", '"')
              .option("escape", '"')
              .option("inferSchema", False)
              .csv(path))
    return _csv_clean(df, replacement)


def _csv_clean(df: DataFrame, replacement: str) -> DataFrame:
    """TSV-normalize every cell. CRLF is ONE replacement char
    (csv2tsv.d:335-339: "Replace the CR with the replacement char ...
    next write region starts after the LF"), lone TAB/CR/LF one each —
    the alternation must try \\r\\n first. (univocity's multiLine
    reader pre-normalizes CRLF to LF so the distinction never reached
    this regex; the parallel scanner preserves raw bytes.)"""
    cleaned = [F.regexp_replace(F.col(c), "\r\n|[\t\r\n]",
                                replacement).alias(c)
               for c in df.columns]
    return df.select(*cleaned)


def write_tsv(df: DataFrame, path: str, header: bool = True,
              delimiter: str = "\t", single_file: bool = False) -> None:
    """TAB-separated, no quoting, header on, cell whitespace preserved.

    Limitations (both property-tested): ``quote=""`` makes the CSV
    writer use \\u0000 as its (never-matching) quote char, so a literal
    NUL inside a cell is not round-trippable; and univocity quotes any
    line that STARTS with its comment char, so the comment char is
    redirected from the default '#' to \\u0001 — a row whose first cell
    begins with '#' now writes verbatim (tsv-utils has no comment
    syntax), at the cost of \\u0001 inheriting the quirk. Everything
    else, including quotes and backslashes, is written verbatim."""
    out = df.coalesce(1) if single_file else df
    (out.write.mode("overwrite")
        .option("sep", delimiter)
        .option("header", header)
        .option("quote", "")
        .option("emptyValue", "")
        # the CSV WRITER defaults these to true and silently trims cell
        # whitespace — tsv-utils preserves it (found by the round-trip
        # property test with a single-space cell)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("comment", chr(1))
        .csv(path))
