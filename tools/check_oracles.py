"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query AND its DuckDB oracle at a given sf, compare
row-count, schema (column names), and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from tsv_utils_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# expected DuckDB arrow type per Spark dtype (pandas-normalized widths
# like int32-vs-int64 are tolerated by the driver, but decimal128 vs int
# is not — list only the exact expectations we enforce)
_ARROW_OF_SPARK = {"bigint": "int64", "int": "int32", "double": "double",
                   "string": "string", "boolean": "bool", "float": "float",
                   "date": "date32[day]"}


def normalize(rows, cols):
    """Sort columns by name, stringify values, sort rows."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if v is None:
                vals.append("NULL")
            elif isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.9g}")
            elif isinstance(v, bytes):
                vals.append(v.hex())
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


SELF_VAL_FLAGS = ("within_bound", "planted_all_found", "found_planted")


def self_val_failures(cols, rows) -> tuple[list[str], int]:
    """(flag column names, count of failing cells) for a rows-only
    result. Any non-True cell in a flag column fails — and so does an
    EMPTY result that declares flag columns: zero rows means zero
    witnesses (e.g. a recall regression that removes nothing would
    otherwise print green for the worst possible failure)."""
    flag_idx = [i for i, c in enumerate(cols) if c in SELF_VAL_FLAGS]
    if flag_idx and not rows:
        return [cols[i] for i in flag_idx], 1  # vacuously-true guard
    bad = sum(1 for r in rows for i in flag_idx if r[i] is not True)
    return [cols[i] for i in flag_idx], bad


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:200]}")
            continue
        if name not in oracles:
            # No SQL oracle => the query must be SELF-VALIDATING: its
            # result carries boolean exactness-evidence columns
            # (within_bound / planted_all_found / found_planted), and
            # this gate FAILS if any flag is false — an eps regression
            # in KLL error or LSH recall exits non-zero instead of
            # printing a green rows-only line.
            flags, bad = self_val_failures(spark_cols, spark_rows)
            if flags:
                names = ", ".join(flags)
                if bad:
                    failures.append(
                        (name, f"self-validation flag(s) {names} false "
                               f"in {bad} cell(s)"))
                    print(f"FAIL {name}: self-validation {names} false "
                          f"in {bad} cell(s)")
                else:
                    print(f"ok   {name}: rows-only ({len(spark_rows)} "
                          f"rows), self-validated [{names}] all true")
            else:
                print(f"ok   {name}: rows-only ({len(spark_rows)} rows)")
            continue
        try:
            tbl = con.execute(oracles[name]).arrow()
            duck_cols = tbl.schema.names
            duck_types = {f.name: str(f.type) for f in tbl.schema}
            duck_rows = [tuple(r.values()) for r in tbl.to_pylist()]
        except Exception as e:
            failures.append((name, f"DUCK ERROR: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:200]}")
            continue
        problems = []
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"schema {sorted(spark_cols)} vs {sorted(duck_cols)}")
        # the DRIVER's value hash is Arrow-TYPE-sensitive (the round-2
        # red board was DuckDB HUGEINT vs Spark int64 with equal values)
        # — so this local gate fails on type drift too, not just values
        for c, dt in df.dtypes:
            want = _ARROW_OF_SPARK.get(dt)
            if want is None:
                continue  # unmapped dtype (timestamp/decimal/array forms
                # have multiple equivalent arrow spellings) — values gate
                # still applies; extend the map when enforcing new types
            got = duck_types.get(c)
            if got is not None and got != want:
                problems.append(f"arrow type of {c}: spark {dt}->{want} "
                                f"vs duckdb {got}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} vs {len(duck_rows)}")
        if not problems:
            a = normalize(spark_rows, spark_cols)
            b = normalize(duck_rows, duck_cols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)[:400]}")
        else:
            print(f"ok   {name}: {len(spark_rows)} rows match oracle")

    # denominator = queries actually RUN: a name-filtered invocation
    # must not print a full-registry green line for queries it skipped
    unknown = only - set(qs)
    if unknown:
        print(f"\nERROR: unknown query name(s): {sorted(unknown)}")
        sys.exit(2)
    skipped = len(qs) - n_run
    print(f"\n{n_run - len(failures)}/{n_run} queries ok; "
          f"{len(failures)} failures"
          + (f" ({skipped} not selected)" if skipped else ""))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
