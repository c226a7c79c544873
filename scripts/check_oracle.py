"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and order-insensitive values. Usage: python scripts/check_oracle.py
[sf_dir] [query ...]

The rows-only entries that read the reference corpus
(queries.NEEDS_REFERENCE) print SKIP when queries.REFERENCE_DATA is
absent; every other entry is run."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402
from pdf_parse_new_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    spark = get_spark("oracle-check", cores=8)
    qs, oq = entrymod.queries(), entrymod.oracle_sql()
    # driver-retired twins (queries.DRIVER_RETIRED) stay locally verified
    from pdf_parse_new_spark import queries as qmod

    for name, (fn, sql) in qmod.SQL_CHECKED_ALL.items():
        qs.setdefault(name, fn)
        oq.setdefault(name, sql)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in qmod.NEEDS_REFERENCE and not os.path.isdir(
            qmod.REFERENCE_DATA
        ):
            print(f"SKIP {name}: reference corpus absent")
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {exc}")
            failures += 1
            continue
        if name not in oq:
            print(f"rows-only {name}: {len(got)} rows, cols={list(got.columns)}")
            continue
        want = con.execute(oq[name]).df()
        g, w = norm(got), norm(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
            failures += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
            failures += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False,
                                          rtol=0, atol=0)
            print(f"OK   {name}: {len(g)} rows")
        except AssertionError as exc:
            print(f"FAIL {name}: values differ\n{str(exc)[:500]}")
            failures += 1
    spark.stop()
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
