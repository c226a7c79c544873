"""Exact DuckDB-oracle pins for queries WITHOUT a driver CORRECTNESS row:
the two driver-retired twins (queries.DRIVER_RETIRED — the harness caps at
50 SQL registrations) and the round-4 rounding-fix queries, compared the
same way the driver does (row count, sorted column names, order-insensitive
values) but with exact equality (rtol=0/atol=0) at sf0.001."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pdf_parse_new_spark import queries as q

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

PINNED = [
    "conv_concat_tree",  # driver-retired twin (shares conv_concat's oracle)
    "lang_id",           # driver-retired twin of lang_id_expr
    "outlier_docs",      # no CORRECTNESS row in r4 (over-cap)
    "inverted_index",    # no CORRECTNESS row in r4 (over-cap)
    "token_entropy",     # r4 hash red, refixed with per-term rounding
    "unigram_ll",        # same class, refixed to decimal-exact sum_logp
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    return con


def test_driver_retired_is_consistent():
    assert set(q.DRIVER_RETIRED) <= set(q.SQL_CHECKED_ALL)
    assert set(q.SQL_CHECKED) == set(q.SQL_CHECKED_ALL) - set(q.DRIVER_RETIRED)
    # the harness records at most 50 CORRECTNESS rows — stay exactly at cap
    assert len(q.SQL_CHECKED) == 50


def test_needs_reference_are_rows_only():
    # scripts/check_oracle.py skips these without the reference corpus:
    # none of them may be an SQL-checked entry
    assert set(q.NEEDS_REFERENCE) <= set(q.ROWS_ONLY) - set(q.SQL_CHECKED_ALL)


@pytest.mark.parametrize("name", PINNED)
def test_exact_oracle_match(spark, oracle_con, name):
    fn, sql = q.SQL_CHECKED_ALL[name]
    got = norm(fn(spark, SF).toPandas())
    want = norm(oracle_con.execute(sql).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=False, rtol=0, atol=0
    )
