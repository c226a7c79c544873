from __future__ import annotations

import os

import pytest

from pdf_parse_new_spark.queries import REFERENCE_DATA
from pdf_parse_new_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "requires_reference: opens the reference corpus; skipped when "
        f"{REFERENCE_DATA} is absent",
    )


def pytest_runtest_setup(item):
    if item.get_closest_marker("requires_reference") and not os.path.isdir(
        REFERENCE_DATA
    ):
        pytest.skip(f"needs the reference corpus at {REFERENCE_DATA}")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def smoke_df(spark):
    """Smoke-tier corpus (FIXTURES.md §6): 20 convs, median 8 turns,
    one 200-turn skew conv."""
    from pdf_parse_new_spark import fixtures

    df = fixtures.make_transcripts_df(
        spark, n_convs=20, median_turns=8, skew_convs=1, skew_turns=200
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def golden(smoke_df):
    """Per-turn oracle goldens for the smoke corpus, keyed (conv_id, turn_idx)."""
    from pdf_parse_new_spark import fixtures, oracle

    out = {}
    for cid, t, role, text, tool, ts in fixtures.transcript_rows(
        20, 8, skew_convs=1, skew_turns=200
    ):
        out[(cid, t)] = oracle.extract(text)
    return out
