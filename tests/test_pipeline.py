"""End-to-end Spark pipeline vs oracle goldens — the port of the reference's
7-case suite (test/01-valid-default.js:16-228, FIXTURES.md §4)."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from pdf_parse_new_spark import fixtures, oracle, pipeline, spec
from pdf_parse_new_spark.operators import concat, extract


def test_per_turn_byte_equality(spark, smoke_df, golden):
    rows = extract.extract_turns(smoke_df).collect()
    assert len(rows) == len(golden)
    for r in rows:
        ex = golden[(r.conv_id, r.turn_idx)]
        assert r.extracted_text == ex.text, (r.conv_id, r.turn_idx)
        assert r.error == ex.error
        assert r.family == ex.family
        assert [(s.start, s.end, s.kind) for s in r.spans] == ex.spans


# (salt_block, tree_fanout): several blocks per conversation, then the
# superblock level with every level merging several pieces
SHAPES = [(16, 0), (4, 0), (3, 2)]


def _golden(rows) -> dict:
    """Per-turn oracle rows keyed (conv_id, turn_idx)."""
    return {(r[0], r[1]): oracle.extract(r[3]) for r in rows}


def _expected_convs(golden, leading=False, max_turns=0):
    """Every concat output field per conversation, built from the per-turn
    oracle rows: the reference join (oracle.concat_conversation), errors
    among the kept turns, and the meta map — families and summed n_pages
    over all turns, /Info of the first kept turn that carries one."""
    by_conv: dict[str, list] = {}
    for (cid, t), ex in sorted(golden.items()):
        by_conv.setdefault(cid, []).append(ex)
    out = {}
    for cid, turns in by_conv.items():
        text, n, k = oracle.concat_conversation(
            [ex.text for ex in turns], leading, max_turns
        )
        kept = turns[:k]
        info = next((ex.info for ex in kept if ex.info), None)
        out[cid] = {
            "full_text": text,
            "n_turns": n,
            "n_extracted": k,
            "n_errors": sum(ex.error is not None for ex in kept),
            "meta": {
                "families": ",".join(sorted({ex.family for ex in turns})),
                "n_pages": str(sum(ex.n_pages for ex in turns)),
                "info": json.dumps(info, sort_keys=True) if info else "",
            },
        }
    return out


def _assert_convs(df, want):
    got = {r.conv_id: r.asDict() for r in df.collect()}
    assert set(got) == set(want)
    for cid, fields in want.items():
        for name, value in fields.items():
            assert got[cid][name] == value, (cid, name)


@pytest.mark.parametrize("salt_block, tree_fanout", SHAPES)
@pytest.mark.parametrize("leading", [False, True])
def test_conversation_concat(
    spark, smoke_df, golden, leading, salt_block, tree_fanout
):
    opts = pipeline.Options(
        leading_separator=leading, salt_block=salt_block,
        tree_fanout=tree_fanout,
    )
    _assert_convs(
        pipeline.extract_conversations(smoke_df, opts),
        _expected_convs(golden, leading=leading),
    )


@pytest.mark.parametrize("salt_block, tree_fanout", SHAPES)
def test_max_turns_limit(spark, smoke_df, golden, salt_block, tree_fanout):
    # case 5 of the reference suite: max = N-1 -> last-turn text absent,
    # n_extracted = N-1, n_turns = N (test/01-valid-default.js:86-114)
    opts = pipeline.Options(
        max_turns=5, salt_block=salt_block, tree_fanout=tree_fanout
    )
    want = _expected_convs(golden, max_turns=5)
    for w in want.values():
        assert w["n_extracted"] == min(5, w["n_turns"])
    _assert_convs(pipeline.extract_conversations(smoke_df, opts), want)


def test_max_turns_negative_means_all(spark, smoke_df, golden):
    opts = pipeline.Options(max_turns=-1)
    got = pipeline.extract_conversations(smoke_df, opts).collect()
    for r in got:
        assert r.n_extracted == r.n_turns


def test_null_kernel_is_default(spark, smoke_df):
    # case 2/3: pagerender null/undefined -> default kernel (lib/pdf-parse.js:68)
    a = extract.extract_turns(smoke_df, kernel=None).orderBy("conv_id", "turn_idx")
    b = extract.extract_turns(
        smoke_df, kernel="pdf_parse_new_spark.kernels:extract_batch"
    ).orderBy("conv_id", "turn_idx")
    assert [r.extracted_text for r in a.collect()] == [
        r.extracted_text for r in b.collect()
    ]


def test_custom_kernel_module(spark, smoke_df):
    # case 6/7: custom render honored; module path, not closure
    # (pagerenderModule, index.d.ts:32; constant-callback case
    # test/01-valid-default.js:174-228)
    df = extract.extract_turns(
        smoke_df, kernel="tests.custom_kernels:upper_kernel"
    )
    rows = df.collect()
    assert all(
        r.extracted_text == r.extracted_text.upper() for r in rows if r.extracted_text
    )
    df2 = extract.extract_turns(smoke_df, kernel="tests.custom_kernels:constant_kernel")
    assert {r.extracted_text for r in df2.collect()} == {"CONSTANT"}


def test_title_only_kernel(spark, smoke_df):
    # P5: font-size filter — titles (Tf scale > 12) only, via the example
    # kernel (reference test/examples/09-custom-render.js:62-79)
    full = {
        (r.conv_id, r.turn_idx): r
        for r in extract.extract_turns(smoke_df).collect()
    }
    titles = extract.extract_turns(
        smoke_df, kernel="pdf_parse_new_spark.kernels.examples:title_only_kernel"
    ).collect()
    fewer = 0
    for r in titles:
        base = full[(r.conv_id, r.turn_idx)]
        if r.family != "pdfstream" or r.error is not None:
            assert r.extracted_text == base.extracted_text
            continue
        # every kept line is a line of the full extraction; output shrinks
        base_lines = set(base.extracted_text.split("\n"))
        for line in r.extracted_text.split("\n"):
            if line:
                assert line in base_lines, (r.conv_id, r.turn_idx, line)
        if len(r.extracted_text) < len(base.extracted_text):
            fewer += 1
    assert fewer > 0  # the corpus contains title lines


def test_error_rows_never_fail_job(spark, smoke_df, golden):
    rows = extract.extract_turns(smoke_df).collect()
    n_err = sum(1 for r in rows if r.error is not None)
    want = sum(1 for ex in golden.values() if ex.error is not None)
    assert n_err == want > 0
    for r in rows:
        if r.family == spec.FAM_CORRUPT or (
            r.error is not None and r.extracted_text == ""
        ):
            assert r.extracted_text == ""


def test_all_corrupt_conversation(spark):
    # test-03 analog: a fully corrupt conversation yields empty text +
    # errors, never a job failure
    import datetime

    rows = [
        (
            "allbad",
            i,
            "user",
            fixtures.build_corrupt(__import__("random").Random(i)),
            "",
            datetime.datetime(2024, 1, 1),
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, fixtures.TRANSCRIPT_SCHEMA)
    out = pipeline.extract_conversations(df).collect()
    assert len(out) == 1
    assert out[0].n_errors == 4
    assert out[0].full_text == "\n\n".join([""] * 4)


def test_payload_size_guard(spark, smoke_df):
    # X4 analog: oversize payloads become error rows, never job failures
    out = extract.extract_turns(smoke_df, max_payload_bytes=400).collect()
    n_big = sum(1 for r in out if r.error == "payload-too-large")
    assert n_big > 0
    for r in out:
        if r.error == "payload-too-large":
            assert r.extracted_text == "" and list(r.spans) == []
            assert r.family == "corrupt"  # no stale kernel-computed family
    # unguarded run still extracts those rows
    base = {
        (r.conv_id, r.turn_idx): r
        for r in extract.extract_turns(smoke_df).collect()
    }
    assert all(
        base[(r.conv_id, r.turn_idx)].error != "payload-too-large" for r in out
    )


def _rows(df) -> dict:
    return {r.conv_id: r.asDict() for r in df.collect()}


def test_salted_equals_unsalted(spark, smoke_df, golden):
    """Block 7 splits conversations into several salted blocks; a block
    larger than any conversation leaves one block each (the unsalted
    shape). Both must give every field the oracle gives."""
    ex = extract.extract_turns(smoke_df)
    want = _expected_convs(golden)
    salted = concat.concat_conversations_salted(ex, block=7)
    unsalted = concat.concat_conversations_salted(ex, block=1 << 30)
    assert _rows(salted) == _rows(unsalted)
    _assert_convs(salted, want)


def test_tree_equals_salted_equals_plain(spark, smoke_df, golden):
    """Superblock tree (block 3, fanout 2), two-level salted (block 7) and
    one block per conversation must all agree with the oracle, with and
    without a max_turns clamp that cuts inside a block."""
    ex = extract.extract_turns(smoke_df)
    for max_turns in (0, 3):
        want = _expected_convs(golden, max_turns=max_turns)
        tree, salted, plain = (
            concat.concat_conversations_salted(
                ex, block=block, fanout=fanout, max_turns=max_turns
            )
            for block, fanout in ((3, 2), (7, 0), (1 << 30, 0))
        )
        assert _rows(tree) == _rows(salted) == _rows(plain), max_turns
        _assert_convs(tree, want)


def test_tree_concat_leading_separator_and_sparse_idx(spark):
    # non-dense turn_idx across superblock boundaries + sequential-mode
    # leading separator
    rows = [("c", i * 37, "user", f"t{i} text content", "", None)
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    )
    want = _expected_convs(_golden(rows), leading=True)
    assert want["c"]["full_text"].startswith("\n\n")
    assert want["c"]["n_turns"] == 20
    _assert_convs(
        concat.concat_conversations_salted(
            extract.extract_turns(df), block=2, fanout=3,
            leading_separator=True,
        ),
        want,
    )


def test_conversation_meta_info(spark):
    # P2: the concat meta map carries the first non-null per-turn /Info
    # (reference Result.info) in every block/fanout shape
    shape = dict(n_convs=12, median_turns=8, skew_convs=1, skew_turns=40)
    df = fixtures.make_transcripts_df(spark, **shape)
    want = _expected_convs(_golden(fixtures.transcript_rows(**shape)))
    infos = [w["meta"]["info"] for w in want.values() if w["meta"]["info"]]
    assert infos, "corpus must contain PDFs with /Info"
    for i in infos:
        assert json.loads(i)["producer"] == "pdf-parse-new-spark"
    for salt_block, tree_fanout in SHAPES:
        opts = pipeline.Options(salt_block=salt_block, tree_fanout=tree_fanout)
        _assert_convs(pipeline.extract_conversations(df, opts), want)
