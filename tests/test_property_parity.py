"""Property-based parity: the vectorized kernel and the pure-Python oracle
must agree byte-for-byte on *arbitrary* well-formed payloads, not just the
seeded corpus (hypothesis replaces the reference's fixed five-PDF corpus
with randomized structure)."""

from __future__ import annotations

import random

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_parse_new_spark import fixtures, kernels, oracle

_settings = settings(max_examples=60, deadline=None)


def _agree(payload: str) -> None:
    ex = oracle.extract(payload)
    k = kernels.extract_batch(pd.Series([payload])).iloc[0]
    assert k.extracted_text == ex.text
    assert (k.error if pd.notna(k.error) else None) == ex.error
    assert k.family == ex.family
    assert k.n_pages == ex.n_pages
    assert list(k.spans) == [
        {"start": s, "end": e, "kind": kd} for (s, e, kd) in ex.spans
    ]


@_settings
@given(
    seed=st.integers(0, 10**9),
    n_pages=st.integers(1, 5),
    break_xref=st.booleans(),
    xref_stream=st.booleans(),
    obj_stream=st.booleans(),
)
def test_pdf_payloads(seed, n_pages, break_xref, xref_stream, obj_stream):
    rng = random.Random(seed)
    _agree(
        fixtures.build_pdf(
            rng, n_pages,
            break_xref=break_xref and not (xref_stream or obj_stream),
            xref_stream=xref_stream, obj_stream=obj_stream,
        )
    )


@_settings
@given(seed=st.integers(0, 10**9), n_pages=st.integers(2, 4))
def test_incremental_payloads(seed, n_pages):
    _agree(fixtures.build_pdf_incremental(random.Random(seed), n_pages))


@_settings
@given(seed=st.integers(0, 10**9))
def test_html_payloads(seed):
    _agree(fixtures.build_html(random.Random(seed)))


@_settings
@given(seed=st.integers(0, 10**9))
def test_corrupt_payloads(seed):
    _agree(fixtures.build_corrupt(random.Random(seed)))


@_settings
@given(
    text=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), min_codepoint=1),
        max_size=400,
    )
)
def test_arbitrary_text_payloads(text):
    # any NUL-free text that doesn't look like PDF/HTML is the plain family;
    # with NUL it's binary garbage — either way kernel == oracle, no raise
    _agree(text)


@_settings
@given(
    seed=st.integers(0, 10**9),
    n_lines=st.integers(1, 12),
)
def test_content_stream_tokenizer(seed, n_lines):
    # raw content streams straight through both tokenizers
    rng = random.Random(seed)
    stream, expected = fixtures._content_stream(rng, n_lines)
    from pdf_parse_new_spark.kernels import pdfk

    assert oracle.fold_lines(oracle.tokenize_content(stream)) == expected
    strs, ys, _scales = pdfk._tokenize(stream)
    assert pdfk._fold(strs, ys) == expected


# ---------------------------------------------------------------- bidi lite --

_RTL_CHARS = "אבגדהוזחטיךכלםמןנסעףפץצקרשת" + "ابتثجحخدذرزسشصضطظعغفقكلمنهوي"
_NEUTRALS = " -.,:;!?()[]{}«»'\""
_LTR_WORDS = ["abc", "xyz", "Q3", "2024", "latin", ""]


@st.composite
def _mixed_bidi_text(draw):
    parts = []
    for _ in range(draw(st.integers(1, 8))):
        kind = draw(st.integers(0, 2))
        if kind == 0:
            parts.append(draw(st.sampled_from(_LTR_WORDS)))
        elif kind == 1:
            parts.append(
                "".join(
                    draw(
                        st.lists(st.sampled_from(_RTL_CHARS), min_size=1,
                                 max_size=6)
                    )
                )
            )
        else:
            parts.append(
                "".join(
                    draw(
                        st.lists(st.sampled_from(_NEUTRALS), min_size=1,
                                 max_size=3)
                    )
                )
            )
    return "".join(parts)


@_settings
@given(_mixed_bidi_text())
def test_bidi_kernel_matches_oracle(s):
    """UAX#9-lite: the kernel's regex form and the oracle's independent
    char-loop must agree byte-for-byte on arbitrary LTR/RTL/neutral mixes."""
    from pdf_parse_new_spark.kernels import pdfk

    k = pdfk._bidi(s)
    o = oracle.bidi_visual(s)
    assert k == o
    # reverse+mirror is an involution: applying twice restores the logical
    # order (mirror of a neutral is a neutral, segments map to themselves)
    assert pdfk._bidi(k) == s
    assert len(k) == len(s)


def test_bidi_neutrals_join_rtl_runs_and_brackets_mirror():
    from pdf_parse_new_spark.kernels import pdfk

    # neutrals BETWEEN two RTL runs reverse with them (UAX#9 N1)
    assert pdfk._bidi("אב - גד") == "דג - בא"
    # brackets inside a reversed segment mirror (L4); edge bracket with no
    # RTL after it stays put (BD16 pair analysis is documented out of scope)
    assert pdfk._bidi("אב (גד) הו") == "וה (דג) בא"
    # LTR-adjacent neutrals keep their position with the LTR side (N2)
    assert pdfk._bidi("abc, אבג!") == "abc, גבא!"
    # pure LTR untouched
    assert pdfk._bidi("plain (text)") == "plain (text)"


def test_bidi_in_binary_dialect_show_path():
    """The binary parser reorders per show item with the
    REFERENCE-faithful algorithm (kernels/bidi.py — pdf.js bidi(), pinned
    by tests/test_bidi_reference.py), NOT the synthetic dialect's
    UAX#9-lite rule: at 9/21 RTL characters the reference's ratio
    heuristic picks an RTL base, so the LTR words land in reversed visual
    order too."""
    from pdf_parse_new_spark.kernels import pdfb
    from tests.test_real_pdf import _page_scaffold

    # uppercase codes -> Hebrew letters, lowercase and space -> themselves
    heb = dict(zip(b"SLOMAV", "שלוםעו"))
    pairs = {c: chr(c) for c in b" dehlorw"} | heb
    bf = "".join(
        f"<{c:02X}> <{ord(u):04X}>\n" for c, u in sorted(pairs.items())
    ).encode()
    cmap = (
        b"begincmap\n1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"%d beginbfchar\n%sendbfchar\nendcmap" % (len(pairs), bf)
    )
    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (hello SLOM AVLM world) Tj ET"
    # without /Widths the non-embedded font takes the Helvetica metrics
    # of its StandardEncoding glyph names; the same text either way
    for widths in (b"", b"/FirstChar 32 /LastChar 127 /Widths [%s] "
                   % b" ".join([b"500"] * 96)):
        doc = _page_scaffold(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops),
            {
                5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Heb "
                   + widths + b"/ToUnicode 6 0 R >>",
                6: b"<< /Length %d >>\nstream\n%s\nendstream"
                   % (len(cmap), cmap),
            },
            font_ref=5,
        )
        text = pdfb.parse_pdf_bytes(doc)["text"]
        assert text == "\n\nworld " + "שלום עולם"[::-1] + " hello", widths
