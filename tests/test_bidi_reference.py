"""Reference-faithful bidi (kernels/bidi.py) vs pdf.js's own output.

tests/data/bidi_golden.json holds 2,011 strings — hand-picked rule
exercisers plus seeded fuzz over an adversarial alphabet (classification
boundary codepoints U+058F/0590/05F4/05F5, U+061D, U+08AC/08AD,
U+FB4F/FB50, numerals, NSM marks, angle brackets) — with the output of
the reference's bidi module (pdf.worker.js:32557) generated by running it
under node. The Python port must match byte-for-byte."""

from __future__ import annotations

import json
import os

import pytest

from pdf_parse_new_spark.kernels import bidi, cinterp, pdfb
from pdf_parse_new_spark.kernels.pdfk import _RTL_RUN

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "bidi_golden.json")


def _golden():
    with open(GOLDEN, encoding="utf-8") as f:
        return json.load(f)


def test_matches_reference_goldens():
    g = _golden()
    assert len(g["cases"]) == len(g["expected"]) >= 2000
    bad = [
        (c, bidi.visual(c), e)
        for c, e in zip(g["cases"], g["expected"])
        if bidi.visual(c) != e
    ]
    assert not bad, bad[:5]


def test_identity_without_rtl():
    for s in ("", "plain", "with <angle> brackets", "digits 1,234.5",
              "ümlauts ok", "mixed CASE!"):
        assert bidi.visual(s) == s


def test_c_replay_gate_covers_activation():
    """The C-replay font gate (FontMap.cspec bails on _RTL_RUN matches)
    must be a SUPERSET of bidi activation: any string the reorder would
    change has to contain a gate character, else the C path would skip
    the reorder."""
    g = _golden()
    for c in g["cases"]:
        if bidi.visual(c) != c:
            assert _RTL_RUN.search(c) is not None, repr(c)


# the Hebrew font's /Widths: none (the non-embedded font takes the
# Helvetica metrics of its StandardEncoding glyph names A..E, whatever
# /ToUnicode maps them to), or one explicit 500-unit run
HEBREW_WIDTHS = [
    b"",
    b"/FirstChar 32 /LastChar 127 /Widths [%s] " % b" ".join([b"500"] * 96),
]


def hebrew_doc(widths: bytes) -> bytes:
    """One page whose 1-byte font maps codes A..E to Hebrew letters
    through /ToUnicode; its one show decodes to "hi שלום עש"."""
    from tests.test_real_pdf import _page_scaffold

    import zlib as z

    # codes 0x41..0x44 -> שלום letters; 0x20 -> space; 0x61.. -> ascii
    pairs = {0x41: "ש", 0x42: "ל", 0x43: "ו", 0x44: "ם", 0x45: "ע",
             0x20: " ", 0x61: "h", 0x62: "i"}
    bf = "".join(
        f"<{c:02X}> <{''.join(f'{ord(ch):04X}' for ch in v)}>\n"
        for c, v in pairs.items()
    ).encode()
    cmap = (
        b"begincmap\n1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"%d beginbfchar\n%sendbfchar\nendcmap" % (len(pairs), bf)
    )
    comp = z.compress(cmap)
    font_objs = {
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Heb "
           + widths + b"/ToUnicode 6 0 R >>",
        6: b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
           % (len(comp), comp),
    }
    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (ab ABCD EA) Tj ET"
    content = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
    return _page_scaffold(content, font_objs, font_ref=5)


def test_hebrew_through_real_pdf_end_to_end():
    """A 1-byte font whose ToUnicode maps to Hebrew: the extracted page
    text must be the reference-reordered string (the C path hands the
    RTL-capable font's page to jsvm), with and without /Widths."""
    logical = "hi שלום עש"
    for widths in HEBREW_WIDTHS:
        r_full = pdfb.parse_pdf_bytes(hebrew_doc(widths))
        assert r_full["text"].strip() == bidi.visual(logical).strip(), widths
        # sanity: the reorder actually did something (RTL-heavy -> RTL base)
        assert r_full["text"].strip() != logical


@pytest.mark.skipif(not cinterp.AVAILABLE, reason="no C compiler")
def test_angle_brackets_survive_c_path_without_rtl():
    """'<' deletion only applies to strings that entered reordering; an
    ASCII page through the C replay must keep its angle brackets."""
    from tests.test_real_pdf import _page_scaffold

    # the Tf matters: pre-Tf show ops are DROPPED (pdf.js
    # ensureStateFont + continue, pdf.worker.js:36911-36943;
    # verified against live node)
    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a <b> c) Tj ET"
    content = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
    r = pdfb.parse_pdf_bytes(_page_scaffold(content))
    assert "a <b> c" in r["text"]
