"""The font-table memo behind ``pdfb.build_font_map``: tables are built
once per font content and shared across documents, while every document
keeps its own FontMaps (jsvm's charsCache is keyed by FontMap identity)
and its one shared fallback font."""

from __future__ import annotations

import pytest

from pdf_parse_new_spark.kernels import pdfb
from perfbench import inputs
from tests.test_real_pdf import _assemble, _page_scaffold

_OPS = b"BT /F1 12 Tf 72 700 Td (Hello) Tj ET"
_CONTENT = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(_OPS), _OPS)
_HELV = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


@pytest.fixture(autouse=True)
def fresh_memo(monkeypatch):
    memo: dict = {}
    monkeypatch.setattr(pdfb, "_FONT_MEMO", memo)
    return memo


def _doc(font: bytes, extra: dict[int, bytes] | None = None,
         num: int = 5) -> pdfb.Document:
    return pdfb.Document(
        _page_scaffold(_CONTENT, {num: font, **(extra or {})}, font_ref=num)
    )


def _stream(body: bytes) -> bytes:
    return b"<< /Length %d >>\nstream\n%s\nendstream" % (len(body), body)


def test_equal_font_dicts_share_tables_not_fontmaps(fresh_memo):
    # the same content under different object numbers, descriptor by ref
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier "
            b"/FirstChar 65 /Widths [600 600] /FontDescriptor %d 0 R >>")
    desc = b"<< /Type /FontDescriptor /FontName /Courier /Flags 32 >>"
    a = _doc(font % 6, {6: desc}, num=5)
    b = _doc(font % 9, {9: desc}, num=7)
    fa = a.font_for_ref(pdfb.Ref(5, 0))
    fb = b.font_for_ref(pdfb.Ref(7, 0))
    assert fa is not fb
    assert fa.table is fb.table and fa.widths is fb.widths
    assert fa.cspec() is fb.cspec() and fa.cspec() is not None
    assert a.font_for_ref(pdfb.Ref(5, 0)) is fa  # one map per font ref
    assert len(fresh_memo) == 1
    assert fa.unicode(65) == "A" and fa.width(66) == 600.0
    assert pdfb.parse_pdf_bytes(a.raw)["text"].strip() == "Hello"


def test_each_document_keeps_one_shared_fallback():
    docs = [_doc(_HELV), _doc(_HELV)]
    fallbacks = []
    for doc in docs:
        fm = doc.font_for_ref(None)
        # a missing name, a dangling ref and a junk value: the same map
        assert doc.font_for_ref(pdfb.Ref(99, 0)) is fm
        assert doc.font_for_ref(42) is fm
        fallbacks.append(fm)
    assert fallbacks[0] is not fallbacks[1]
    assert fallbacks[0].table is fallbacks[1].table


@pytest.mark.parametrize("font, extra", [
    (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
     b"/ToUnicode 6 0 R >>",
     {6: _stream(b"1 beginbfchar\n<48> <0058>\nendbfchar")}),
    (b"<< /Type /Font /Subtype /Type1 /BaseFont /ABCDEF+Embedded "
     b"/FontDescriptor 6 0 R >>",
     {6: b"<< /Type /FontDescriptor /FontName /ABCDEF+Embedded "
         b"/Flags 32 /FontFile 7 0 R >>",
      7: _stream(b"%!PS-AdobeFont-1.0: Embedded")}),
    (b"<< /Type /Font /Subtype /Type0 /BaseFont /Cmapped "
     b"/Encoding 6 0 R /DescendantFonts [7 0 R] >>",
     {6: _stream(b"1 begincodespacerange\n<00> <FF>\nendcodespacerange"),
      7: b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /Cmapped >>"}),
], ids=["tounicode", "embedded-program", "embedded-cmap"])
def test_fonts_reaching_a_stream_build_uncached(font, extra, fresh_memo):
    maps = [_doc(font, extra).font_for_ref(pdfb.Ref(5, 0)) for _ in range(2)]
    assert not fresh_memo
    assert maps[0].table is not maps[1].table
    assert maps[0].table == maps[1].table


def _fan(num: int) -> bytes:
    return b"[%s]" % b" ".join([b"%d 0 R" % num] * 40)


@pytest.mark.parametrize("font, extra", [
    # shared refs fanning out 40^4 ways: the key walk gives up
    (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /X 6 0 R >>",
     {6: _fan(7), 7: _fan(8), 8: _fan(9), 9: b"[1 2 3]"}),
    # nested deeper than the walk goes
    (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
     b"/X [[[[[[[[[[1]]]]]]]]]] >>", {}),
    # a CID width table larger than the memo keeps
    (b"<< /Type /Font /Subtype /Type0 /BaseFont /Wide /Encoding "
     b"/Identity-H /DescendantFonts [6 0 R] >>",
     {6: b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Wide "
         b"/W [1 3000 500] >>"}),
], ids=["fan-out", "depth", "wide-table"])
def test_walk_and_table_bounds_build_uncached(font, extra, fresh_memo):
    fm = _doc(font, extra).font_for_ref(pdfb.Ref(5, 0))
    assert not fresh_memo
    assert isinstance(fm.table, dict)


def test_key_separates_value_types():
    doc = pdfb.Document(_assemble({1: b"<< /Type /Catalog >>",
                                   2: b"/Helvetica"}))

    def key(body: bytes):
        obj, _ = pdfb.parse_object(b"<< /Subtype /Type1 %s >>" % body, 0)
        return pdfb._font_key(doc, obj)

    numbers = [key(b"/FirstChar " + v)
               for v in (b"1", b"1.0", b"true", b"0.0", b"-0.0")]
    assert len(set(numbers)) == 5
    assert key(b"/BaseFont /Helvetica") != key(b"/BaseFont (Helvetica)")
    # the builder reads a few values unresolved, so a ref stays tagged
    assert key(b"/BaseFont 2 0 R") != key(b"/BaseFont /Helvetica")
    assert key(b"/BaseFont 2 0 R") == key(b"/BaseFont 2 0 R")


def test_memo_stops_growing_at_its_cap(fresh_memo, monkeypatch):
    monkeypatch.setattr(pdfb, "_FONT_MEMO_CAP", 4)
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " \
           b"/FirstChar %d /Widths [500] >>"
    for i in range(10):
        _doc(font % (65 + i)).font_for_ref(pdfb.Ref(5, 0))
        assert len(fresh_memo) == min(i + 1, 4)
    # least recently used first: a hit keeps its entry
    _doc(font % 71).font_for_ref(pdfb.Ref(5, 0))
    _doc(font % 99).font_for_ref(pdfb.Ref(5, 0))
    assert [dict(k[1][1])["FirstChar"] for k in fresh_memo] == [
        ("i", 73), ("i", 74), ("i", 71), ("i", 99)]


def test_shared_tables_cannot_be_written():
    fm = _doc(_HELV).font_for_ref(pdfb.Ref(5, 0))
    with pytest.raises(TypeError):
        fm.table[65] = "x"
    with pytest.raises(TypeError):
        fm.widths[65] = 1.0
    blob, *arrays = fm.cspec()
    assert isinstance(blob, bytes) and isinstance(fm.cf_codes, frozenset)
    for arr in arrays:
        with pytest.raises(ValueError):
            arr[0] = 1


@pytest.mark.parametrize("font, extra", [
    (b"<< /Type /Font /Subtype /Type1 /Widths [500 1e3] >>", {}),
    (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
     b"/FirstChar 65 /Widths 6 0 R >>", {6: b"[500 1e3]"}),
], ids=["font-object", "referenced-widths"])
def test_unparseable_font_raises_on_every_resolve(font, extra, fresh_memo):
    doc = _doc(font, extra)
    for _ in range(2):
        with pytest.raises(ValueError):
            pdfb.build_font_map(doc, pdfb.Ref(5, 0))
    assert not fresh_memo


def test_memo_is_order_independent(fresh_memo, monkeypatch):
    docs = [raw for _, raw in inputs.small_docs(702, per_generator=2)]

    def parse_all(order):
        out = {}
        for i in order:
            r = pdfb.parse_pdf_bytes(docs[i])
            out[i] = (r["text"], r["error"], r["n_pages"], r["page_spans"])
        return out

    forward = list(range(len(docs)))
    cold = parse_all(forward)
    assert fresh_memo
    warm = parse_all(forward)
    reverse = parse_all(forward[::-1])
    monkeypatch.setattr(pdfb, "build_font_map", pdfb._build_font_map)
    unmemoized = parse_all(forward)
    assert cold == warm == reverse == unmemoized
