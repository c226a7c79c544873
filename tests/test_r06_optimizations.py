"""Focused pins for the round-6 optimization internals.

Each test pins an optimized code path against its reference twin:
- the vectorized classic-xref decode vs the tolerant per-row loop;
- the zip_with shingle construction vs the index-loop formulation;
- the inherited-viewbox cache vs direct computation.
"""

from __future__ import annotations

import random

import pytest

from pdf_parse_new_spark import fixtures
from pdf_parse_new_spark.kernels import pdfb


def test_xref_numpy_matches_row_loop():
    raw = fixtures.build_big_binary_pdf(300, seed=11)
    fast = pdfb.Document(raw)
    orig = pdfb._xref_rows_np
    pdfb._xref_rows_np = lambda *a: None  # force the tolerant loop
    try:
        slow = pdfb.Document(raw)
    finally:
        pdfb._xref_rows_np = orig
    assert fast.index == slow.index
    assert fast.trailer.keys() == slow.trailer.keys()


def test_xref_numpy_rejects_deviant_rows():
    # 19-byte rows (single-char EOL) deviate from the strict 20-byte
    # layout: the fast path must bail (None) and leave the tolerant loop
    # to parse them — same final index either way.
    raw = bytearray(fixtures.build_big_binary_pdf(120, seed=3))
    txt = bytes(raw)
    start = txt.rindex(b"\nxref\n") + 1
    head, table = txt[:start], txt[start:]
    deviant = table.replace(b" n \n", b" n\n").replace(b" f \n", b" f\n")
    assert deviant != table
    doc = pdfb.Document(head + deviant)  # falls back, still parses
    ref = pdfb.Document(txt)
    assert doc.index == ref.index


def test_xref_numpy_offsets_exact():
    raw = fixtures.build_big_binary_pdf(200, seed=7)
    doc = pdfb.Document(raw)
    # every 'n' offset must sit exactly on its "N 0 obj" header
    for num, entry in doc.index.items():
        if entry[0] != "n":
            continue
        assert raw[entry[1]:entry[1] + 20].startswith(
            b"%d 0 obj" % num
        ), num


def _old_shingles(col, n=3):
    from pyspark.sql import functions as F

    toks = F.split(col, " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


@pytest.mark.parametrize("n", [2, 3, 4])
def test_shingles_zipwith_matches_index_loop(spark, n):
    from pyspark.sql import functions as F

    from pdf_parse_new_spark.operators import dedup

    rng = random.Random(13)
    words = "alpha beta gamma delta epsilon zeta".split()
    rows = [("",), ("one",), ("one two",), ("a b c",), ("x x x x",)] + [
        (" ".join(rng.choice(words) for _ in range(rng.randint(1, 40))),)
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "text string")
    diff = (
        df.select(
            _old_shingles(F.col("text"), n).alias("a"),
            dedup.shingles(F.col("text"), n).alias("b"),
        )
        .filter("a != b")
        .count()
    )
    assert diff == 0


def test_viewbox_cache_inheritance():
    # page 0 inherits MediaBox from the Pages node; page 1 overrides it
    raw = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 "
        b"/MediaBox [0 0 200 300] >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 50 60] >>\n"
        b"endobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    doc = pdfb.Document(raw)
    pages: list = []
    root = doc.resolve(doc.trailer.get("Root"))
    pdfb._walk_pages(doc, root.get("Pages"), pages, set(), None)
    assert len(pages) == 2
    vb0 = pdfb._page_view_box(doc, pages[0][0])
    assert vb0 == [0.0, 0.0, 200.0, 300.0]
    # cached second lookup returns the same inherited box
    assert pdfb._page_view_box(doc, pages[0][0]) == vb0
    # a page with its OWN MediaBox must not hit the parent cache
    assert pdfb._page_view_box(doc, pages[1][0]) == [0.0, 0.0, 50.0, 60.0]


def _one_page_pdf(pages_extra: bytes) -> bytes:
    """A one-page "hello" document whose page and /Pages node carry no
    box; ``pages_extra`` goes into that /Pages node's dict."""
    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (hello) Tj ET"
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 " + pages_extra
        + b" >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /Font << /F1 6 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(ops), ops)
        + b"5 0 obj\n<< /Type /Pages /Kids [] /Count 0 /Parent 2 0 R >>\n"
        b"endobj\n"
        b"6 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\n"
        b"endobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )


def test_viewbox_parent_cycle_falls_back_to_letter():
    # a /Parent cycle among box-less /Pages nodes (2 -> 5 -> 2) must not
    # recurse without end: the page gets LETTER and renders as without
    # the cycle, instead of "" with a page error
    plain = pdfb.parse_pdf_bytes(_one_page_pdf(b""))
    assert (plain["text"], plain["error"]) == ("\n\nhello", None)
    cyclic = _one_page_pdf(b"/Parent 5 0 R")
    r = pdfb.parse_pdf_bytes(cyclic)
    assert (r["text"], r["error"], r["n_pages"]) == ("\n\nhello", None, 1)
    doc = pdfb.Document(cyclic)
    (page, _), = pdfb._document_pages(doc)[0]
    assert pdfb._page_view_box(doc, page) == [0.0, 0.0, 612.0, 792.0]


def test_simhash_buckets_matches_column_expression(spark):
    from pyspark.sql import functions as F

    from pdf_parse_new_spark.operators import dedup

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # NULL-text rows (fresh ids) keep their row, with a NULL signature
    # and bucket
    nulls = (
        d.limit(3)
        .withColumn("doc_id", F.col("doc_id") + 10**9)
        .withColumn("text", F.lit(None).cast("string"))
    )
    d = d.unionByName(nulls)
    sh = dedup.simhash(F.col("text"))
    old = d.select(
        F.col("doc_id"), sh.alias("simhash"),
        F.shiftrightunsigned(sh, 48).alias("bucket"),
    )
    new = dedup.simhash_buckets(d)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0
    assert new.filter("simhash IS NULL AND bucket IS NULL").count() == 3


def _build_xref_stream_pdf(
    n_pages: int, w: tuple[int, int, int] = (1, 4, 2), extra: tuple = ()
) -> bytes:
    """Binary doc whose xref lives in a /Type /XRef stream with field
    widths ``w``, with enough rows to engage the vectorized decode path.
    ``extra`` appends raw ``(type, field2, field3)`` rows for object
    numbers past the last real object (never referenced)."""
    import zlib as z

    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
    }
    kid_refs = []
    nxt = 3
    for p in range(n_pages):
        ops = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (pg %d) Tj ET" % p
        bodies[nxt] = (
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
        )
        bodies[nxt + 1] = (
            b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R >>" % nxt
        )
        kid_refs.append(b"%d 0 R" % (nxt + 1))
        nxt += 2
    bodies[2] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (
        b" ".join(kid_refs), n_pages,
    )
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"
    xref_num = nxt
    xref_off = len(out)

    def row(*fields):
        return b"".join(f.to_bytes(n, "big") for f, n in zip(fields, w))

    rows = [row(0, 0, 0xFFFF)]
    for num in range(1, xref_num):
        rows.append(row(1, offsets[num], 0))
    rows.append(row(1, xref_off, 0))
    rows += [row(*e) for e in extra]
    comp = z.compress(b"".join(rows))
    out += (
        b"%d 0 obj\n<< /Type /XRef /W [%d %d %d] /Size %d /Root 1 0 R "
        b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (xref_num, *w, len(rows), len(comp), comp)
    )
    out += b"startxref\n%d\n%%%%EOF" % xref_off
    return bytes(out)


def test_xref_stream_numpy_matches_row_loop():
    # the index decoded by the vectorized path must equal the reference
    # per-row int.from_bytes loop computed independently here, and the
    # document must parse end-to-end through it; the second input has a
    # width-8 field with its top bit set (2**63 + 1 does not fit int64)
    import zlib as z

    for w, extra in (
        ((1, 4, 2), ()),
        ((1, 8, 2), ((1, 0x8000000000000001, 0), (2, 0xFF << 56, 3))),
    ):
        raw = _build_xref_stream_pdf(64, w, extra)  # >= the 64-row gate
        fast = pdfb.Document(raw)
        assert len(fast.index) >= 128

        start = raw.rindex(b"stream\n", 0, raw.rindex(b"endstream")) + 7
        data = z.decompress(raw[start:raw.rindex(b"\nendstream")])
        rw = sum(w)
        expect = {}
        for k in range(len(data) // rw):
            p = rw * k
            typ = data[p]
            f2 = int.from_bytes(data[p + w[0]:p + w[0] + w[1]], "big")
            f3 = int.from_bytes(data[p + w[0] + w[1]:p + rw], "big")
            # free entries drop from Document.index
            if typ == 1:
                expect[k] = ("n", f2)
            elif typ == 2:
                expect[k] = ("c", f2, f3)
        assert fast.index == expect, w
        r = pdfb.parse_pdf_bytes(raw)
        assert r["n_pages"] == 64 and "pg 63" in r["text"]
