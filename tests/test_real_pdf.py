"""Parity with the reference's OWN test corpus and assertions.

Each case mirrors a reference mocha test verbatim (page count, numrender,
first/last-page substrings, non-null info — test/01-valid-default.js:16-30
and siblings), run against the real binary PDFs in
/root/reference/test/data. 03-invalid mirrors the rejection test
(test/03-invalid-default.js: the promise must reject) as an error ROW.

Beyond the reference's substring asserts, we hold a word-recall floor vs the
reference-produced golden .txt files (its pdf.js text output) so fidelity
regressions are caught even when the two probe substrings survive.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pytest

from pdf_parse_new_spark.kernels import pdfb

DATA = "/root/reference/test/data"

CASES = [
    # (name, n_pages, first_page_text, last_page_text, recall_floor)
    (
        "01-valid", 14,
        "Because traces are in SSA form and have no join points",
        "not be interpreted as necessarily representing the official views",
        0.98,
    ),
    (
        "02-valid", 5,
        "According to literature, solar cells",
        "royal Institute of Technology, Stockholm",
        0.97,
    ),
    (
        "04-valid", 5,
        "Exercise is one of the low-cost and easiest ways for improving"
        " life standards",
        "accounts for the biological activity of endothelium-derived",
        0.98,
    ),
    ("05-versions-space", 1, "Dadfrtfjh,mgf", "v.0.01", 1.0),
]


def _words(t: str) -> Counter:
    return Counter(re.findall(r"\w+", t.lower()))


@pytest.mark.requires_reference
@pytest.mark.parametrize("name,n_pages,first,last,floor", CASES)
def test_reference_corpus_assertions(name, n_pages, first, last, floor):
    raw = open(f"{DATA}/{name}.pdf", "rb").read()
    r = pdfb.parse_pdf_bytes(raw)
    # the reference's own asserts (test/0X-*-default.js)
    assert r["n_pages"] == n_pages
    assert r["n_render"] == n_pages
    assert first in r["text"]
    assert last in r["text"]
    assert r["info"], "info must be non-null (assert.notEqual(data.info, null))"
    # fidelity floor vs the reference-produced golden text
    gold = open(f"{DATA}/{name}.pdf.txt", encoding="utf-8").read()
    gc, oc = _words(gold), _words(r["text"])
    recall = sum((gc & oc).values()) / max(1, sum(gc.values()))
    assert recall >= floor, f"word recall {recall:.3f} < {floor}"


@pytest.mark.requires_reference
def test_reference_corpus_max_pages():
    # test/01-valid-default.js "option max: N-1": numrender = N-1, first-page
    # text still present, LAST-page text absent
    raw = open(f"{DATA}/01-valid.pdf", "rb").read()
    r = pdfb.parse_pdf_bytes(raw, max_pages=13)
    assert r["n_pages"] == 14 and r["n_render"] == 13
    assert "Because traces are in SSA form and have no join points" in r["text"]
    assert (
        "not be interpreted as necessarily representing the official views"
        not in r["text"]
    )
    # max larger than the doc clamps (lib/pdf-parse.js:98)
    r2 = pdfb.parse_pdf_bytes(raw, max_pages=99)
    assert r2["n_render"] == 14


@pytest.mark.requires_reference
def test_invalid_pdf_rejects_as_error_row():
    # test/03-invalid-default.js: the reference REJECTS this truncated file;
    # our distributed semantics = an error row, never a task failure
    raw = open(f"{DATA}/03-invalid.pdf", "rb").read()
    r = pdfb.parse_pdf_bytes(raw)
    assert r["error"] is not None
    assert r["text"] == "" and r["n_pages"] == 0


@pytest.mark.requires_reference
def test_info_dict_fields():
    # lib/pdf-parse.js:91-96 returns the /Info dict; spot-check known fields
    raw = open(f"{DATA}/01-valid.pdf", "rb").read()
    info = pdfb.parse_pdf_bytes(raw)["info"]
    assert info.get("Producer") == "pdfeTeX-1.21a"
    assert info.get("Creator") == "TeX"


@pytest.mark.requires_reference
def test_spark_binaryfile_pipeline(spark):
    # end-to-end through the binaryFile source + mapInPandas operator
    from pdf_parse_new_spark.operators import extract as ex

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(DATA)
    )
    rows = {
        r.doc_id.rsplit("/", 1)[-1]: r
        for r in ex.extract_pdf_documents(df).collect()
    }
    assert len(rows) == 5
    ok = rows["01-valid.pdf"]
    assert ok.n_pages == 14 and ok.error is None
    assert "Because traces are in SSA form" in ok.text
    assert json.loads(ok.info)["Creator"] == "TeX"
    bad = rows["03-invalid.pdf"]
    assert bad.error is not None and bad.text == ""


def test_object_parser_primitives():
    # hex strings, octal escapes, line continuations, nested parens,
    # name #xx escapes, refs, dict/array nesting (pdf.js Lexer semantics)
    po = pdfb.parse_object
    assert po(b"<48656C6C6F>", 0)[0] == b"Hello"
    # whitespace inside hex strings ignored; odd digit count pads a 0
    assert po(b"<48 65 6c 6C 6f2>", 0)[0] == b"Hello\x20"
    assert po(rb"(a\053b)", 0)[0] == b"a+b"
    assert po(b"(line\\\ncont)", 0)[0] == b"linecont"
    assert po(rb"(nested (parens) ok)", 0)[0] == b"nested (parens) ok"
    assert po(rb"/Name#20With#23Hash", 0)[0] == "Name With#Hash"
    r, _ = po(b"12 0 R", 0)
    assert isinstance(r, pdfb.Ref) and r.num == 12
    d, _ = po(b"<< /A [1 2 (x)] /B << /C 3.5 >> >>", 0)
    assert d["A"] == [1, 2, b"x"] and d["B"]["C"] == 3.5


def _assemble(objects: dict[int, bytes], trailer_extra: bytes = b"") -> bytes:
    """Serialize numbered objects + classic xref + trailer (binary,
    \\r\\n-free framing kept simple)."""
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objects[num] + b"\nendobj\n"
    xref_off = len(out)
    size = max(objects) + 1
    out += b"xref\n0 %d\n" % size
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        if num in offsets:
            out += b"%010d 00000 n \n" % offsets[num]
        else:
            out += b"0000000000 65535 f \n"
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R %s>>\nstartxref\n%d\n%%%%EOF"
        % (size, trailer_extra, xref_off)
    )
    return bytes(out)


def _page_scaffold(content_obj: bytes, font_objs: dict[int, bytes] | None = None,
                   font_ref: int | None = None) -> bytes:
    res = b""
    if font_ref:
        res = b" /Resources << /Font << /F1 %d 0 R >> >>" % font_ref
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R%s >>" % res,
        4: content_obj,
    }
    objs.update(font_objs or {})
    return _assemble(objs)


def test_asciihex_and_filter_chains():
    import binascii
    import zlib as z

    from pdf_parse_new_spark.kernels import pdfb

    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (hex filter works fine) Tj ET"
    # single ASCIIHexDecode
    hx = binascii.hexlify(ops) + b">"
    doc = _page_scaffold(
        b"<< /Length %d /Filter /ASCIIHexDecode >>\nstream\n%s\nendstream"
        % (len(hx), hx)
    )
    r = pdfb.parse_pdf_bytes(doc)
    assert r["text"].strip() == "hex filter works fine" and r["error"] is None

    # chain: raw -> Flate -> ASCII85 (decode order [A85, Fl])
    import base64

    body = base64.a85encode(z.compress(ops)) + b"~>"
    doc2 = _page_scaffold(
        b"<< /Length %d /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n%s\nendstream"
        % (len(body), body)
    )
    r2 = pdfb.parse_pdf_bytes(doc2)
    assert r2["text"].strip() == "hex filter works fine"

    # RunLengthDecode (literal runs)
    enc = bytearray()
    for i in range(0, len(ops), 100):
        chunk = ops[i : i + 100]
        enc += bytes([len(chunk) - 1]) + chunk
    enc.append(128)
    doc3 = _page_scaffold(
        b"<< /Length %d /Filter /RunLengthDecode >>\nstream\n%s\nendstream"
        % (len(enc), bytes(enc))
    )
    r3 = pdfb.parse_pdf_bytes(doc3)
    assert r3["text"].strip() == "hex filter works fine"


def test_type0_two_byte_font_decode():
    import zlib as z

    from pdf_parse_new_spark.kernels import pdfb

    # identity-ish ToUnicode via bfchar pairs for "Hi!" in 2-byte codes
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"3 beginbfchar\n<0048> <0048>\n<0069> <0069>\n<0021> <0021>\nendbfchar\n"
        b"endcmap end"
    )
    comp = z.compress(cmap)
    font_objs = {
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /Fake-Identity-H "
           b"/Encoding /Identity-H /DescendantFonts [7 0 R] "
           b"/ToUnicode 6 0 R >>",
        6: b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
           % (len(comp), comp),
        7: b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fake "
           b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
           b"/Supplement 0 >> "
           b"/FontDescriptor << /FontName /Fake /Flags 4 >> >>",
    }
    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <004800690021> Tj ET"
    content = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
    doc = _page_scaffold(content, font_objs, font_ref=5)
    r = pdfb.parse_pdf_bytes(doc)
    assert r["text"].strip() == "Hi!"

    # Type0 WITHOUT /DescendantFonts: pdf.js preEvaluateFont throws
    # ("Descendant fonts are not specified") -> ErrorFont -> every show
    # is a glyph-less no-op (live-verified: page text is empty)
    font_objs_broken = {5: font_objs[5].replace(
        b"/DescendantFonts [7 0 R] ", b""), 6: font_objs[6]}
    doc2 = _page_scaffold(content, font_objs_broken, font_ref=5)
    assert pdfb.parse_pdf_bytes(doc2)["text"].strip() == ""


def test_xref_stream_with_png_predictor():
    import zlib as z

    from pdf_parse_new_spark.kernels import pdfb

    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (predictor path) Tj ET"
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops),
    }
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"
    # xref STREAM object (num 5) with /W [1 4 2], PNG Up predictor
    rows = [bytes([0]) + (0).to_bytes(4, "big") + (0xFFFF).to_bytes(2, "big")]
    for num in range(1, 5):
        rows.append(bytes([1]) + offsets[num].to_bytes(4, "big") + b"\x00\x00")
    xref_off = len(out)
    rows.append(bytes([1]) + xref_off.to_bytes(4, "big") + b"\x00\x00")
    # PNG Up encoding: stored = row - prev (mod 256), filter byte 2
    enc = bytearray()
    prev = bytes(7)
    for row in rows:
        enc.append(2)
        enc += bytes((b - p) & 0xFF for b, p in zip(row, prev))
        prev = row
    comp = z.compress(bytes(enc))
    out += (
        b"5 0 obj\n<< /Type /XRef /W [1 4 2] /Size 6 /Root 1 0 R "
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >> "
        b"/Length %d >>\nstream\n%s\nendstream\nendobj\n" % (len(comp), comp)
    )
    out += b"startxref\n%d\n%%%%EOF" % xref_off
    r = pdfb.parse_pdf_bytes(bytes(out))
    assert r["text"].strip() == "predictor path" and r["n_pages"] == 1


@pytest.mark.requires_reference
def test_page_spans_offsets():
    # north rule: "extracted text + span offsets" — each rendered page's
    # span must slice exactly that page's text out of the full result
    raw = open(f"{DATA}/01-valid.pdf", "rb").read()
    r = pdfb.parse_pdf_bytes(raw)
    spans = r["page_spans"]
    assert len(spans) == 14 and [p for p, _, _ in spans] == list(range(1, 15))
    text = r["text"]
    prev_end = 0
    for pno, s, e in spans:
        assert text[s - 2 : s] == "\n\n" and s - 2 == prev_end
        prev_end = e
    assert prev_end == len(text)
    # the known substrings live inside their page's span slice
    i = text.find("Because traces are in SSA form")
    pg = next(p for p, s, e in spans if s <= i < e)
    assert text[spans[pg - 1][1] : spans[pg - 1][2]].count("Because traces") >= 1
    # error docs carry no spans
    bad = pdfb.parse_pdf_bytes(open(f"{DATA}/03-invalid.pdf", "rb").read())
    assert bad["page_spans"] == []


def test_encrypted_pdf_rejects_as_error_row():
    # an /Encrypt trailer entry means pdf.js would raise PasswordException
    # and the reference's promise rejects -> error row here
    doc = _page_scaffold(
        b"<< /Length 2 >>\nstream\nBT\nendstream",
        font_objs={9: b"<< /Filter /Standard /V 1 /R 2 /O (x) /U (y) /P -44 >>"},
    )
    doc = doc.replace(b"/Root 1 0 R ", b"/Root 1 0 R /Encrypt 9 0 R ")
    r = pdfb.parse_pdf_bytes(doc)
    assert r["error"] == "pdf:encrypted"
    assert r["text"] == "" and r["n_pages"] == 0


@pytest.mark.requires_reference
def test_pdf_documents_parallelism_equivalence(spark):
    # U3 analog for the real-PDF path: identical results at different
    # partitionings (per-document parse is deterministic and shuffle-free)
    from pdf_parse_new_spark.operators import extract as ex

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(DATA)
    )
    a = {r.doc_id: (r.text, r.n_pages, r.info, r.error)
         for r in ex.extract_pdf_documents(df).collect()}
    b = {r.doc_id: (r.text, r.n_pages, r.info, r.error)
         for r in ex.extract_pdf_documents(df, partitions=7).collect()}
    assert a == b and len(a) == 5


@pytest.mark.requires_reference
def test_pdf_files_equals_documents_operator(spark):
    """extract_pdf_files (paths through the plan, bytes read task-side —
    the reference benchmark's own I/O shape) must produce byte-identical
    rows to extract_pdf_documents (payloads through Arrow)."""
    from pdf_parse_new_spark.operators import extract as ex

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(DATA)
    )
    a = {r.doc_id: (r.text, r.n_pages, r.info, r.error, r.page_spans)
         for r in ex.extract_pdf_documents(df).collect()}
    b = {r.doc_id: (r.text, r.n_pages, r.info, r.error, r.page_spans)
         for r in ex.extract_pdf_files(df.select("path")).collect()}
    assert a == b and len(a) == 5


@pytest.mark.requires_reference
def test_pdf_files_io_error_row(spark):
    from pdf_parse_new_spark.operators import extract as ex

    df = spark.createDataFrame(
        [("/nonexistent/nope.pdf",), (f"{DATA}/04-valid.pdf",), (None,)],
        "path string",
    )
    rows = {r.doc_id: r for r in ex.extract_pdf_files(df).collect()}
    assert rows["/nonexistent/nope.pdf"].error == "io:FileNotFoundError"
    assert rows[f"{DATA}/04-valid.pdf"].error is None
    assert rows[f"{DATA}/04-valid.pdf"].n_pages == 5
    # a NULL path parses as empty bytes -> structural error row
    null_row = rows[None]
    assert null_row.error is not None and null_row.text == ""


def test_lone_surrogate_text_becomes_replacement_char(spark, tmp_path):
    """A ToUnicode map can send a code to a lone surrogate (<D800>): the
    parse keeps it, as pdf.js's JS string does, but UTF-8 cannot carry
    it, so the operators write U+FFFD instead of aborting the job. The
    chunked operators parse one page per chunk, so their reassembly
    shifts the second page's span."""
    from pdf_parse_new_spark.operators import extract as ex
    from tests.test_node_differential import _assemble_with_tounicode

    raw = _assemble_with_tounicode(
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (xAy) Tj ET", [(0x41, b"D800")],
        pages=2,
    )
    assert pdfb.parse_pdf_bytes(raw)["text"] == "\n\nx\ud800y" * 2
    path = tmp_path / "surrogate.pdf"
    path.write_bytes(raw)
    df = spark.createDataFrame([(str(path), raw)], "path string, content binary")
    for out in (
        ex.extract_pdf_files(df.select("path")),
        ex.extract_pdf_documents(df),
        ex.extract_pdf_files_chunked(
            df.select("path"), pages_per_chunk=1, big_file_bytes=0
        ),
        ex.extract_pdf_documents_chunked(
            df, pages_per_chunk=1, big_doc_bytes=0
        ),
    ):
        (row,) = out.collect()
        assert row.error is None and row.n_pages == 2
        assert row.text == "\n\nx\ufffdy" * 2
        assert [tuple(s) for s in row.page_spans] == [(1, 2, 5), (2, 7, 10)]


@pytest.mark.requires_reference
def test_parser_survives_mutations():
    """Web-scale hygiene: deterministic corruption sweep over a real PDF —
    truncations, byte flips, and splices must yield a result dict (possibly
    an error row), never an exception."""
    raw = open(f"{DATA}/01-valid.pdf", "rb").read()
    n = len(raw)
    cases = []
    for frac in (0.001, 0.01, 0.3, 0.7, 0.99):
        cases.append(raw[: int(n * frac)])                      # truncation
    for off in (100, 5069, 58223, n // 2, n - 100):
        b = bytearray(raw)
        for i in range(off, min(off + 64, n)):
            b[i] ^= 0x5A                                        # byte flips
        cases.append(bytes(b))
    cases.append(raw[: n // 2] + raw[: n // 2])                 # splice
    cases.append(b"%PDF-1.4\n" + b"\x00" * 1000)                # garbage
    cases.append(b"")                                           # empty
    for i, payload in enumerate(cases):
        r = pdfb.parse_pdf_bytes(payload)
        assert isinstance(r["text"], str), i
        assert r["error"] is None or isinstance(r["error"], str), i


def test_rotated_parser_survives_mutations():
    """The rotation/shear delegation path keeps the malformed-input
    contract: random byte mutations of rotated documents (garbled Tm
    matrices, broken strings mid-quadrant) yield a result dict, never
    an exception."""
    import random

    import sys as _sys

    _sys.path.insert(0, f"{os.path.dirname(__file__)}")
    from test_node_differential import _assemble, _gen_rotated_stream

    for seed in range(5):
        base = bytearray(
            _assemble(_gen_rotated_stream(random.Random(3000 + seed)))
        )
        rng = random.Random(seed)
        for _ in range(20):
            m = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                m[rng.randrange(len(m))] = rng.randrange(256)
            r = pdfb.parse_pdf_bytes(bytes(m))
            assert isinstance(r["text"], str)
            assert r["error"] is None or isinstance(r["error"], str)


@pytest.mark.requires_reference
def test_pdf_documents_payload_guard(spark):
    from pdf_parse_new_spark.operators import extract as ex

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(DATA)
    )
    rows = ex.extract_pdf_documents(df, max_payload_bytes=100_000).collect()
    guarded = {r.doc_id.rsplit("/", 1)[-1] for r in rows
               if r.error == "payload-too-large"}
    # 01 (1 MB), 02 (3.5 MB), 05 (186 KB) exceed 100 KB; 03/04 are under
    assert guarded == {"01-valid.pdf", "02-valid.pdf", "05-versions-space.pdf"}
    for r in rows:
        if r.error == "payload-too-large":
            assert r.text == "" and r.n_pages == 0 and list(r.page_spans) == []


def test_char_word_spacing_in_gap_model():
    """Tc/Tw/Tz change glyph advances: with wide char spacing two abutting
    Tj items develop a real x-gap... unless the advance model accounts for
    the spacing. Build both variants and check the word gap appears exactly
    when the geometry says so."""
    # font with 500/1000-em widths for all chars via /Widths
    widths = b"[" + b" ".join(b"500" for _ in range(95)) + b"]"
    font_objs = {
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /F "
           b"/FirstChar 32 /LastChar 126 /Widths 6 0 R >>",
        6: widths,
    }
    # "ab" at 10pt = 2 glyphs * 0.5em * 10 = 10 units wide; second item at
    # x=72+10 -> NO gap; at x=72+14 (gap 4 > 0.18*10) -> space
    tight = (b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj "
             b"1 0 0 1 82 700 Tm (cd) Tj ET")
    gapped = (b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj "
              b"1 0 0 1 86 700 Tm (cd) Tj ET")
    # with Tc=2 > 0.102*10 every glyph pair develops a letter-spacing
    # fake space (pdf.js per-glyph compare sees advanceX == tc), and the
    # item boundary gap is measured from BEFORE the trailing charSpacing
    # (prevTransform, pdf.worker.js:36726): node-verified output is
    # "a b c d"
    charsp = (b"BT /F1 10 Tf 2 Tc 1 0 0 1 72 700 Tm (ab) Tj "
              b"1 0 0 1 86 700 Tm (cd) Tj ET")
    for ops, want in ((tight, "abcd"), (gapped, "ab cd"), (charsp, "a b c d")):
        doc = _page_scaffold(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops),
            font_objs, font_ref=5,
        )
        r = pdfb.parse_pdf_bytes(doc)
        assert r["text"].strip() == want, (ops, r["text"])


def test_asciihex_odd_digit_stream():
    """Odd digit count in ASCIIHexDecode is legal (spec 7.4.2: final digit
    implies a trailing 0) — must decode, not drop the page (ADVICE r2)."""
    import binascii

    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (odd hex ok) Tj ET "  # ends 0x20 -> "20"
    hx = binascii.hexlify(ops)
    assert hx.endswith(b"0")
    hx = hx[:-1] + b">"  # drop the final '0': odd count, same meaning
    doc = _page_scaffold(
        b"<< /Length %d /Filter /ASCIIHexDecode >>\nstream\n%s\nendstream"
        % (len(hx), hx)
    )
    r = pdfb.parse_pdf_bytes(doc)
    assert r["text"].strip() == "odd hex ok" and r["error"] is None


def test_xref_stream_zero_width_field():
    """/W with a zero-width third column: field 3 defaults to 0 (spec
    7.5.8.2), not 1 (ADVICE r2 — only the first field defaults to 1)."""
    import zlib as z

    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (zero width) Tj ET"
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops),
    }
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"
    # /W [1 4 0]: rows are 5 bytes, generation implied 0
    rows = [bytes([0]) + (0).to_bytes(4, "big")]
    for num in range(1, 5):
        rows.append(bytes([1]) + offsets[num].to_bytes(4, "big"))
    xref_off = len(out)
    rows.append(bytes([1]) + xref_off.to_bytes(4, "big"))
    comp = z.compress(b"".join(rows))
    out += (
        b"5 0 obj\n<< /Type /XRef /W [1 4 0] /Size 6 /Root 1 0 R "
        b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(comp), comp)
    )
    out += b"startxref\n%d\n%%%%EOF" % xref_off
    r = pdfb.parse_pdf_bytes(bytes(out))
    assert r["text"].strip() == "zero width" and r["n_pages"] == 1


def test_encrypted_trailer_in_xref_stream_detected():
    """Modern layout: the whole trailer lives in the xref STREAM dict. The
    /Encrypt entry must survive the trailer whitelist so the encrypted path
    triggers (ADVICE r2: it was silently dropped -> garbage plaintext)."""
    import zlib as z

    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (secret) Tj ET"
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops),
        # bogus O/U: not an empty-password document -> must reject
        6: b"<< /Filter /Standard /V 1 /R 2 /O <"
           + b"00" * 32 + b"> /U <" + b"00" * 32 + b"> /P -44 >>",
    }
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"
    rows = [bytes([0]) + (0).to_bytes(4, "big")]
    for num in range(1, 5):
        rows.append(bytes([1]) + offsets[num].to_bytes(4, "big"))
    xref_off_placeholder = len(out)
    rows.append(bytes([1]) + xref_off_placeholder.to_bytes(4, "big"))
    rows.append(bytes([1]) + offsets[6].to_bytes(4, "big"))
    comp = z.compress(b"".join(rows))
    out += (
        b"5 0 obj\n<< /Type /XRef /W [1 4 0] /Size 7 /Root 1 0 R "
        b"/Encrypt 6 0 R /ID [<aa> <aa>] "
        b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (len(comp), comp)
    )
    out += b"startxref\n%d\n%%%%EOF" % xref_off_placeholder
    r = pdfb.parse_pdf_bytes(bytes(out))
    assert r["error"] == "pdf:encrypted"
    assert r["text"] == "" and r["n_pages"] == 0


def test_identity_h_without_tounicode_decodes():
    """Type0 /Identity-H with NO /ToUnicode: pdf.js builds an
    IdentityToUnicodeMap (code -> chr(code)); wild CID fonts relying on it
    previously decoded to empty (VERDICT r2 missing #3)."""
    font_objs = {
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /NoMap-Identity-H "
           b"/Encoding /Identity-H /DescendantFonts [6 0 R] >>",
        6: b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /NoMap "
           b"/DW 600 /W [72 [550 550] 105 107 480] /CIDToGIDMap /Identity >>",
    }
    # 2-byte codes for "Hi!" (identity: code == CID == codepoint)
    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <004800690021> Tj ET"
    content = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
    doc = _page_scaffold(content, font_objs, font_ref=5)
    r = pdfb.parse_pdf_bytes(doc)
    assert r["text"].strip() == "Hi!"


def test_cid_descendant_widths_drive_gap_model():
    """/W + /DW from the descendant font feed the x-advance geometry: a
    744-unit CID advance must register, detecting the inter-item word gap."""
    from pdf_parse_new_spark.kernels.pdfb import Document, build_font_map

    font_objs = {
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /W-Identity-H "
           b"/Encoding /Identity-H /DescendantFonts [6 0 R] >>",
        6: b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /W "
           b"/DW 600 /W [72 [744] 100 102 500] >>",
    }
    ops = b"BT (x) Tj ET"
    content = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
    raw = _page_scaffold(content, font_objs, font_ref=5)
    doc = Document(raw)
    fm = build_font_map(doc, doc.get_object(5))
    assert fm.advance(b"\x00\x48") == 744.0          # /W list form: CID 72
    assert fm.advance(b"\x00\x65") == 500.0          # range form: CID 101
    assert fm.advance(b"\x01\x00") == 600.0          # /DW default
    assert fm.decode(b"\x00\x48") == "H"             # identity fallback


def test_embedded_cmap_ranged_codespace():
    """Embedded /Encoding CMap with a MIXED-width codespace (1-byte and
    2-byte ranges) plus cidrange mapping: the decoder must walk codes at
    variable width (spec 9.7.6.2), not a fixed stride."""
    import zlib as z

    cmap = (
        b"%!PS-Adobe-3.0 Resource-CMap\n"
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"2 begincodespacerange\n<00> <7F>\n<8140> <9FFC>\nendcodespacerange\n"
        b"2 begincidrange\n<41> <5A> 65\n<8140> <8150> 12353\nendcidrange\n"
        b"endcmap end"
    )
    comp = z.compress(cmap)
    font_objs = {
        5: b"<< /Type /Font /Subtype /Type0 /BaseFont /Ranged "
           b"/Encoding 7 0 R /DescendantFonts [6 0 R] >>",
        6: b"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /Ranged >>",
        7: b"<< /Length %d /Filter /FlateDecode /Type /CMap >>"
           b"\nstream\n%s\nendstream" % (len(comp), comp),
    }
    # bytes: 'A'(1-byte, CID 65 -> "A"), then 0x81 0x41 (2-byte code 0x8141,
    # CID 12353+1 = 12354 -> hiragana 'あ' U+3042), then 'B'
    ops = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <41814142> Tj ET"
    content = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
    doc = _page_scaffold(content, font_objs, font_ref=5)
    r = pdfb.parse_pdf_bytes(doc)
    assert r["text"].strip() == "AあB", repr(r["text"])


# word-recall floors vs the CURRENT reference's output (generated by
# running lib/pdf-parse.js under node over the same corpus; the shipped
# .txt goldens predate the reference's Y_TOLERANCE change and keep
# subscripts on their own lines, so they can never be matched exactly by
# ANY implementation of the current code — including the reference
# itself, which scores 0.9922 against its own golden on 01-valid)
REF_CURRENT_FLOORS = {
    # all four are BYTE-EQUAL to the live reference (word metrics exactly
    # 1.0) — floors sit just under to allow float/token-split jitter only
    "01-valid": (0.9999, 0.9999),
    "02-valid": (0.9999, 0.9999),
    "04-valid": (0.9999, 0.9999),
    "05-versions-space": (0.9999, 0.9999),
}


@pytest.mark.requires_reference
@pytest.mark.parametrize("name", sorted(REF_CURRENT_FLOORS))
def test_recall_vs_current_reference_output(name):
    """Parity against what the reference produces TODAY (node-generated
    from its own corpus): measured 1.0000/0.9940/0.9984/1.0000 recall
    after the line-matrix + glyph-category + CTM work."""
    import collections

    cur = open(
        f"{os.path.dirname(__file__)}/data/ref_current/{name}.txt",
        encoding="utf-8",
    ).read()
    ours = pdfb.parse_pdf_bytes(open(f"{DATA}/{name}.pdf", "rb").read())["text"]

    def tok(s):
        return collections.Counter(re.findall(r"[^\W_]+", s, re.UNICODE))

    cc, oc = tok(cur), tok(ours)
    hit = sum((cc & oc).values())
    recall = hit / max(1, sum(cc.values()))
    precision = hit / max(1, sum(oc.values()))
    r_floor, p_floor = REF_CURRENT_FLOORS[name]
    assert recall >= r_floor, f"{name} recall {recall:.4f}"
    assert precision >= p_floor, f"{name} precision {precision:.4f}"


def test_synthetic_fixture_byte_equals_reference_output():
    """The chunking-bench fixture generator produces spec-valid PDFs whose
    extracted text is BYTE-EQUAL to what the reference emits on the same
    bytes (golden generated by running lib/pdf-parse.js under node on
    build_big_binary_pdf(50); deterministic seed). Guards both the
    generator (a missing Tf once made pdf.js drop every page) and the
    interpreter's line model on the synthetic dialect."""
    from pdf_parse_new_spark import fixtures

    raw = fixtures.build_big_binary_pdf(50)
    ours = pdfb.parse_pdf_bytes(raw)["text"]
    golden = open(
        f"{os.path.dirname(__file__)}/data/ref_current/synthetic-50p.txt",
        encoding="utf-8",
    ).read()
    assert ours == golden


def test_pending_space_model():
    """pdf.js's pending-space text assembly (saveLastChar /
    appendToTextContent, pdf.worker.js:36373-36385): whitespace glyphs
    only materialize before a following non-space glyph on the SAME line.
    Runs collapse to one space; trailing/leading spaces never survive at
    line edges (node-verified: the reference's output for the whole
    corpus contains zero double spaces, zero trailing spaces, and zero
    post-newline leading spaces)."""
    def mk():
        it = pdfb._TextInterp.__new__(pdfb._TextInterp)
        it.pieces, it.line_open, it.last_char = [], False, ""
        it.last_y, it.last_end_x, it.pending_space = None, None, False
        it.glyph_y, it.force_flush = None, False
        it.scale_flush, it.item_size = False, 0.0
        it.item_hsize, it.glyph_mat = 0.0, None
        it.pending_multi = False
        it._it_start = None
        it.viewbox = None
        return it

    # interior runs collapse
    it = mk()
    it.show("a  b   c", 0.0)
    assert it.text() == "a b c"

    # a trailing space stays pending: materializes before the next
    # same-line item, not at end-of-text
    it = mk()
    it.show("word ", 0.0)
    assert it.text() == "word"
    it.show("next", 0.0)
    assert it.text() == "word next"

    # pending space dies at a line break (no trailing space before \n,
    # no leading space after it)
    it = mk()
    it.show("tail ", 0.0)
    it.show(" head", 10.0)
    assert it.text() == "tail\nhead"

    # an all-whitespace item holds a pending space across items
    it = mk()
    it.show("x", 0.0)
    it.show("   ", 0.0)
    it.show("y", 0.0)
    assert it.text() == "x y"

    # but an all-whitespace item at line start produces nothing
    it = mk()
    it.show(" ", 0.0)
    it.show("z", 0.0)
    assert it.text() == "z"


@pytest.mark.requires_reference
@pytest.mark.parametrize(
    "name", ["01-valid", "02-valid", "04-valid", "05-versions-space"]
)
def test_ref_current_byte_equal(name):
    """ALL FOUR extractable corpus files are BYTE-EQUAL to what the live
    reference emits (node lib/pdf-parse.js over the same bytes) after the
    faithful two-stage assembly model + form-CTM composition + the
    updateAdvanceScale initialized-guard (a Tm scale change after a
    Tf/Do/stream-end flush is a no-op in pdf.js — its updateAdvanceScale
    early-returns on an uninitialized item; 02-valid's last 21-char
    residue was a spurious standalone space from arming scale_flush on a
    closed item)."""
    golden = open(
        f"{os.path.dirname(__file__)}/data/ref_current/{name}.txt",
        encoding="utf-8",
    ).read()
    ours = pdfb.parse_pdf_bytes(
        open(f"{DATA}/{name}.pdf", "rb").read()
    )["text"]
    assert ours == golden


def test_type3_font_widths_and_decode():
    """Type3 fonts: glyph names resolve through Differences (here /ga
    /gb fall back to the raw charcode, same as pdf.js) and /Widths are
    GLYPH-SPACE values scaled by FontMatrix[0] — with [0.002 ...] the
    300-unit glyphs advance 0.6 em, so an item starting exactly at the
    previous end ("tight") joins with no space while a 3pt gap reads as
    a word break. Both outputs node-verified byte-equal vs the live
    reference."""
    proc = b"<< /Length 8 >>\nstream\n0 0 d0\nendstream"
    font = (
        b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 700 700] "
        b"/FontMatrix [0.002 0 0 0.002 0 0] "
        b"/CharProcs << /ga 6 0 R /gb 6 0 R >> "
        b"/Encoding << /Type /Encoding /Differences [97 /ga /gb] >> "
        b"/FirstChar 97 /LastChar 98 /Widths [300 300] >>"
    )
    for x2, want in ((84, "abab"), (87, "ab ab")):
        ops = (
            b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj "
            b"1 0 0 1 %d 700 Tm (ab) Tj ET" % x2
        )
        doc = _page_scaffold(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops),
            {5: font, 6: proc},
            font_ref=5,
        )
        r = pdfb.parse_pdf_bytes(doc)
        assert r["text"].strip() == want, (x2, r["text"])
