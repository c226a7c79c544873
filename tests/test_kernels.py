"""Kernel-level parity: vectorized pandas kernels vs the pure-Python oracle,
plus targeted semantics checks (the reference's per-case assertions,
test/01-valid-default.js / test/03-invalid-default.js)."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from pdf_parse_new_spark import fixtures, kernels, oracle, spec


def _rows(n_convs=40, median=10, skew=(1, 80)):
    return list(
        fixtures.transcript_rows(n_convs, median, skew_convs=skew[0], skew_turns=skew[1])
    )


def _assert_matches_oracle(k, raw: str, where) -> None:
    ex = oracle.extract(raw)
    assert k.extracted_text == ex.text, where
    assert (k.error if pd.notna(k.error) else None) == ex.error, where
    assert k.family == ex.family
    assert k.n_pages == ex.n_pages
    k_info = json.loads(k["info"]) if k["info"] else None
    assert k_info == ex.info, where
    assert list(k.spans) == [
        {"start": s, "end": e, "kind": kd} for (s, e, kd) in ex.spans
    ]


def test_kernel_matches_oracle_bytewise():
    rows = _rows()
    out = kernels.extract_batch(pd.Series([r[3] for r in rows]))
    for i, r in enumerate(rows):
        _assert_matches_oracle(out.iloc[i], r[3], (r[0], r[1]))


def test_extract_batch_contract():
    """The output is aligned to the input's index (callers look rows up by
    label), has OUT_COLS in order with n_pages int32 and the rest object,
    reads a NULL payload as "", and an empty batch is a valid frame."""
    import random

    rows = _rows(n_convs=12, median=6, skew=(0, 0))
    assert {fixtures.family_for(r[0], r[1]) for r in rows} == set(fixtures.FAMILIES)
    payloads = [r[3] for r in rows] + [None]
    labels = [1000 + 7 * i for i in range(len(payloads))]
    random.Random(5).shuffle(labels)
    mixed = pd.Series(payloads, index=labels, dtype=object)
    dtypes = {c: "object" for c in kernels.OUT_COLS} | {"n_pages": "int32"}
    for texts in (mixed, pd.Series([], dtype=object)):
        out = kernels.extract_batch(texts)
        assert out.index.equals(texts.index)
        assert list(out.columns) == kernels.OUT_COLS
        assert out.dtypes.astype(str).to_dict() == dtypes
        for label, raw in texts.items():
            _assert_matches_oracle(out.loc[label], raw or "", label)


def test_line_fold_semantics():
    # equal-Y items concatenate with NO space; |dY|>1 breaks; sub-tolerance
    # jitter does not (reference lib/pdf-parse.js:20-39)
    items = [("abc", 700.0), ("def", 700.4), ("ghi", 680.0), ("jkl", 680.9)]
    assert oracle.fold_lines(items) == "abcdef\nghijkl"


def test_tj_kerning_spaces():
    stream = "BT 1 0 0 1 72 700 Tm [(a) -250 (b) -50 (c)] TJ ET"
    items = oracle.tokenize_content(stream)
    assert items == [("a bc", 700.0)]


def test_ligature_nfkc():
    res = oracle.extract("eﬃcient ﬂow")
    assert res.text == "efficient flow"


def test_corrupt_rows_error_not_raise():
    import random

    for k in range(30):
        payload = fixtures.build_corrupt(random.Random(k))
        res = oracle.extract(payload)
        assert res.error is not None, k
        assert res.text == ""


def test_recovery_scan_broken_xref():
    import random

    rng = random.Random(7)
    good = fixtures.build_pdf(rng, 2)
    rng = random.Random(7)
    broken = fixtures.build_pdf(rng, 2, break_xref=True)
    a, b = oracle.extract(good), oracle.extract(broken)
    assert a.error is None and b.error is None
    assert a.text == b.text != ""


def test_bidi_rtl_runs_reversed():
    # simplified logical->visual: RTL runs reverse in place, LTR/space stay
    # (spec.py; reference runBidiTransform, pdf.worker.js:36495-36510)
    import base64 as b64
    import zlib

    from pdf_parse_new_spark.kernels import pdfk

    heb = "שלום"  # logical order
    stream = f"BT 1 0 0 1 72 700 Tm (hello {heb} world) Tj ET"
    items = oracle.tokenize_content(stream)
    assert items == [(f"hello {heb[::-1]} world", 700.0)]
    assert pdfk._tokenize(stream)[0] == [f"hello {heb[::-1]} world"]

    # end-to-end through a framed payload: kernel == oracle
    import pandas as pd

    payload = "%PDF-1.4\n1 0 obj\n<< /Type /Page /Contents 2 0 R >>\nendobj\n"
    body = b64.b64encode(zlib.compress(stream.encode())).decode()
    payload += (
        f"2 0 obj\n<< /Length {len(body)} /Filter /FlateDecode >>\n"
        f"stream\n{body}\nendstream\nendobj\n"
    )
    off = payload.index("xref") if "xref" in payload else len(payload)
    payload += f"trailer\n<< /Size 3 /Root 1 0 R >>\nstartxref\n{off}\n%%EOF"
    ex = oracle.extract(payload)  # startxref bogus -> recovery scan path
    k = kernels.extract_batch(pd.Series([payload])).iloc[0]
    assert ex.text == k.extracted_text == f"hello {heb[::-1]} world"


def test_xref_stream_equals_classic_table():
    import random

    rng = random.Random(7)
    classic = fixtures.build_pdf(rng, 2)
    rng = random.Random(7)
    streamed = fixtures.build_pdf(rng, 2, xref_stream=True)
    a, b = oracle.extract(classic), oracle.extract(streamed)
    assert a.error is None and b.error is None
    assert a.text == b.text != ""


def test_object_stream_equals_classic(spark=None):
    import random

    rng = random.Random(7)
    classic = fixtures.build_pdf(rng, 3)
    rng = random.Random(7)
    packed = fixtures.build_pdf(rng, 3, obj_stream=True)
    a, b = oracle.extract(classic), oracle.extract(packed)
    assert a.error is None and b.error is None
    assert a.text == b.text != ""
    assert b.n_pages == 3
    k = kernels.extract_batch(pd.Series([packed])).iloc[0]
    assert k.extracted_text == b.text and k.error is None
    # spans still point at the top-level content streams
    for s in b.spans:
        assert packed[s[0] - 7 : s[0]] == "stream\n"


def test_incremental_prev_chain():
    import random

    for seed in (1, 5):
        rng = random.Random(seed)
        inc = fixtures.build_pdf_incremental(rng, 3)
        res = oracle.extract(inc)
        assert res.error is None and res.n_pages == 3
        k = kernels.extract_batch(pd.Series([inc])).iloc[0]
        assert k.extracted_text == res.text and k.n_pages == 3


def test_incremental_update_frees_object():
    """An object marked 'f' in a NEWER xref section must not be resurrected
    from an older section's offset (reference stores free entries first-wins
    and fetch skips them, pdf.worker.js:58213-58231,58613)."""
    import random

    rng = random.Random(11)
    base = fixtures.build_pdf(rng, 2)  # pages are objects 1 and 3
    full = oracle.extract(base)
    assert full.n_pages == 2
    base_xref_off = int(base.rsplit("startxref\n", 1)[1].split("\n")[0])
    xref2 = len(base) + 1
    freed = base + "\n" + (
        "xref\n3 1\n0000000000 00001 f \n"
        f"trailer\n<< /Size 5 /Root 1 0 R /Prev {base_xref_off} >>\n"
        f"startxref\n{xref2}\n%%EOF"
    )
    res = oracle.extract(freed)
    assert res.error is None
    assert res.n_pages == 1
    # surviving text is exactly page 1's text (a strict prefix of the base)
    assert res.text and full.text.startswith(res.text) and res.text != full.text
    k = kernels.extract_batch(pd.Series([freed])).iloc[0]
    assert k.extracted_text == res.text and k.n_pages == 1


def test_html_boilerplate_dropped():
    import random

    raw = fixtures.build_html(random.Random(3))
    res = oracle.extract(raw)
    assert res.error is None
    assert res.text
    # link farms (nav/footer/sidebar) and short/linky paragraphs are gone
    assert "href" not in res.text
    assert all(len(line) >= spec.HTML_MIN_TEXT_LEN for line in res.text.split("\n"))
    # entity unescape happened where generator emitted one
    assert "&amp;" not in res.text


def test_spans_point_into_raw_payload():
    rows = _rows(20, 8, (0, 0))
    for cid, t, role, raw, tool, ts in rows:
        res = oracle.extract(raw)
        for s, e, kind in res.spans:
            assert 0 <= s <= e <= len(raw)
            if kind in ("p", "div"):
                assert raw[s : s + 1 + len(kind)] == f"<{kind}"


def test_concat_semantics():
    body, n, k = oracle.concat_conversation(["a", "b", "c"])
    assert (body, n, k) == ("a\n\nb\n\nc", 3, 3)
    body, n, k = oracle.concat_conversation(["a", "b", "c"], leading_separator=True)
    assert body == "\n\na\n\nb\n\nc"  # golden .txt files begin with \n\n
    body, n, k = oracle.concat_conversation(["a", "b", "c"], max_turns=2)
    assert (body, n, k) == ("a\n\nb", 3, 2)
    body, n, k = oracle.concat_conversation(["a", "b"], max_turns=99)
    assert (body, n, k) == ("a\n\nb", 2, 2)  # clamp (lib/pdf-parse.js:99)
    body, n, k = oracle.concat_conversation([], leading_separator=True)
    assert (body, n, k) == ("", 0, 0)


@pytest.mark.parametrize("fam", ["pdfstream", "html", "plain"])
def test_families_deterministic(fam):
    # payload_for is a pure function — same key, same payload
    for cid, t in [("c", 0), ("c", 5), ("zz", 17)]:
        a = fixtures.payload_for(cid, t)
        b = fixtures.payload_for(cid, t)
        assert a == b


def test_pdf_info_metadata():
    """P2: trailer /Info -> info dict, null-safe (lib/pdf-parse.js:91-96)."""
    import random

    with_info = without_info = 0
    for seed in range(30):
        rng = random.Random(seed)
        doc = fixtures.build_pdf(rng, 2)
        ex = oracle.extract(doc)
        k = kernels.extract_batch(pd.Series([doc])).iloc[0]
        if ex.info is not None:
            with_info += 1
            assert ex.info["producer"] == "pdf-parse-new-spark"
            assert set(ex.info) == {"title", "author", "producer"}
            assert json.loads(k["info"]) == ex.info
        else:
            without_info += 1
            assert k["info"] is None
    assert with_info > 0 and without_info > 0


def test_html_article_li_and_numeric_refs():
    import random

    raw = fixtures.build_html(random.Random(5))
    res = oracle.extract(raw)
    kinds = {k for _, _, k in res.spans}
    # article recursed into leaf p's; standalone li kept; container absent
    assert "li" in kinds and "p" in kinds and "article" not in kinds
    assert "’" in res.text  # &#8217; and &#x2019; decoded
    assert "&#" not in res.text
    k = kernels.extract_batch(pd.Series([raw])).iloc[0]
    assert k.extracted_text == res.text
    assert [(s["start"], s["end"], s["kind"]) for s in k.spans] == res.spans


def test_text_rise_ts_breaks_line():
    """Ts rise shifts the item baseline (pdf.js folds rise into
    transform[5]): a >tolerance superscript lands on its own fold-line in
    both the oracle and the vectorized kernel; sub-tolerance rise does not."""
    from pdf_parse_new_spark.kernels import pdfk

    st = "BT 1 0 0 1 72 700 Tm (base) Tj 3 Ts (sup) Tj 0 Ts (back) Tj ET"
    items = oracle.tokenize_content(st)
    assert oracle.fold_lines(items) == "base\nsup\nback"
    s, y, _ = pdfk._tokenize(st)
    assert list(zip(s, y)) == items
    # sub-tolerance rise stays on the line; BT resets rise
    st2 = "BT (a) Tj 0.5 Ts (b) Tj ET BT (c) Tj ET"
    assert oracle.fold_lines(oracle.tokenize_content(st2)) == "abc"


def test_html_section_main_blockquote_candidates():
    html = (
        "<!DOCTYPE html><html><body>"
        "<main><section><p>a long paragraph inside nested containers here</p>"
        "</section></main>"
        "<blockquote>a quoted passage long enough to clear the length floor"
        "</blockquote></body></html>"
    )
    res = oracle.extract(html)
    kinds = [k for _, _, k in res.spans]
    assert kinds == ["p", "blockquote"]  # containers recursed, leaves kept
    assert "quoted passage" in res.text and "nested containers" in res.text
    k = kernels.extract_batch(pd.Series([html])).iloc[0]
    assert k.extracted_text == res.text


def test_surrogate_charref_replaced():
    """WHATWG charref rules (ADVICE r2): &#xD800; / &#0; decode to U+FFFD,
    never a lone surrogate that breaks UTF-8/Arrow serialization."""
    html = (
        "<!DOCTYPE html><html><body>"
        "<p>bad &#xD800; ref and &#0; plus ok &#x2019; padded out to clear "
        "the minimum text length floor for keeping this paragraph</p>"
        "</body></html>"
    )
    res = oracle.extract(html)
    assert "�" in res.text and "’" in res.text
    res.text.encode("utf-8")  # must not raise
    k = kernels.extract_batch(pd.Series([html])).iloc[0]
    assert k.extracted_text == res.text
    k.extracted_text.encode("utf-8")


def test_cr_line_continuation_all_eols():
    """\\CR, \\CRLF and \\LF line continuations all vanish, in the synthetic
    kernel, the oracle, and the binary parser (ADVICE r2: \\CR kept a stray
    carriage return)."""
    from pdf_parse_new_spark.kernels import pdfb, pdfk

    for eol in ("\n", "\r", "\r\n"):
        lit = f"(li\\{eol}ne)"
        assert pdfk._unescape(lit) == "line", repr(eol)
        assert oracle._unescape(lit) == "line", repr(eol)
        assert pdfb.parse_object(lit.encode("latin-1"), 0)[0] == b"line"


# (stream, strs, ys, scales): item text (escapes, hex, octal, bidi),
# baselines (Td/TD/Tm/TL/T*/Ts accumulation order) and Tf scales, arrays
# that close only by backtracking, Unicode separators and digits. Each
# value was recorded once from the Python clause-regex loop that
# pdfs_tokenize replaced; "a b" for the Unicode kerning number is also
# the oracle's answer.
_PINNED_TOKENIZE = [
    ("BT (hello) Tj ET", ["hello"], [0.0], [0.0]),
    (
        "(a) Tj 0 -14 Td (b) Tj 5 -14 TD (c) Tj T* (d) Tj",
        ["a", "b", "c", "d"],
        [0.0, -14.0, -28.0, -42.0],
        [0.0, 0.0, 0.0, 0.0],
    ),
    (
        '1 0 0 1 72 700 Tm (x) Tj 14 TL (y) \' 3 4 (z) "',
        ["x", "y", "z"],
        [700.0, 686.0, 672.0],
        [0.0, 0.0, 0.0],
    ),
    ("[(ab) -300 (cd) 120 (ef)] TJ", ["ab cdef"], [0.0], [0.0]),
    ("[(a\\)b) -300 <48 65 6c> 5.5 (c)] TJ", ["a)b Helc"], [0.0], [0.0]),
    ("(oct \\101\\53\\7) Tj", ["oct A+\x07"], [0.0], [0.0]),
    (
        "(cont\\\r\ninues) Tj (esc \\n\\r\\t\\q\\() Tj",
        ["continues", "esc \n\r\tq("],
        [0.0, 0.0],
        [0.0, 0.0],
    ),
    ("<4 8 6 5> Tj <486> Tj", ["He", "H`"], [0.0, 0.0], [0.0, 0.0]),
    (
        "/F1 9 Tf (scaled) Tj /F2 -2.5 Tf (neg) Tj",
        ["scaled", "neg"],
        [0.0, 0.0],
        [9.0, -2.5],
    ),
    (
        "8 Ts (up) Tj 0 Ts (down) Tj BT (reset) Tj",
        ["up", "down", "reset"],
        [8.0, 0.0, 0.0],
        [0.0, 0.0, 0.0],
    ),
    (
        "(str) (no op) Tj 12 (lone num) 3 4 Td (after) Tj",
        ["no op", "after"],
        [0.0, 4.0],
        [0.0, 0.0],
    ),
    ('T* \' " * ** BTx xBT TdD (w) Tj', ["w"], [0.0], [0.0]),
    (
        "1 2 3 4 5 6 Tm (six) Tj 1 2 3 Tm (three) Tj",
        ["six", "three"],
        [6.0, 6.0],
        [0.0, 0.0],
    ),
    ("[(unclosed] TJ", [""], [0.0], [0.0]),
    ("[ (a) 5 ] x", [], [], []),
    ("(café naïve) Tj", ["café naïve"], [0.0], [0.0]),
    ("(שלום abc) Tj", ["םולש abc"], [0.0], [0.0]),
    ("\xa0 (nbsp ws) Tj", ["nbsp ws"], [0.0], [0.0]),
    ("(trail\\) Tj", [], [], []),
    (  # lone surrogates pass through
        "(a\ud800b) Tj \udcff 1 2 Td [(x\udc00) -300 (y)] TJ",
        ["a\ud800b", "x\udc00 y"],
        [0.0, 2.0],
        [0.0, 0.0],
    ),
    ("() Tj [] TJ (x) Tj", ["", "", "x"], [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
    ("[\\] TJ", [""], [0.0], [0.0]),
    ("[(a)\\] TJ", ["a"], [0.0], [0.0]),
    ("[(a\\] TJ (b)", [""], [0.0], [0.0]),
    ("[(a] TJ b)] x", [""], [0.0], [0.0]),
    ("[(a) 5] x [(b)] TJ", ["b"], [0.0], [0.0]),
    ("[(p)] TJ [(q] TJ (r)] TJ", ["p", ""], [0.0, 0.0], [0.0, 0.0]),
    ("[(x] TJ y)] TJ", ["x] TJ y"], [0.0], [0.0]),  # a literal before a char
    ("[\\] TJ (a)] TJ", ["a"], [0.0], [0.0]),  # \\. before a char
    ("(x)\xa0Tj", ["x"], [0.0], [0.0]),
    ("(x)\u3000'", ["x"], [0.0], [0.0]),
    (
        "0\u2028-14\u2029Td\x85(y)\u205fTj /F1\u1680 9\u202fTf (z)\u2000Tj",
        ["y", "z"],
        [-14.0, -14.0],
        [0.0, 9.0],
    ),
    (
        "/F1 ١٢ Tf ٠ -١٤ Td (a) Tj ١٤ TL T* (b) Tj",
        ["a", "b"],
        [-14.0, -28.0],
        [12.0, 12.0],
    ),
    ("० १.५ Td (c) Tj ３ Ts (d) Tj", ["c", "d"], [1.5, 4.5], [0.0, 0.0]),
    ("[(a) -٣٠٠ (b)] TJ", ["a b"], [0.0], [0.0]),
    ("[(a) -3٠٠ (b) -𝟎 (c)] TJ", ["a bc"], [0.0], [0.0]),
]
# sha256 of repr([_tokenize(page) ...]) over the decoded page streams of
# the 40 seeded fixture documents, recorded from the same loop
_PINNED_FIXTURE_PAGES = (
    "17c48f561a67f91c49c850b72a4be8defdfea739ecf94890bad3137b7e1fd9bd"
)


def test_pdfs_tokenize_pinned_cases(monkeypatch):
    import base64
    import hashlib
    import random
    import re
    import zlib

    from pdf_parse_new_spark.kernels import cinterp, pdfk

    # pdfb's all-jsvm switch leaves pdfk on the C tokenizer
    monkeypatch.setattr(cinterp, "AVAILABLE", False)
    for st, strs, ys, scales in _PINNED_TOKENIZE:
        assert pdfk._tokenize(st) == (strs, ys, scales), ascii(st)
    docs = [fixtures.build_pdf(random.Random(5000 + s), 3) for s in range(40)]
    pages = []
    for raw in docs:
        assert pdfk._tokenize(raw) == ([], [], [])  # text sits in Flate
        pages += [
            zlib.decompress(base64.b64decode(m)).decode("utf-8")
            for m in re.findall(r"stream\n(.*?)\nendstream", raw, re.S)
        ]
    assert len(pages) == 120
    got = repr([pdfk._tokenize(p) for p in pages]).encode()
    assert hashlib.sha256(got).hexdigest() == _PINNED_FIXTURE_PAGES


def test_pdfs_tokenize_unicode_classes_match_re():
    """The tokenizer's \\s and \\d are Python re's str-mode classes at
    every code point (lone surrogates included), and a digit of any
    script reads as float() reads it. Per code point c, "1{c}TL" sets
    the leading only when c is \\s, and "/F1 {c} Tf" sets the scale only
    when c is \\d."""
    import re
    import sys

    from pdf_parse_new_spark.kernels import pdfk

    step, n_ws, n_digits = 1 << 16, 0, 0
    for lo in range(0, sys.maxunicode + 1, step):
        chunk = [chr(c) for c in range(lo, lo + step)]
        text = "".join(chunk)
        ws, digits = set(re.findall(r"\s", text)), set(re.findall(r"\d", text))
        n_ws, n_digits = n_ws + len(ws), n_digits + len(digits)
        _, ys, _ = pdfk._tokenize(
            "".join(f"BT 0 TL 1{c}TL T* (x) Tj " for c in chunk)
        )
        assert ys == [-1.0 if c in ws else 0.0 for c in chunk], hex(lo)
        _, _, scales = pdfk._tokenize(
            "".join(f"/F1 -1 Tf /F1 {c} Tf (x) Tj " for c in chunk)
        )
        assert scales == [
            float(c) if c in digits else -1.0 for c in chunk
        ], hex(lo)
    assert (n_ws, n_digits) == (29, 660)  # Python 3.11, Unicode 14


_LINEAR_CHECK = """
import random, zlib, base64
import pandas as pd
from pdf_parse_new_spark import fixtures, kernels
from pdf_parse_new_spark.kernels import pdfk
for st in ("[" + "(a)" * 50_000, "[" + "\\\\" * 100_000, "[" * 100_000):
    assert pdfk._tokenize(st) == ([], [], []), st[:8]
page = "BT (ok) Tj [" + "(a)" * 40
raw = fixtures.build_pdf(random.Random(1), 1, break_xref=True)
i = raw.index("stream\\n") + len("stream\\n")
j = raw.index("\\nendstream")
payload = base64.b64encode(zlib.compress(page.encode())).decode()
row = kernels.extract_batch(pd.Series([raw[:i] + payload + raw[j:]])).iloc[0]
assert row.extracted_text == "ok" and row.error is None, row
print("linear")
"""


def test_pdfs_tokenize_linear_time():
    """Arrays that never close cost one linear scan, where a
    backtracking regex over the same grammar takes time exponential in
    their length. The check runs in a subprocess with a timeout, so a
    regression fails instead of hanging; it ends with one pdfstream
    payload whose page ends in such an array, through extract_batch
    (not the oracle, whose array pattern backtracks that way)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _LINEAR_CHECK],
        cwd=root, capture_output=True, text=True, timeout=60,
    )
    assert res.returncode == 0 and res.stdout.strip() == "linear", res.stderr


def test_xref_stream_zero_widths_recovers():
    """An xref stream whose /W widths sum to 0 has no rows: both parsers
    treat it as unusable and run the recovery scan, and neither raises
    out of the batch."""
    import random

    raw = fixtures.build_pdf(random.Random(3), 2, xref_stream=True)
    assert raw.count("/W [1 4 2]") == 1
    raw = raw.replace("/W [1 4 2]", "/W [0 0 0]")
    ex = oracle.extract(raw)
    k = kernels.extract_batch(pd.Series([raw])).iloc[0]
    assert ex.error is None and ex.text != "" and ex.n_pages == 2
    assert k.extracted_text == ex.text
    assert (k.error if pd.notna(k.error) else None) == ex.error
    assert k.n_pages == ex.n_pages
    assert list(k.spans) == [
        {"start": s, "end": e, "kind": kd} for (s, e, kd) in ex.spans
    ]
