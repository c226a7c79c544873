"""C lexer + C replay vs the jsvm tier: byte-identical output.

The compiled ``_ctext.c`` event machine renders every page it can take;
``kernels/jsvm.py``, a direct transcription of pdf.js getTextContent,
renders the rest, and every page when ``cinterp.AVAILABLE`` is False.
Every document here is parsed both ways (C first, then with the C path
switched off so every page runs through jsvm) and the extracted text,
spans, info and error fields must match exactly.
"""

from __future__ import annotations

import pytest

from pdf_parse_new_spark.kernels import cinterp, pdfb
from tests.test_node_differential import (
    _BIGTC_RISE_PINNED,
    _CHARSCACHE_PINNED,
    _CLOSED_PREV_STREAMS,
    _COERCE_PINNED,
    _PRE_TF_STREAMS,
    TJ_KILLER_SEEDS,
    _assemble as _nd_assemble,
    _assemble_with_form,
    _assemble_with_tounicode,
    _gen_bigtc_stream,
    _gen_clipseg_stream,
    _gen_coerce_stream,
    _gen_form_inherit_stream,
    _gen_form_lm_stream,
    _gen_nzreg_stream,
    _gen_qq_stream,
    _gen_stream,
    _gen_tj_coalesce_stream,
    _gen_zwreg_stream,
)

DATA = "/root/reference/test/data"

pytestmark = pytest.mark.skipif(
    not cinterp.AVAILABLE, reason="no C compiler in this environment"
)


def _both(raw: bytes) -> tuple[dict, dict]:
    c = pdfb.parse_pdf_bytes(raw)
    cinterp.AVAILABLE = False
    try:
        js = pdfb.parse_pdf_bytes(raw)
    finally:
        cinterp.AVAILABLE = True
    return c, js


def _assert_same(raw: bytes) -> None:
    c, js = _both(raw)
    assert c["text"] == js["text"]
    assert c["page_spans"] == js["page_spans"]
    assert c["info"] == js["info"]
    assert c["error"] == js["error"]
    assert c["n_pages"] == js["n_pages"]


@pytest.mark.requires_reference
@pytest.mark.parametrize(
    "name", ["01-valid", "02-valid", "03-invalid", "04-valid",
             "05-versions-space"]
)
def test_reference_corpus_paths_identical(name):
    _assert_same(open(f"{DATA}/{name}.pdf", "rb").read())


def _scaffold(ops: bytes, font_objs=None, font_ref=None) -> bytes:
    from tests.test_real_pdf import _page_scaffold

    content = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
    return _page_scaffold(content, font_objs, font_ref)


EDGE_STREAMS = [
    # dash array before a paint op must NOT be mistaken for a TJ operand
    b"q [2 4] 0 d 0 0 100 100 re S Q BT 1 0 0 1 72 700 Tm (after dash) Tj ET",
    # TJ with kerns, hex elements, escapes, nested parens
    rb"BT /F9 9 Tf 2 Tc 1.5 Tw 1 0 0 1 10 700 Tm "
    rb"[(a\(nest\)b) -300 <4869> 12 (c\\d)] TJ ET",
    # ' and " operators with leading; Ts rise; T*
    b"BT 14 TL 1 0 0 1 72 700 Tm (l1) Tj T* (l2) Tj "
    b"(l3) ' 1.5 2.5 (l4) \" 3 Ts (sup) Tj ET",
    # inline image skip, comments, Tz scaling
    b"BT 80 Tz 1 0 0 1 0 700 Tm (pre) Tj ET % comment\n"
    b"BI /W 2 /H 2 /BPC 8 ID \x00\xffEInope EI q Q "
    b"BT 1 0 0 1 0 650 Tm (post) Tj ET",
    # inline dict (BDC), unknown ops, stray brackets
    b"/OC /MC0 BDC BT 1 0 0 1 5 700 Tm (marked) Tj ET EMC ] } > "
    b"BT 1 0 0 1 5 650 Tm (tail) Tj ET",
    # line continuations + octal escapes + CRLF EOLs inside strings
    b"BT 1 0 0 1 5 700 Tm (con\\\r\ntinued \\101\\102) Tj ET",
    # number formats: signs, bare dots, degenerate tokens
    b"BT +1 0 0 -1.0 .5 700.0 Tm (nums) Tj - . + (after) Tj ET",
    # empty TJ array, empty strings, zero-size font
    b"BT /F1 0 Tf [] TJ () Tj 1 0 0 1 9 9 Tm (x) Tj ET",
    # quad-0 item splitting: out-of-window internal space runs under
    # mid-line rise (standalone anchors), negative Tc/Tw (notASpace
    # kills the run), TJ runs crossing elements over kerns
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (seed) Tj 0.9 Ts (al   pha) Tj "
    b"0 Ts 1 0 0 1 72 699.2 Tm (tail) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (ab) Tj -2.4 Tc (x y) Tj "
    b"0 Tc -2.6 Tw (cd ef) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm 1.2 Ts "
    b"[(delta  ) 120 ( xi) -8000 (tail)] TJ 3.5 Tc (  kappa x) Tj ET",
    b"BT /F1 10 Tf 1 0 0 1 72 700 Tm 2 Ts (a   b   c   d) Tj 0 Ts "
    b"1 0 0 1 72 699.3 Tm (t) Tj ET",
]


@pytest.mark.parametrize("ops", EDGE_STREAMS)
def test_edge_streams_paths_identical(ops):
    _assert_same(_scaffold(ops))


def test_widths_and_gap_model_paths_identical():
    widths = b"[" + b" ".join(b"500" for _ in range(95)) + b"]"
    font_objs = {
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /F "
           b"/FirstChar 32 /LastChar 126 /Widths 6 0 R >>",
        6: widths,
    }
    ops = (b"BT /F1 10 Tf 2 Tc 1 0 0 1 72 700 Tm (ab) Tj "
           b"1 0 0 1 86 700 Tm (cd) Tj 0 Tc "
           b"1 0 0 1 120 700 Tm [(ef) -400 (gh)] TJ ET")
    _assert_same(_scaffold(ops, font_objs, font_ref=5))


def test_form_xobject_recursion_paths_identical():
    import zlib as z

    inner = b"BT 1 0 0 1 5 5 Tm (inside form) Tj ET"
    comp = z.compress(inner)
    font_objs = {
        5: b"<< /Type /XObject /Subtype /Form /Resources << >> "
           b"/Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
           % (len(comp), comp),
    }
    from tests.test_real_pdf import _assemble

    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /XObject << /Fm1 5 0 R >> >> >>",
        4: b"<< /Length 58 >>\nstream\n"
           b"BT 1 0 0 1 72 700 Tm (before) Tj ET /Fm1 Do "
           b"BT (after) Tj ET\nendstream",
    }
    objs.update(font_objs)
    _assert_same(_assemble(objs))


@pytest.mark.parametrize("x2", [93.6, 94.2, 94.8, 95.4])
def test_trailing_space_before_form_xobject_paths_identical(x2):
    """Regression: state[] slot 26 was double-booked between
    ``pending_multi`` and ``sy`` in the C replay's state round-trip, so
    a single trailing space pending across a Form-XObject segment
    boundary came back as pending_multi=True (pend1 disabled) and a
    pend1-window advance after the Do lost its space ('abzzcd' instead
    of 'abzz cd'). sy now lives in slot 29.

    x2 values are calibrated to the FALLBACK font metrics: this page has
    no /Font resource, so F1 loads pdf.js's fallbackFontDict (Helvetica
    over WinAnsiEncoding, pdf.worker.js:35575) — live-node sweep puts the
    space-survives window at x2 >= ~93.6 ('abzzcd' at 93.4 and below)."""
    from tests.test_real_pdf import _assemble

    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
           b"/Resources << /XObject << /Fm1 5 0 R >> >> >>",
        5: b"<< /Type /XObject /Subtype /Form /Resources << >> "
           b"/Length 3 >>\nstream\nq Q\nendstream",
    }
    ops = (b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (abzz ) Tj ET /Fm1 Do "
           b"BT /F1 10 Tf 1 0 0 1 %.2f 700 Tm (cd) Tj ET" % x2)
    objs[4] = b"<< /Length %d >>\nstream\n%s\nendstream" % (len(ops), ops)
    raw = _assemble(objs)
    c, js = _both(raw)
    assert c["text"] == js["text"]
    assert js["text"].endswith("abzz cd")


def test_encrypted_fixture_paths_identical():
    from tests.test_encrypted_pdf import _build_rc4_doc

    _assert_same(_build_rc4_doc(r=3, v=2, key_bits=128))


@pytest.mark.requires_reference
def test_mutation_sweep_never_crashes_c_path():
    raw = open(f"{DATA}/01-valid.pdf", "rb").read()
    n = len(raw)
    for frac in (0.01, 0.3, 0.7, 0.99):
        r = pdfb.parse_pdf_bytes(raw[: int(n * frac)])
        assert isinstance(r["text"], str)
    b = bytearray(raw)
    for i in range(5069, 5133):
        b[i] ^= 0x5A
    assert isinstance(pdfb.parse_pdf_bytes(bytes(b))["text"], str)


MALFORMED_ARRAYS = [
    # bare signs / dots inside TJ arrays abort the array in both paths
    b"BT [( - a) - . + (b)] TJ 1 0 0 1 5 700 Tm (after) Tj ET",
    # double-dot numbers lex the same ("1.2" then ".3")
    b"BT [(x) 1.2.3 (y)] TJ ET",
    # names / keywords / dicts are VALID array elements TJ ignores
    b"BT [(x) /Nm true null false 5 (y)] TJ ET",
    b"BT [(x) << /K (v) >> (y)] TJ ET",
    b"BT [(x) [(nested) 3] (y)] TJ ET",
    # stray alpha / delimiter aborts; unterminated array aborts
    b"BT [(x) foo (y)] TJ ET",
    b"BT [(unterminated) 5 ET",
    b"BT [(x) ) (y)] TJ ET",
    b"BT [ ] TJ (solo) Tj ET",
    b"BT [(a)] TJ [(b) -400 (c)] TJ ET",
    # >62-digit numerals must lex as ONE token on both paths (the C
    # scanner used to stop at 62 chars, splitting the token and shifting
    # every later operand)
    b"BT 1 0 0 1 " + b"9" * 80 + b" 700 Tm (bignum) Tj "
    b"1 0 0 1 5 650 Tm (after) Tj ET",
    b"BT [(x) " + b"1" * 100 + b" (y)] TJ ET",
    # CTM parity: cm scales/translates positions and gaps; q/Q nest and
    # restore; unbalanced Q and junk operands must not diverge the paths
    b"q 2 0 0 2 10 20 cm BT 1 0 0 1 5 700 Tm (scaled) Tj ET Q "
    b"BT 1 0 0 1 5 600 Tm (after) Tj ET",
    b"q 0.5 0 0 0.5 0 0 cm q 1 0 0 1 100 100 cm "
    b"BT 12 0 0 12 3 50 Tm (nested) Tj ET Q Q BT (outer) Tj ET",
    b"1 0 0 1 x 20 cm BT (badcm) Tj ET",       # junk operand: cm ignored
    b"Q Q BT (underflow) Tj ET q q q",          # stack under/overflow safe
    b"q 8.29 0 0 7.97 32 728 cm BT /F1 1 Tf 0 -1.31 TD (a) Tj "
    b"0 -1.31 TD (b) Tj ET Q",                  # matrix-scaled leading
    b"BT 8.3 0 0 8.0 30 700 Tm (m1) Tj 25.4 0 Td (far) Tj "
    b"0 -1.3 Td (dn) Tj ET",                    # Tm-scaled Td offsets
]


@pytest.mark.parametrize("ops", MALFORMED_ARRAYS)
def test_malformed_arrays_paths_identical(ops):
    _assert_same(_scaffold(ops))


def test_random_token_soup_paths_identical():
    """Deterministic fuzz: random sequences over the full content-stream
    token alphabet (strings with escapes, hex, numbers incl. pathological
    dots/signs, names, arrays, dicts, operators, comments, garbage bytes)
    must extract IDENTICALLY through the C lexer and the pure-Python
    interpreter — and never hang (the ciphertext-garbage infinite loop
    regression lives here)."""
    import random

    rng = random.Random(1337)
    toks = [
        "(plain)", "(es\\(c\\))", "(oct\\101)", "<4869>", "<48 6>",
        "5", "-3.5", "+.5", "1.2.3", "-", ".", "+", "/F1", "/Nm#20x",
        "[", "]", "<<", ">>", "true", "false", "null", "foo", "%c\n",
        "Tj", "TJ", "Td", "TD", "Tm", "TL", "T*", "Tf", "Tc", "Tw",
        "Tz", "Ts", "'", '"', "BT", "ET", "q", "Q", "Do", ")", "}", "{",
        "cm", "2 0 0 2 5 5 cm", "0.5 0 0 0.5 0 0 cm",
        "12", "700", "0", "1",
    ]
    for trial in range(60):
        ops = " ".join(rng.choice(toks) for _ in range(rng.randint(5, 60)))
        doc = _scaffold(ops.encode("latin-1"))
        c, js = _both(doc)
        assert c["text"] == js["text"], (trial, ops)


def test_lexer_emits_final_tj_events():
    """pdftext_interpret joins each TJ array's strings as it reads them:
    every K_TJSTR row is a flag-3 span of the scratch blob, kerns never
    sit back to back (zero kerns are skipped, a run of kerns merges into
    one row), and a rotated or mirrored matrix defers the page instead
    of reaching the replay. 300 seeded streams over the TJ decision
    space + operator soup."""
    import random

    for s in range(300):
        rng = random.Random(31337 + s)
        content = (
            _gen_tj_coalesce_stream(rng)
            if s % 2 == 0
            else _gen_stream(rng)
        )
        try:
            ev, scratch = cinterp.interpret(content)
        except cinterp.PreprocessorEngaged:
            continue
        kinds = ev["kind"]
        tjs = ev[kinds == cinterp.K_TJSTR]
        assert (tjs["flag"] == 3).all(), s
        assert ((tjs["a"] >= 0) & (tjs["a"] <= tjs["b"])).all(), s
        assert (tjs["b"] <= len(scratch)).all(), s
        num = kinds == cinterp.K_TJNUM
        assert not (num[1:] & num[:-1]).any(), s
    for ops in (
        b"BT /F1 10 Tf 0 1 -1 0 72 700 Tm (a) Tj ET",
        b"0 1 -1 0 0 0 cm BT /F1 10 Tf (a) Tj ET",
        b"BT /F1 10 Tf -100 Tz (a) Tj ET",
    ):
        with pytest.raises(cinterp.PreprocessorEngaged):
            cinterp.interpret(ops)


# ---------------------------------------------------------------------------
# Path identity over the differential generators and their pinned
# reproducers: every page takes the C lexer + C replay where it can and
# jsvm otherwise, and must match an all-jsvm run on every page.
# ---------------------------------------------------------------------------

def test_tj_coalesce_path_identity():
    import random

    for s in [*range(171000, 171040), *TJ_KILLER_SEEDS]:
        _assert_same(_nd_assemble(_gen_tj_coalesce_stream(random.Random(s))))


def test_round4_path_identity():
    """Big-Tc rise splits, clip-straddle seg splits and pre-Tf drops."""
    import random

    streams = (
        list(_BIGTC_RISE_PINNED)
        + list(_PRE_TF_STREAMS)
        + [_gen_bigtc_stream(random.Random(510000 + s)) for s in range(15)]
        + [_gen_clipseg_stream(random.Random(600000 + s)) for s in range(15)]
    )
    for stream in streams:
        _assert_same(_nd_assemble(stream))


def test_form_inherit_path_identity():
    for tc in (0.0, 0.5, 3.0, 9.0):
        _assert_same(_assemble_with_form(
            b"",
            b"BT /F1 12 Tf %.1f Tc 1 0 0 1 72 700 Tm (pg) Tj ET /Fm Do" % tc,
            b"BT 1 0 0 1 72 650 Tm (sun moon  star) Tj (tail) Tj ET",
        ))


def test_form_inherit_tm_path_identity():
    import random

    pdfs = [
        # clone-window form mid-BT (the reconstructed-tm path)
        _assemble_with_form(
            b"",
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (pre) Tj /Fm Do (post) Tj"
            b" ET",
            b"(inform) Tj",
        ),
        # inherited TL through the quote, inherited Ts through BT
        _assemble_with_form(
            b"",
            b"BT /F1 12 Tf 40 TL 8 Ts 1 0 0 1 72 700 Tm (page) Tj ET"
            b" /Fm Do",
            b"BT /F1 10 Tf 1 0 0 1 72 500 Tm (fa) Tj (fb) ' 0 Ts (fc)"
            b" Tj ET",
        ),
        # rise across BT with no form at all
        _nd_assemble(
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (one) Tj 30 Ts (up) Tj ET"
            b" BT /F1 12 Tf 1 0 0 1 72 700 Tm (two) Tj ET"
        ),
    ] + [
        _gen_form_inherit_stream(random.Random(905000 + s))
        for s in range(20)
    ]
    for raw in pdfs:
        _assert_same(raw)


def test_qq_path_identity():
    import random

    pdfs = [
        _nd_assemble(
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (one) Tj q /F2 24 Tf 3 Tc"
            b" (two) Tj Q (three) Tj 0 -14 Td (four) Tj ET"
        ),
        _nd_assemble(
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a) Tj q 1 0 0 1 200 500"
            b" Tm 8 Ts (b) Tj Q (c) Tj ET"
        ),
    ] + [_gen_qq_stream(random.Random(935000 + s)) for s in range(20)]
    for raw in pdfs:
        _assert_same(raw)


def test_category_path_identity():
    w = [278] * 38
    _assert_same(
        _nd_assemble(b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (a\240b\011c) Tj ET")
    )
    _assert_same(_assemble_with_tounicode(
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (abAcd) Tj ET",
        [(0x41, b"00AD")], w,
    ))
    _assert_same(_assemble_with_tounicode(
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (hijCabc) Tj (abcEEhij)"
        b" Tj [(defg) 86 (EEhij)] TJ ET",
        [(0x41, b"2003"), (0x42, b"0009"), (0x43, b"0078"),
         (0x44, b"0020"), (0x45, b"0020")], w,
    ))


def test_form_lm_path_identity():
    import random

    pdfs = [
        _assemble_with_form(
            b"",
            b"BT /F1 12 Tf 1 0 0 1 200 700 Tm [(abcd) %d (ef)] TJ"
            b" /Fm Do (post) Tj ET" % k,
            form,
        )
        for k in (-5000, 2000, 8000)
        for form in (
            b"(pre) Tj 0 0 Td (gamma) Tj",
            b"T* (gamma) Tj",
            b"q (g0) Tj 0 0 Td (g1) Tj Q 0 0 Td (g2) Tj",
        )
    ] + [
        _gen_form_lm_stream(random.Random(1505000 + s)) for s in range(20)
    ]
    for raw in pdfs:
        _assert_same(raw)


def test_register_path_identity():
    """The C replay (with its defer-to-jsvm escape hatch) agrees with
    jsvm on both register generators."""
    import random

    docs = [_gen_zwreg_stream(random.Random(9000 + s)) for s in range(12)]
    docs += [_gen_nzreg_stream(random.Random(9100 + s)) for s in range(12)]
    for raw in docs:
        _assert_same(raw)


def test_lgap_leading_space_path_identity():
    for s in (
        b"BT /F1 10 Tf 1 0 0 1 40 700 Tm 6.500 Tc [(i) 1500] TJ ( i) Tj ET",
        b"BT /F1 10 Tf 1 0 0 1 40 700 Tm 6.500 Tc [(i) 1500] TJ (  i) Tj ET",
        b"BT /F1 10 Tf 1 0 0 1 -10 700 Tm 6.500 Tc (alp delt ze) Tj"
        b" [-700 (pi) (psi) 1500] TJ ( iot  del ) Tj ET",
    ):
        _assert_same(_nd_assemble(s))


def test_closed_form_prev_path_identity():
    for s in _CLOSED_PREV_STREAMS:
        _assert_same(_nd_assemble(s))


def test_coerce_c_defer_path_identity():
    """The C lexer must DEFER coercion streams (return -2 -> a jsvm
    page with the document charsCache), so C-enabled and C-disabled
    runs are identical on every pinned + swept stream."""
    import random

    streams = list(_COERCE_PINNED) + list(_CHARSCACHE_PINNED) + [
        _gen_coerce_stream(random.Random(920000 + s)) for s in range(25)
    ]
    for stream in streams:
        _assert_same(_nd_assemble(stream))


def test_generator_sweep_paths_identical():
    """8 seeded documents from each of the 32 differential generators
    ``scripts/hunt_fresh.py`` runs against the live reference."""
    import random

    from scripts import hunt_fresh

    plain = {name for name, _ in hunt_fresh.PLAIN}
    gens = hunt_fresh.PLAIN + hunt_fresh.FULL
    assert len(gens) == 32
    for i, (name, gen) in enumerate(gens):
        for s in range(8):
            doc = gen(random.Random(3_200_000 + i * 10_000 + s))
            if name in plain:
                doc = _nd_assemble(doc)
            c, js = _both(doc)
            for key in ("text", "page_spans", "error"):
                assert c[key] == js[key], (name, s, key)


_H = b"BT /F1 12 Tf 72 700 Td "

# (content stream, extracted text): the content reader's edge cases. The
# live differential tests check these shapes only with node; here the
# text is pinned on any host with a C compiler, C path on and off.
READER_STREAMS = [
    # a Lexer throw loses the two tokens the Parser had buffered
    (_H + b"(ab) Tj (cd) Tj (ef) Tj +x ET", "abcd"),
    (b") BT /F1 12 Tf 72 700 Td (ab) Tj ET", ""),  # the first token
    (b"BT ) /F1 12 Tf 72 700 Td (ab) Tj ET", ""),  # the second token
    (_H + b"(ab) Tj +x (cd) Tj ET", ""),
    (_H + b"(ab) Tj (cd) Tj ) (ef) Tj ET", "ab"),  # a stray ')'
    (_H + b"(ab) Tj (cd) Tj " + b"Z" * 129 + b" (ef) Tj ET", "ab"),
    (_H + b"(ab) Tj (cd) Tj " + b"Z" * 128 + b" (ef) Tj ET", "abcdef"),
    # `int int R` folds to one Ref operand: at top level ("5R" is its
    # charsCache key), in an array and as an inline-dict value
    (_H + b"(ab) Tj 5 0 R Tj (5R) Tj (z) Tj ET", "abz"),
    (_H + b"(ab) Tj [(c) 5000 0 R (d)] TJ (z) Tj ET", "abcdz"),
    (_H + b"(ab) Tj BI /W 5 0 R /H 1 ID \x01 EI (z) Tj ET", "abz"),
    (_H + b"(ab) Tj 0 -40 R5 Td (z) Tj ET", "ab\nz"),  # R5 is no R
    (_H + b"(ab) Tj [(cd) (ef)", "ab"),  # EOF inside an array
    # the ID terminator X is glued to the data: the token after the
    # image starts with it; a throw after that keeps what came before
    (_H + b"(ab) Tj BI /W 1 IDX\x01 EI Q (cd) Tj (ef) Tj +x ET", "abcd"),
    (_H + b"(ab) Tj BI /W 1 IDX\x01 EI Q +x (cd) Tj ET", "ab"),
    (_H + b"(ab) Tj BI 5 ID \x01 EI (cd) Tj ET", "ab"),  # non-Name key
    # 34 pending operands stop the page; 33 do not
    (_H + b"(ab) Tj " + b" ".join(b"%d" % i for i in range(34))
     + b" Tm (cd) Tj ET", "ab"),
    (_H + b"(ab) Tj " + b" ".join(b"%d" % i for i in range(33))
     + b" Tj (cd) Tj ET", "abcd"),
    # a dict parse_object rejects reads on from its second byte as hex
    (_H + b"(ab) Tj << 5 6 >> Tj ET", "abV"),
    (_H + b"(ab) Tj /Span << /ActualText (a>b) /Alt 5 0 R >> BDC (cd) Tj "
     b"EMC ET", "abcd"),
]


@pytest.mark.parametrize("ops,text", READER_STREAMS)
def test_reader_streams_pinned(ops, text):
    c, js = _both(_scaffold(ops))
    assert c["text"] == js["text"] == "\n\n" + text


def test_js_num_str_follows_number_to_string():
    from pdf_parse_new_spark.kernels.jsvm import js_num_str

    for x, s in [
        (1e-7, "1e-7"), (1.5e-7, "1.5e-7"), (1e-6, "0.000001"),
        (1.2345678901234568e20, "123456789012345680000"),
        (1e21, "1e+21"), (-0.0, "0"), (100.0, "100"), (-2.5, "-2.5"),
    ]:
        assert js_num_str(x) == s


def test_exponent_operand_keys_the_chars_cache():
    # the number operand poisons the charsCache key "1e-7", so the
    # string show after it is silent (the `5 Tj (5) Tj` model)
    cinterp.AVAILABLE = False
    try:
        out = pdfb.parse_pdf_bytes(
            _scaffold(_H + b".0000001 Tj (1e-7) Tj (z) Tj ET")
        )
    finally:
        cinterp.AVAILABLE = True
    assert out["text"] == "\n\nz"
