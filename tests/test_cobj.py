"""C object parser (kernels/_cobj.c) vs the pure-Python ``parse_object``.

The extension must build the SAME Python objects — dicts with plain-str
keys, Name (str subclass), Ref, bytes strings, int vs float — and raise
the same exception types on malformed input, byte-for-byte across the
grammar (names with #xx, nested containers, ref lookahead with the re
``\\s`` class, octal/continuation escapes, odd-length hex)."""

from __future__ import annotations

import random

import pytest

from pdf_parse_new_spark.kernels import cobj, pdfb

pytestmark = pytest.mark.skipif(
    not cobj.AVAILABLE, reason="no C compiler / Python headers"
)


def _run(fn, data: bytes):
    try:
        return ("ok", fn(data, 0))
    except ValueError:
        return ("ValueError", None)
    except RecursionError:
        return ("RecursionError", None)


def _tsig(x):
    if isinstance(x, list):
        return ["L"] + [_tsig(i) for i in x]
    if isinstance(x, dict):
        return {k: (type(k).__name__, _tsig(v)) for k, v in x.items()}
    return type(x).__name__


def _assert_same(data: bytes) -> None:
    a = _run(pdfb._parse_object_py, data)
    b = _run(pdfb.parse_object, data)
    assert a[0] == b[0], (data, a, b)
    assert a[1] == b[1], (data, a, b)
    if a[1] is not None:
        assert _tsig(a[1][0]) == _tsig(b[1][0]), data


CASES = [
    b"<< /Type /Page /MediaBox [0 0 612 792] /Parent 3 0 R /N 1.5 >>",
    b"[1 2.5 (lit\\)eral) <48656C> /Nm#20x true false null [5 1 0 R]]",
    b"  % comment\n 42 ",
    b"12 0 R",          # indirect ref
    b"+12 0 R",         # signed numbers never start a ref (regex \d)
    b"12\x0b0 R",       # \v IS in re's \s class -> ref
    b"12\x000 R",       # NUL is PDF whitespace but NOT \s -> plain int
    b"1 0 Rx",          # \b fails -> int
    b"12 00065 R",      # generation with leading zeros
    b"(a\\101b\\\nc(d)e)",  # octal + continuation + nested parens
    b"(\\r\\n\\t\\b\\f\\q)",
    b"(oct\\777)",       # octal overflow wraps &0xFF
    b"(con\\\r\ntinued)",
    b"<4 8 6 5>", b"<48656>",  # ws inside hex; odd digit count
    b"/", b"/A#2", b"/A#xy", b"/Name", b"/A#4120B",
    b"3.", b".5", b"+.5", b"007", b"1.2.3",
    b"true", b"false", b"null", b"truX", b"nul",
    b"<<>>", b"[]", b"<>", b"()",
    b"<< /K >>", b"<< 5 6 >>", b"<< /A 1 /A 2 >>",
    b"<unterminated", b"(unterminated", b"[1 2", b"<< /K 1", b"{", b"]",
    b"-", b".", b"+", b"",
]


@pytest.mark.parametrize("data", CASES)
def test_grammar_cases_identical(data):
    _assert_same(data)


def test_token_soup_fuzz_identical():
    rng = random.Random(99)
    toks = [
        "<<", ">>", "[", "]", "/Nm", "/A#20B", "(s\\)t)", "(x\\101)",
        "<4865>", "<48 6>", "1", "-2.5", "+.5", "1.2.3", "true", "false",
        "null", "12 0 R", "3 1 R", "%c\n", "(", ")", "<", ">", "stream",
        "R", "obj", "\x00", " ", "\n", "\t", "#", "{", "}",
    ]
    for _ in range(2000):
        s = " ".join(
            rng.choice(toks) for _ in range(rng.randint(1, 25))
        ).encode("latin-1")
        _assert_same(s)


def test_refs_false_skips_lookahead():
    for data in (b"12 0 R", b"1 0 R"):
        py = pdfb._parse_object_py(data, 0, refs=False)
        c = pdfb.parse_object(data, 0, refs=False)
        assert py == c
        assert isinstance(c[0], int)


def test_name_cache_distinct_values():
    # the interned-name cache must still produce correct values across
    # colliding/evicting entries
    objs = [f"/N{i:04d}".encode() for i in range(3000)]
    for raw in objs:
        v, end = pdfb.parse_object(raw, 0)
        assert isinstance(v, pdfb.Name) and str(v) == raw[1:].decode()
        assert end == len(raw)


def test_dict_keys_are_plain_str():
    d, _ = pdfb.parse_object(b"<< /Key (v) >>", 0)
    (k,) = d.keys()
    assert type(k) is str


@pytest.mark.requires_reference
def test_full_document_identical():
    raw = open("/root/reference/test/data/02-valid.pdf", "rb").read()
    c = pdfb.parse_pdf_bytes(raw)
    real = pdfb.parse_object
    pdfb.parse_object = pdfb._parse_object_py
    try:
        py = pdfb.parse_pdf_bytes(raw)
    finally:
        pdfb.parse_object = real
    assert c["text"] == py["text"]
    assert c["info"] == py["info"]
    assert c["page_spans"] == py["page_spans"]
