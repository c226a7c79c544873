"""Faithful pdf.js ``getTextContent`` interpreter with JS value semantics.

The C path (`pdfb._TextInterp` over ``_ctext.c``) is a float pipeline: it
assumes every operand that reaches a numeric text-state slot converts to
a number. pdf.js makes no such assumption — operands are stored RAW into
the text state (``textState.charSpacing = args[0]``, pdf.worker.js:36874)
and coercion happens per USE SITE through whatever JS operator touches the
slot:

- ``+`` string-concatenates when either side is a string after ToPrimitive
  (``"5" + 0`` is ``"50"`` — so ``(5) Tc`` means charSpacing FIFTY, and
  ``(xy) Tc`` means charSpacing NaN via ``"xy0"``),
- ``*`` / ``/`` / unary ``-`` coerce with ToNumber (arrays join to comma
  strings, dicts and Names become ``"[object Object]"`` = NaN),
- ``if (charSpacing)`` is falsy on NaN and 0 but TRUTHY on any non-empty
  string (pdf.worker.js:36665),
- NaN poisons ``textMatrix[4/5]`` and every later position; all NaN
  comparisons are false, so ``compareWithLastPosition`` falls through every
  band into ``addFakeSpaces``'s flush+whitespace fallback — one item per
  glyph, a space between each ("gamma" reads "g a m m a"), and pdf-parse's
  ``Math.abs(NaN - lastY) > 1`` join keeps everything on one line.

This module is the engine's one Python interpreter tier: a direct,
per-glyph transcription of the reference algorithm
(pdf.worker.js:36347-36960 ``getTextContent`` + lib/pdf-parse.js:16-46
``render_page``) operating on raw JS values. ``pdfb._page_text`` runs a
page here whenever the C lexer + C replay cannot take one of its streams:
multi-byte (CID) or RTL-capable fonts, rotated or skewed matrices, the
operand stash, ExtGState fonts, width-register-sensitive constructs, and
the coercion streams above. Exactness is the point (differential-tested
against the live node reference by tests/test_node_differential.py).

Each content stream and each Form XObject body is read by one
``_Reader``, a transcription of pdf.js's Lexer.getObj and Parser: its
buf1/buf2 lookahead gives the lexer-throw cut, the ``int int R`` fold,
arrays and inline-image dicts in the one pass over the stream.
"""

from __future__ import annotations

import math
import re
import unicodedata

from . import bidi as _bidi_mod
from .pdfb import (
    _JS_WS,
    _NORM_RE,
    Name,
    Ref,
    Stream,
    _normalize_unicode,
    _skip_ws,
    _WS,
    parse_object,
)

# pdf.js EvaluatorPreprocessor.opMap (pdf.worker.js:38216-38592):
# op -> (numArgs, variableArgs). The preprocessor (read(),
# pdf.worker.js:38608-38672) enforces these counts with a
# nonProcessedArgs stash: operand OVERFLOW on a fixed-arity op shifts
# the EARLIEST operands into the stash; UNDERFLOW pops the stash back
# onto the FRONT of the operand list; an op still short of operands is
# skipped wholesale (args cleared, stash kept). Unknown commands KEEP
# the pending operands (warn + continue). All semantics probed against
# the live node reference (round-5): `(gamma) "` with 1-2 operands is
# dropped entirely; `(hello) q Q Tj` shows "hello" through the stash;
# `8 7 (a) Tj ... 30 Td` runs Td(7, 30).
_OP_ARITY: dict[bytes, tuple[int, bool]] = {
    b"w": (1, False), b"J": (1, False), b"j": (1, False),
    b"M": (1, False), b"d": (2, False), b"ri": (1, False),
    b"i": (1, False), b"gs": (1, False), b"q": (0, False),
    b"Q": (0, False), b"cm": (6, False), b"m": (2, False),
    b"l": (2, False), b"c": (6, False), b"v": (4, False),
    b"y": (4, False), b"h": (0, False), b"re": (4, False),
    b"S": (0, False), b"s": (0, False), b"f": (0, False),
    b"F": (0, False), b"f*": (0, False), b"B": (0, False),
    b"B*": (0, False), b"b": (0, False), b"b*": (0, False),
    b"n": (0, False), b"W": (0, False), b"W*": (0, False),
    b"BT": (0, False), b"ET": (0, False), b"Tc": (1, False),
    b"Tw": (1, False), b"Tz": (1, False), b"TL": (1, False),
    b"Tf": (2, False), b"Tr": (1, False), b"Ts": (1, False),
    b"Td": (2, False), b"TD": (2, False), b"Tm": (6, False),
    b"T*": (0, False), b"Tj": (1, False), b"TJ": (1, False),
    b"'": (1, False), b'"': (3, False), b"d0": (2, False),
    b"d1": (6, False), b"CS": (1, False), b"cs": (1, False),
    b"SC": (4, True), b"SCN": (33, True), b"sc": (4, True),
    b"scn": (33, True), b"G": (1, False), b"g": (1, False),
    b"RG": (3, False), b"rg": (3, False), b"K": (4, False),
    b"k": (4, False), b"sh": (1, False), b"BI": (0, False),
    b"ID": (0, False), b"EI": (1, False), b"Do": (1, False),
    b"MP": (1, False), b"DP": (2, False), b"BMC": (1, False),
    b"BDC": (2, False), b"EMC": (0, False), b"BX": (0, False),
    b"EX": (0, False),
}


# every opMap key — INCLUDING the null-valued prefix entries (BM, BD,
# fa/fal/fals, nu/nul, true/false/null) whose whole purpose is steering
# the Lexer's longest-known-prefix command scan (pdf.worker.js:
# 14293-14307): a token that IS known stops extending the moment the
# next extension is unknown, so "BQ" lexes as B then Q (and the Q
# restores graphics state!), while a token that is NOT known extends
# freely to the next special char ("Zz" stays one unknown command).
_KNOWN_OPS = frozenset(_OP_ARITY) | {
    b"BM", b"BD", b"true", b"fa", b"fal", b"fals", b"false",
    b"nu", b"nul", b"null",
}

# pdf.js Lexer specialChars (pdf.worker.js:13933): whitespace +
# delimiters stop a command token; EVERYTHING else (digits, +-.*,
# quotes) extends it while the prefix rule allows
_LEX_SPECIAL = frozenset(b"\x00\t\n\x0c\r %()/<>[]{}")


class _LexThrow(ValueError):
    """pdf.js Lexer FormatError (invalid number, illegal ')', command
    token over 128 chars). The Parser's two-token lookahead (buf1/buf2)
    means the throw fires while the two tokens BEFORE the bad one are
    lexed-but-unprocessed — they are lost with it (probed live: a late
    `+x` erases the preceding show AND its operand). ``_Reader`` raises
    it while it lexes ahead, so the stream stops with those two tokens
    unread; inside an inline-image dict it stops the page at "BI"."""


def _lex_op(data: bytes, pos: int) -> tuple[bytes, int]:
    """pdf.js Lexer command scan: returns (token, end). ``pos`` must
    sit on a non-special char. An unknown token extending past 128
    chars throws FormatError (pdf.worker.js:14302-14304)."""
    n = len(data)
    end = pos + 1
    tok = data[pos:end]
    known = tok in _KNOWN_OPS
    while end < n and data[end] not in _LEX_SPECIAL:
        cand = data[pos:end + 1]
        if known and cand not in _KNOWN_OPS:
            break
        if end - pos == 128:
            raise _LexThrow()  # "Command token too long"
        tok = cand
        end += 1
        known = tok in _KNOWN_OPS
    return tok, end


class _PageStop(Exception):
    """The content stream hit a construct whose pdf.js handling throws
    a FormatError/TypeError inside getTextContent — more than 33
    pending operands (pdf.worker.js:38668 "Too many arguments") or an
    array operand reaching showText (glyph iteration throws). With
    ignoreErrors (pdf-parse's configuration) the evaluator resolves
    with the PARTIAL text accumulated so far, so the catcher keeps the
    pieces and stops interpreting the page (probed live: 34 numeric
    operands before Tm end the page but keep prior text)."""

# ---------------------------------------------------------------------------
# Inline images (BI ... ID <data> EI), pdf.js Parser.makeInlineImage
# (pdf.worker.js:13684-13762). The text pipeline never decodes the image —
# only the resume position and the error semantics matter, but BOTH follow
# pdf.js's machinery exactly: the dict parse throws on non-Name keys, the
# stream end is found by a filter-specific scanner, the image substream
# becomes ONE operand consumed by the 1-arg EI op, and the byte that
# terminated the "ID" token was already swallowed as lexer.currentChar —
# the token AFTER the image starts with it (the "stale splice").
# ---------------------------------------------------------------------------

def _win_accept(w: bytes) -> bool:
    """findDefaultInlineStreamEnd's candidate validation (pdf.worker.js:
    13494-13515): a fresh Lexer over the 15-byte window counts operands
    until a command token — unknown command (or a null-valued opMap
    prefix entry like BM/BD, whose lookup is falsy) rejects, a known
    command with matching arity accepts, EOF rejects. Lexer FormatErrors
    (')' illegal char, invalid number) propagate as _LexThrow."""
    lexer = _Reader(w, 0, _SCAN)
    numargs = 0
    while True:
        tok = lexer.lex()
        if tok is _EOF:
            return False
        if type(tok) is not _Cmd:
            numargs += 1  # keyword objects count as operands
            continue
        spec = _OP_ARITY.get(tok.op)
        if spec is None:
            return False
        na, va = spec
        if (numargs <= na) if va else (numargs == na):
            return True
        numargs = 0


def _find_default_inline_end(data: bytes, start: int, n: int) -> int:
    """findDefaultInlineStreamEnd (pdf.worker.js:13449-13538), position
    only: E,I adjacency + SPACE/LF/CR (never tab) + the 15-byte
    printable-window check (NUL allowed only before another non-NUL or at
    the window edge) + the mini-lexer arity walk. On EOF, recovers to the
    LAST candidate (even a rejected one); with no candidate the rest of
    the stream is swallowed."""
    state = 0
    maybe = None
    i = start
    while i < n:
        ch = data[i]
        i += 1
        if state == 0:
            state = 1 if ch == 0x45 else 0
        elif state == 1:
            state = 2 if ch == 0x49 else 0
        else:
            if ch in (0x20, 0x0A, 0x0D):
                maybe = i
                win = data[i:i + 15]
                if not win:
                    return i  # peekBytes empty -> accepted at EOF
                ok = True
                wl = len(win)
                for j in range(wl):
                    b = win[j]
                    if b == 0 and (j + 1 >= wl or win[j + 1] != 0):
                        continue  # NUL before non-NUL (or OOB) allowed
                    if b != 0x0A and b != 0x0D and (b < 0x20 or b > 0x7F):
                        ok = False
                        break
                if not ok:
                    state = 0
                    continue
                if _win_accept(win):
                    return i
                state = 0
            else:
                state = 0
    return maybe if maybe is not None else n  # EOF recovery (worker:13524)


def _skip_ei(data: bytes, i: int, n: int) -> int:
    """inlineStreamSkipEI (pdf.worker.js:13669-13683): advance past the
    next E,I adjacency ANYWHERE plus ONE more byte (the loop getBytes the
    byte after I before noticing state === 2)."""
    state = 0
    while i < n:
        ch = data[i]
        i += 1
        if state == 0:
            state = 1 if ch == 0x45 else 0
        elif state == 1:
            state = 2 if ch == 0x49 else 0
        else:
            return i
    return i


def _find_ahx_end(data: bytes, i: int, n: int):
    """findASCIIHexDecodeInlineStreamEnd (pdf.worker.js:13651-13668):
    data ends at '>', then skip past the next EI anywhere."""
    while i < n:
        if data[i] == 0x3E:
            return _skip_ei(data, i + 1, n), True
        i += 1
    return i, False  # EOD not found -> default finder from the start


def _find_a85_end(data: bytes, i: int, n: int):
    """findASCII85DecodeInlineStreamEnd (pdf.worker.js:13617-13650):
    '~' + ws* + '>' ends the data; a '~' followed by whitespace and then
    a bare "EI" also ends it (without consuming the EI — skipEI does)."""
    while i < n:
        ch = data[i]
        i += 1
        if ch != 0x7E:
            continue
        tilde = i
        while i < n and data[i] in (0x20, 0x09, 0x0D, 0x0A):
            i += 1
        if i < n and data[i] == 0x3E:
            return _skip_ei(data, i + 1, n), True
        if i > tilde and data[i:i + 2] == b"EI":
            return _skip_ei(data, i, n), True
    return i, False


_DCT_MARKERS = (
    frozenset(range(0xC0, 0xD0)) - {0xC8}
) | frozenset(range(0xDA, 0xF0)) | {0xFE}


def _find_dct_end(data: bytes, i: int, n: int):
    """findDCTDecodeInlineStreamEnd (pdf.worker.js:13540-13616): walk
    JPEG markers to EOI (FFD9), skipping sized segments; then skip past
    the next EI anywhere. EOF without EOI -> default finder."""
    found = False
    while i < n:
        b = data[i]
        i += 1
        if b != 0xFF:
            continue
        b2 = data[i] if i < n else -1
        if i < n:
            i += 1
        if b2 == 0x00:
            pass
        elif b2 == 0xFF:
            i -= 1  # stream.skip(-1): re-examine
        elif b2 == 0xD9:
            found = True
        elif b2 in _DCT_MARKERS:
            hi = data[i] if i < n else -1
            if i < n:
                i += 1
            lo = data[i] if i < n else -1
            if i < n:
                i += 1
            ln = (hi << 8) + lo
            if ln > 2:
                i += ln - 2  # may run past n: subsequent getBytes are EOF
            else:
                i -= 2
        if found:
            break
    return (i, True) if found else (i, False)


def _lex_number(data: bytes, pos: int, n: int):
    """Lexer.getNumber (pdf.worker.js:13958-14031) transliteration:
    returns (value, end) with end = the index of the terminating char.
    One token covers e-notation ("1e2" == 100), a mid-token minus
    ("5-6" warns and reads 56), double leading minus, and CR/LF runs
    between the sign and the digits. A sign/dot followed by whitespace
    or EOF is a GRACEFUL 0 operand; followed by anything else it raises
    (FormatError "Invalid number"). Value arithmetic mirrors the
    reference's accumulation (per-step double rounding past 2**53,
    divideBy growth, 10**power); plain small integers return int for
    the document-space Ref/xref machinery."""
    i = pos

    def cur(j: int) -> int:
        return data[j] if j < n else -1

    ch = cur(i)
    sign = 1
    if ch == 0x2D:
        sign = -1
        i += 1
        ch = cur(i)
        if ch == 0x2D:  # double minus tolerated
            i += 1
            ch = cur(i)
    elif ch == 0x2B:
        i += 1
        ch = cur(i)
    while ch == 0x0A or ch == 0x0D:
        i += 1
        ch = cur(i)
    had_dot = False
    if ch == 0x2E:
        had_dot = True
        i += 1
        ch = cur(i)
    if ch < 0x30 or ch > 0x39:
        if ch in (0x20, 0x09, 0x0D, 0x0A) or ch == -1:
            return 0, i  # info() + return 0: a valid 0-valued operand
        raise _LexThrow()
    base = ch - 0x30  # exact int twin of the double accumulation
    basef = float(base)
    divf = 10.0 if had_dot else 0.0
    e_not = False
    power = 0
    psign = 1
    while True:
        i += 1
        ch = cur(i)
        if 0x30 <= ch <= 0x39:
            d_ = ch - 0x30
            if e_not:
                power = power * 10 + d_
            else:
                if divf != 0.0:
                    divf *= 10.0
                base = base * 10 + d_
                basef = basef * 10.0 + d_
        elif ch == 0x2E:
            if divf == 0.0:
                divf = 1.0
            else:
                break  # second dot ends the token
        elif ch == 0x2D:
            pass  # "minus sign in the middle" warn; scan continues
        elif ch == 0x45 or ch == 0x65:
            nx = cur(i + 1)
            if nx == 0x2B or nx == 0x2D:
                psign = -1 if nx == 0x2D else 1
                i += 1
            elif nx < 0x30 or nx > 0x39:
                break  # bare 'e': becomes the next token
            e_not = True
        else:
            break
    if divf == 0.0 and not e_not and base < (1 << 53):
        return sign * base, i  # exact; int type for document space
    val = basef
    if divf != 0.0:
        val /= divf  # inf divideBy (>308 fraction digits) -> 0.0, like JS
    if e_not:
        try:
            val *= 10.0 ** (psign * power)
        except OverflowError:
            val *= math.inf
    return sign * val, i


_HEX_VALUE = [-1] * 256
for _c in range(0x30, 0x3A):
    _HEX_VALUE[_c] = _c - 0x30
for _c in list(range(0x41, 0x47)) + list(range(0x61, 0x67)):
    _HEX_VALUE[_c] = (_c & 0x0F) + 9


def _hex_content(data: bytes, pos: int, n: int):
    """Lexer.getHexString (pdf.worker.js:14180-14219) for content
    streams: complete PAIRS only — a dangling first digit is DROPPED,
    not zero-padded (probed live: `<414>` shows "A"; spec 7.3.4.3's
    padding belongs to document space) — invalid chars warn-skipped,
    whitespace-class skipped, graceful at EOF. ``pos`` sits on '<'."""
    i = pos + 1
    out = bytearray()
    first = -1
    while i < n:
        ch = data[i]
        if ch == 0x3E:
            i += 1
            break
        if ch in _WS:
            i += 1
            continue
        x = _HEX_VALUE[ch]
        if x != -1:
            if first < 0:
                first = x
            else:
                out.append((first << 4) | x)
                first = -1
        i += 1
    return bytes(out), i


# ---------------------------------------------------------------------------
# The content reader: pdf.js Lexer.getObj + Parser (pdf.worker.js:
# 13370-13440), one per content stream and one per Form XObject body. The
# Parser keeps two lexed tokens buffered (buf1/buf2) and getObj shifts the
# next one in before it returns buf1. That one lookahead gives:
# - the lexer-throw cut: a Lexer throw (illegal ')', invalid number,
#   command token over 128 chars) fires while the two tokens before the
#   bad one are buffered and unprocessed, so they are lost with it (probed
#   live: `(ab) Tj (cd) Tj (ef) Tj +x` keeps only "abcd");
# - the Ref fold: three tokens `int int R` become ONE Ref operand, at top
#   level, in arrays and in inline-image dicts (JS Number.isInteger: "5.0"
#   qualifies; "R5" is one unknown command, not R). The Ref is a JS
#   object: ToString "5R" / "5R2" (gen appended only when nonzero,
#   worker:5525-5530), ToNumber NaN;
# - arrays and inline-image dict values, read by the same getObj:
#   commands are inert elements, an unclosed array is a
#   ParserEOFException (page stop, partial text kept).
# Strings, names and dicts are read by pdfb.parse_object. Where the reader
# keeps an older reading than pdf.js's Parser, the spot says "kept".
# ---------------------------------------------------------------------------


class _Cmd:
    """A command token (pdf.js Cmd); known commands are interned. As an
    array element or inline-dict value a Cmd is an inert JS object:
    truthy, ToString "[object Object]", dropped by showSpacedText."""

    __slots__ = ("op",)

    def __init__(self, op: bytes) -> None:
        self.op = op


class _Tok:
    """A reader-internal token. A ``barrier`` ends the lookahead: nothing
    is lexed past it until the parser has read it."""

    __slots__ = ("barrier",)

    def __init__(self, barrier: bool) -> None:
        self.barrier = barrier


_EOF = _Tok(False)
# the inline-image stream operand (worker:13761 returns the imageStream
# object; the preprocessor pushes it and the 1-arg EI consumes it)
_IMG_OPERAND = _Tok(False)
_EMPTY = _Tok(True)  # a slot not lexed yet: filled when it is reached
_PAD = _Tok(False)  # a dict's first slot (pdf.js reads it as >= 2 tokens)
_STOP = _Tok(True)  # the stream stops here (an image pdf.js throws on, ...)
_SPLICED = _Tok(True)  # an inline image whose ID terminator starts the rest
_ID = _Tok(True)  # the "ID" that ends an inline-image dict
_THROW = _Tok(False)  # a Lexer throw due at the next token (_diverge)

_UNKNOWN = object()
_CMDS: dict = {op: _Cmd(op) for op in _KNOWN_OPS | {b"R"}}
_CMDS.update({b"true": True, b"false": False, b"null": None})
_BI = _CMDS[b"BI"]
_IDC = _CMDS[b"ID"]
_R = _CMDS[b"R"]
_LBRACK = _Cmd(b"[")
_RBRACK = _Cmd(b"]")
_PUNCT = {0x5B: _LBRACK, 0x5D: _RBRACK, 0x7B: _Cmd(b"{"), 0x7D: _Cmd(b"}")}
_JUNK = _Cmd(b"")  # ">", ">>" or a byte no token starts with
_BAD = _Cmd(b"<<")  # a top-level "<<" that parse_object rejects
_NUM_START = frozenset(b"+-.0123456789")
_OP_START = frozenset(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz'\""
)
_NO_CUT = 1 << 62

# reader modes: a content stream; an inline-image dict (every throw in it
# stops the page at "BI", so its lookahead loses nothing); pdf.js's bare
# Lexer ("BI" and "<<" are plain commands), for _win_accept and _zone
_STREAM, _INLINE, _SCAN = 0, 1, 2


class _Reader:
    """pdf.js Lexer + Parser over ``data`` from ``pos``. ``get_obj``
    returns the next operand or ``_Cmd`` (``_EOF`` at the end) and raises
    ``_LexThrow`` / ``_PageStop`` where pdf.js throws."""

    __slots__ = (
        "data", "n", "pos", "mode", "buf1", "buf2", "pend", "depth",
        "cut", "zone_end",
    )

    def __init__(self, data: bytes, pos: int = 0, mode: int = _STREAM):
        self.data = data
        self.n = len(data)
        self.pos = pos
        self.mode = mode
        self.buf1 = self.buf2 = _EMPTY
        self.pend = None  # the token due next: the dict behind a _PAD
        self.depth = 0  # "[" lexed and not yet closed
        self.cut = _NO_CUT  # no token is read from here on (_diverge)
        self.zone_end = -1  # before it the rules of _zone hold

    # ---- Lexer.getObj ----
    def lex(self):
        if self.pend is not None:
            tok, self.pend = self.pend, None
            if tok is _THROW:
                raise _LexThrow()
            return tok
        data = self.data
        pos = _skip_ws(data, self.pos)
        if pos >= self.cut:
            return _STOP
        n = self.n
        if pos >= n:
            self.pos = pos
            return _EOF
        c = data[pos]
        if c in _NUM_START:
            try:
                tok, self.pos = _lex_number(data, pos, n)
            except _LexThrow:
                if pos < self.zone_end:
                    return _STOP
                raise
            return tok
        if c in _OP_START:
            try:
                op, self.pos = _lex_op(data, pos)
            except _LexThrow:
                if pos < self.zone_end:
                    return _STOP
                raise
            tok = _CMDS.get(op, _UNKNOWN)
            if tok is _UNKNOWN:
                return _Cmd(op)
            if tok is _BI and self.mode == _STREAM:
                if not self.depth:
                    return self._image()
                # kept: in an array "BI" is an inert element (pdf.js
                # reads a nested inline image)
                if pos < self.zone_end:
                    return tok
                return self._diverge(pos, _image_skip(data, self.pos)) or tok
            if tok is _IDC and self.mode == _INLINE:
                return _ID
            return tok
        if c == 0x28 or c == 0x2F:  # (string) or /Name
            tok, self.pos = parse_object(data, pos, refs=False)
            return tok
        if c == 0x3C:
            if data.startswith(b"<<", pos):
                return self._dict(pos)
            tok, self.pos = _hex_content(data, pos, n)
            return tok
        self.pos = pos + 1
        tok = _PUNCT.get(c)
        if tok is not None:
            if tok is _LBRACK:
                self.depth += 1
            elif tok is _RBRACK and self.depth:
                self.depth -= 1
            return tok
        if c == 0x29:
            if pos < self.zone_end:
                return _BAD if self.depth else _JUNK
            raise _LexThrow()  # "Illegal character"
        if c == 0x3E:
            if data.startswith(b">>", pos):
                self.pos = pos + 2
            return _JUNK
        if (
            (self.mode == _INLINE or (self.mode == _STREAM and self.depth))
            and not ((c < 0x20 or c > 0x7F) and pos + 1 < n
                     and 0x20 <= data[pos + 1] <= 0x7F)
        ):
            # pdf.js's command scan from any other byte; the unprintable
            # single-char Cmd rule is worker:14287-14293
            try:
                op, self.pos = _lex_op(data, pos)
            except _LexThrow:
                if self.mode == _INLINE:
                    raise
                return _STOP  # a page stop at "["
            tok = _Cmd(op)
            if self.mode == _INLINE or self.pos == pos + 1:
                return tok
            return self._diverge(pos, pos + 1) or tok
        # kept: outside arrays such a byte is a token on its own, so
        # "*Tj" runs Tj (pdf.js: one unknown command "*Tj")
        return _JUNK

    def _dict(self, pos: int):
        """A "<<" dict read by pdfb.parse_object. In a content stream it
        fills two lookahead slots (_PAD, then the dict): pdf.js's Parser
        reads it from at least two tokens, none of which can throw when
        the document grammar accepts it."""
        data = self.data
        if self.mode == _SCAN:
            self.pos = pos + 2
            return _JUNK
        try:
            tok, end = parse_object(data, pos, refs=self.mode == _INLINE)
        except ValueError:
            if self.mode == _INLINE:
                raise _PageStop() from None
            # kept: a rejected dict skips its first byte, so "<" starts a
            # hex string ("<< 5 6 >> Tj" shows "V"; pdf.js's Parser drops
            # the non-Name keys and shows nothing)
            self.pos = pos + 1
            return self._diverge(pos, pos + 2) or _BAD
        self.pos = end
        if self.mode == _INLINE:
            return tok
        self.pend = tok
        return _PAD

    def _diverge(self, start: int, theirs: int | None):
        """This reader's token at ``start`` is not pdf.js's, whose next
        token starts at ``theirs`` (None: no cut is sought past here).
        Sets the span and the cut of ``_zone``; returns _STOP when the cut
        falls on this token, else None."""
        if start < self.zone_end:
            return None  # the walk that set this span covered it
        if theirs is None:
            self.zone_end = _NO_CUT
            return None
        end, cut = _zone(self.data, self.pos, theirs, start, self.depth)
        self.zone_end = end
        if cut is None:
            return None
        if cut < 0:
            self.pend = _THROW
        elif cut == start:
            return _STOP
        else:
            self.cut = min(self.cut, cut)
        return None

    def _image(self):
        """Parser.makeInlineImage (pdf.worker.js:13684-13762) for the
        text pipeline, read as ONE token from right after "BI": the image
        operand the 1-arg EI consumes, or _STOP where pdf.js throws (a
        non-Name dict key, "ID" in a value slot, a Lexer throw in the
        dict or in the end finder's window). The byte that terminated
        "ID" was swallowed as lexer.currentChar; when it is not a skip
        char the token after the image starts with it (the stale splice:
        worker:13759 synthesizes buf2 = Cmd("EI") and shift() lexes from
        the stale currentChar), so the reader goes on over that byte and
        the rest, and the image is a barrier."""
        data, n = self.data, self.n
        try:
            end, term = _image_end(data, self.pos, n)
        except (_LexThrow, _PageStop):
            return _STOP
        if term is not None and term not in _WS:
            self.data = bytes((term,)) + data[end:]
            self.n = len(self.data)
            self.pos = 0
            self.cut = _NO_CUT
            self.zone_end = -1
            return _SPLICED
        self.pos = end
        return _IMG_OPERAND

    # ---- Parser ----
    def refill(self) -> None:
        b1 = self.buf1 = self.lex()
        self.buf2 = _EMPTY if type(b1) is _Tok and b1.barrier else self.lex()

    def shift(self) -> None:
        b2 = self.buf1 = self.buf2
        self.buf2 = _EMPTY if type(b2) is _Tok and b2.barrier else self.lex()

    def get_obj(self):
        b = self.buf1
        if type(b) is _Tok:
            if b is _EOF:
                return b
            if b is _EMPTY:
                self.refill()
                return self.get_obj()
            if b is _STOP:
                raise _PageStop()
            self.shift()
            if b is _PAD:
                return self.get_obj()
            return _IMG_OPERAND if b is _SPLICED else b
        self.shift()
        t = type(b)
        if t is int or t is float:
            g = self.buf1
            tg = type(g)
            if (
                self.buf2 is _R
                and (t is int or b.is_integer())
                and (tg is int or (tg is float and g.is_integer()))
            ):
                self.shift()
                self.shift()
                return Ref(b, g)
            return b
        if b is _LBRACK:
            out = []
            while True:
                e = self.buf1
                if e is _RBRACK:
                    self.shift()
                    return out
                if e is _EOF:
                    raise _PageStop()  # ParserEOFException
                if e is _EMPTY:
                    self.refill()
                    continue
                e = self.get_obj()
                if e is _BAD:
                    # kept: pdf.js would keep the dict minus its non-Name
                    # keys as the element
                    raise _PageStop()
                out.append(e)
        return b

    def inline_dict(self):
        """The inline-image dict up to "ID": (entries, end of the "ID"
        token, or None at EOF). Raises _PageStop at a non-Name key
        (worker:13691) and at "ID" in a value slot (buf1 becomes null the
        next iteration). Kept: "BI" in here is an inert command (pdf.js
        recurses into a nested makeInlineImage)."""
        dm: dict = {}
        while True:
            if self.buf1 is _EMPTY:
                self.refill()
            key = self.buf1
            if key is _ID:
                return dm, self.pos
            if key is _EOF:
                return dm, None
            if type(key) is not Name:
                raise _PageStop()
            self.shift()
            if self.buf1 is _ID:
                raise _PageStop()
            if self.buf1 is _EOF:
                return dm, None
            dm[str(key)] = self.get_obj()


def _image_end(data: bytes, pos: int, n: int):
    """(end, ID terminator byte or None) of the inline image whose dict
    starts at ``pos``. Kept: a Ref-valued F/Filter stays a Ref (pdf.js
    resolves it), so the default end finder runs."""
    dm, idpos = _Reader(data, pos, _INLINE).inline_dict()
    if idpos is not None and idpos < n:
        term = data[idpos]
        start = idpos + 1
    else:
        term = None
        start = n if idpos is None else idpos
    f = dm.get("F")
    flt = f if truthy(f) else dm.get("Filter")  # dictMap.F || dictMap.Filter
    fname = None
    if isinstance(flt, Name):
        fname = str(flt)
    elif isinstance(flt, list) and flt and isinstance(flt[0], Name):
        fname = str(flt[0])
    if fname in ("DCT", "DCTDecode"):
        end, found = _find_dct_end(data, start, n)
    elif fname in ("A85", "ASCII85Decode"):
        end, found = _find_a85_end(data, start, n)
    elif fname in ("AHx", "ASCIIHexDecode"):
        end, found = _find_ahx_end(data, start, n)
    else:
        end, found = _find_default_inline_end(data, start, n), True
    if not found:
        # EOD marker never seen: rewind and search for /EI/ instead
        end = _find_default_inline_end(data, start, n)
    return end, term


def _image_skip(data: bytes, pos: int) -> int | None:
    """The end of the inline image whose dict starts at ``pos``, or None
    where pdf.js throws on it or the token after it is spliced."""
    try:
        end, term = _image_end(data, pos, len(data))
    except (_LexThrow, _PageStop):
        return None
    return end if term is None or term in _WS else None


def _zone(data: bytes, ours: int, theirs: int, start: int, depth: int):
    """Where this reader's token at ``start`` differs from pdf.js's, it
    goes on at ``ours`` with its own tokens and pdf.js's Lexer at
    ``theirs`` with its own. Returns (end, cut). Before ``end``, where the
    two token streams meet again (or where ours stops), only pdf.js's
    tokens throw: the reader skips its own ')' (a page stop in an array)
    and stops where its own Lexer throw stands. ``cut`` is where pdf.js's
    first Lexer throw up to two tokens past ``end`` stops the stream: the
    start of the second token before the throwing one (-1: the one
    before ``start``), or None. An inline image on pdf.js's side that
    throws or splices ends the search with no cut (kept: pdf.js reads
    on)."""
    n = len(data)
    rd = _Reader(data, ours)
    rd.zone_end = _NO_CUT
    rd.depth = depth
    pdfjs = _Reader(data, theirs, _SCAN)
    starts = [-1, start]  # pdf.js's token starts so far
    meet = end = None
    past = 0
    r = _skip_ws(data, ours)
    while True:
        p = _skip_ws(data, pdfjs.pos)
        while meet is None and r < p:
            tok = rd.lex()
            if tok is _STOP or tok is _SPLICED:
                meet, end = r, r + 1  # ours stops at r
            else:
                r = _skip_ws(data, rd.pos)
        if meet is None and r == p:
            meet = end = p
        if meet is not None and p >= meet:
            if past == 2 or p >= n:
                return end, None
            past += 1
        try:
            tok = pdfjs.lex()
        except _LexThrow:
            return (n if end is None else end), starts[-2]
        if tok is _BI:
            pdfjs.pos = _image_skip(data, pdfjs.pos)
            if pdfjs.pos is None:
                return (_NO_CUT if end is None else end), None
        starts.append(p)


NAN = float("nan")
INF = float("inf")

# JS Number("...") grammar (trimmed StringNumericLiteral): decimal /
# hex / octal / binary literals and signed Infinity. Python float()
# is LOOSER ("nan", "infinity", "1_0") — validate first.
_JS_NUM_RE = re.compile(
    r"[+-]?(?:Infinity|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)\Z"
)
_JS_HEX_RE = re.compile(r"0[xX][0-9a-fA-F]+\Z")
_JS_OCT_RE = re.compile(r"0[oO][0-7]+\Z")
_JS_BIN_RE = re.compile(r"0[bB][01]+\Z")
# JS String.prototype.trim / ToNumber whitespace (WhiteSpace +
# LineTerminator — the same class pdf.js's category check uses)
_JS_TRIM = "".join(sorted(_JS_WS)) + "  "


def js_num_str(x: float) -> str:
    """ECMAScript Number::toString(x) (ECMA-262 6.1.6.1.20): the shortest
    round-trip digits (``repr``'s, as in V8), written out for decimal
    exponents -6 < n <= 21 and in e-notation beyond ("1e-7",
    "123456789012345680000", "1e+21")."""
    if x != x:
        return "NaN"
    if x == 0:
        return "0"  # -0 too
    if x < 0:
        return "-" + js_num_str(-x)
    if x == INF:
        return "Infinity"
    mant, _, e = repr(x).partition("e")
    whole, _, frac = mant.partition(".")
    s = (whole + frac).lstrip("0")
    k = len(s.rstrip("0"))
    # x = s[:k] * 10**(n - k)
    n = int(e or 0) - len(frac) + len(s)
    s = s[:k]
    if k <= n <= 21:
        return s + "0" * (n - k)
    if 0 < n <= 21:
        return s[:n] + "." + s[n:]
    if -6 < n <= 0:
        return "0." + "0" * -n + s
    exp = f"e{'+' if n > 0 else '-'}{abs(n - 1)}"
    return (s[0] + "." + s[1:] if k > 1 else s) + exp


def to_string(v) -> str:
    """JS ToString over the operand universe parse_object produces."""
    if v is None:
        return "null"  # never reached via arrays (join maps null to "")
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return js_num_str(float(v))
    if isinstance(v, bytes):
        return v.decode("latin-1")  # pdf.js Lexer strings are byte chars
    if isinstance(v, str) and not isinstance(v, Name):
        # already a JS string (produced by a prior js_add concat);
        # Name subclasses str but is an OBJECT in JS — falls through to
        # "[object Object]" (a numeric /5 must NOT stringify to "5")
        return v
    if isinstance(v, list):
        # Array#toString == join(","); null/undefined elements join as ""
        return ",".join(
            "" if e is None else to_string(e) for e in v
        )
    if isinstance(v, Ref):
        # Ref#toString: "5R" / "5R2" — gen appended only when nonzero
        # (pdf.worker.js:5525-5530); num/gen are JS numbers ("5.0" -> "5")
        s = js_num_str(float(v.num)) + "R"
        if v.gen != 0:
            s += js_num_str(float(v.gen))
        return s
    return "[object Object]"  # Name instances, dicts (no toString override)


def _str_to_num(s: str) -> float:
    t = s.strip(_JS_TRIM)
    if not t:
        return 0.0
    if _JS_NUM_RE.match(t):
        return float(t.replace("Infinity", "inf"))
    if _JS_HEX_RE.match(t) or _JS_OCT_RE.match(t) or _JS_BIN_RE.match(t):
        return float(int(t, 0))
    return NAN


def to_number(v) -> float:
    """JS ToNumber."""
    if type(v) is float:
        return v
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, (int, float)):
        return float(v)
    if v is None:
        return 0.0  # Number(null); null never lands in slots (not pushed)
    if isinstance(v, Name) or isinstance(v, dict):
        return NAN  # ToPrimitive -> "[object Object]"
    if isinstance(v, bytes):
        return _str_to_num(v.decode("latin-1"))
    if isinstance(v, str):
        return _str_to_num(v)
    if isinstance(v, list):
        return _str_to_num(to_string(v))
    return NAN


def js_add(a, b):
    """JS ``+``: string-concat when either ToPrimitive is a string
    (strings, arrays, dicts, Names), else numeric. Returns float or str."""
    if type(a) is float and type(b) is float:
        return a + b
    a_str = isinstance(a, (bytes, str, list, dict, Ref)) \
        and not isinstance(a, bool)
    b_str = isinstance(b, (bytes, str, list, dict, Ref)) \
        and not isinstance(b, bool)
    if a_str or b_str:
        sa = to_string(a) if a_str else js_num_str(to_number(a))
        sb = to_string(b) if b_str else js_num_str(to_number(b))
        return sa + sb
    return to_number(a) + to_number(b)


def truthy(v) -> bool:
    """JS ToBoolean: NaN/0/""/null falsy; objects (even []) truthy."""
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return v == v and v != 0.0
    if isinstance(v, Name):
        return True  # JS objects are always truthy (even an empty /)
    if isinstance(v, (bytes, str)):
        return len(v) > 0
    return v is not None


def jmul(a, b) -> float:
    if type(a) is float and type(b) is float:
        return a * b
    return to_number(a) * to_number(b)


def jdiv(a: float, b: float) -> float:
    """IEEE division (JS semantics: x/0 is ±Infinity, 0/0 is NaN)."""
    try:
        return a / b
    except ZeroDivisionError:
        return a * math.copysign(INF, b)


def strict_eq(a, b) -> bool:
    """JS ``===`` over the operand universe. pdf.js interns Name
    instances (Name.get), so equal-text Names ARE identical; arrays and
    dicts are fresh per parse, so reference equality is always false."""
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)  # NaN === NaN is false, matches !=
    if isinstance(a, bytes) and isinstance(b, bytes):
        return a == b  # JS strings compare by value
    if isinstance(a, Name) and isinstance(b, Name):
        return str(a) == str(b)
    if a is None and b is None:
        return True
    return a is b


def _floats(m) -> list | None:
    """The matrix as floats when every cell is a plain number (the common
    case), else None."""
    out = []
    for v in m:
        t = type(v)
        if t is float:
            out.append(v)
        elif t is int:
            out.append(float(v))
        else:
            return None
    return out


def jtransform(m1, m2) -> list:
    """Util.transform (pdf.worker.js Util.transform) with JS operator
    semantics: the four products sum numerically, the trailing ``+ m1[4]``
    / ``+ m1[5]`` is a JS ``+`` (a raw string slot CONCATENATES — Td onto
    a string-holding e slot gives "105", not 15)."""
    f1 = _floats(m1)
    f2 = _floats(m2) if f1 is not None else None
    if f2 is not None:
        a, b, c, d, e, f = f1
        g, h, i, j, k, l_ = f2
        return [
            a * g + c * h, b * g + d * h, a * i + c * j, b * i + d * j,
            a * k + c * l_ + e, b * k + d * l_ + f,
        ]
    return [
        jmul(m1[0], m2[0]) + jmul(m1[2], m2[1]),
        jmul(m1[1], m2[0]) + jmul(m1[3], m2[1]),
        jmul(m1[0], m2[2]) + jmul(m1[2], m2[3]),
        jmul(m1[1], m2[2]) + jmul(m1[3], m2[3]),
        js_add(jmul(m1[0], m2[4]) + jmul(m1[2], m2[5]), m1[4]),
        js_add(jmul(m1[1], m2[4]) + jmul(m1[3], m2[5]), m1[5]),
    ]


_IDENTITY = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]


class _TextState:
    """pdf.js TextState (pdf.worker.js:38133-38189) — every slot holds
    the RAW operand value (float, bytes, list, dict, Name); matrices are
    6-cell lists whose e/f cells may hold strings after a junk translate."""

    __slots__ = (
        "ctm", "font", "font_name", "font_size", "char_spacing",
        "word_spacing", "leading", "h_scale", "rise", "tm", "lm",
    )

    def __init__(self) -> None:
        self.ctm = list(_IDENTITY)
        self.font = None  # FontMap | None (loadFont never fails with
        # ignoreErrors: missing names resolve to the Helvetica fallback)
        self.font_name = None  # raw .name (str) or None (undefined)
        self.font_size = 0.0  # raw
        self.char_spacing = 0.0  # raw
        self.word_spacing = 0.0  # raw
        self.leading = 0.0  # raw (TL); TD stores -ToNumber
        self.h_scale = 1.0  # float (JS divides by 100 at store)
        self.rise = 0.0  # raw
        self.tm = list(_IDENTITY)
        self.lm = list(_IDENTITY)

    def clone(self) -> "_TextState":
        c = _TextState.__new__(_TextState)
        c.ctm = self.ctm  # reassigned-not-mutated, like the JS proto chain
        c.font = self.font
        c.font_name = self.font_name
        c.font_size = self.font_size
        c.char_spacing = self.char_spacing
        c.word_spacing = self.word_spacing
        c.leading = self.leading
        c.h_scale = self.h_scale
        c.rise = self.rise
        c.tm = list(self.tm)
        c.lm = list(self.lm)
        return c

    # TextState.translateTextMatrix (pdf.worker.js:38167):
    # m[4] = m[0]*x + m[2]*y + m[4] — products numeric, trailing + is JS +
    def translate_tm(self, x, y) -> None:
        m = self.tm
        m[4] = js_add(jmul(m[0], x) + jmul(m[2], y), m[4])
        m[5] = js_add(jmul(m[1], x) + jmul(m[3], y), m[5])

    def translate_lm(self, x, y) -> None:
        m = self.lm
        m[4] = js_add(jmul(m[0], x) + jmul(m[2], y), m[4])
        m[5] = js_add(jmul(m[1], x) + jmul(m[3], y), m[5])

    def carriage_return(self) -> None:
        self.translate_lm(0.0, -to_number(self.leading))
        self.tm = list(self.lm)


class _Item:
    """textContentItem (pdf.worker.js:36347-36371) — fields persist
    STALE across flushes; only ensureTextContentItem re-initializes."""

    __slots__ = (
        "initialized", "str", "width", "height", "vertical",
        "prev_transform", "text_advance_scale", "space_in_flow_min",
        "space_in_flow_max", "tracking_space_min", "negative_space_max",
        "not_a_space", "transform", "has_eol",
    )

    def __init__(self) -> None:
        self.initialized = False
        self.str: list[str] = []
        self.width = 0.0
        self.height = 0.0
        self.vertical = False
        self.prev_transform = None
        self.text_advance_scale = 0.0
        self.space_in_flow_min = 0.0
        self.space_in_flow_max = 0.0
        self.tracking_space_min = INF
        self.negative_space_max = -INF
        self.not_a_space = -INF
        self.transform = None
        self.has_eol = False


def _js_sign(x: float) -> float:
    """Math.sign: NaN stays NaN (it multiplies every threshold)."""
    if x != x:
        return NAN
    if x > 0:
        return 1.0
    if x < 0:
        return -1.0
    return 0.0


class JsStop(Exception):
    """FormatError inside getTextContent — page stops, partial kept."""


class NeedsCharsCache(Exception):
    """A page-local JsVM reached an operand that needs JS coercion (see
    ``_needs_coercion``): the caller re-runs the page with the
    document's charsCache."""


# op -> how many TRAILING operands feed numeric text-state slots (Tf:
# only the size; the quote's string operand is checked apart). cm feeds
# Util.transform, whose e/f products coerce the same way.
_NUMERIC_SLOTS: dict[bytes, int] = {
    b"Tc": 1, b"Tw": 1, b"Tz": 1, b"TL": 1, b"Ts": 1, b"Tf": 1,
    b"Td": 2, b"TD": 2, b"Tm": 6, b"cm": 6,
}


def _is_num(v) -> bool:
    return isinstance(v, (int, float))


def _needs_coercion(op: bytes, args: list) -> bool:
    """The operator's (arity-checked) operands need pdf.js's raw-store +
    use-site coercion or touch the charsCache non-transparently: a
    non-numeric operand in a numeric slot, a non-Name font operand, a
    negative font size, a non-string chars operand."""
    n = _NUMERIC_SLOTS.get(op)
    if n is not None:
        if not all(_is_num(v) for v in args[-n:]):
            return True
        return op == b"Tf" and (
            not isinstance(args[0], Name) or args[1] < 0
        )
    if op == b'"':
        return not (
            _is_num(args[0]) and _is_num(args[1])
            and isinstance(args[2], bytes)
        )
    if op == b"Tj" or op == b"'":
        return not isinstance(args[0], bytes)
    return False


def _is_zwd(u: str) -> bool:
    """isZeroWidthDiacritic: the category regex's (\\p{Mn}) alternative
    is UNANCHORED — any Mn char anywhere (pdf.worker.js:20974)."""
    return any(unicodedata.category(ch) == "Mn" for ch in u)


TRACKING_SPACE_FACTOR = 0.102
NOT_A_SPACE_FACTOR = 0.03
NEGATIVE_SPACE_FACTOR = -0.2
SPACE_IN_FLOW_MIN_FACTOR = 0.102
SPACE_IN_FLOW_MAX_FACTOR = 0.6
VERTICAL_SHIFT_RATIO = 0.25


class JsVM:
    """One page's getTextContent run over ``doc``, clipped to the page
    ``viewbox`` (None: no clipping). Fonts resolve through the
    ``Document``, as on the C path, so both tiers see identical
    FontMaps.

    ``chars_caches`` is the document's per-font charsCache. Without it
    the run keeps a page-local cache, which plain string shows see as
    transparent, and raises ``NeedsCharsCache`` at the first operand
    that needs JS coercion."""

    MAX_DEPTH = 8

    def __init__(self, doc, viewbox: list[float] | None = None,
                 chars_caches: dict | None = None) -> None:
        self.doc = doc
        self.viewbox = viewbox
        self.items: list[tuple[str, float]] = []  # (str, transform[5])
        # per-font Font._charsCache twins (pdf.worker.js:28064): keyed
        # by the FontMap OBJECT (pdf.js caches translated fonts per
        # document, so the cache survives across pages/forms of one
        # document run — the caller threads one dict through every
        # JsVM of a parse_pdf_bytes invocation)
        self.page_local = chars_caches is None
        self.chars_caches: dict = (
            {} if chars_caches is None else chars_caches
        )

    def _chars_to_glyphs(self, fm, chars) -> list:
        """Font.charsToGlyphs (pdf.worker.js:29819-29846) over raw JS
        values: the ``this._charsCache[chars]`` property lookup
        STRINGIFIES the operand (arrays -> join(","), Names/dicts ->
        "[object Object]", numbers -> Number#toString), and a stored
        entry — even an EMPTY glyph array, which is a truthy JS object
        — returns the ORIGINAL string's glyphs. Only a miss reaches
        ``chars.length`` / ``chars.charCodeAt``: an array with length
        > 0 throws (TypeError -> page stop), while values with NO
        .length (numbers, Names, dicts, booleans) skip the glyph loop
        entirely and POISON the key with [] (the unconditional
        ``return this._charsCache[chars] = glyphs``) — silencing every
        later show of the toString-equal string on this font."""
        if fm.error:
            # ErrorFont.charsToGlyphs() (pdf.worker.js:29909) ignores
            # its argument entirely: no cache, no throw, no glyphs
            return []
        cache = self.chars_caches.get(fm)
        if cache is None:
            cache = self.chars_caches[fm] = {}
        key = to_string(chars)
        cached = cache.get(key)
        if cached is not None:
            return cached  # JS `if (glyphs)`: even [] is truthy
        if isinstance(chars, bytes):
            codes = fm.codes(chars)
        elif isinstance(chars, list) and len(chars) > 0:
            raise JsStop()  # chars.charCodeAt is not a function
        else:
            codes = []  # []/number/Name/dict/bool: loop never runs
        cache[key] = codes
        return codes

    # ---- pdf-parse render_page join (lib/pdf-parse.js:16-46) ----
    def text(self) -> str:
        out: list[str] = []
        last_y: float | None = None
        for s, y in self.items:
            if last_y is not None and abs(y - last_y) > 1.0:
                out.append("\n")
            out.append(s)
            last_y = y
        return "".join(out)

    def run_page(self, data: bytes, resources) -> None:
        try:
            self._run(data, resources, _TextState(), 0, frozenset())
        except JsStop:
            pass  # FormatError with ignoreErrors: partial text kept

    # ---- one getTextContent invocation (stream + own StateManager) ----
    def _run(self, data: bytes, resources, state: _TextState,
             depth: int, seen: frozenset) -> None:
        doc = self.doc
        res = doc.resolve(resources) or {}
        fonts_dict = (
            doc.resolve(res.get("Font")) if isinstance(res, dict) else {}
        )
        xobjs = (
            doc.resolve(res.get("XObject")) if isinstance(res, dict) else {}
        )
        extg = (
            doc.resolve(res.get("ExtGState")) if isinstance(res, dict) else {}
        )
        items = self.items
        item = _Item()
        state_stack: list[_TextState] = []
        # twoLastChars ring (pdf.worker.js:36371-36385) — per invocation
        ring = [" ", " "]
        ring_pos = 0

        def save_last_char(ch: str) -> bool:
            nonlocal ring_pos
            nxt = (ring_pos + 1) % 2
            ret = ring[ring_pos] != " " and ring[nxt] == " "
            ring[ring_pos] = ch
            ring_pos = nxt
            return ret

        def should_add_whitespace() -> bool:
            return (
                ring[ring_pos] != " "
                and ring[(ring_pos + 1) % 2] == " "
            )

        def reset_last_chars() -> None:
            nonlocal ring_pos
            ring[0] = ring[1] = " "
            ring_pos = 0

        def get_current_text_transform() -> list:
            # tsm = [fs*hs, 0, 0, fs, 0, rise] with fs/rise RAW
            # (pdf.worker.js:36419); outer compose against ctm floats
            tsm = [
                jmul(state.font_size, state.h_scale), 0.0, 0.0,
                state.font_size, 0.0, state.rise,
            ]
            return jtransform(state.ctm, jtransform(state.tm, tsm))

        def ensure_item() -> _Item:
            if item.initialized:
                return item
            trm = item.transform = get_current_text_transform()
            item.width = 0.0
            item.height = math.hypot(trm[2], trm[3])
            item.vertical = False
            scale_line_x = math.hypot(
                to_number(state.lm[0]), to_number(state.lm[1])
            )
            scale_ctm_x = math.hypot(state.ctm[0], state.ctm[1])
            item.text_advance_scale = scale_ctm_x * scale_line_x
            fs = to_number(state.font_size)
            item.tracking_space_min = fs * TRACKING_SPACE_FACTOR
            item.not_a_space = fs * NOT_A_SPACE_FACTOR
            item.negative_space_max = fs * NEGATIVE_SPACE_FACTOR
            item.space_in_flow_min = fs * SPACE_IN_FLOW_MIN_FACTOR
            item.space_in_flow_max = fs * SPACE_IN_FLOW_MAX_FACTOR
            item.has_eol = False
            item.initialized = True
            return item

        def update_advance_scale() -> None:
            if not item.initialized:
                return
            scale_line_x = math.hypot(
                to_number(state.lm[0]), to_number(state.lm[1])
            )
            scale_factor = (
                math.hypot(state.ctm[0], state.ctm[1]) * scale_line_x
            )
            if scale_factor == item.text_advance_scale:
                return
            item.width = 0.0
            item.text_advance_scale = scale_factor

        def flush_item() -> None:
            if not item.initialized:
                return
            # runBidiTransform (pdf.worker.js:36495-36510):
            # normalizeUnicode over the item's string, then bidi
            s = "".join(item.str)
            if _NORM_RE.search(s) is not None:
                s = _normalize_unicode(s)
            items.append((_bidi_mod.visual(s), item.transform[5]))
            item.initialized = False
            item.str.clear()

        def push_whitespace(transform=None) -> None:
            t = transform if transform is not None else item.prev_transform
            items.append((" ", t[5]))

        def append_eol() -> None:
            reset_last_chars()
            if item.initialized:
                item.has_eol = True
                flush_item()
            else:
                items.append(("", get_current_text_transform()[5]))

        def add_fake_spaces(width: float, transf, orient: float) -> bool:
            if (
                orient * item.space_in_flow_min <= width
                and width <= orient * item.space_in_flow_max
            ):
                if item.initialized:
                    reset_last_chars()
                    item.str.append(" ")
                return False
            flush_item()
            reset_last_chars()
            push_whitespace(
                transf if transf is not None
                else get_current_text_transform()
            )
            return True

        def apply_inverse_rotation(x, y, m):
            scale = math.hypot(m[0], m[1])
            return (
                jdiv(m[0] * x + m[1] * y, scale),
                jdiv(m[2] * x + m[3] * y, scale),
            )

        def compare_with_last_position(glyph_width: float) -> bool:
            # pdf.worker.js:36526-36660, horizontal branch only
            ct = get_current_text_transform()
            pos_x, pos_y = ct[4], ct[5]
            vb = self.viewbox
            if vb is not None and (
                pos_x + glyph_width < vb[0] or pos_x > vb[2]
                or pos_y < vb[1] or pos_y > vb[3]
            ):
                return False
            if state.font is None or item.prev_transform is None:
                return True
            last_x, last_y = item.prev_transform[4], item.prev_transform[5]
            if last_x == pos_x and last_y == pos_y:
                return True
            rotate = -1
            if truthy(ct[0]) and ct[1] == 0.0 and ct[2] == 0.0:
                rotate = 0 if ct[0] > 0 else 180
            elif truthy(ct[1]) and ct[0] == 0.0 and ct[3] == 0.0:
                rotate = 90 if ct[1] > 0 else 270
            if rotate == 90:
                pos_x, pos_y = pos_y, pos_x
                last_x, last_y = last_y, last_x
            elif rotate == 180:
                pos_x, pos_y = -pos_x, -pos_y
                last_x, last_y = -last_x, -last_y
            elif rotate == 270:
                pos_x, pos_y = -pos_y, -pos_x
                last_x, last_y = -last_y, -last_x
            elif rotate == -1:
                pos_x, pos_y = apply_inverse_rotation(pos_x, pos_y, ct)
                last_x, last_y = apply_inverse_rotation(
                    last_x, last_y, item.prev_transform
                )
            adv_x = jdiv(pos_x - last_x, item.text_advance_scale)
            adv_y = pos_y - last_y
            orient = _js_sign(item.width)
            if adv_x < orient * item.negative_space_max:
                if abs(adv_y) > 0.5 * item.height:
                    append_eol()
                    return True
                reset_last_chars()
                flush_item()
                return True
            if abs(adv_y) > item.height:
                append_eol()
                return True
            if adv_x <= orient * item.not_a_space:
                reset_last_chars()
            if adv_x <= orient * item.tracking_space_min:
                if should_add_whitespace():
                    reset_last_chars()
                    flush_item()
                    push_whitespace()
                else:
                    item.width += adv_x
            elif not add_fake_spaces(adv_x, item.prev_transform, orient):
                if not item.str:
                    reset_last_chars()
                    push_whitespace()
                else:
                    item.width += adv_x
            if abs(adv_y) > item.height * VERTICAL_SHIFT_RATIO:
                flush_item()
            return True

        def build_item(chars, extra: float) -> None:
            # buildTextContentItem (pdf.worker.js:36658-36740)
            fm = state.font
            if not truthy(chars):
                cs = js_add(state.char_spacing, extra)
                if truthy(cs):
                    state.translate_tm(jmul(cs, state.h_scale), 0.0)
                return
            # charsToGlyphs: cache-hit non-string operands SHOW the
            # cached string's glyphs ('(phi) Tj ... [(phi)] Tj' renders
            # phi twice — caught live by the coerce_form sweep, seed
            # 930022); a miss throws for non-empty arrays (page stop)
            # and poisons the stringified key with [] for .length-less
            # values (a later '(5) Tj' after a bare '5 Tj' is SILENT).
            codes = self._chars_to_glyphs(fm, chars)
            scale = jmul(0.001, state.font_size)  # fontMatrix[0]*fontSize
            n = len(codes)
            for i, code in enumerate(codes):
                if code in fm.cf_codes:
                    continue  # isInvisibleFormatMark
                u = fm.unicode(code)
                cs = js_add(
                    state.char_spacing, extra if i + 1 == n else 0.0
                )
                scaled_dim = fm.width(code) * scale
                if u == " ":  # isWhitespace (normalized at table build)
                    cs = js_add(cs, js_add(scaled_dim, state.word_spacing))
                    state.translate_tm(jmul(cs, state.h_scale), 0.0)
                    save_last_char(" ")
                    continue
                zwd = _is_zwd(u)
                if not zwd and not compare_with_last_position(scaled_dim):
                    state.translate_tm(scaled_dim * state.h_scale, 0.0)
                    continue
                chunk = ensure_item()
                if zwd:
                    scaled_dim = 0.0
                scaled_dim *= state.h_scale
                state.translate_tm(scaled_dim, 0.0)
                chunk.width += scaled_dim
                if scaled_dim == scaled_dim and scaled_dim != 0.0:
                    chunk.prev_transform = get_current_text_transform()
                if save_last_char(u):
                    chunk.str.append(" ")
                chunk.str.append(u)
                if truthy(cs):
                    state.translate_tm(jmul(cs, state.h_scale), 0.0)

        def handle_set_font(name_arg, ref=None) -> None:
            # handleSetFont: loadFont never leaves font null — an
            # undefined fontName (non-Name operand: args[0].name) or a
            # name missing from /Font resolves no ref, and with
            # ignoreErrors (pdf-parse's default getDocument options)
            # loadFont falls back to PartialEvaluator.fallbackFontDict
            # (pdf.worker.js:35575) — the same default map
            # Document.font_for_ref gives the C path, NOT ErrorFont
            if ref is None:
                ref = (fonts_dict or {}).get(name_arg)
            state.font = self.doc.font_for_ref(ref)

        def do_xobject(arg) -> None:
            # paintXObject (pdf.worker.js:36946-37025): the flush runs
            # at the case head, before any validation (caller does it);
            # the FormatError paths land in the promise .catch with
            # ignoreErrors — warn + continue, NOT a page stop
            if not isinstance(arg, Name):
                return
            ref = (xobjs or {}).get(str(arg))
            key = ref.num if isinstance(ref, Ref) else None
            if key is not None and key in seen:
                return
            xo = doc.resolve(ref)
            if not isinstance(xo, Stream):
                return
            if str(xo.dict.get("Subtype", "")) != "Form":
                return
            if depth + 1 > self.MAX_DEPTH:
                return
            body = doc.decoded(ref)
            if not body:
                return
            sub_state = state.clone()
            mat = doc.resolve(xo.dict.get("Matrix"))
            vals = None
            if isinstance(mat, list) and len(mat) == 6:
                try:
                    vals = [float(doc.resolve(v)) for v in mat]
                except (TypeError, ValueError):
                    vals = None  # lookupMatrix: non-numeric -> null
            if vals is not None:
                sub_state.ctm = jtransform(sub_state.ctm, vals)
            sub_res = doc.resolve(xo.dict.get("Resources")) or resources
            self._run(
                body, sub_res, sub_state, depth + 1,
                seen | {key} if key is not None else seen,
            )

        # ---- EvaluatorPreprocessor.read loop (pdf.worker.js:38608) ----
        stack: list = []
        opstash: list = []
        buffer: list[bytes] = []  # showSpacedTextBuffer
        # this stream's own reader: its own lookahead, its own cut
        get_obj = _Reader(data).get_obj
        # Each getTextContent invocation catches its OWN errors
        # (ignoreErrors .catch, pdf.worker.js:37129-37140): a stop
        # flushes this frame's open item and resolves, so an error
        # INSIDE a form does not abort the outer page (paintXObject's
        # catch swallows the rejection, pdf.worker.js:37025-37033).
        try:
            while True:
                obj = get_obj()
                if type(obj) is _Cmd:
                    op = obj.op
                elif obj is _EOF:
                    break
                else:
                    if obj is None:
                        continue  # read(): `if (obj !== null)`
                    stack.append(obj)
                    if len(stack) > 33:
                        raise JsStop()  # "Too many arguments"
                    if obj is not _IMG_OPERAND:
                        continue
                    op = b"EI"  # the image operand + its 1-arg EI
                spec = _OP_ARITY.get(op)
                if spec is None:
                    continue  # unknown command keeps pending operands
                numargs, varargs = spec
                if not varargs and len(stack) != numargs:
                    while len(stack) > numargs:
                        opstash.append(stack.pop(0))
                    while len(stack) < numargs and opstash:
                        stack.insert(0, opstash.pop())
                    if len(stack) < numargs:
                        stack.clear()
                        continue
                args = stack
                if self.page_local and _needs_coercion(op, args):
                    raise NeedsCharsCache()

                # ---- operator dispatch (main switch, pdf.worker.js:36830) ----
                if op == b"q":
                    state_stack.append(state)
                    state = state.clone()
                elif op == b"Q":
                    if state_stack:
                        prev = state
                        state = state_stack.pop()
                        # main-switch OPS.restore (pdf.worker.js:37111):
                        # font identity / raw fontSize / fontName changed
                        # across the restore -> flush
                        if (
                            prev.font is not state.font
                            or not strict_eq(prev.font_size, state.font_size)
                            or prev.font_name != state.font_name
                        ):
                            flush_item()
                elif op == b"cm":
                    state.ctm = jtransform(state.ctm, args[:6])
                elif op == b"Tf" and len(args) >= 2:
                    name_arg = (
                        str(args[0]) if isinstance(args[0], Name) else None
                    )
                    size_arg = args[1]
                    if not (
                        state.font is not None
                        and name_arg == state.font_name
                        and strict_eq(size_arg, state.font_size)
                    ):
                        flush_item()
                        state.font_name = name_arg
                        state.font_size = size_arg  # RAW
                        handle_set_font(name_arg)
                elif op == b"Ts":
                    state.rise = args[0]  # raw
                elif op == b"Tz":
                    state.h_scale = to_number(args[0]) / 100.0  # JS / coerces
                elif op == b"TL":
                    state.leading = args[0]  # raw
                elif op == b"Td":
                    state.translate_lm(args[0], args[1])
                    state.tm = list(state.lm)
                elif op == b"TD":
                    state.leading = -to_number(args[1])  # unary minus coerces
                    state.translate_lm(args[0], args[1])
                    state.tm = list(state.lm)
                elif op == b"T*":
                    state.carriage_return()
                elif op == b"Tm":
                    state.tm = list(args[:6])  # raw stores
                    state.lm = list(args[:6])
                    update_advance_scale()
                elif op == b"Tc":
                    state.char_spacing = args[0]  # raw
                elif op == b"Tw":
                    state.word_spacing = args[0]  # raw
                elif op == b"BT":
                    state.tm = list(_IDENTITY)
                    state.lm = list(_IDENTITY)
                elif op == b"TJ":
                    if state.font is not None:
                        el = args[0]
                        space_factor = -to_number(state.font_size) / 1000.0
                        if isinstance(el, bytes):
                            # TJ over a plain string iterates its CHARS —
                            # all strings, one buffered flush == Tj
                            el = [el]
                        if isinstance(el, list):
                            for it in el:
                                if isinstance(it, bytes):
                                    buffer.append(it)
                                elif (
                                    isinstance(it, (int, float))
                                    and not isinstance(it, bool)
                                    and it != 0
                                ):
                                    s = b"".join(buffer)
                                    buffer.clear()
                                    build_item(s, it * space_factor)
                            if buffer:
                                s = b"".join(buffer)
                                buffer.clear()
                                build_item(s, 0.0)
                elif op == b"Tj":
                    if state.font is not None:
                        build_item(args[0], 0.0)
                elif op == b"'":
                    if state.font is not None:
                        state.carriage_return()
                        build_item(args[0], 0.0)
                elif op == b'"':
                    if state.font is not None:
                        state.word_spacing = args[0]  # raw
                        state.char_spacing = args[1]  # raw
                        state.carriage_return()
                        build_item(args[2], 0.0)
                elif op == b"Do":
                    flush_item()
                    do_xobject(args[0])
                elif op in (b"BMC", b"BDC", b"EMC"):
                    # marked-content ops flush the open item
                    # unconditionally (pdf.worker.js:37075,37085,37100)
                    flush_item()
                elif op == b"gs":
                    # setGState FormatErrors are ignoreErrors-swallowed too
                    if isinstance(args[0], Name):
                        gsd = doc.resolve((extg or {}).get(str(args[0])))
                        if isinstance(gsd, dict):
                            gfont = doc.resolve(gsd.get("Font"))
                            # `if (!gStateFont)` skips falsy values
                            # only; ANY truthy /Font — number, dict,
                            # short array — flushes and sets the font
                            # (pdf.worker.js:37053-37062):
                            # gStateFont[1] is undefined off non-arrays
                            # (NaN at every use site), gStateFont[0]
                            # undefined/junk loads the fallback font
                            if truthy(gfont):
                                if self.page_local and not (
                                    isinstance(gfont, list)
                                    and len(gfont) >= 2
                                    and _is_num(gsz := doc.resolve(gfont[1]))
                                    and gsz >= 0
                                ):
                                    raise NeedsCharsCache()
                                flush_item()
                                state.font_name = None
                                if isinstance(gfont, list):
                                    state.font_size = (
                                        doc.resolve(gfont[1])
                                        if len(gfont) > 1 else NAN
                                    )  # undefined -> NaN use sites
                                    gref = gfont[0] if gfont else None
                                else:
                                    state.font_size = NAN
                                    gref = None
                                handle_set_font(None, ref=gref)
                # every other known operator: no text effect
                stack.clear()
        except (JsStop, _LexThrow, _PageStop):
            # this frame's ignoreErrors .catch: flush the open item and
            # resolve — an error inside a form stops only the form
            flush_item()
            return
        # end of stream: flushTextContentItem (pdf.worker.js:37126)
        flush_item()
