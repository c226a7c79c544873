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
the coercion streams above. Those pages are rare fallbacks, so exactness
is the point, not throughput (differential-tested against the live node
reference by tests/test_node_differential.py).
"""

from __future__ import annotations

import math
import re
import unicodedata

from . import bidi as _bidi_mod
from .pdfb import (
    _JS_WS,
    _NORM_RE,
    _OP_ARITY,
    _OPERATOR,
    Name,
    Ref,
    Stream,
    _IMG_OPERAND,
    _PageStop,
    _hex_content,
    _inline_image_scan,
    _is_js_integer,
    _lex_number,
    _lex_op,
    _LexThrow,
    _normalize_unicode,
    _prescan_lexer_throw,
    _parse_content_array,
    _peek_ref,
    _skip_ws,
    _WS,
    parse_object,
)

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
    """JS Number#toString for the value range content streams produce
    (no 1e21 thresholds needed: stringification only happens to PARSED
    literal operands, whose grammar has no exponents)."""
    if x != x:
        return "NaN"
    if x == INF:
        return "Infinity"
    if x == -INF:
        return "-Infinity"
    if x == int(x) and abs(x) < 1e21:
        return str(int(x))  # drops ".0"; -0.0 prints "0" like JS
    return repr(x)  # shortest round-trip, same algorithm family as V8


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
        pos, ndata = 0, len(data)
        # Lexer-throw cut: the Parser's two-token lookahead loses the
        # two tokens before a throwing one (see _prescan_lexer_throw)
        cut = _prescan_lexer_throw(data, ndata)
        # Each getTextContent invocation catches its OWN errors
        # (ignoreErrors .catch, pdf.worker.js:37129-37140): a stop
        # flushes this frame's open item and resolves, so an error
        # INSIDE a form does not abort the outer page (paintXObject's
        # catch swallows the rejection, pdf.worker.js:37025-37033).
        try:
            while pos < ndata:
                pos = _skip_ws(data, pos)
                if pos >= ndata:
                    break
                if cut is not None and pos >= cut:
                    raise JsStop()
                c = data[pos]
                if (
                    c in b"/(<[" or c == 0x2B or c == 0x2D or c == 0x2E
                    or 0x30 <= c <= 0x39
                ):
                    if c == 0x5B:
                        # full-Parser array semantics (Cmd elements
                        # inert, refs fold, EOF/')' stop the page)
                        try:
                            obj, pos = _parse_content_array(data, pos,
                                                            ndata)
                        except _PageStop:
                            raise JsStop() from None
                    elif (0x30 <= c <= 0x39 or c == 0x2B
                          or c == 0x2D or c == 0x2E):
                        try:
                            obj, pos = _lex_number(data, pos, ndata)
                        except _LexThrow:
                            raise JsStop() from None
                        if _is_js_integer(obj):
                            # `int int R` -> ONE Ref operand
                            folded = _peek_ref(data, pos, ndata, obj)
                            if folded is not None:
                                obj, pos = folded
                    elif c == 0x3C and data[pos:pos + 2] != b"<<":
                        obj, pos = _hex_content(data, pos, ndata)
                    else:
                        try:
                            obj, pos = parse_object(data, pos, refs=False)
                        except ValueError:
                            pos += 1
                            continue
                    stack.append(obj)
                    if len(stack) > 33:
                        raise JsStop()  # "Too many arguments"
                    continue
                if not _OPERATOR.match(data, pos):
                    pos += 1
                    continue
                try:
                    op, pos = _lex_op(data, pos)
                except _LexThrow:
                    raise JsStop() from None  # >128-char command token
                if op == b"BI":  # inline image (worker:13387)
                    try:
                        pos, _term = _inline_image_scan(data, pos, ndata)
                    except _PageStop:
                        raise JsStop() from None
                    stack.append(_IMG_OPERAND)
                    if len(stack) > 33:
                        raise JsStop()
                    if _term is not None and _term not in _WS:
                        # stale-currentChar splice (see pdfb._inline_image_scan)
                        data = bytes((_term,)) + data[pos:]
                        ndata = len(data)
                        pos = 0
                        cut = _prescan_lexer_throw(data, ndata)
                    op = b"EI"  # fall through: image operand + 1-arg EI
                if op == b"true" or op == b"false":
                    stack.append(op == b"true")
                    if len(stack) > 33:
                        raise JsStop()
                    continue
                if op == b"null":
                    continue  # read(): `if (obj !== null)` — never pushed
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
        except JsStop:
            # this frame's ignoreErrors .catch: flush the open item and
            # resolve — an error inside a form stops only the form
            flush_item()
            return
        # end of stream: flushTextContentItem (pdf.worker.js:37126)
        flush_item()
