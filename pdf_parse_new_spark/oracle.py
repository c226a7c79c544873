"""Single-node pure-Python golden extractor.

This is the independent reference implementation pytest compares the Spark
engine against, exactly the way pdf-parse-new's golden ``.txt`` files anchor
its mocha suites (reference ``test/01-valid-default.js:22-25``). Readable,
per-string, zero Spark/pandas — the vectorized kernels in ``kernels/`` are a
separate code path implementing the same ``spec.py`` contract.
"""

from __future__ import annotations

import base64
import re
import unicodedata
import zlib
from dataclasses import dataclass, field

from pdf_parse_new_spark import spec

# ------------------------------------------------------------------ result --

@dataclass
class Extraction:
    family: str
    text: str = ""
    spans: list[tuple[int, int, str]] = field(default_factory=list)
    error: str | None = None
    n_pages: int = 0
    # trailer /Info dict (Title/Author/Producer...), lowercase keys, or None
    # (reference Result.info, lib/pdf-parse.js:91-96 — null-safe)
    info: dict | None = None


# ----------------------------------------------------------- family detect --

def detect_family(raw: str) -> str:
    if "\x00" in raw:
        return spec.FAM_CORRUPT  # binary garbage
    if raw.startswith("%PDF-"):
        return spec.FAM_PDF
    head = raw.lstrip()[:16].lower()
    if head.startswith("<!doctype") or head.startswith("<html"):
        return spec.FAM_HTML
    return spec.FAM_PLAIN


def _nfkc(s: str) -> str:
    return unicodedata.normalize("NFKC", s)


_RTL_RUN = re.compile(f"[{spec.RTL_CLASS}]+")


def _is_rtl(c: str) -> bool:
    return any(a <= c <= b for a, b in spec.RTL_RANGES)


def _is_neutral(c: str) -> bool:
    o = ord(c)
    return (
        c in " \t«»"
        or 0x21 <= o <= 0x2F
        or 0x3A <= o <= 0x40
        or 0x5B <= o <= 0x60
        or 0x7B <= o <= 0x7E
        or 0x2010 <= o <= 0x201F
    )


def bidi_visual(s: str) -> str:
    """UAX#9-lite logical->visual reorder (spec.py; subset of the
    reference's runBidiTransform, pdf.worker.js:36495-36510): a maximal
    R(N+R)* segment — RTL runs plus neutrals strictly between them —
    reverses as one visual unit, and paired brackets inside it mirror.
    Char-loop implementation, deliberately independent of the kernel's
    regex form (the property suite pins them to byte equality)."""
    if _RTL_RUN.search(s) is None:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        if _is_rtl(s[i]):
            j = i
            last_r = i
            while j < n and (_is_rtl(s[j]) or _is_neutral(s[j])):
                if _is_rtl(s[j]):
                    last_r = j
                j += 1
            seg = s[i : last_r + 1]
            out.append(seg[::-1].translate(spec.BIDI_MIRROR))
            i = last_r + 1
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


# ------------------------------------------------------- content tokenizer --

_TOKEN = re.compile(
    r"""
      (?P<str>\((?:\\.|[^\\()])*\))
    | (?P<hex><[0-9A-Fa-f \t\r\n]*>)
    | (?P<arr>\[(?:\\.|\((?:\\.|[^\\()])*\)|[^\]])*\])
    | (?P<name>/[A-Za-z0-9]+)
    | (?P<num>[-+]?(?:\d+\.?\d*|\.\d+))
    | (?P<op>[A-Za-z'"*]+)
    """,
    re.X | re.S,
)

_ESCAPES = {"\\": "\\", "(": "(", ")": ")", "n": "\n", "r": "\r", "t": "\t"}


def _unescape(lit: str) -> str:
    # lit includes the surrounding delimiters: (literal) or <hex>
    if lit[0] == "<":  # hex string: whitespace ignored, odd digit pads a 0
        hexs = re.sub(r"[^0-9A-Fa-f]", "", lit[1:-1])
        if len(hexs) % 2:
            hexs += "0"
        return bytes.fromhex(hexs).decode("latin-1")
    out, i, body = [], 0, lit[1:-1]
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt in "01234567":  # octal escape, 1-3 digits
                j = i + 1
                while j < len(body) and j < i + 4 and body[j] in "01234567":
                    j += 1
                out.append(chr(int(body[i + 1 : j], 8) & 0xFF))
                i = j
            elif nxt in "\r\n":  # line continuation (\LF, \CR, \CRLF) vanishes
                i += 2
                if nxt == "\r" and i < len(body) and body[i] == "\n":
                    i += 1
            else:
                out.append(_ESCAPES.get(nxt, nxt))
                i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def tokenize_content(stream: str) -> list[tuple[str, float]]:
    """Run the text-op state machine; return positioned items [(str, y)].

    Implements the operator semantics of the reference's PartialEvaluator
    (pdf.worker.js:36856-36945): Td/TD translate the line matrix, Tm sets it,
    T*/'/" advance by the leading, Tj/TJ/'/" emit show-text items. TJ kerning
    numbers below ``-TJ_SPACE_THRESHOLD`` contribute one space
    (pdf.worker.js:36889-36894 analog with a fixed cut).
    """
    items: list[tuple[str, float]] = []
    stack: list = []
    y = 0.0
    leading = 0.0
    rise = 0.0  # Ts text rise (pdf.js folds it into transform[5])

    def emit(s: str) -> None:
        items.append((bidi_visual(s), y + rise))

    for m in _TOKEN.finditer(stream):
        kind = m.lastgroup
        tok = m.group()
        if kind in ("str", "hex"):
            stack.append(_unescape(tok))
        elif kind == "arr":
            stack.append(tok)
        elif kind == "name":
            stack.append(tok)
        elif kind == "num":
            stack.append(float(tok))
        else:  # operator
            if tok == "BT":
                y = 0.0  # reset text matrix; leading is text state, persists
                rise = 0.0
            elif tok == "Td" and len(stack) >= 2:
                y += float(stack[-1])
            elif tok == "TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                y += float(stack[-1])
            elif tok == "Tm" and len(stack) >= 6:
                y = float(stack[-1])
            elif tok == "TL" and len(stack) >= 1:
                leading = float(stack[-1])
            elif tok == "Ts" and len(stack) >= 1:
                rise = float(stack[-1])
            elif tok == "T*":
                y -= leading
            elif tok == "Tj" and stack:
                emit(str(stack[-1]))
            elif tok == "'" and stack:
                y -= leading
                emit(str(stack[-1]))
            elif tok == '"' and stack:
                y -= leading
                emit(str(stack[-1]))
            elif tok == "TJ" and stack:
                arr = str(stack[-1])
                buf: list[str] = []
                for am in _TOKEN.finditer(arr[1:-1]):
                    if am.lastgroup in ("str", "hex"):
                        buf.append(_unescape(am.group()))
                    elif am.lastgroup == "num":
                        if float(am.group()) < -spec.TJ_SPACE_THRESHOLD:
                            buf.append(" ")
                emit("".join(buf))
            stack.clear()
    return items


def fold_lines(items: list[tuple[str, float]]) -> str:
    """The core scalar kernel: '\\n' when |y - last_y| > Y_TOLERANCE, equal-Y
    items concatenate with no inserted space (reference lib/pdf-parse.js:25-39)."""
    text: list[str] = []
    last_y: float | None = None
    for s, y in items:
        if last_y is not None and abs(y - last_y) > spec.Y_TOLERANCE:
            text.append("\n")
        text.append(s)
        last_y = y
    return "".join(text)


# --------------------------------------------------------- PDF structural ---

_OBJ = re.compile(r"(\d+) 0 obj\b")
_XREF_ROW = re.compile(r"^(\d{10}) (\d{5}) ([nf]) ?$")
_CONTENTS = re.compile(r"/Contents (\d+) 0 R")


def _object_slices(raw: str, offsets: dict[int, int]) -> dict[int, tuple[int, str]]:
    """num -> (body_start_offset_in_raw, body)."""
    out = {}
    for num, off in offsets.items():
        m = _OBJ.match(raw, off)
        if not m or int(m.group(1)) != num:
            return {}
        end = raw.find("endobj", off)
        if end < 0:
            return {}
        out[num] = (m.end(), raw[m.end() : end])
    return out


def _recovery_scan(raw: str) -> dict[int, int]:
    """Brute-force object index when the xref table is unusable (reference
    ``indexObjects``, pdf.worker.js:58331-58476)."""
    return {int(m.group(1)): m.start() for m in _OBJ.finditer(raw)}


def _decode_stream(body: str) -> tuple[str | None, str | None, tuple[int, int] | None]:
    """-> (content_stream_text, error, (start, end) of the stream body)."""
    i = body.find("stream\n")
    if i < 0:
        return None, spec.ERR_FLATE, None
    i += len("stream\n")
    j = body.find("\nendstream", i)
    if j < 0:
        return None, spec.ERR_FLATE, None
    b64 = body[i:j]
    try:
        comp = base64.b64decode(b64, validate=True)
    except Exception:
        return None, spec.ERR_BAD_B64, (i, j)
    if len(comp) < 2 or (comp[0] & 0x0F) != 0x08:
        return None, spec.ERR_BAD_CMF, (i, j)
    try:
        return zlib.decompress(comp).decode("utf-8"), None, (i, j)
    except Exception:
        return None, spec.ERR_FLATE, (i, j)


_W_ARR = re.compile(r"/W \[(\d+) (\d+) (\d+)\]")
_OBJSTM_HDR = re.compile(r"/N (\d+) /First (\d+)")


def _read_xref_stream(
    raw: str, xref_off: int
) -> tuple[dict[int, int], dict[int, tuple[int, int]]]:
    """PDF-1.5-style cross-reference stream: /Type /XRef object whose packed
    binary rows (widths from /W) map object numbers to offsets (reference
    ``readXRefStream``, pdf.worker.js:58264-58330). Returns (direct offsets,
    compressed {num: (objstm_num, index)}); ({}, {}) if unusable."""
    om = _OBJ.match(raw, xref_off)
    if om is None:
        return {}, {}
    end = raw.find("endobj", xref_off)
    body = raw[om.end() : end if end > 0 else len(raw)]
    if "/Type /XRef" not in body:
        return {}, {}
    wm = _W_ARR.search(body)
    if wm is None:
        return {}, {}
    w = tuple(int(x) for x in wm.groups())
    data_b64_start = body.find("stream\n")
    data_b64_end = body.find("\nendstream")
    if data_b64_start < 0 or data_b64_end < 0:
        return {}, {}
    try:
        packed = zlib.decompress(
            base64.b64decode(
                body[data_b64_start + len("stream\n") : data_b64_end],
                validate=True,
            )
        )
    except Exception:
        return {}, {}
    rowlen = sum(w)
    if rowlen == 0:  # /W [0 0 0]: no rows, so the recovery scan runs
        return {}, {}
    offsets: dict[int, int] = {}
    compressed: dict[int, tuple[int, int]] = {}
    for num in range(len(packed) // rowlen):
        row = packed[num * rowlen : (num + 1) * rowlen]
        typ = int.from_bytes(row[: w[0]], "big") if w[0] else 1
        f2 = int.from_bytes(row[w[0] : w[0] + w[1]], "big")
        f3 = int.from_bytes(row[w[0] + w[1] :], "big")
        if typ == 1:
            offsets[num] = f2
        elif typ == 2:  # compressed: lives in object stream f2 at index f3
            compressed[num] = (f2, f3)
    return offsets, compressed


def _expand_objstm(
    objs: dict[int, tuple[int, str]], compressed: dict[int, tuple[int, int]]
) -> dict[int, tuple[int, str]]:
    """Resolve type-2 entries by decoding their /Type /ObjStm containers
    (reference compressed object streams; pdf.js XRef fetchCompressed).
    Layout: header of N (objnum offset) integer pairs, then bodies packed at
    /First + offset."""
    out = dict(objs)
    cache: dict[int, list[tuple[int, str]] | None] = {}
    for num, (stm_num, idx) in compressed.items():
        if stm_num not in cache:
            cache[stm_num] = None
            if stm_num in objs:
                body = objs[stm_num][1]
                if "/Type /ObjStm" in body:
                    stream, err, _span = _decode_stream(body)
                    hm = _OBJSTM_HDR.search(body)
                    if stream is not None and hm is not None:
                        n, first = int(hm.group(1)), int(hm.group(2))
                        ints = stream[: first].split()
                        pairs = [
                            (int(ints[2 * k]), int(ints[2 * k + 1]))
                            for k in range(min(n, len(ints) // 2))
                        ]
                        items: list[tuple[int, str]] = []
                        for k, (onum, ooff) in enumerate(pairs):
                            stop = (
                                first + pairs[k + 1][1]
                                if k + 1 < len(pairs)
                                else len(stream)
                            )
                            items.append((onum, stream[first + ooff : stop]))
                        cache[stm_num] = items
        items = cache.get(stm_num)
        if items is not None and idx < len(items):
            onum, obody = items[idx]
            if onum == num:
                out[num] = (-1, obody)  # no raw offset: synthetic slice
    return out


_INFO_REF = re.compile(r"/Info (\d+) 0 R")
_INFO_FIELD = re.compile(r"/(Title|Author|Producer|Creator|Subject) (\((?:[^()\\]|\\.)*\))")


def _doc_info(raw: str, objs: dict) -> dict | None:
    """Trailer /Info dict -> {lowercase field: text} or None (reference
    Result.info, lib/pdf-parse.js:91-96 — metadata failure is null, never an
    error)."""
    if "/Info" not in raw:  # gate: most docs carry no Info
        return None
    im = None
    for im in _INFO_REF.finditer(raw):
        pass  # last trailer wins (incremental updates)
    if im is None:
        return None
    entry = objs.get(int(im.group(1)))
    if entry is None:
        return None
    fields = {
        m.group(1).lower(): _unescape(m.group(2))
        for m in _INFO_FIELD.finditer(entry[1])
    }
    return fields or None


def extract_pdf(raw: str) -> Extraction:
    res = Extraction(family=spec.FAM_PDF)
    m = re.search(r"startxref\s+(\d+)\s*%%EOF\s*$", raw)
    if not m:
        return Extraction(spec.FAM_PDF, error=spec.ERR_NO_STARTXREF)
    xref_off = int(m.group(1))

    offsets: dict[int, int] = {}
    compressed: dict[int, tuple[int, int]] = {}
    lines = raw[xref_off:].split("\n")
    ok = len(lines) >= 2 and lines[0].strip() == "xref"
    if not ok:
        offsets, compressed = _read_xref_stream(raw, xref_off)
    if ok:
        # walk the /Prev chain of classic sections; newer sections win
        # (incremental updates; reference XRef.parse, pdf.worker.js:58108)
        visit: int | None = xref_off
        seen: set[int] = set()
        # record free ('f') entries too, newest section wins, and drop object
        # numbers whose winning entry is free (pdf.worker.js:58213-58231)
        winner: dict[int, tuple[str, int]] = {}
        while ok and visit is not None and visit not in seen:
            seen.add(visit)
            lines = raw[visit:].split("\n")
            if len(lines) < 2 or lines[0].strip() != "xref":
                ok = False
                break
            try:
                first, count = (int(x) for x in lines[1].split())
                for k in range(count):
                    row = _XREF_ROW.match(lines[2 + k])
                    if not row:
                        ok = False
                        break
                    winner.setdefault(
                        first + k, (row.group(3), int(row.group(1)))
                    )
            except Exception:
                ok = False
            if ok:
                tail = "\n".join(lines[2 + count : 2 + count + 3])
                pm = re.search(r"/Prev (\d+)", tail)
                visit = int(pm.group(1)) if pm else None
        if ok:
            offsets = {
                num: off for num, (typ, off) in winner.items() if typ == "n"
            }
        else:
            offsets = {}  # a malformed table is unusable as a whole
    objs = _object_slices(raw, offsets) if offsets else {}
    if objs and compressed:
        objs = _expand_objstm(objs, compressed)
    if not objs:
        offsets = _recovery_scan(raw)  # fallback: brute-force re-index
        objs = _object_slices(raw, offsets)
    if not objs:
        return Extraction(spec.FAM_PDF, error=spec.ERR_BAD_XREF)

    res.info = _doc_info(raw, objs)
    pages = sorted(n for n, (_, b) in objs.items() if "/Type /Page" in b)
    if not pages:
        return Extraction(spec.FAM_PDF, error=spec.ERR_NO_PAGES, info=res.info)

    page_texts: list[str] = []
    first_err: str | None = None
    for pno in pages:
        cm = _CONTENTS.search(objs[pno][1])
        content_num = int(cm.group(1)) if cm else -1
        if content_num not in objs:
            page_texts.append("")
            first_err = first_err or spec.ERR_FLATE
            continue
        base, body = objs[content_num]
        stream, err, span = _decode_stream(body)
        if err is not None:
            page_texts.append("")  # per-page mask (lib/pdf-parse.js:116-119)
            first_err = first_err or err
            continue
        page_texts.append(fold_lines(tokenize_content(stream)))
        if span is not None:
            res.spans.append((base + span[0], base + span[1], "page"))
    res.n_pages = len(pages)
    res.text = _nfkc(spec.PAGE_SEP.join(page_texts))
    res.error = first_err
    if first_err is not None and all(t == "" for t in page_texts):
        res.text = ""  # fully-failed doc: no separator scaffolding
        res.spans = []
    return res


# ------------------------------------------------------------------- HTML ---

_BLOCK = re.compile(r"<(p|div|article|li|section|main|blockquote)\b[^>]*>(.*?)</\1>", re.S | re.I)
_TAG = re.compile(r"<[^>]+>")
_LINK = re.compile(r"<a\b[^>]*>(.*?)</a>", re.S | re.I)
_WS = re.compile(r"\s+")
# tag strip + entity/numeric-ref decode in ONE sweep, no double-unescape
_STRIP_RE = re.compile(
    r"<[^>]+>|&(?:[a-zA-Z]+|#\d{1,7}|#[xX][0-9A-Fa-f]{1,6});"
)


def _strip_sub(m: re.Match) -> str:
    tok = m.group(0)
    if tok[0] == "<":
        return " "
    known = spec.HTML_ENTITIES.get(tok)
    if known is not None:
        return known
    if tok[1] == "#":
        cp = int(tok[3:-1], 16) if tok[2] in "xX" else int(tok[2:-1])
        # WHATWG charref rules: NUL / out-of-range / surrogates -> U+FFFD
        if cp == 0 or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            return "�"
        return chr(cp)
    return tok  # unknown named entity: keep literal


def _html_clean(fragment: str) -> str:
    return _WS.sub(" ", _STRIP_RE.sub(_strip_sub, fragment)).strip()


def _candidate_blocks(
    raw: str, base: int = 0, depth: int = 0
) -> list[tuple[int, int, str, str]]:
    """Candidate content blocks = LEAF p/div/article/li elements; containers
    (article/div wrapping nested blocks) recurse into their children rather
    than competing as one giant block. Known limitation (documented):
    same-tag nesting (<div><div>…) mis-spans under the backreference regex —
    the fixture generator never emits it."""
    out: list[tuple[int, int, str, str]] = []
    for m in _BLOCK.finditer(raw):
        tag, inner = m.group(1).lower(), m.group(2)
        if depth < 4 and tag[0] not in "pl" and _BLOCK.search(inner):
            out.extend(_candidate_blocks(inner, base + m.start(2), depth + 1))
        else:
            out.append((base + m.start(), base + m.end(), tag, inner))
    return out


def extract_html(raw: str) -> Extraction:
    """Main-content blocks by text-length + link-ratio + tag-density scoring
    (north-rule axis B; spec.py thresholds)."""
    res = Extraction(family=spec.FAM_HTML)
    kept: list[str] = []
    for start, end, tag, inner in _candidate_blocks(raw):
        text = _html_clean(inner)
        link_len = len(_TAG.sub("", "".join(_LINK.findall(inner))).strip())
        n_words = max(1, len(text.split(" "))) if text else 1
        if (
            len(text) >= spec.HTML_MIN_TEXT_LEN
            and link_len <= spec.HTML_MAX_LINK_RATIO * max(1, len(text))
            and inner.count("<") <= spec.HTML_MAX_TAG_DENSITY * n_words
        ):
            kept.append(text)
            res.spans.append((start, end, tag))
    res.text = _nfkc("\n".join(kept))
    res.n_pages = 1
    return res


# ------------------------------------------------------------------ plain ---

def extract_plain(raw: str) -> Extraction:
    res = Extraction(family=spec.FAM_PLAIN)
    res.text = _nfkc(raw.replace("\r\n", "\n"))
    res.spans = [(0, len(raw), "text")]
    res.n_pages = 1
    return res


# ------------------------------------------------------------- dispatcher ---

def extract(raw: str) -> Extraction:
    fam = detect_family(raw)
    if fam == spec.FAM_CORRUPT:
        return Extraction(spec.FAM_CORRUPT, error=spec.ERR_BINARY)
    if fam == spec.FAM_PDF:
        return extract_pdf(raw)
    if fam == spec.FAM_HTML:
        return extract_html(raw)
    return extract_plain(raw)


# ------------------------------------------------ conversation-level fold ---

def concat_conversation(turn_texts: list[str], leading_separator: bool = False,
                        max_turns: int = 0) -> tuple[str, int, int]:
    """(full_text, n_turns, n_extracted) with the reference's exact join
    semantics: parallel join (lib/pdf-parse.js:126) vs sequential leading
    separator (lib/pdf-parse.js:134); max<=0 -> all, clamped (:98-99)."""
    n = len(turn_texts)
    counter = n if max_turns <= 0 else min(max_turns, n)
    body = spec.PAGE_SEP.join(turn_texts[:counter])
    if leading_separator and counter > 0:
        body = spec.PAGE_SEP + body
    return body, n, counter
