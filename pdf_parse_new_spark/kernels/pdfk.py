"""Mini-PDF byte-stream kernel, one document at a time (``parse_one``).

Per-document structural pass (header check -> startxref -> classic xref table
-> object slicing, with the brute-force recovery scan as fallback — reference
``XRef.parse``/``indexObjects``, pdf.worker.js:58108-58476), then per page:
base64 frame -> zlib inflate with cmf validation (reference FlateStream
header check, pdf.worker.js:8610-8640) -> content-stream tokenization
(Td/TD/Tm/TL/T*/Tj/TJ/'/\" — reference pdf.worker.js:36856-36945) ->
Y-tolerance line fold (reference lib/pdf-parse.js:25-39).

Content streams are tokenized by ``pdfs_tokenize`` in the compiled
``_ctext.c``, which pdfk requires: it raises at first use when the build
failed. The other loops iterate over regex matches, pages and show-text
items; zlib/base64/regex run in C, and numpy decodes xref streams.
Per-page failures mask to "" and record the first error code (reference
lib/pdf-parse.js:116-119); structural failures produce an error row, never
an exception (test/03-invalid-default.js contract).
"""

from __future__ import annotations

import base64
import json
import re
import unicodedata
import zlib

import numpy as np

from pdf_parse_new_spark import spec
from pdf_parse_new_spark.kernels import cinterp as _cinterp

_OBJ = re.compile(r"(\d+) 0 obj\b")
_CONTENTS = re.compile(r"/Contents (\d+) 0 R")
_STARTXREF = re.compile(r"startxref\s+(\d+)\s*%%EOF\s*$")
_XREF_ROW = re.compile(r"^(\d{10}) (\d{5}) ([nf]) ?$")
_ESC = {"\\": "\\", "(": "(", ")": ")", "n": "\n", "r": "\r", "t": "\t"}
_ESC_RE = re.compile(r"\\([0-7]{1,3})|\\(?:\r\n|\r|\n)|\\(.)", re.S)


def _esc_sub(m: re.Match) -> str:
    if m.group(1):  # octal escape \053 (reference Lexer, pdf.worker.js:13878)
        return chr(int(m.group(1), 8) & 0xFF)
    if m.group(2) is None:  # line continuation (\LF, \CR, \CRLF) vanishes
        return ""
    return _ESC.get(m.group(2), m.group(2))


def _unescape(lit: str) -> str:
    """Literal string (Info fields) -> text."""
    body = lit[1:-1]
    if "\\" not in body:
        return body
    return _ESC_RE.sub(_esc_sub, body)


_RTL_RUN = re.compile(f"[{spec.RTL_CLASS}]+")
# UAX#9-lite segment: RTL runs plus neutrals strictly BETWEEN RTL runs
_RTL_SEG = re.compile(
    f"[{spec.RTL_CLASS}]+"
    f"(?:[{spec.BIDI_NEUTRAL_CLASS}]+[{spec.RTL_CLASS}]+)*"
)


def _bidi(s: str) -> str:
    # UAX#9-lite logical->visual reorder per show-text item (spec.py;
    # reference runBidiTransform, pdf.worker.js:36495-36510): the whole
    # R(N+R)* segment reverses as one unit, brackets inside it mirror.
    # isascii() short-circuits the hot path (C-speed flag check — the
    # regex probe alone cost ~10% of real-PDF parse throughput)
    if s.isascii() or _RTL_RUN.search(s) is None:
        return s
    return _RTL_SEG.sub(
        lambda m: m.group()[::-1].translate(spec.BIDI_MIRROR), s
    )


def _tokenize(stream: str) -> tuple[list[str], list[float], list[float]]:
    """-> parallel arrays (item strings, item Y coords, item font scales).

    Font scale comes from the Tf operator (the reference exposes it as
    ``transform[0]``, consumed by the title-only custom render example,
    test/examples/09-custom-render.js:62-79).

    The scan is ``pdfs_tokenize`` in ``_ctext.c`` (its header holds the
    clause grammar); this wrapper slices the items out of its blob and
    applies bidi per item. Pinned cases are in test_kernels.py."""
    blob, offs, ys_a, scales_a = _cinterp.pdfs_tokenize(
        stream.encode("utf-8", "surrogatepass"), -spec.TJ_SPACE_THRESHOLD
    )
    out: list[str] = []
    prev = 0
    if blob.isascii():
        # one decode, then char==byte offsets slice the str
        s = blob.decode("ascii")
        for end in offs.tolist():
            out.append(s[prev:end])
            prev = end
    else:
        for end in offs.tolist():
            out.append(_bidi(blob[prev:end].decode("utf-8", "surrogatepass")))
            prev = end
    return out, ys_a.tolist(), scales_a.tolist()


def _fold(strs: list[str], ys: list[float]) -> str:
    """Join show-text items; a Y move beyond Y_TOLERANCE starts a new line."""
    if not strs:
        return ""
    parts = [strs[0]]
    last = ys[0]
    tol = spec.Y_TOLERANCE
    for i in range(1, len(strs)):
        cur = ys[i]
        d = cur - last
        if d > tol or d < -tol:
            parts.append("\n")
        parts.append(strs[i])
        last = cur
    return "".join(parts)


def _slice_objects(raw: str, offsets: dict[int, int]) -> dict[int, tuple[int, str]]:
    objs: dict[int, tuple[int, str]] = {}
    for num, off in offsets.items():
        m = _OBJ.match(raw, off)
        if m is None or int(m.group(1)) != num:
            return {}
        end = raw.find("endobj", off)
        if end < 0:
            return {}
        objs[num] = (m.end(), raw[m.end() : end])
    return objs


_W_ARR = re.compile(r"/W \[(\d+) (\d+) (\d+)\]")


_OBJSTM_HDR = re.compile(r"/N (\d+) /First (\d+)")


def _read_xref_stream(
    raw: str, xref_off: int
) -> tuple[dict[int, int], dict[int, tuple[int, int]]]:
    """Cross-reference *stream*: decode the /W-packed binary rows with numpy
    (reference ``readXRefStream``, pdf.worker.js:58264-58330). Type-1 rows
    give direct offsets; type-2 rows point into /ObjStm containers."""
    om = _OBJ.match(raw, xref_off)
    if om is None:
        return {}, {}
    end = raw.find("endobj", xref_off)
    body = raw[om.end() : end if end > 0 else len(raw)]
    if "/Type /XRef" not in body:
        return {}, {}
    wm = _W_ARR.search(body)
    i = body.find("stream\n")
    j = body.find("\nendstream")
    if wm is None or i < 0 or j < 0:
        return {}, {}
    try:
        packed = zlib.decompress(
            base64.b64decode(body[i + len("stream\n") : j], validate=True)
        )
    except Exception:
        return {}, {}
    w = [int(x) for x in wm.groups()]
    rowlen = sum(w)
    n = len(packed) // rowlen if rowlen else 0
    if n == 0:  # also /W [0 0 0]: no rows, so the recovery scan runs
        return {}, {}
    arr = np.frombuffer(packed[: n * rowlen], dtype=np.uint8).reshape(n, rowlen)
    typ = (
        arr[:, : w[0]].astype(np.int64) @ (256 ** np.arange(w[0] - 1, -1, -1))
        if w[0]
        else np.ones(n, dtype=np.int64)
    )
    f2 = arr[:, w[0] : w[0] + w[1]].astype(np.int64) @ (
        256 ** np.arange(w[1] - 1, -1, -1)
    )
    f3 = arr[:, w[0] + w[1] :].astype(np.int64) @ (
        256 ** np.arange(w[2] - 1, -1, -1)
    )
    nums = np.arange(n)
    direct = dict(zip(nums[typ == 1].tolist(), f2[typ == 1].tolist()))
    compressed = {
        int(k): (int(s), int(ix))
        for k, s, ix in zip(nums[typ == 2], f2[typ == 2], f3[typ == 2])
    }
    return direct, compressed


def _expand_objstm(
    raw: str,
    objs: dict[int, tuple[int, str]],
    compressed: dict[int, tuple[int, int]],
) -> dict[int, tuple[int, str]]:
    """Resolve type-2 entries from /Type /ObjStm containers (header of
    N (objnum, offset) pairs, bodies packed at /First + offset)."""
    out = dict(objs)
    cache: dict[int, list[tuple[int, str]] | None] = {}
    for num, (stm_num, idx) in compressed.items():
        if stm_num not in cache:
            cache[stm_num] = None
            body = objs.get(stm_num, (0, ""))[1]
            hm = _OBJSTM_HDR.search(body)
            i = body.find("stream\n")
            j = body.find("\nendstream")
            if "/Type /ObjStm" in body and hm and i >= 0 and j >= 0:
                try:
                    stm = zlib.decompress(
                        base64.b64decode(
                            body[i + len("stream\n") : j], validate=True
                        )
                    ).decode("utf-8")
                except Exception:
                    continue
                nn, first = int(hm.group(1)), int(hm.group(2))
                ints = stm[:first].split()
                pairs = [
                    (int(ints[2 * k]), int(ints[2 * k + 1]))
                    for k in range(min(nn, len(ints) // 2))
                ]
                items = []
                for k, (onum, ooff) in enumerate(pairs):
                    stop = (
                        first + pairs[k + 1][1] if k + 1 < len(pairs) else len(stm)
                    )
                    items.append((onum, stm[first + ooff : stop]))
                cache[stm_num] = items
        items = cache.get(stm_num)
        if items is not None and idx < len(items) and items[idx][0] == num:
            out[num] = (-1, items[idx][1])
    return out


_INFO_REF = re.compile(r"/Info (\d+) 0 R")
_INFO_FIELD = re.compile(
    r"/(Title|Author|Producer|Creator|Subject) (\((?:[^()\\]|\\.)*\))"
)


def _doc_info(raw: str, objs: dict) -> str | None:
    """Trailer /Info -> JSON string of {lowercase field: text}, or None
    (P2: reference Result.info, lib/pdf-parse.js:91-96 — null-safe)."""
    if "/Info" not in raw:  # C-speed gate: most docs carry no Info
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
    return json.dumps(fields, sort_keys=True) if fields else None


def parse_one(raw: str) -> tuple[str, list[dict], str | None, int, str | None]:
    """-> (text, spans, error, n_pages, info_json). Never raises."""
    m = _STARTXREF.search(raw)
    if m is None:
        return "", [], spec.ERR_NO_STARTXREF, 0, None

    # classic xref table at the declared offset (following /Prev chains of
    # incremental updates, newest section wins); else try an xref stream
    offsets: dict[int, int] = {}
    compressed: dict[int, tuple[int, int]] = {}
    xref_off = int(m.group(1))
    lines = raw[xref_off:].split("\n")
    if len(lines) >= 2 and lines[0].strip() == "xref":
        visit: int | None = xref_off
        seen: set[int] = set()
        # newest section wins for BOTH 'n' and 'f' rows: an object freed in
        # an incremental update must not be resurrected from an older
        # section's offset (reference XRef.readXRefTable stores free entries
        # first-wins and fetch skips them, pdf.worker.js:58213-58231,58613)
        winner: dict[int, tuple[str, int]] = {}
        ok = True
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
                    if row is None:
                        ok = False
                        break
                    winner.setdefault(
                        first + k, (row.group(3), int(row.group(1)))
                    )
            except Exception:
                ok = False
            if not ok:
                break
            tail = "\n".join(lines[2 + count : 2 + count + 3])
            pm = re.search(r"/Prev (\d+)", tail)
            visit = int(pm.group(1)) if pm else None
        offsets = (
            {num: off for num, (typ, off) in winner.items() if typ == "n"}
            if ok
            else {}
        )
    else:
        offsets, compressed = _read_xref_stream(raw, xref_off)
    objs = _slice_objects(raw, offsets) if offsets else {}
    if objs and compressed:
        objs = _expand_objstm(raw, objs, compressed)
    if not objs:
        # recovery scan: brute-force re-index every "N 0 obj" marker
        objs = _slice_objects(
            raw, {int(om.group(1)): om.start() for om in _OBJ.finditer(raw)}
        )
    if not objs:
        return "", [], spec.ERR_BAD_XREF, 0, None

    info = _doc_info(raw, objs)
    pages = sorted(num for num, (_, body) in objs.items() if "/Type /Page" in body)
    if not pages:
        return "", [], spec.ERR_NO_PAGES, 0, info

    texts: list[str] = []
    spans: list[dict] = []
    err: str | None = None

    def fail(code: str) -> None:
        nonlocal err
        texts.append("")
        err = err or code

    for pno in pages:
        cm = _CONTENTS.search(objs[pno][1])
        if cm is None or int(cm.group(1)) not in objs:
            fail(spec.ERR_FLATE)
            continue
        base, body = objs[int(cm.group(1))]
        i = body.find("stream\n")
        j = body.find("\nendstream")
        if i < 0 or j < 0:
            fail(spec.ERR_FLATE)
            continue
        i += len("stream\n")
        try:
            comp = base64.b64decode(body[i:j], validate=True)
        except Exception:
            fail(spec.ERR_BAD_B64)
            continue
        if len(comp) < 2 or (comp[0] & 0x0F) != 0x08:
            fail(spec.ERR_BAD_CMF)
            continue
        try:
            stream = zlib.decompress(comp).decode("utf-8")
        except Exception:
            fail(spec.ERR_FLATE)
            continue
        s_, y_, _ = _tokenize(stream)
        texts.append(_fold(s_, y_))
        spans.append({"start": base + i, "end": base + j, "kind": "page"})

    if err is not None and all(t == "" for t in texts):
        return "", [], err, len(pages), info
    text = unicodedata.normalize("NFKC", spec.PAGE_SEP.join(texts))
    return text, spans, err, len(pages), info
