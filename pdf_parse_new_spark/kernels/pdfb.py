"""Real-dialect binary PDF parser: the path that reads the reference's own
test corpus (``/root/reference/test/data/0*.pdf``), not just the engine's
synthetic ASCII mini-dialect.

Covers what those documents actually exercise, per the PDF 1.7 spec and the
reference's behavior (pdf.js ``XRef.parse`` / ``Lexer`` / ``PartialEvaluator``
cited by file:line where we mirror a decision):

- any EOL convention (\\r, \\n, \\r\\n) in xref tables, dicts and streams
- classic xref tables with /Prev chains and free entries (newest wins;
  pdf.worker.js:58213-58231), xref *streams* (/W + /Index + PNG predictors,
  pdf.worker.js:58264-58330), and hybrid files (/XRefStm in the trailer)
- compressed object streams (/Type /ObjStm)
- raw (binary) stream bodies framed by /Length — including indirect /Length
  refs — with an ``endstream`` scan fallback for broken lengths
- literal strings with octal escapes and line continuations, hex strings
  (pdf.js Lexer.getHexString), names with #xx escapes
- FlateDecode (+predictors), ASCIIHexDecode, ASCII85Decode, RunLengthDecode,
  LZWDecode filter chains
- the page tree (/Root -> /Pages -> /Kids, /Count-bounded, cycle-safe) with
  /Resources inheritance — page ORDER comes from the tree, not object ids
- per-font byte->unicode decode: /ToUnicode CMaps (bfchar/bfrange) first,
  then /Encoding /Differences glyph names over a base encoding
  (Standard/WinAnsi/MacRoman), Adobe-Glyph-List subset incl. the f-ligatures
  the reference golden expands ("specific", "official")
- a content-stream text interpreter mirroring lib/pdf-parse.js:26-41
  (render_page): same-Y items concatenate, |dY| > Y_TOLERANCE breaks a line,
  TJ kerns below -TJ_SPACE_THRESHOLD contribute one space; pages join with a
  leading "\\n\\n" each (lib/pdf-parse.js:129-135 sequential mode)
- two interpreter tiers: the C lexer + C replay (``kernels/_ctext.c``) and,
  for every page it cannot take, ``kernels/jsvm.py``, a transcription of
  pdf.js ``getTextContent`` over raw JS values

Pure-Python + zlib; designed to run inside Arrow-batched ``mapInPandas``
(one call per *batch*, C-speed inner loops) — same execution shape as
``kernels.pdfk``.
"""

from __future__ import annotations

import math
import re
import unicodedata
import zlib
from types import MappingProxyType

from pdf_parse_new_spark import spec
from pdf_parse_new_spark.kernels import cinterp, cobj, crypt
from pdf_parse_new_spark.kernels import cff as _cffmod
from pdf_parse_new_spark.kernels import encodings as _encdata
from pdf_parse_new_spark.kernels.pdfk import _RTL_RUN

import numpy as _np

# --------------------------------------------------------------------------
# object model
# --------------------------------------------------------------------------


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num, self.gen = num, gen

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.num}R"

    def __eq__(self, other) -> bool:
        return isinstance(other, Ref) and (self.num, self.gen) == (
            other.num,
            other.gen,
        )

    def __hash__(self) -> int:
        return hash((self.num, self.gen))


class Name(str):
    """PDF name (/Foo) — distinct from a text string."""

    __slots__ = ()


class Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict, self.raw = d, raw


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUMBER = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_NAME_HEX = re.compile(rb"#([0-9A-Fa-f]{2})")
_OBJ_MARKER = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")
_STARTXREF = re.compile(rb"startxref\s+(\d+)")
_XREF_ROW = re.compile(rb"(\d{10})\s(\d{5})\s([nf])")

# vectorized classic-xref decode tables (see _read_classic_table)
_XR_POW10 = (10 ** _np.arange(9, -1, -1)).astype(_np.int64)
_XR_WS = frozenset((0x20, 0x09, 0x0A, 0x0D, 0x0C, 0x0B))  # \s byte class


def _xref_rows_np(raw: bytes, pos: int, count: int):
    """Decode ``count`` strict 20-byte classic xref rows starting at ``pos``
    in one vectorized pass: ``(offsets list, is_n list)`` — or None when the
    section deviates from the spec layout (caller falls back to the tolerant
    per-row scan). A row is ``\\d{10} WS \\d{5} WS [nf] WS WS`` with each WS
    a single whitespace byte, exactly what the row regex + _skip_ws loop
    accepts at 20-byte stride."""
    end = pos + 20 * count
    if end > len(raw):
        return None
    a = _np.frombuffer(raw, _np.uint8, 20 * count, pos).reshape(count, 20)
    d1 = a[:, :10]
    if not (((d1 >= 48) & (d1 <= 57)).all()
            and ((a[:, 11:16] >= 48) & (a[:, 11:16] <= 57)).all()):
        return None
    seps = a[:, (10, 16, 18, 19)]
    if not _np.isin(seps, tuple(_XR_WS)).all():
        return None
    t = a[:, 17]
    is_n = t == 0x6E  # 'n'
    if not (is_n | (t == 0x66)).all():  # 'f'
        return None
    offs = ((d1.astype(_np.int64) - 48) * _XR_POW10).sum(axis=1)
    return offs.tolist(), is_n.tolist()


def _skip_ws(data: bytes, pos: int) -> int:
    # fast path: already at a token (most callers sit right on one)
    try:
        c = data[pos]
    except IndexError:
        return pos
    if c not in _WS and c != 0x25:
        return pos
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # '%' comment to EOL
            while pos < n and data[pos] not in b"\r\n":
                pos += 1
        else:
            break
    return pos


_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")


def parse_object(data: bytes, pos: int, refs: bool = True):
    """Recursive-descent parse of one PDF object at ``pos``.

    Returns (object, next_pos). Raises ValueError on malformed input — the
    caller decides whether that poisons the document or just one object.
    ``refs=False`` skips the "num gen R" lookahead — content streams cannot
    contain indirect references (PDF 1.7 §7.8.2), and the lookahead per
    numeric operand was ~15% of the content interpreter's time.
    """
    pos = _skip_ws(data, pos)
    if pos >= len(data):
        raise ValueError("eof")
    c = data[pos]
    if c == 0x2F:  # /Name
        return _parse_name(data, pos)
    if c == 0x28:  # (literal string)
        return _parse_literal_string(data, pos)
    if c == 0x3C:  # << dict >> or <hex>
        if data[pos : pos + 2] == b"<<":
            return _parse_dict(data, pos, refs)
        return _parse_hex_string(data, pos)
    if c == 0x5B:  # [ array ]
        return _parse_array(data, pos, refs)
    # keyword checks gated on the first byte (numbers are the hot path —
    # three unconditional startswith calls per numeric operand add up)
    if c == 0x74 and data.startswith(b"true", pos):
        return True, pos + 4
    if c == 0x66 and data.startswith(b"false", pos):
        return False, pos + 5
    if c == 0x6E and data.startswith(b"null", pos):
        return None, pos + 4
    m = _NUMBER.match(data, pos)
    if m:
        tok = m.group(0)
        if refs and b"." not in tok:
            # lookahead for "num gen R" indirect reference
            r = _REF_RE.match(data, pos)
            if r:
                return Ref(int(r.group(1)), int(r.group(2))), r.end()
        return (float(tok) if b"." in tok else int(tok)), m.end()
    raise ValueError(f"unexpected byte {c:#x} at {pos}")


def _parse_name(data: bytes, pos: int):
    pos += 1
    start = pos
    n = len(data)
    while pos < n and data[pos] not in _WS and data[pos] not in _DELIM:
        pos += 1
    raw = data[start:pos]
    raw = _NAME_HEX.sub(lambda m: bytes([int(m.group(1), 16)]), raw)
    return Name(raw.decode("latin-1")), pos


_STR_ESC = {
    0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b", 0x66: b"\x0c",
    0x28: b"(", 0x29: b")", 0x5C: b"\\",
}


def _parse_literal_string(data: bytes, pos: int):
    pos += 1
    out = bytearray()
    depth = 1
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = data[pos]
            if e in _STR_ESC:
                out += _STR_ESC[e]
                pos += 1
            elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                oct_digits = bytearray([e])
                pos += 1
                while (
                    pos < n and len(oct_digits) < 3 and 0x30 <= data[pos] <= 0x37
                ):
                    oct_digits.append(data[pos])
                    pos += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in b"\r\n":  # line continuation: swallow the EOL
                pos += 1
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:  # unknown escape: the char stands for itself
                out.append(e)
                pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    return bytes(out), pos


def _parse_hex_string(data: bytes, pos: int):
    end = data.find(b">", pos + 1)
    if end < 0:
        raise ValueError("unterminated hex string")
    hexs = re.sub(rb"[^0-9A-Fa-f]", b"", data[pos + 1 : end])
    if len(hexs) % 2:
        hexs += b"0"  # odd count: final digit padded with 0 (spec 7.3.4.3)
    return bytes.fromhex(hexs.decode("ascii")), end + 1


# the pure-Python parser above is the reference implementation; when the
# C extension compiled (kernels/_cobj.c — same grammar, builds the same
# Python objects through the C API), every call site below uses it via
# this module-global rebind. tests/test_cobj.py asserts equivalence.
_parse_object_py = parse_object
if cobj.AVAILABLE:
    cobj.configure(Name, Ref)
    parse_object = cobj.parse_object


def _parse_array(data: bytes, pos: int, refs: bool = True):
    pos += 1
    out = []
    while True:
        pos = _skip_ws(data, pos)
        if pos >= len(data):
            raise ValueError("unterminated array")
        if data[pos] == 0x5D:
            return out, pos + 1
        obj, pos = parse_object(data, pos, refs)
        out.append(obj)


def _parse_dict(data: bytes, pos: int, refs: bool = True):
    pos += 2
    out: dict = {}
    while True:
        pos = _skip_ws(data, pos)
        if data.startswith(b">>", pos):
            return out, pos + 2
        if pos >= len(data):
            raise ValueError("unterminated dict")
        key, pos = parse_object(data, pos, refs)
        if not isinstance(key, Name):
            raise ValueError("dict key is not a name")
        val, pos = parse_object(data, pos, refs)
        out[str(key)] = val


# --------------------------------------------------------------------------
# stream filters
# --------------------------------------------------------------------------


def _png_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes:
    bpp = max(1, (colors * bpc) // 8)
    row_len = columns * bpp
    out = bytearray()
    prev = bytearray(row_len)
    i = 0
    while i + 1 + row_len <= len(data) + row_len:  # tolerate short last row
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + row_len])
        if len(row) < row_len:
            row += bytes(row_len - len(row))
        if ft == 1:  # Sub
            for j in range(bpp, row_len):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(row_len):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(row_len):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(row_len):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                cc = prev[j - bpp] if j >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[j] = (row[j] + pred) & 0xFF
        out += row
        prev = row
        i += 1 + row_len
        if i >= len(data):
            break
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """Minimal LZW per PDF spec 7.4.4 (early-change variant)."""
    out = bytearray()
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    bits, acc, width = 0, 0, 9
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            code = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _ascii85_decode(data: bytes) -> bytes:
    data = re.sub(rb"\s", b"", data)
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    out = bytearray()
    i = 0
    while i < len(data):
        if data[i : i + 1] == b"z":
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        chunk = data[i : i + 5]
        pad = 5 - len(chunk)
        chunk += b"u" * pad
        acc = 0
        for c in chunk:
            acc = acc * 85 + (c - 33)
        quad = acc.to_bytes(4, "big")
        out += quad[: 4 - pad]
        i += 5
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        if ln == 128:
            break
        if ln < 128:
            out += data[i + 1 : i + 2 + ln]
            i += 2 + ln
        else:
            out += data[i + 1 : i + 2] * (257 - ln)
            i += 2
    return bytes(out)


def _flate(data: bytes) -> bytes:
    try:
        return zlib.decompress(data)
    except zlib.error:
        # tolerate trailing garbage / truncation (pdf.js FlateStream keeps
        # whatever inflated cleanly)
        d = zlib.decompressobj()
        try:
            return d.decompress(data)
        except zlib.error:
            return b""


class PdfError(Exception):
    def __init__(self, code: str) -> None:
        super().__init__(code)
        self.code = code


class _Unparseable:
    """Object-cache entry for an object whose parse raised: the
    exception's class and args, not the exception itself, whose
    traceback would tie the Document into a reference cycle."""

    __slots__ = ("cls", "args")

    def __init__(self, exc: Exception) -> None:
        self.cls, self.args = type(exc), exc.args


class Document:
    """Random-access object store over one PDF byte buffer."""

    MAX_OBJ_SIZE = 64 << 20

    def __init__(self, raw: bytes) -> None:
        self.raw = raw
        self.cache: dict[int, object] = {}
        self.trailer: dict = {}
        # num -> ("n", offset) | ("c", container_num, idx); free entries drop
        self.index: dict[int, tuple] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        # font maps are immutable per font object: cache at DOCUMENT scope
        # so multi-page docs build each map once, not once per page
        self.font_map_cache: dict[int, "FontMap"] = {}
        # ONE fallback FontMap per document: pdf.js's
        # PartialEvaluator.fallbackFontDict is a static singleton whose
        # cacheKey is set on FIRST use, so every missing font name on
        # every page resolves to the SAME TranslatedFont — and shares
        # one Font._charsCache (pdf.worker.js:35575-35580,35622-35624)
        self.fallback_font_map: "FontMap | None" = None
        # assembled C-replay font tables keyed on the ordered cspec
        # identity tuple (pages repeat font sets; see _c_plan)
        self.c_plan_cache: dict[tuple, tuple] = {}
        # inherited view boxes keyed by parent object number (sibling
        # pages share the whole chain; see _page_view_box)
        self.viewbox_cache: dict[int, list] = {}
        self.handler: crypt.StandardSecurityHandler | None = None
        self._encrypt_num = -1
        self._load_index()
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is not None:
            self._install_decryption(enc_ref)

    def _install_decryption(self, enc_ref) -> None:
        """Try the EMPTY user password the way the reference does (pdf.js
        passes "" by default; CipherTransformFactory only raises
        PasswordException when that fails). Success installs transparent
        string/stream decryption; failure -> pdf:encrypted error row."""
        if isinstance(enc_ref, Ref):
            self._encrypt_num = enc_ref.num
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            raise PdfError(spec.ERR_ENCRYPTED)
        ids = self.trailer.get("ID")
        id0 = b""
        if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
            id0 = ids[0]
        try:
            handler = crypt.StandardSecurityHandler.authenticate(enc, id0)
        except Exception:  # malformed Encrypt dict (fuzzed input): reject
            handler = None
        if handler is None:
            raise PdfError(spec.ERR_ENCRYPTED)
        # objects cached during the xref walk were stored un-decrypted
        self.cache.clear()
        self._objstm_cache.clear()
        self.handler = handler

    def _decrypt_tree(self, obj, num: int, gen: int):
        """Decrypt every string in a parsed object tree with this indirect
        object's (num, gen) key. Streams' raw bytes are handled separately;
        objects inside ObjStm containers are never re-decrypted (the
        container stream was)."""
        if isinstance(obj, bytes):
            return self.handler.decrypt(obj, num, gen, is_string=True)
        if isinstance(obj, list):
            return [self._decrypt_tree(x, num, gen) for x in obj]
        if isinstance(obj, dict):
            return {k: self._decrypt_tree(v, num, gen) for k, v in obj.items()}
        return obj

    # -- xref ---------------------------------------------------------------

    def _load_index(self) -> None:
        tail = self.raw[-2048:]
        m = None
        for m in _STARTXREF.finditer(tail):
            pass
        entries: dict[int, tuple] = {}
        ok = False
        if m:
            try:
                self._walk_xref(int(m.group(1)), entries, set())
                ok = bool(entries)
            except Exception:
                ok = False
        if ok:
            self.index = {
                num: e for num, e in entries.items() if e[0] != "f"
            }
            # sanity: the Root must resolve, else fall back to recovery
            root = self.trailer.get("Root")
            if isinstance(root, Ref) and root.num not in self.index:
                ok = False
        if not ok:
            self._recovery_scan()

    def _walk_xref(self, off: int, entries: dict, seen: set) -> None:
        if off in seen or off < 0 or off >= len(self.raw):
            return
        seen.add(off)
        pos = _skip_ws(self.raw, off)
        if self.raw.startswith(b"xref", pos):
            trailer = self._read_classic_table(pos + 4, entries)
        else:
            trailer = self._read_xref_stream(pos, entries)
        if trailer:
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            # hybrid-reference: the classic trailer points at an xref STREAM
            # holding the ObjStm entries (spec 7.5.8.4)
            xs = trailer.get("XRefStm")
            if isinstance(xs, int):
                self._walk_xref(xs, entries, seen)
            prev = trailer.get("Prev")
            if isinstance(prev, int):
                self._walk_xref(prev, entries, seen)

    def _read_classic_table(self, pos: int, entries: dict) -> dict:
        raw = self.raw
        while True:
            pos = _skip_ws(raw, pos)
            if raw.startswith(b"trailer", pos):
                t, _ = parse_object(raw, pos + 7)
                return t if isinstance(t, dict) else {}
            m = re.match(rb"(\d+)\s+(\d+)", raw[pos : pos + 48])
            if not m:
                return {}
            first, count = int(m.group(1)), int(m.group(2))
            pos += m.end()
            if count >= 64:
                # spec-conformant tables are exactly 20 bytes/row — decode
                # the whole section with numpy (the row loop below costs
                # ~7 us/row; a 20k-page doc carries 40k+ rows and every
                # page-range chunk task re-reads the table). Any deviation
                # falls through to the tolerant per-row loop.
                p2 = _skip_ws(raw, pos)
                fast = _xref_rows_np(raw, p2, count)
                if fast is not None:
                    offs, is_n = fast
                    for num, off, nflag in zip(
                        range(first, first + count), offs, is_n
                    ):
                        if num not in entries:
                            entries[num] = ("n", off) if nflag else ("f", off)
                    pos = p2 + 20 * count
                    continue
            for k in range(count):
                pos = _skip_ws(raw, pos)
                row = _XREF_ROW.match(raw, pos)
                if not row:
                    raise PdfError(spec.ERR_BAD_XREF)
                num = first + k
                if num not in entries:
                    typ = "n" if row.group(3) == b"n" else "f"
                    entries[num] = (typ, int(row.group(1)))
                pos = row.end()

    def _read_xref_stream(self, pos: int, entries: dict) -> dict:
        m = _OBJ_MARKER.match(self.raw, pos)
        if not m:
            raise PdfError(spec.ERR_BAD_XREF)
        obj, _ = self._parse_indirect_at(pos)
        if not isinstance(obj, Stream) or obj.dict.get("Type") != Name("XRef"):
            raise PdfError(spec.ERR_BAD_XREF)
        d = obj.dict
        data = self._decode_stream(obj)
        w = [int(x) for x in d.get("W", [])]
        if not w:
            raise PdfError(spec.ERR_BAD_XREF)
        size = int(d.get("Size", 0))
        index = d.get("Index", [0, size])
        rw = sum(w)
        total_rows = sum(
            int(index[s + 1]) for s in range(0, len(index) - 1, 2)
        )
        # widths <= 7: a width-8 field with its top bit set overflows the
        # int64 matmul below, so such rows take the exact per-row loop
        if len(w) == 3 and rw and all(0 <= x <= 7 for x in w) \
                and total_rows >= 64:
            # numpy fast path (the classic-table twin): decode every
            # W-packed row in one vectorized pass — the per-row
            # int.from_bytes loop costs ~7 us/row and a modern 20k-page
            # document keeps its whole xref in one of these streams.
            # Same cursor semantics as the loop below: ranges consume
            # rows sequentially, truncated data stops consumption, a
            # zero-width FIRST field defaults to type 1 (spec 7.5.8.2),
            # later zero-width fields to 0, first-wins per object.
            nrows = min(len(data) // rw, total_rows)
            arr = _np.frombuffer(data, _np.uint8, nrows * rw, 0).reshape(
                nrows, rw
            )

            def _field(lo: int, width: int, default: int):
                if width == 0:
                    return None  # constant `default` for every row
                return (
                    arr[:, lo : lo + width].astype(_np.int64)
                    @ (256 ** _np.arange(width - 1, -1, -1))
                )

            typ_a = _field(0, w[0], 1)
            f2_a = _field(w[0], w[1], 0)
            f3_a = _field(w[0] + w[1], w[2], 0)
            r = 0
            for s in range(0, len(index) - 1, 2):
                first, count = int(index[s]), int(index[s + 1])
                take = min(count, nrows - r)
                if take <= 0:
                    continue
                typs = typ_a[r : r + take].tolist() if typ_a is not None \
                    else [1] * take
                f2s = f2_a[r : r + take].tolist() if f2_a is not None \
                    else [0] * take
                f3s = f3_a[r : r + take].tolist() if f3_a is not None \
                    else [0] * take
                r += take
                for num, typ, f2, f3 in zip(
                    range(first, first + take), typs, f2s, f3s
                ):
                    if num in entries:
                        continue
                    if typ == 1:
                        entries[num] = ("n", f2)
                    elif typ == 2:
                        entries[num] = ("c", f2, f3)
                    else:
                        entries[num] = ("f", f2)
        else:
            p = 0
            for s in range(0, len(index) - 1, 2):
                first, count = int(index[s]), int(index[s + 1])
                for k in range(count):
                    if p + rw > len(data):
                        break
                    fields = []
                    for fi, width in enumerate(w):
                        if width:
                            fields.append(
                                int.from_bytes(data[p : p + width], "big")
                            )
                        else:
                            # spec 7.5.8.2: a zero-width FIRST field
                            # defaults to type 1; later zero-width
                            # fields default to 0
                            fields.append(1 if fi == 0 else 0)
                        p += width
                    num = first + k
                    if num in entries:
                        continue
                    typ = fields[0]
                    if typ == 1:
                        entries[num] = ("n", fields[1])
                    elif typ == 2:
                        entries[num] = ("c", fields[1], fields[2])
                    else:
                        entries[num] = ("f", fields[1])
        # "Encrypt" must survive: modern files keep the whole trailer in the
        # xref stream, and dropping it would parse encrypted bytes as
        # plaintext instead of taking the decrypt/reject path below
        return {
            k: v
            for k, v in d.items()
            if k in ("Root", "Info", "Prev", "Size", "ID", "Encrypt")
        }

    def _recovery_scan(self) -> None:
        """Brute-force re-index of every ``N G obj`` marker (last marker wins
        — later incremental bodies override), mirroring pdf.js indexObjects
        (pdf.worker.js:58331-58476). Also recovers the trailer dict."""
        self.index = {}
        for m in _OBJ_MARKER.finditer(self.raw):
            self.index[int(m.group(1))] = ("n", m.start())
        if "Root" not in self.trailer:
            for t in re.finditer(rb"trailer", self.raw):
                try:
                    td, _ = parse_object(self.raw, t.end())
                    if isinstance(td, dict) and "Root" in td:
                        self.trailer.update(td)
                except Exception:
                    continue
            if "Root" not in self.trailer:
                # xref-stream-only file: find a /Type /Catalog object
                for num in self.index:
                    try:
                        o = self.get_object(num)
                    except Exception:
                        continue
                    if isinstance(o, dict) and o.get("Type") == Name("Catalog"):
                        self.trailer["Root"] = Ref(num, 0)
                        break

    # -- object fetch ---------------------------------------------------------

    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref) and depth < 32:
            obj = self.get_object(obj.num)
            depth += 1
        return obj

    def get_object(self, num: int):
        if num in self.cache:
            obj = self.cache[num]
            if isinstance(obj, _Unparseable):
                raise obj.cls(*obj.args)
            return obj
        self.cache[num] = None  # cycle guard
        entry = self.index.get(num)
        obj = None
        try:
            if entry is None:
                pass
            elif entry[0] == "n":
                obj, _ = self._parse_indirect_at(entry[1], expect=num)
            elif entry[0] == "c":
                obj = self._fetch_compressed(entry[1], entry[2], num)
        except Exception as exc:
            # pdf.js XRef.fetch throws on EVERY fetch of an object it
            # cannot produce: later resolves raise too, not read the
            # cycle guard's None
            self.cache[num] = _Unparseable(exc)
            raise
        self.cache[num] = obj
        return obj

    def _parse_indirect_at(self, off: int, expect: int | None = None):
        raw = self.raw
        m = _OBJ_MARKER.match(raw, _skip_ws(raw, off))
        if not m or (expect is not None and int(m.group(1)) != expect):
            # stale offset: fall back to scanning for the object marker
            if expect is not None:
                for mm in re.finditer(
                    rb"(?<![0-9])%d\s+\d+\s+obj\b" % expect, raw
                ):
                    m = _OBJ_MARKER.match(raw, mm.start())
                    break
            if not m:
                return None, off
        pos = m.end()
        obj, pos = parse_object(raw, pos)
        num, gen = int(m.group(1)), int(m.group(2))
        decrypt = self.handler is not None and num != self._encrypt_num
        pos2 = _skip_ws(raw, pos)
        if isinstance(obj, dict) and raw.startswith(b"stream", pos2):
            body_start = pos2 + 6
            if raw.startswith(b"\r\n", body_start):
                body_start += 2
            elif raw[body_start : body_start + 1] in (b"\n", b"\r"):
                body_start += 1
            length = self.resolve(obj.get("Length"))
            body = None
            if isinstance(length, int) and 0 <= length <= self.MAX_OBJ_SIZE:
                cand_end = body_start + length
                after = raw[cand_end : cand_end + 20]
                if re.match(rb"\s*endstream", after):
                    body = raw[body_start:cand_end]
            if body is None:  # broken /Length: scan for endstream
                e = raw.find(b"endstream", body_start)
                if e < 0:
                    e = len(raw)
                body = raw[body_start:e].rstrip(b"\r\n")
            end = body_start + len(body)
            if decrypt and str(obj.get("Type", "")) != "XRef":
                # xref streams are NEVER encrypted (spec 7.5.8.2)
                body = self.handler.decrypt(body, num, gen, is_string=False)
                obj = self._decrypt_tree(obj, num, gen)
            return Stream(obj, body), end
        if decrypt:
            obj = self._decrypt_tree(obj, num, gen)
        return obj, pos

    def _fetch_compressed(self, container: int, idx: int, want: int):
        items = self._objstm_cache.get(container)
        if items is None:
            items = {}
            stm = self.get_object(container)
            if isinstance(stm, Stream) and stm.dict.get("Type") == Name("ObjStm"):
                data = self._decode_stream(stm)
                n = int(self.resolve(stm.dict.get("N", 0)) or 0)
                first = int(self.resolve(stm.dict.get("First", 0)) or 0)
                pos = 0
                pairs = []
                for _ in range(n):
                    m1 = _NUMBER.match(data, _skip_ws(data, pos))
                    if not m1:
                        break
                    m2 = _NUMBER.match(data, _skip_ws(data, m1.end()))
                    if not m2:
                        break
                    pairs.append((int(m1.group(0)), int(m2.group(0))))
                    pos = m2.end()
                for onum, ooff in pairs:
                    try:
                        o, _ = parse_object(data, first + ooff)
                        items[onum] = o
                    except Exception:
                        continue
            self._objstm_cache[container] = items
        return items.get(want)

    # -- stream decoding ------------------------------------------------------

    def _decode_stream(self, stm: Stream) -> bytes:
        filters = self.resolve(stm.dict.get("Filter"))
        parms = self.resolve(stm.dict.get("DecodeParms"))
        if filters is None:
            return stm.raw
        if not isinstance(filters, list):
            filters, parms = [filters], [parms]
        elif not isinstance(parms, list):
            parms = [parms] + [None] * (len(filters) - 1)
        data = stm.raw
        for f, pr in zip(filters, parms):
            fname = str(self.resolve(f))
            pr = self.resolve(pr) or {}
            if fname in ("FlateDecode", "Fl"):
                data = _flate(data)
            elif fname in ("LZWDecode", "LZW"):
                data = _lzw_decode(data)
            elif fname in ("ASCIIHexDecode", "AHx"):
                hexs = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
                if len(hexs) % 2:
                    hexs += b"0"  # odd count: final digit implies 0 (7.4.2)
                data = bytes.fromhex(hexs.decode())
            elif fname in ("ASCII85Decode", "A85"):
                data = _ascii85_decode(data)
            elif fname in ("RunLengthDecode", "RL"):
                data = _rle_decode(data)
            else:  # image codecs (DCT/CCITT/JBIG2/JPX): opaque, not text
                return data
            pred = int(self.resolve(pr.get("Predictor", 1)) or 1)
            if pred >= 10:
                data = _png_unpredict(
                    data,
                    int(self.resolve(pr.get("Columns", 1)) or 1),
                    int(self.resolve(pr.get("Colors", 1)) or 1),
                    int(self.resolve(pr.get("BitsPerComponent", 8)) or 8),
                )
            elif pred == 2:
                pass  # TIFF predictor: not seen in text streams
        return data

    def decoded(self, ref_or_stream) -> bytes:
        s = self.resolve(ref_or_stream)
        if isinstance(s, Stream):
            return self._decode_stream(s)
        return b""

    # -- fonts ----------------------------------------------------------------

    def _fallback_fm(self) -> "FontMap":
        fm = self.fallback_font_map
        if fm is None:
            fm = self.fallback_font_map = build_font_map(self, None)
        return fm

    def font_for_ref(self, ref) -> "FontMap":
        """FontMap for a font reference, shared by both page tiers — the
        Tf path resolves resource names here; ExtGState /Font entries
        (the `gs` operator, pdf.js handleSetFont(null, gStateFont[0]))
        carry the ref directly."""
        if not isinstance(ref, Ref):
            if ref is not None:
                rv = self.resolve(ref)
                if isinstance(rv, dict) and not isinstance(rv, Stream):
                    # inline font dict: id() keys are not stable across
                    # gc — no cache
                    return build_font_map(self, rv)
            # missing name / junk value: ONE shared fallback per
            # document (pdf.js static fallbackFontDict + cacheKey
            # short-circuit, pdf.worker.js:35575-35580) — identity
            # matters for the per-font charsCache, not just the widths
            return self._fallback_fm()
        fm = self.font_map_cache.get(ref.num)
        if fm is None:
            try:
                rv = self.resolve(ref)
            except ValueError:
                # an unparseable font object reads as a missing one:
                # the shared fallback below
                rv = None
            if not isinstance(rv, dict) or isinstance(rv, Stream):
                # a ref resolving to a non-dict: pdf.js falls to the
                # SHARED fallbackFontDict font (same object as every
                # other missing/junk font of this document)
                fm = self._fallback_fm()
                self.font_map_cache[ref.num] = fm
                return fm
            fm = build_font_map(self, ref)
            self.font_map_cache[ref.num] = fm
        return fm


# --------------------------------------------------------------------------
# fonts: byte -> unicode
# --------------------------------------------------------------------------

class _HexRetry(Exception):
    """A C/c subset name was non-decimal but valid hex: pdf.js restarts
    _simpleFontToUnicode for the WHOLE font with forceGlyphs=true
    (pdf.worker.js:37284-37289)."""


def _js_parseint_hex(s: str) -> int | None:
    """JS parseInt(s, 16): longest valid hex PREFIX; None when empty."""
    i = 0
    while i < len(s) and s[i] in "0123456789abcdefABCDEF":
        i += 1
    return int(s[:i], 16) if i else None


def _unicode_for_glyph(name: str) -> int:
    """pdf.js getUnicodeForGlyph: full Adobe Glyph List, then
    uniXXXX (exactly 4 hex) / uXXXX..XXXXXX (4-6 hex) names whose hex
    part is UPPERCASE (its hexStr === hexStr.toUpperCase() guard);
    parseInt prefix semantics. -1 when unresolved."""
    cp = _encdata.GLYPHS_UNICODE.get(name)
    if cp is not None:
        return cp
    if name and name[0] == "u":
        n = len(name)
        if n == 7 and name[1] == "n" and name[2] == "i":
            hexs = name[3:]
        elif 5 <= n <= 7:
            hexs = name[1:]
        else:
            return -1
        if hexs == hexs.upper():
            v = _js_parseint_hex(hexs)
            if v is not None and v >= 0:
                return v
    return -1


def _simple_font_to_unicode(
    enc_names: list[str],
    base_name: str | None,
    diffs_names: dict[int, str],
    force_glyphs: bool = False,
) -> dict[int, str]:
    """Exact mirror of pdf.js _simpleFontToUnicode
    (pdf.worker.js:37242-37321): the font's effective glyph-NAME
    encoding (default encoding overridden by /Differences) resolved
    per name through the full Adobe Glyph List, then the subset-font
    name heuristics — GXX hex, gXXXX hex, C/cNNN decimal (hex on the
    font-wide _HexRetry pass), uniXXXX/uXXXX, f_h/f_t/T_h — with the
    base-encoding interplay when a heuristic code equals its own
    charcode."""
    encoding = list(enc_names)
    for code, gname in diffs_names.items():
        if gname == ".notdef":
            continue
        if 0 <= code < 256:
            encoding[code] = gname
    out: dict[int, str] = {}
    glyphs = _encdata.GLYPHS_UNICODE
    for code in range(256):
        gname = encoding[code]
        if not gname:
            continue
        cp = glyphs.get(gname)
        if cp is not None:
            out[code] = chr(cp)
            continue
        c = 0
        c0 = gname[0]
        if c0 == "G":
            if len(gname) == 3:
                c = _js_parseint_hex(gname[1:]) or 0
        elif c0 == "g":
            if len(gname) == 5:
                c = _js_parseint_hex(gname[1:]) or 0
        elif c0 in "Cc":
            if 3 <= len(gname) <= 4:
                body = gname[1:]
                if force_glyphs:
                    c = _js_parseint_hex(body) or 0
                elif body.isdigit():
                    c = int(body, 10)
                elif _js_parseint_hex(body) is not None:
                    raise _HexRetry()
        elif c0 == "u":
            v = _unicode_for_glyph(gname)
            if v != -1:
                c = v
        else:
            if gname in ("f_h", "f_t", "T_h"):
                out[code] = gname.replace("_", "")
            continue
        if 0 < c <= 0x10FFFF:
            if base_name and c == code:
                bg_table = getattr(_encdata, base_name, None)
                bg = bg_table[code] if bg_table else ""
                if bg:
                    out[code] = chr(glyphs.get(bg, 0))
                    continue
            out[code] = chr(c)
    return out


def _isWinNameRecord(plat: int, enc: int, lang: int) -> bool:
    return plat == 3 and enc == 1 and lang == 0x409


def _isMacNameRecord(plat: int, enc: int, lang: int) -> bool:
    return plat == 1 and enc == 0 and lang == 0


def _ttf_name_records(data: bytes) -> list[tuple[int, int, int]] | None:
    """(platform, encoding, language) of the Mac/Win records of an
    sfnt's `name` table, pdf.js readNameTable's filtering
    (pdf.worker.js: only isMacNameRecord/isWinNameRecord records are
    collected). None when there is no parseable name table — pdf.js
    then synthesizes one and skips adjustTrueTypeToUnicode."""
    try:
        if len(data) < 12:
            return None
        tag = data[:4]
        if tag not in (b"\x00\x01\x00\x00", b"true", b"OTTO", b"ttcf"):
            return None
        if tag == b"ttcf":  # font collection: first font's directory
            off = int.from_bytes(data[12:16], "big")
            return _ttf_name_records(data[off:]) if off else None
        ntab = int.from_bytes(data[4:6], "big")
        recs: list[tuple[int, int, int]] = []
        for i in range(ntab):
            e = 12 + 16 * i
            if e + 16 > len(data):
                return None
            if data[e:e + 4] == b"name":
                toff = int.from_bytes(data[e + 8:e + 12], "big")
                tlen = int.from_bytes(data[e + 12:e + 16], "big")
                end = min(toff + tlen, len(data))
                if toff + 6 > end:
                    return None
                fmt = int.from_bytes(data[toff:toff + 2], "big")
                if fmt != 0:
                    return []
                cnt = int.from_bytes(data[toff + 2:toff + 4], "big")
                p = toff + 6
                for _ in range(cnt):
                    if p + 12 > end:
                        break
                    plat = int.from_bytes(data[p:p + 2], "big")
                    encd = int.from_bytes(data[p + 2:p + 4], "big")
                    lang = int.from_bytes(data[p + 4:p + 6], "big")
                    if _isWinNameRecord(plat, encd, lang) or \
                            _isMacNameRecord(plat, encd, lang):
                        recs.append((plat, encd, lang))
                    p += 12
                return recs
        return None
    except Exception:  # noqa: BLE001 — malformed font: no adjustment
        return None


_T1_ENC_STD = re.compile(rb"/Encoding\s+StandardEncoding\s+def")
_T1_ENC_DUP = re.compile(rb"dup\s+(\d+)\s*/([^\s/\[\]{}()<>]+)\s+put")


def _amend_winansi_names(table: dict[int, str]) -> None:
    """adjustTrueTypeToUnicode's amend loop (pdf.worker.js:27541-27555):
    every named WinAnsi charcode re-resolves through the glyph list."""
    glyphs = _encdata.GLYPHS_UNICODE
    for i, gname in enumerate(_encdata.WinAnsiEncoding):
        if not gname:
            continue
        cp = glyphs.get(gname)
        if cp is not None:
            table[i] = chr(cp)


def _type1_builtin_encoding(data: bytes):
    """The embedded Type1 program's /Encoding from its CLEARTEXT header
    (pdf.js Type1Parser.extractFontHeader, pdf.worker.js:27141-27169):
    either the StandardEncoding sentinel or the custom
    ``dup <code> /<name> put`` array. Returns ("std", None),
    ("custom", {code: name}) or None. PFB segment headers are
    tolerated (the cleartext is the first segment)."""
    try:
        if data[:1] == b"\x80":  # PFB: 6-byte segment header
            seglen = int.from_bytes(data[2:6], "little")
            data = data[6:6 + seglen]
        head = data.split(b"eexec", 1)[0]
        m = re.search(rb"/Encoding\b", head)
        if not m:
            return None
        tail = head[m.start():]
        if _T1_ENC_STD.match(tail):
            return ("std", None)
        names: dict[int, str] = {}
        # the array form ends at its closing "def" — pdf.js stops at
        # the first def token after the dups ("readonly def")
        body = tail.split(b" def", 1)[0]
        for dm in _T1_ENC_DUP.finditer(body):
            code = int(dm.group(1))
            if 0 <= code < 256:
                try:
                    names[code] = dm.group(2).decode("latin-1")
                except Exception:  # noqa: BLE001
                    continue
        return ("custom", names) if names else None
    except Exception:  # noqa: BLE001
        return None


# JS regex \s (the class pdf.js's getCharUnicodeCategory tests first)
_JS_WS = frozenset(
    "\t\n\x0b\f\r \u00a0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000\ufeff"
)

def _normalize_glyph(v: str) -> str:
    """pdf.js glyph-category normalization (pdf.worker.js:20976,36686-36704):
    whitespace-class glyphs read as one plain space, invisible format
    marks vanish. The category regex tests ^(\\s) first and (\\p{Cf})$
    second — mirrored here including the first/last-char anchoring."""
    if not v or v == " ":
        return v
    if v[0] in _JS_WS:
        return " "
    if unicodedata.category(v[-1]) == "Cf":
        return ""
    return v


_LIGATURES = {
    "ﬀ": "ff", "ﬁ": "fi", "ﬂ": "fl",
    "ﬃ": "ffi", "ﬄ": "ffl", "ﬅ": "ſt", "ﬆ": "st",
}

# pdf.js normalizeUnicode (pdf.worker.js:5304-5310): a TARGETED set of
# compatibility chars NFKC'd at item flush — presentation forms
# (Hebrew/Arabic/latin ligatures), µ, Ω, Greek question mark, NBSP and
# the U+2000 space family; ﬅ maps via a special table to "ſt" (LONG s —
# NFKC would give "st"). Runs of ﬅ longer than one hit a Map.get miss
# and interpolate as the literal string "undefined" (a JS quirk,
# mirrored).
_NORM_RE = re.compile(
    "([\u00a0\u00b5\u037e\u0eb3\u2000-\u200a\u202f\u2126"
    "\ufb00-\ufb04\ufb06\ufb20-\ufb36\ufb38-\ufb3c\ufb3e"
    "\ufb40-\ufb41\ufb43-\ufb44\ufb46-\ufba1\ufba4-\ufba9"
    "\ufbae-\ufbb1\ufbd3-\ufbdc\ufbde-\ufbe7\ufbea-\ufbf8"
    "\ufbfc-\ufbfd\ufc00-\ufc5d\ufc64-\ufcf1\ufcf5-\ufd3d"
    "\ufd88\ufdf4\ufdfa-\ufdfb\ufe71\ufe77\ufe79\ufe7b"
    "\ufe7d]+)|(\ufb05+)"
)


def _normalize_unicode(s: str) -> str:
    def rep(m):
        if m.group(1):
            return unicodedata.normalize("NFKC", m.group(1))
        return "ſt" if len(m.group(2)) == 1 else "undefined"
    return _NORM_RE.sub(rep, s)

_BFCHAR = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
# * not +: an EMPTY dst (`<00BB> <>`) is a real token — dropping it
# misaligns every following src/dst pair (caught by the type0 fuzz)
_HEXTOK = re.compile(rb"<([0-9A-Fa-f]*)>")
_CODESPACE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_CIDRANGE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CIDCHAR = re.compile(rb"begincidchar(.*?)endcidchar", re.S)
_CIDROW = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\d+)")
_CIDCHAR_ROW = re.compile(rb"<([0-9A-Fa-f]+)>\s*(\d+)")


def _parse_codespace(cmap: bytes) -> list[tuple[int, int, int]]:
    """codespacerange sections -> [(byte_width, lo, hi)], narrowest first
    (CMap mapping walks codespaces by increasing code length, spec
    9.7.6.2)."""
    ranges: list[tuple[int, int, int]] = []
    for sec in _CODESPACE.finditer(cmap):
        toks = _HEXTOK.findall(sec.group(1))
        for i in range(0, len(toks) - 1, 2):
            lo_h, hi_h = toks[i], toks[i + 1]
            width = (len(lo_h) + 1) // 2
            ranges.append((width, int(lo_h, 16), int(hi_h, 16)))
    ranges.sort(key=lambda r: r[0])
    return ranges


def _parse_cid_sections(cmap: bytes) -> list[tuple[int, int, int]]:
    """cidchar/cidrange sections -> [(lo, hi, first_cid)]."""
    out: list[tuple[int, int, int]] = []
    for sec in _CIDRANGE.finditer(cmap):
        for m in _CIDROW.finditer(sec.group(1)):
            out.append((int(m.group(1), 16), int(m.group(2), 16),
                        int(m.group(3))))
    for sec in _CIDCHAR.finditer(cmap):
        for m in _CIDCHAR_ROW.finditer(sec.group(1)):
            code = int(m.group(1), 16)
            out.append((code, code, int(m.group(2))))
    return out


def _parse_cid_widths(doc: "Document", desc: dict) -> tuple[dict, float]:
    """Descendant CIDFont /W array + /DW default -> CID-keyed widths
    (spec 9.7.4.3: [cFirst [w...] | cFirst cLast w]*)."""
    widths: dict[int, float] = {}
    dw = doc.resolve(desc.get("DW"))
    default = float(dw) if isinstance(dw, (int, float)) else 1000.0
    warr = doc.resolve(desc.get("W"))
    if isinstance(warr, list):
        i = 0
        while i < len(warr) - 1:
            first = doc.resolve(warr[i])
            second = doc.resolve(warr[i + 1])
            if isinstance(second, list):
                for off, wv in enumerate(second):
                    if isinstance(wv, (int, float)):
                        widths[int(first) + off] = float(wv)
                i += 2
            elif i + 2 < len(warr):
                wv = doc.resolve(warr[i + 2])
                if isinstance(wv, (int, float)):
                    for c in range(int(first), int(second) + 1):
                        if c - int(first) > 65535:
                            break
                        widths[c] = float(wv)
                i += 3
            else:
                break
    return widths, default


def _utf16be(hexs: bytes) -> str:
    if len(hexs) % 2:
        hexs = hexs[:-1]  # hex-string lexer drops the dangling digit
    try:
        b = bytes.fromhex(hexs.decode())
    except ValueError:
        return ""
    if len(b) % 2:
        # odd BYTE count: UTF-16 units group right-aligned (probed live:
        # bfchar dst <006100> reads U+0000 U+6100, not "a")
        b = b"\x00" + b
    try:
        # surrogatepass: JS strings carry lone surrogates verbatim
        return b.decode("utf-16-be", "surrogatepass")
    except ValueError:
        return ""


class FontMap:
    """Per-font decoder: code (int) -> unicode str. ``nbytes`` is the code
    width (2 for Type0/CID fonts, else 1). ``widths`` maps code -> glyph
    width in 1/1000 em (/Widths + /FirstChar, or the descendant font's /W
    for CID fonts; default 500) — used by the interpreter's x-advance to
    detect inter-item word gaps.

    CID-font tail (pdf.js CMapFactory / IdentityToUnicodeMap parity):

    - ``identity``: Type0 with a predefined Identity CMap and NO /ToUnicode
      decodes code -> chr(code) (pdf.js builds an IdentityToUnicodeMap,
      pdf.worker.js PartialEvaluator.buildToUnicode fallback).
    - ``cid_ranges``: code -> CID deltas from an embedded /Encoding CMap's
      cidchar/cidrange sections; CIDs feed the width table and the identity
      fallback.
    - ``var_ranges``: variable-width codespace ranges [(nbytes, lo, hi)];
      when the codespace mixes widths, decode walks bytes greedily against
      the ranges (narrowest first, spec 9.7.6.2 CMap mapping rules) instead
      of a fixed stride.
    """

    __slots__ = (
        "table", "nbytes", "widths", "default_width", "identity",
        "cid_ranges", "var_ranges", "_simple", "_cspec",
        "cf_codes", "error",
    )

    def __init__(
        self,
        table: dict[int, str],
        nbytes: int,
        widths: dict[int, float] | None = None,
        default_width: float = 500.0,
        identity: bool = False,
        cid_ranges: list[tuple[int, int, int]] | None = None,
        var_ranges: list[tuple[int, int, int]] | None = None,
        cf_codes: set[int] | frozenset[int] | None = None,
        error: bool = False,
    ) -> None:
        # pdf.js ErrorFont twin (pdf.worker.js:29903-29911): a font
        # whose load THREW (invalid Subtype/BaseFont, junk Differences
        # entry, broken DescendantFonts). charsToGlyphs() returns []
        # unconditionally — every show is a complete no-op (no glyphs,
        # no pen advance, no charsCache interaction, arrays don't
        # throw). Modeled as an all-Cf zero-width map + this flag for
        # the jsvm cache bypass.
        self.error = error
        self.table, self.nbytes = table, nbytes
        self.widths = widths or {}
        self.default_width = default_width
        self.identity = identity
        self.cid_ranges = cid_ranges or []
        self.var_ranges = var_ranges or []
        # Cf-category codes (invisible format marks — soft hyphen,
        # ZWSP, directional marks): pdf.js `continue`s before ANY
        # advance (pdf.worker.js:36684) — zero their widths
        self.cf_codes = frozenset(cf_codes or ())
        for c in self.cf_codes:
            self.widths[c] = 0.0
        # a 1-byte code-indexed font: unmapped codes decode to ""
        self._simple = nbytes == 1 and not identity and not self.var_ranges
        self._cspec: tuple | None | bool = False  # False = not built yet

    def _freeze(self) -> "FontMap":
        """Make this map's tables read-only and build its ``cspec()``,
        so that FontMaps from ``_share`` can use them in any document."""
        self.table = MappingProxyType(self.table)
        self.widths = MappingProxyType(self.widths)
        self.cid_ranges = tuple(self.cid_ranges)
        self.var_ranges = tuple(self.var_ranges)
        sp = self.cspec()
        if sp is not None:
            for arr in sp[1:]:
                arr.flags.writeable = False
        return self

    def _share(self) -> "FontMap":
        """A new FontMap over this frozen map's tables. Identity still
        matters per document: jsvm keys its charsCache by FontMap."""
        fm = FontMap.__new__(FontMap)
        for name in FontMap.__slots__:
            setattr(fm, name, getattr(self, name))
        return fm

    def cspec(self) -> tuple | None:
        """Tables for the full-C replay (``pdftext_replay``):
        ``(trans_utf8_blob, offsets int32[257], widths float64[256],
        categories uint8[256])``, or
        None when this font can't take the C path — multi-byte/identity/
        variable-codespace fonts, or a table entry containing an RTL
        character (``bidi.visual`` would reorder the shown string; the C replay
        doesn't implement UAX#9, so those pages run through jsvm)."""
        sp = self._cspec
        if sp is False:
            sp = None
            if self._simple:
                entries = [self.table.get(i) or "" for i in range(256)]
                if _RTL_RUN.search("".join(entries)) is None:
                    warr = [self.width(i) for i in range(256)]
                    blobs = [e.encode("utf-8") for e in entries]
                    off = _np.zeros(257, _np.int32)
                    _np.cumsum([len(x) for x in blobs], out=off[1:])
                    # per-code categories for the C walk: 2 = Cf
                    # (invisible format mark, zero everything), 3 =
                    # zero-width non-space glyph (prevTransform staller
                    # — arms per-glyph compare + disables the letter-
                    # gap pre-join for the whole font)
                    cat_arr = _np.zeros(256, _np.uint8)
                    for i in range(256):
                        if i in self.cf_codes:
                            cat_arr[i] = 2
                        elif warr[i] == 0.0 and not (
                            i == 0x20 or entries[i] == " "
                        ):
                            cat_arr[i] = 3
                    sp = (
                        b"".join(blobs),
                        off,
                        _np.array(warr, _np.float64),
                        cat_arr,
                    )
            self._cspec = sp
        return sp

    def _cid(self, code: int) -> int:
        for lo, hi, dst in self.cid_ranges:
            if lo <= code <= hi:
                return dst + (code - lo)
        return code

    def _fallback_char(self, code: int) -> str:
        """Unmapped charcode: glyph.unicode falls back to the CID's
        char — `toUnicode.get(c) || c` in Font._charToGlyph, so an
        EMPTY mapped string falls back too (probed live: Identity-H
        <00410000> keeps the NUL; <0041D800FFFF> keeps the lone
        surrogate). Whitespace-CATEGORY chars (JS \\s: tab/LF/VT/FF/CR)
        take the space branch and never append as glyphs. The CID
        mapping matters for ranged embedded-cmap fonts; for Identity-H
        cid == charcode."""
        cid = self._cid(code)
        if cid in (9, 10, 11, 12, 13):
            # whitespace-category glyph: contributes a SPACE through the
            # show loop's whitespace branch (saveLastChar(" ") arms the
            # ring — the next glyph's append materializes it)
            return " "
        return _normalize_glyph(chr(cid))

    def _one(self, code: int) -> str:
        u = self.table.get(code)
        if u:
            return u
        return self._fallback_char(code)

    def codes(self, s: bytes) -> list[int]:
        """Split a show string into char codes (2-byte, variable-width
        codespace, or one per byte)."""
        if self.var_ranges:
            out = []
            i, n = 0, len(s)
            while i < n:
                for w, lo, hi in self.var_ranges:
                    if i + w <= n:
                        code = int.from_bytes(s[i : i + w], "big")
                        if lo <= code <= hi:
                            out.append(code)
                            i += w
                            break
                else:
                    i += 1  # outside every codespace: resync on next byte
            return out
        if self.nbytes == 2:
            out = [
                int.from_bytes(s[i : i + 2], "big")
                for i in range(0, len(s) - 1, 2)
            ]
            if len(s) % 2:
                # trailing odd byte: its own 1-byte charcode (probed
                # live: <004100> on Identity-H reads "a\x00")
                out.append(s[-1])
            return out
        return list(s)

    def unicode(self, code: int) -> str:
        """glyph.unicode of one char code (the table is already
        ligature-expanded and category-normalized); an unmapped
        multi-byte code falls back to its CID's char."""
        if self._simple:
            return self.table.get(code) or ""
        if self.nbytes == 2 or self.identity or self.var_ranges:
            return self._one(code)
        return self.table.get(code, "")

    def width(self, code: int) -> float:
        """Glyph width of one char code in 1/1000 em (CID-keyed for
        identity and embedded-CMap fonts)."""
        if self.identity or self.var_ranges:
            code = self._cid(code)
        return self.widths.get(code, self.default_width)


def _js_truthy_obj(v) -> bool:
    """JS ToBoolean over resolved PDF objects (for ``if (descriptor)`` /
    ``!df`` style guards)."""
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return v == v and v != 0
    if isinstance(v, (bytes, str)):
        return len(v) > 0
    return v is not None  # dicts/arrays/streams/Names always truthy


def _name_convertible(v) -> bool:
    """Would pdf.js's ``typeof x === "string" ? Name.get(x) : x`` leave a
    Name? PDF literal strings are JS strings (convert); Names pass."""
    return isinstance(v, Name) or isinstance(v, bytes)


def _font_load_error(doc: Document, font: dict) -> bool:
    """True when pdf.js's font pipeline THROWS for this dict and (with
    ignoreErrors) substitutes an ErrorFont. Throw sites mirrored:

    - preEvaluateFont (pdf.worker.js:37598-37620): /Subtype not a Name;
      Type0 without /DescendantFonts, descendant not a dict, descendant
      /Subtype not a Name.
    - translateFont (37739-37741, 37808-37810): no descriptor -> throw
      unless /BaseFont IS a Name (strings are NOT converted in this
      branch) — except Type3, which synthesizes a descriptor; with a
      descriptor -> FontName (string-converted) falling back to BaseFont
      (string-converted) must end a Name: a TRUTHY non-convertible
      FontName (number, array, dict) survives the `fontName ||=
      baseFont` and throws, a falsy one falls through to BaseFont.
    - extractDataStructures (37185): /Encoding dict whose /Differences
      holds an entry that is neither a number nor a Name (booleans
      included — JS typeof true is not "number").
    """
    subtype = doc.resolve(font.get("Subtype"))
    if not isinstance(subtype, Name):
        return True  # "invalid font Subtype"
    desc_src = font
    if str(subtype) == "Type0":
        df = doc.resolve(font.get("DescendantFonts"))
        if not _js_truthy_obj(df):
            return True  # "Descendant fonts are not specified"
        d0 = doc.resolve(df[0]) if isinstance(df, list) and df else df
        if not isinstance(d0, dict) or isinstance(d0, Stream):
            return True  # "Descendant font is not a dictionary."
        if not isinstance(doc.resolve(d0.get("Subtype")), Name):
            return True
        desc_src = d0
        # composite /Encoding feeds CMapFactory.create: Identity-H/V
        # build IdentityCMaps in-process; an embedded CMap STREAM
        # parses; every OTHER shape throws — missing/dict/number
        # outright, and other predefined names because pdf-parse's
        # getDocument passes no cMapUrl (lib/pdf-parse.js:84-87), so
        # the builtin-CMap fetch rejects (live-verified: /JunkCMap,
        # /UniJIS-UCS2-H, and a missing /Encoding all blank the page)
        enc0 = doc.resolve(font.get("Encoding"))
        if isinstance(enc0, Name):
            if str(enc0) not in ("Identity-H", "Identity-V"):
                return True
        elif not isinstance(enc0, Stream):
            return True
    desc = doc.resolve(desc_src.get("FontDescriptor"))
    if not _js_truthy_obj(desc):
        if str(subtype) != "Type3":
            bf = doc.resolve(desc_src.get("BaseFont"))
            if not isinstance(bf, Name):
                return True  # "Base font is not specified"
    elif not isinstance(desc, dict):
        return True  # descriptor.get(...) throws on a non-Dict
    else:
        fn = doc.resolve(desc.get("FontName"))
        if _js_truthy_obj(fn) and not _name_convertible(fn):
            return True  # truthy junk survives `fontName ||= baseFont`
        if not _name_convertible(fn):  # falsy: fall through to BaseFont
            bf = doc.resolve(desc_src.get("BaseFont"))
            if _js_truthy_obj(bf) and not _name_convertible(bf):
                return True
            if not _js_truthy_obj(bf):
                return True  # fontName ends undefined -> throw
    enc = doc.resolve(font.get("Encoding"))
    if isinstance(enc, dict) and not isinstance(enc, Stream):
        diffs = doc.resolve(enc.get("Differences"))
        if isinstance(diffs, list):
            for entry in diffs:
                data = doc.resolve(entry)
                if isinstance(data, bool) or not isinstance(
                    data, (int, float, Name)
                ):
                    return True  # "Invalid entry in 'Differences'"
    # /ToUnicode as a NAME goes through CMapFactory.create like the
    # composite /Encoding: only Identity-H/V resolve without a cMap
    # fetch (readToUnicode's throw is not swallowed — live-verified:
    # /Junk, /Adobe-Identity-UCS, /UniJIS-UCS2-H all blank the page;
    # non-Name non-stream shapes are silently ignored)
    tu = doc.resolve(desc_src.get("ToUnicode"))
    if not _js_truthy_obj(tu):
        tu = doc.resolve(font.get("ToUnicode"))
    if isinstance(tu, Name) and str(tu) not in ("Identity-H",
                                                "Identity-V"):
        return True
    return False


_ERROR_FONT_CF = frozenset(range(256))

# font content key -> frozen FontMap whose tables every FontMap built
# from that content shares (see build_font_map). Spark's reused Python
# workers (single-threaded processes) keep it warm across tasks; least
# recently used entries go first once it holds _FONT_MEMO_CAP.
_FONT_MEMO: dict[tuple, FontMap] = {}
_FONT_MEMO_CAP = 128
# bounds of the key walk: nesting depth and nodes visited (shared
# indirect objects would otherwise make it exponential in the input)
_FONT_KEY_DEPTH = 8
_FONT_KEY_NODES = 8192
# tables larger than this (a CID font's /W) are not kept: it bounds the
# memo's memory at the cap
_FONT_MEMO_MAX_CODES = 1024


class _NoFontKey(Exception):
    """The font object has no content key (see _font_key)."""


def _font_key(doc: Document, font_obj) -> tuple:
    """The resolved font object as a canonical, type-tagged tuple: refs
    resolved (and tagged, since the builder reads a few values
    unresolved), dict items in insertion order, Names apart from
    strings, and int, float and bool apart from each other. Raises
    ``_NoFontKey`` when a Stream is reachable, a resolve raises, or the
    walk passes its bounds."""
    budget = _FONT_KEY_NODES

    def resolve(ref):
        try:
            o = doc.resolve(ref)
        except Exception:  # whatever the parse raised: no key
            raise _NoFontKey() from None
        if type(o) is Ref or type(o) is Stream:
            raise _NoFontKey()
        return o

    def walk(o, depth: int) -> tuple:
        nonlocal budget
        budget -= 1
        if budget < 0 or depth > _FONT_KEY_DEPTH:
            raise _NoFontKey()
        t = type(o)
        if t is Ref:
            return ("r", walk(resolve(o), depth))
        if t is dict:
            # streams sit one level down (/ToUnicode, /Encoding, the
            # descriptor's /FontFile*): look before keying any subtree
            for v in o.values():
                if type(v) is Ref:
                    resolve(v)
                elif type(v) is Stream:
                    raise _NoFontKey()
            return ("d", tuple([(k, walk(v, depth + 1))
                                for k, v in o.items()]))
        if t is list:
            return ("a", tuple([walk(v, depth + 1) for v in o]))
        if t is Name:
            return ("n", str(o))
        if t is bytes:
            return ("s", o)
        if t is int:
            return ("i", o)
        if t is float:
            return ("f", repr(o))  # repr keeps -0.0 apart from 0.0
        if t is bool:
            return ("b", o)
        if o is None:
            return ("z",)
        raise _NoFontKey()  # a Stream, or a type the parser never makes

    return walk(font_obj, 0)


def build_font_map(doc: Document, font_obj) -> FontMap:
    """The FontMap of ``font_obj`` (a Ref, an inline font dict, or None
    for pdf.js's fallback font) in ``doc``.

    Tables are built once per worker for each font content, not once
    per document. The key is the whole resolved font object
    (``_font_key``), so equal content in any document shares one set
    of read-only tables (code->text table, widths with the Cf codes
    zeroed, ranges, ``cf_codes``, ``error`` and the ``cspec()`` arrays).
    The FontMap itself is new on every call: jsvm's charsCache is keyed
    by FontMap identity, and ``Document`` keeps one map per font ref and
    one shared fallback.

    The font is built for this document alone, exactly as without the
    memo, when a Stream is reachable from it (/ToUnicode, /FontFile*, an
    embedded /Encoding CMap), a resolve raises, the key walk passes its
    depth or node bound, or the tables hold more than
    ``_FONT_MEMO_MAX_CODES`` codes."""
    try:
        key = _font_key(doc, font_obj)
    except _NoFontKey:
        return _build_font_map(doc, font_obj)
    proto = _FONT_MEMO.pop(key, None)
    if proto is None:
        proto = _build_font_map(doc, font_obj)
        if len(proto.table) + len(proto.widths) > _FONT_MEMO_MAX_CODES:
            return proto
        proto._freeze()
        if len(_FONT_MEMO) >= _FONT_MEMO_CAP:
            del _FONT_MEMO[next(iter(_FONT_MEMO))]
    _FONT_MEMO[key] = proto
    return proto._share()


def _build_font_map(doc: Document, font_obj) -> FontMap:
    """ToUnicode CMap first (pdf.js PartialEvaluator.readToUnicode), then
    /Encoding /Differences glyph names over a base encoding table."""
    font = doc.resolve(font_obj)
    if isinstance(font, dict) and not isinstance(font, Stream):
        if _font_load_error(doc, font):
            # ErrorFont: all shows are glyph-less no-ops
            return FontMap({}, 1, widths={}, default_width=0.0,
                           cf_codes=_ERROR_FONT_CF, error=True)
    if not isinstance(font, dict):
        # loadFont resolved no font dict: with ignoreErrors (pdf-parse's
        # default getDocument options) pdf.js substitutes
        # PartialEvaluator.fallbackFontDict — Helvetica over
        # WinAnsiEncoding (pdf.worker.js:35575,37950-37956) — so a Tf
        # naming a font absent from /Font still renders with REAL
        # Helvetica AFM widths (position-sensitive splits depend on it)
        font = {
            "BaseFont": Name("Helvetica"),
            "Encoding": Name("WinAnsiEncoding"),
        }
    subtype = str(font.get("Subtype", ""))
    nbytes = 2 if subtype == "Type0" else 1

    widths: dict[int, float] = {}
    default_width = 500.0
    # Type3 /Widths are in GLYPH SPACE: the effective advance is
    # w * FontMatrix[0] text units (pdf.js Font.charsToGlyphs applies
    # the font matrix for Type3), vs w/1000 for standard fonts —
    # normalize to the /1000-em convention the interpreter uses
    wscale = 1.0
    if subtype == "Type3":
        fmat = doc.resolve(font.get("FontMatrix"))
        if isinstance(fmat, list) and len(fmat) == 6:
            try:
                wscale = float(doc.resolve(fmat[0])) * 1000.0
            except (TypeError, ValueError):
                wscale = 1.0
            if wscale <= 0:
                wscale = 1.0
    warr = doc.resolve(font.get("Widths"))
    first = doc.resolve(font.get("FirstChar"))
    if isinstance(warr, list) and isinstance(first, int):
        for off, wv in enumerate(warr):
            wv = doc.resolve(wv)
            if isinstance(wv, (int, float)):
                widths[first + off] = float(wv) * wscale
        # codes outside /Widths get the descriptor's /MissingWidth,
        # default ZERO — not a nominal em fraction (pdf.worker.js:37518;
        # incomplete /Widths arrays are common in subset fonts and the
        # zero-advance glyphs shape the word-gap geometry)
        fd_ = doc.resolve(font.get("FontDescriptor"))
        mw_ = doc.resolve(fd_.get("MissingWidth")) if isinstance(fd_, dict) else None
        default_width = (
            float(mw_) if isinstance(mw_, (int, float)) else 0.0
        )
    if subtype == "Type0":
        # CID fonts carry widths in the descendant font's /W + /DW
        dfs = doc.resolve(font.get("DescendantFonts"))
        if isinstance(dfs, list) and dfs:
            d0 = doc.resolve(dfs[0])
            if isinstance(d0, dict):
                cw, default_width = _parse_cid_widths(doc, d0)
                widths.update(cw)

    table: dict[int, str] = {}
    t1_space_codes: set[int] = set()
    enc = doc.resolve(font.get("Encoding"))
    base_name = None
    diffs = None
    cid_ranges: list[tuple[int, int, int]] = []
    var_ranges: list[tuple[int, int, int]] = []
    # per code: the glyph names the standard-font metric fallback looks
    # up, /Differences first, then the default encoding
    metric_names: list[tuple[str | None, str]] = []
    if isinstance(enc, Name):
        base_name = str(enc)
    elif isinstance(enc, Stream):
        # embedded CMap stream: codespace widths + code->CID mapping
        # (pdf.js CMapFactory.parseCMap on the /Encoding stream)
        emb = doc._decode_stream(enc)
        cs = _parse_codespace(emb)
        if cs:
            widths_seen = {w for w, _, _ in cs}
            if len(widths_seen) > 1:
                var_ranges = cs
            nbytes = max(widths_seen)
        cid_ranges = _parse_cid_sections(emb)
    elif isinstance(enc, dict):
        base_name = str(enc["BaseEncoding"]) if "BaseEncoding" in enc else None
        diffs = doc.resolve(enc.get("Differences"))
    if nbytes == 1:
        # default-encoding selection + name resolution: exact mirror of
        # pdf.js translateFont (pdf.worker.js:37180-37232) +
        # _simpleFontToUnicode. Only MacRoman/MacExpert/WinAnsi survive
        # as /BaseEncoding names; symbolic fonts default to MacRoman
        # (SymbolSet/ZapfDingbats/WinAnsi for the non-embedded
        # Symbol/Dingbats/Wingdings families); TrueType defaults to
        # WinAnsi unless the Nonsymbolic flag is set.
        symbolic = nonsymbolic = False
        fd = doc.resolve(font.get("FontDescriptor"))
        font_file = None
        font_file_kind = None
        if isinstance(fd, dict):
            fl = doc.resolve(fd.get("Flags"))
            if isinstance(fl, int):
                symbolic = bool(fl & 4)
                nonsymbolic = bool(fl & 32)
            for k, kind in (("FontFile2", "ttf"), ("FontFile", "t1"),
                            ("FontFile3", "cff")):
                if k in fd:
                    font_file = fd[k]
                    font_file_kind = kind
                    break
        base_font = str(font.get("BaseFont") or "")
        non_embedded = font_file is None
        is_symbols_name = base_font in _encdata.SYMBOLS_FONTS
        bname = base_name if base_name in (
            "MacRomanEncoding", "MacExpertEncoding", "WinAnsiEncoding"
        ) else None
        if bname and non_embedded and is_symbols_name:
            bname = None
        if bname:
            enc_names = getattr(_encdata, bname)
        else:
            enc_names = _encdata.StandardEncoding
            if subtype == "TrueType" and not nonsymbolic:
                enc_names = _encdata.WinAnsiEncoding
            if symbolic or is_symbols_name:
                enc_names = _encdata.MacRomanEncoding
                if non_embedded:
                    if re.search("Symbol", base_font, re.I):
                        enc_names = _encdata.SymbolSetEncoding
                    elif re.search("Dingbats", base_font, re.I):
                        enc_names = _encdata.ZapfDingbatsEncoding
                    elif re.search("Wingdings", base_font, re.I):
                        enc_names = _encdata.WinAnsiEncoding
        diffs_names: dict[int, str] = {}
        if isinstance(diffs, list):
            code = 0.0
            for item in diffs:
                if isinstance(item, (int, float)) and not isinstance(
                        item, bool):
                    code = float(item)
                elif isinstance(item, Name):
                    # JS `differences[index++] = name`: a FRACTIONAL
                    # index writes a dead plain property — integer
                    # charcode lookups never see it — and stays
                    # fractional through the ++ until the next numeric
                    # entry (probed live: [97.9 /zeta /xi] renders the
                    # base encoding; integer-valued floats DO land)
                    if code.is_integer():
                        diffs_names[int(code)] = str(item)
                    code += 1.0
        has_encoding = bool(bname) or bool(diffs_names)
        metric_names = [(diffs_names.get(c), enc_names[c]) for c in range(256)]
        if non_embedded and subtype in ("Type1", "MMType1"):
            # missing-file Type1 (pdf.js Font._charToGlyph,
            # pdf.worker.js:29779-29786): a charcode whose effective
            # glyph name is EMPTY substitutes a SPACE glyph — its
            # unicode becomes " " unconditionally (so it vanishes from
            # text through the whitespace-glyph skip); ".notdef" keeps
            # the normal fallback.
            t1_space_codes = {
                c for c in range(256)
                if diffs_names.get(c, enc_names[c]) == ""
            }
        try:
            table = _simple_font_to_unicode(enc_names, bname, diffs_names)
        except _HexRetry:
            table = _simple_font_to_unicode(
                enc_names, bname, diffs_names, force_glyphs=True
            )
        # embedded-font-program amendments (only without /ToUnicode —
        # pdf.js gates both on hasIncludedToUnicodeMap)
        if font.get("ToUnicode") is None and font_file is not None:
            if (
                font_file_kind == "ttf" and symbolic and not has_encoding
                and enc_names is not _encdata.WinAnsiEncoding
            ):
                # adjustTrueTypeToUnicode (pdf.worker.js:27514-27558):
                # a symbolic TrueType whose name table carries ONLY
                # Windows records decodes through WinAnsi glyph names
                try:
                    prog = doc.decoded(font_file)
                except Exception:  # noqa: BLE001
                    prog = None
                recs = _ttf_name_records(prog) if prog else None
                if recs and all(
                    _isWinNameRecord(*r) for r in recs
                ):
                    _amend_winansi_names(table)
            elif font_file_kind == "cff":
                # CFFFont._createBuiltInEncoding + adjustType1ToUnicode
                # (pdf.worker.js:22110-22133, 29624): the CFF's own
                # Encoding+charset glyph names win for charcodes the
                # PDF-level encoding doesn't claim.  OpenType-wrapped
                # programs (OTTO sfnt in FontFile3) instead run the
                # TrueType checkAndRepair path, whose name-table gate is
                # adjustTrueTypeToUnicode (pdf.worker.js:29608-29614).
                try:
                    prog = doc.decoded(font_file)
                except Exception:  # noqa: BLE001
                    prog = None
                if prog and prog[:4] in (
                    b"OTTO", b"\x00\x01\x00\x00", b"true", b"ttcf"
                ):
                    if (
                        symbolic and not has_encoding
                        and enc_names is not _encdata.WinAnsiEncoding
                    ):
                        recs = _ttf_name_records(prog)
                        if recs and all(
                            _isWinNameRecord(*r) for r in recs
                        ):
                            _amend_winansi_names(table)
                elif prog:
                    try:
                        builtin_cff = _cffmod.cff_builtin_encoding(prog)
                    except Exception:  # noqa: BLE001
                        builtin_cff = None
                    if builtin_cff:
                        for code2, gname in builtin_cff.items():
                            if has_encoding and (
                                bname or code2 in diffs_names
                            ):
                                continue
                            v = _unicode_for_glyph(gname)
                            if v != -1:
                                table[code2] = chr(v)
            elif font_file_kind == "t1":
                # adjustType1ToUnicode (pdf.worker.js:27559-27589): the
                # embedded program's built-in /Encoding glyph names win
                # for charcodes the PDF-level encoding doesn't claim
                try:
                    prog = doc.decoded(font_file)
                except Exception:  # noqa: BLE001
                    prog = None
                builtin = _type1_builtin_encoding(prog) if prog else None
                if builtin is not None and not (
                    builtin[0] == "std"
                    and enc_names is _encdata.StandardEncoding
                ):
                    names = (
                        dict(enumerate(_encdata.StandardEncoding))
                        if builtin[0] == "std" else builtin[1]
                    )
                    for code2, gname in names.items():
                        if not gname:
                            continue
                        if has_encoding and (
                            bname or code2 in diffs_names
                        ):
                            continue
                        v = _unicode_for_glyph(gname)
                        if v != -1:
                            table[code2] = chr(v)

    tu = font.get("ToUnicode")
    if tu is not None:
        cmap = doc.decoded(tu)
        if cmap:
            if not var_ranges:
                cs = _parse_codespace(cmap)
                ws = {w for w, _, _ in cs}
                if len(ws) > 1:  # mixed-width codespace: ranged decode
                    var_ranges = cs
                    nbytes = max(ws)
            for sec in _BFCHAR.finditer(cmap):
                toks = _HEXTOK.findall(sec.group(1))
                for i in range(0, len(toks) - 1, 2):
                    src = int(toks[i], 16)
                    dst = _utf16be(toks[i + 1])
                    if dst:
                        table[src] = dst
                    if len(toks[i]) >= 4:
                        nbytes = max(nbytes, 2) if subtype == "Type0" else nbytes
            for sec in _BFRANGE.finditer(cmap):
                body = sec.group(1)
                # <lo> <hi> <dst>  |  <lo> <hi> [<d0> <d1> ...]
                for m in re.finditer(
                    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(<[0-9A-Fa-f]+>|\[[^\]]*\])",
                    body,
                ):
                    lo, hi = int(m.group(1), 16), int(m.group(2), 16)
                    dst = m.group(3)
                    if dst.startswith(b"["):
                        parts = _HEXTOK.findall(dst)
                        for off, ph in enumerate(parts):
                            if lo + off <= hi:
                                u = _utf16be(ph)
                                if u:
                                    table[lo + off] = u
                    else:
                        first = _utf16be(dst[1:-1])
                        if first:
                            base_cp = ord(first[-1])
                            prefix = first[:-1]
                            for off in range(min(hi - lo + 1, 65536)):
                                table[lo + off] = prefix + chr(base_cp + off)
    if not widths and nbytes == 1:
        # non-embedded base font without /Widths: pdf.js falls back to
        # its built-in standard-14 AFM tables (getMetrics +
        # buildCharCodeToWidth, pdf.worker.js:37565) — match them or the
        # word-gap geometry drifts a few percent per glyph
        from pdf_parse_new_spark.kernels.stdfonts import (
            STD_ALIASES, STD_WIDTHS,
        )

        bf_obj = doc.resolve(font.get("BaseFont"))
        if not isinstance(bf_obj, Name):
            # extractWidths gates the metrics fallback on
            # `baseFontName instanceof Name` (pdf.worker.js:37521-37526)
            # — a string/junk BaseFont (valid via the descriptor
            # /FontName rescue) keeps widths EMPTY and defaultWidth 0:
            # every glyph advances 0 and the zero-register branches
            # join (live-verified: font_chaos base 950028, '(Helv)' +
            # descriptor reads 'lambdasigma' with no space)
            base_font = ""
            default_width = 0.0
        else:
            base_font = re.sub(r"^[A-Z]{6}\+", "", str(bf_obj))
        std = STD_WIDTHS.get(base_font) or STD_WIDTHS.get(
            STD_ALIASES.get(base_font, "")
        )
        if std is None and base_font:
            # pdf.js: unmatched std names fall back serif -> Times,
            # else Helvetica (isSerifFont heuristic)
            serif = any(
                s in base_font
                for s in ("Times", "Georgia", "Book", "Garamond", "Serif")
            )
            std = STD_WIDTHS["Times-Roman" if serif else "Helvetica"]
        if isinstance(std, float):
            default_width = std  # monospace family: one scalar width
        elif isinstance(std, dict):
            # keyed by the code's GLYPH NAME, not by its /ToUnicode
            # mapping (buildCharCodeToWidth, pdf.worker.js:37565): a
            # /Differences name with a metric wins, else the default
            # encoding's name. The tables key by the name's unicode,
            # ligatures in their expanded form ("fi").
            for code, names in enumerate(metric_names):
                for gname in names:
                    cp = _encdata.GLYPHS_UNICODE.get(gname)
                    if cp is None:
                        continue
                    w = std.get(_LIGATURES.get(chr(cp), chr(cp)))
                    if w:
                        widths[code] = w
                        break
            if widths:
                default_width = 0.0  # pdf.js defaultWidth for table fonts
    if t1_space_codes:
        # applied AFTER /ToUnicode: pdf.js's space substitution runs in
        # _charToGlyph and overwrites whatever toUnicode resolved —
        # including the WIDTH: `width ||= this._spaceWidth`
        # (pdf.worker.js:29783), where _spaceWidth is the width of the
        # first of space/minus/one/i/I resolvable through toUnicode
        # (pdf.worker.js:29724-29752), else defaultWidth. Without the
        # fill these glyphs advance 0 and the reference's inter-word
        # gap (which materializes the space) never opens.
        sw = 0.0
        for uni in (" ", "−", "1", "i", "I"):
            code = next(
                (c for c, u in table.items() if u == uni and c > 0), 0
            )
            w = widths.get(code if code > 0 else ord(uni))
            if w:
                sw = w
                break
        if not sw:
            sw = default_width
        for c in t1_space_codes:
            table[c] = " "
            if not widths.get(c):
                widths[c] = sw
    identity = False
    if not table:
        if subtype == "Type0":
            # Identity-H/V (or an embedded CMap) with no /ToUnicode:
            # pdf.js falls back to an IdentityToUnicodeMap —
            # code -> CID -> chr(cid) (PartialEvaluator.buildToUnicode)
            identity = True
        else:
            table = {i: chr(i) if 32 <= i < 127 else "" for i in range(256)}
    if nbytes == 1 and not identity and not var_ranges:
        # glyph.unicode falls back to the RAW CHARCODE when no mapping
        # resolves (pdf.worker.js:29772: toUnicode.get(charcode) ||
        # charcode): subset symbol fonts without usable names pass
        # their codes through — the reference's output keeps those
        # untranslated chars, so parity requires emitting them too
        for i in range(256):
            if not table.get(i):
                table[i] = chr(i)  # raw; the category pass below
                # normalizes (and flags chr(0xAD) etc. as Cf)
    # expand ligature codepoints the way the reference's text output does
    # (golden .txt has ASCII "efficiency", not U+FB03): done once per font
    # table, not per decoded string. Then normalize per pdf.js glyph
    # categories (getCharUnicodeCategory + the show loop,
    # pdf.worker.js:20976/36693): a whitespace-class glyph — JS \s, which
    # includes NBSP, U+2028/2029 (Office PDFs map the paragraph-mark
    # glyph there), ideographic space — contributes a PLAIN SPACE to the
    # text; invisible format marks (Cf: ZWSP, soft hyphen's cousins,
    # directional marks) are skipped entirely.
    norm_table: dict[int, str] = {}
    cf_codes: set[int] = set()
    for k, v in table.items():
        lig = "".join(_LIGATURES.get(c, c) for c in v) if v else v
        if lig and _NORM_RE.search(lig) is not None:
            lig = _normalize_unicode(lig)
        nv = _normalize_glyph(lig)
        if lig and not nv:
            # invisible format mark (Cf): pdf.js skips the glyph
            # ENTIRELY — no width, no charSpacing, no ring update
            # (pdf.worker.js:36684) — so the advance machinery needs
            # the category, not just the empty decode
            cf_codes.add(k)
        norm_table[k] = nv
    return FontMap(
        norm_table, nbytes, widths, default_width,
        identity=identity, cid_ranges=cid_ranges, var_ranges=var_ranges,
        cf_codes=cf_codes,
    )


# --------------------------------------------------------------------------
# page tree + content interpretation
# --------------------------------------------------------------------------


class _CountMismatch(Exception):
    """Range walk found /Count bookkeeping inconsistent with the tree."""


def _walk_pages_range(
    doc: Document, node_ref, lo: int, hi: int, pages: list, seen: set,
    resources, pos: int = 0, depth: int = 0,
) -> int:
    """Count-guided page-tree walk: collect only pages [lo, hi), skipping
    whole subtrees via /Count (pdf.js pageIndex lookup does the same) —
    a chunk task touches O(range + depth) nodes, not O(total pages).
    Returns the subtree's page count (from /Count when skipping, else by
    walking). Callers validate ``len(pages)`` and fall back to the full
    walk on inconsistent /Count bookkeeping."""
    if depth > 64:
        return 0
    key = node_ref.num if isinstance(node_ref, Ref) else id(node_ref)
    if key in seen:
        return 0
    seen.add(key)
    node = doc.resolve(node_ref)
    if not isinstance(node, dict):
        return 0
    res = node.get("Resources", resources)
    typ = str(node.get("Type", ""))
    kids = doc.resolve(node.get("Kids"))
    if typ == "Page" or ("Contents" in node and not isinstance(kids, list)):
        if lo <= pos < hi:
            pages.append((node, res))
        return 1
    if not isinstance(kids, list):
        return 0
    count = doc.resolve(node.get("Count"))
    if (
        isinstance(count, int)
        and count >= 0
        and (pos + count <= lo or pos >= hi)
    ):
        return count  # disjoint subtree: trust /Count and skip it wholesale
    if isinstance(count, int) and count == len(kids):
        # flat node (/Count == #kids => every kid is a single page): only
        # the kids inside [lo, hi) need resolving at all. A kid that turns
        # out NOT to be one page breaks position bookkeeping — signal the
        # caller to redo the full walk.
        for i, kid in enumerate(kids):
            p = pos + i
            if lo <= p < hi:
                got = _walk_pages_range(
                    doc, kid, lo, hi, pages, seen, res, p, depth + 1
                )
                if got != 1:
                    raise _CountMismatch()
        return count
    consumed = 0
    for kid in kids:
        consumed += _walk_pages_range(
            doc, kid, lo, hi, pages, seen, res, pos + consumed, depth + 1
        )
    return consumed


def _walk_pages(doc: Document, node_ref, pages: list, seen: set, resources) -> None:
    if len(pages) > 20000:
        return
    key = node_ref.num if isinstance(node_ref, Ref) else id(node_ref)
    if key in seen:
        return
    seen.add(key)
    node = doc.resolve(node_ref)
    if not isinstance(node, dict):
        return
    res = node.get("Resources", resources)
    typ = str(node.get("Type", ""))
    kids = doc.resolve(node.get("Kids"))
    if typ == "Page" or ("Contents" in node and not isinstance(kids, list)):
        pages.append((node, res))
        return
    if isinstance(kids, list):
        for kid in kids:
            _walk_pages(doc, kid, pages, seen, res)


# the C plan's pre-Tf default font, shared by every document
_ASCII_FM = FontMap(
    {i: chr(i) if 32 <= i < 127 else "" for i in range(256)}, 1
)._freeze()


def _span_name(data: bytes, a: int, b: int) -> str:
    """Decode a /Name token span (C lexer hands raw spans; #xx unescaped
    here to match _parse_name)."""
    raw = data[a:b]
    if b"#" in raw:
        raw = _NAME_HEX.sub(lambda m: bytes([int(m.group(1), 16)]), raw)
    return raw.decode("latin-1")


class _CDefer(Exception):
    """The C path cannot render this page exactly: a stream it cannot
    take (see ``_TextInterp.run``) or a width-register-sensitive
    construct the C replay flags (zero-width glyphs, register <= 0 at a
    decision, Cf-riding kerns, null-anchor whitespace runs). Raised from
    any stream depth, forms included; ``_page_text`` re-runs the whole
    page through kernels/jsvm.py, which cannot share the C line state
    mid-page."""


# Slot groups of the C replay's float64 state vector (layout: the
# comment above pdftext_replay in _ctext.c). _ST_TEXT is a stream's own
# text state — y, x, size, sx, tc, tw, tz, rise, font, line origin, sy —
# reset to _ST_TEXT_INIT at each stream start. _ST_CLOSURE is pdf.js's
# per-run glyph closure: prevTransform (last_end_x, glyph_y), the
# pending run and last char of twoLastChars, the stale item sizes and
# scale_flush. The other slots flow through every stream and form: the
# shared sink (last_y, line_open, the width register), force_flush and
# the page view box.
_ST_TEXT = _np.array([0, 1, 2, 3, 4, 5, 6, 7, 14, 27, 28, 29])
_ST_TEXT_INIT = _np.array([0, 0, 0, 1, 0, 0, 1, 0, 0, 0, 0, 0], _np.float64)
_ST_CLOSURE = _np.array([10, 11, 13, 15, 16, 17, 19, 20, 26, 30])
_ST_FORCE_FLUSH = 18


class _TextInterp:
    """One page through the C lexer + C replay. Recurses into Form
    XObjects on ``Do`` (figure labels live there; pdf.js
    PartialEvaluator does the same), with a depth cap and a seen-set
    against self-referential forms. A page the C path cannot take
    raises ``_CDefer`` and runs through kernels/jsvm.py instead."""

    MAX_DEPTH = 8

    def __init__(self, doc: Document, viewbox: list[float] | None = None) -> None:
        self.doc = doc
        # the page's output text, one piece per replay segment
        self.pieces: list[str] = []
        # the page's ONE replay state vector (slot groups above)
        self.st = _np.zeros(32, _np.float64)
        # pdf.js drops glyphs OUTSIDE the page view box before any
        # assembly state changes (compareWithLastPosition,
        # pdf.worker.js:36531-36536): crop marks and off-page text never
        # reach the output. None disables clipping (unit-level callers).
        if viewbox is not None:
            self.st[21:25] = viewbox
            self.st[25] = 1.0
        # FontMap a form inherits from its parent stream (see _INH_FONT)
        self._inh_fm: FontMap | None = None

    def text(self) -> str:
        return "".join(self.pieces)

    # reserved resource name for the text state a Form XObject inherits
    # from its parent stream (pdf.js clones the whole eval state into the
    # form run, paintXObject/stateManager — the form's shows use the
    # page's current font when it sets none of its own). _do_xobject
    # prepends synthetic `Tc/Tw/Tz/Tf` ops under this name so the C
    # replay consumes the inherited state through its normal operator
    # machinery.
    _INH_FONT = "pdfb-inherited-font"

    def _font_for(self, fonts_dict, name: str) -> FontMap:
        if name == self._INH_FONT and self._inh_fm is not None:
            return self._inh_fm
        return self.doc.font_for_ref((fonts_dict or {}).get(name))

    def run(self, data: bytes, resources, depth: int = 0,
            seen: frozenset = frozenset(),
            lm_seed: tuple | None = None) -> None:
        """Interpret one content stream through the C lexer + C replay.
        Raises ``_CDefer`` when the stream needs the page to run through
        ``kernels/jsvm.py`` instead: no compiled extension, an
        ExtGState that can set the font (`gs` with a /Font entry —
        pdf.js setGState -> handleSetFont; the C lexer cannot resolve
        resources), pdf.js's operand stash engaging, a rotated or
        skewed matrix, or a font ``_c_plan`` cannot take."""
        if not cinterp.AVAILABLE or (
            b"gs" in data and self._has_gs_font(resources)
        ):
            raise _CDefer()
        try:
            ev, scratch = cinterp.interpret(data, lm_seed)
        except cinterp.PreprocessorEngaged:
            raise _CDefer() from None
        doc = self.doc
        res = doc.resolve(resources) or {}
        fonts_dict = doc.resolve(res.get("Font")) if isinstance(res, dict) else {}
        xobjs = doc.resolve(res.get("XObject")) if isinstance(res, dict) else {}
        plan = self._c_plan(ev, data, fonts_dict)
        if plan is None:
            raise _CDefer()
        self._replay_c(data, ev, plan, xobjs, res, depth, seen, scratch)

    def _has_gs_font(self, resources) -> bool:
        """True when any ExtGState entry of ``resources`` carries /Font
        (bounded probe — a handful of entries in practice)."""
        doc = self.doc
        res = doc.resolve(resources)
        if not isinstance(res, dict):
            return False
        extg = doc.resolve(res.get("ExtGState"))
        if not isinstance(extg, dict):
            return False
        for i, v in enumerate(extg.values()):
            if i >= 64:
                return True  # absurdly wide: assume the worst, stay correct
            gsd = doc.resolve(v)
            if isinstance(gsd, dict) and gsd.get("Font") is not None:
                return True
        return False

    def _c_plan(self, ev, data: bytes, fonts_dict):
        """Per-stream plan for the full-C replay: ``(tables, font_idx,
        fms)`` — the font tables (``cinterp.Tables``, one translate blob
        + offsets/widths/categories per font slot), a per-event font
        index for every K_FONT event, and the FontMap per slot. None
        when any font used by the stream can't take the C path
        (multi-byte, RTL-capable, failed build) — the page then runs
        through jsvm."""
        font_idx = _np.full(len(ev), -1, _np.int32)
        specs = [_ASCII_FM.cspec()]
        # FontMap per spec index (0 = the pre-Tf ASCII default -> no
        # font to inherit into forms)
        fms: list = [None]
        fpos = _np.nonzero(ev["kind"] == cinterp.K_FONT)[0]
        if len(fpos):
            a_arr, b_arr = ev["a"], ev["b"]
            by_span: dict[bytes, int] = {}
            for i in fpos.tolist():
                raw = data[a_arr[i]:b_arr[i]]
                idx = by_span.get(raw)
                if idx is None:
                    try:
                        fm = self._font_for(
                            fonts_dict, _span_name(data, a_arr[i], b_arr[i])
                        )
                        sp = fm.cspec()
                    except Exception:
                        sp = None
                    if sp is None:
                        return None
                    specs.append(sp)
                    fms.append(fm)
                    idx = len(specs) - 1
                    by_span[raw] = idx
                font_idx[i] = idx
        # the assembled tables depend only on the spec sequence — pages
        # of one document overwhelmingly repeat the same font sets, so
        # the concatenated blobs are cached document-scoped. The spec
        # tuples are immutable (memoized fonts share theirs across
        # documents), so identity keys are stable for the document's
        # lifetime; font_idx stays per-stream.
        key = tuple(id(sp) for sp in specs)
        cached = self.doc.c_plan_cache.get(key)
        if cached is not None:
            return cached[1], font_idx, fms
        tbytes = b"".join(sp[0] for sp in specs)
        toff = _np.empty(257 * len(specs), _np.int32)
        widths = _np.empty(256 * len(specs), _np.float64)
        cats = _np.zeros(256 * len(specs), _np.uint8)
        base = 0
        for j, sp in enumerate(specs):
            toff[j * 257 : (j + 1) * 257] = sp[1] + base
            base += len(sp[0])
            widths[j * 256 : (j + 1) * 256] = sp[2]
            if len(sp) > 3:
                cats[j * 256 : (j + 1) * 256] = sp[3]
        # the entry holds the spec tuples so their ids stay reserved for
        # the cache's (document) lifetime — id reuse after gc would
        # otherwise alias the key
        tables = cinterp.Tables(tbytes, toff, widths, cats)
        self.doc.c_plan_cache[key] = (specs, tables)
        return tables, font_idx, fms

    def _replay_c(self, data: bytes, ev, plan, xobjs, resources,
                  depth: int, seen: frozenset, scratch: bytes = b"") -> None:
        """Drive ``pdftext_replay`` over the event array, recursing into
        Form XObjects between C segments. The stream's text state starts
        fresh in the page's state vector; the line state carries on
        from the previous stream (a form the C path cannot take raises
        ``_CDefer`` for the whole page)."""
        tables, font_idx, fms = plan
        st = self.st
        st[_ST_TEXT] = _ST_TEXT_INIT
        rp = cinterp.Replay(data, ev, font_idx, tables, st, scratch)
        i, nev = 0, len(ev)
        while True:
            ret, piece = rp.segment(i)
            if ret == -3:
                # width-register-sensitive construct: the page is re-run
                # through jsvm (the per-page interp is discarded, so
                # partial state and already-committed pieces don't
                # matter)
                raise _CDefer()
            if piece:
                self.pieces.append(piece.decode("utf-8"))
            if ret >= nev:
                return
            # paintXObject flushes before resolving anything (images,
            # missing names, junk operands — pdf.worker.js:36946)
            st[_ST_FORCE_FLUSH] = 1.0
            if depth < self.MAX_DEPTH:
                cf = int(st[14])
                # the K_INH rider immediately ahead of every K_XOBJ
                # carries the lexer-internal leading + RAW rise
                itl = its = 0.0
                ilm = (0.0, 0.0)
                if ret > 0 and int(ev["kind"][ret - 1]) == cinterp.K_INH:
                    itl = float(ev["f0"][ret - 1])
                    its = float(ev["f1"][ret - 1])
                    ilm = (
                        float(ev["f2"][ret - 1]),
                        float(ev["f3"][ret - 1]),
                    )
                cma, cmd = float(ev["f0"][ret]), float(ev["f1"][ret])
                cme, cmf = float(ev["f2"][ret]), float(ev["f3"][ret])
                # reconstruct the parent's ADVANCED text matrix in TEXT
                # space (pdf.js clones textMatrix into the form run; the
                # flattened model keeps only the device pen + composed
                # scales, so divide the CTM back out). Shows only
                # translate tm, so the linear part is the line scales.
                # Gated on an anchor having run: before any BT/Td/Tm the
                # matrix is identity and there is nothing to clone.
                itm = None
                if cma and cmd and (ev["kind"][:ret] == cinterp.K_ANCHOR).any():
                    itm = (
                        float(st[3]) / cma, 0.0, 0.0, float(st[29]) / cmd,
                        (float(st[1]) - cme) / cma,
                        (float(st[0]) - cmf) / cmd,
                    )
                self._do_xobject(
                    xobjs,
                    _span_name(data, int(ev["a"][ret]), int(ev["b"][ret])),
                    resources, depth, seen,
                    cm=(cma, 0.0, 0.0, cmd, cme, cmf),
                    inherit=(
                        fms[cf] if 0 <= cf < len(fms) else None,
                        float(st[2]), float(st[4]),
                        float(st[5]), float(st[6]), itl, its, itm,
                        ilm,
                    ),
                )
            i = ret + 1

    def _do_xobject(self, xobjs, name: str, parent_res, depth: int,
                    seen: frozenset,
                    cm: tuple | None = None,
                    inherit: tuple | None = None) -> None:
        doc = self.doc
        ref = (xobjs or {}).get(name)
        key = ref.num if isinstance(ref, Ref) else None
        if key is not None and key in seen:
            return
        xo = doc.resolve(ref)
        if not isinstance(xo, Stream):
            return
        if str(xo.dict.get("Subtype", "")) != "Form":
            return
        body = doc.decoded(ref)
        if not body:
            return
        # the form's /Matrix maps form space onto the parent space: seed
        # the nested interpreter's CTM by prepending the equivalent cm
        # (fixed-point formatting because the content-stream number
        # grammar has no exponents)
        mat = doc.resolve(xo.dict.get("Matrix"))
        if isinstance(mat, list) and len(mat) == 6:
            try:
                vals = [float(doc.resolve(v)) for v in mat]
                if vals != [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]:
                    body = (
                        " ".join(f"{v:.8f}" for v in vals) + " cm\n"
                    ).encode("ascii") + body
            except (TypeError, ValueError):
                pass
        # pdf.js clones the CURRENT state into the form run (paintXObject,
        # pdf.worker.js:36965-36969): the page's ctm at the Do composes
        # with the form /Matrix, so form text lands in DEVICE coordinates
        # (figure captions placed by a page-level cm were off by that
        # transform before)
        if cm is not None and tuple(cm) != (1.0, 0.0, 0.0, 1.0, 0.0, 0.0):
            body = (
                " ".join(f"{v:.8f}" for v in cm) + " cm\n"
            ).encode("ascii") + body
        # the form INHERITS the parent stream's text state (pdf.js clones
        # the eval state into the form run): prepend the equivalent
        # Tc/Tw/Tz/TL/Ts/Tf ops so a form showing text without its own
        # state ops keeps the page's font/size/spacing/leading/rise —
        # and the pre-Tf gate stays armed (the Tf op is emitted only
        # when the parent had a font; the state ops inherit regardless,
        # pdf.js clones unconditionally — verified vs live node: a
        # parent's `40 TL 3 Tc` with NO Tf still shapes the form's T*
        # and letter gaps). Verified in tests/test_node_differential.py.
        inh_prev = self._inh_fm
        lm_seed: tuple | None = None
        if inherit is not None:
            ifm, isz, itc, itw, itz, itl, its, itm, ilm = inherit
            ops = []
            if itc != 0.0 or itw != 0.0 or itz != 1.0:
                ops.append("%.8f Tc %.8f Tw %.8f Tz"
                           % (itc, itw, itz * 100.0))
            if itl != 0.0:
                ops.append("%.8f TL" % itl)
            if its != 0.0:
                ops.append("%.8f Ts" % its)
            if ifm is not None:
                ops.append("/%s %.8f Tf" % (self._INH_FONT, isz))
                self._inh_fm = ifm
            # the cloned textMatrix: a form showing text before its own
            # BT/Tm continues at the parent's pen (verified vs live
            # node: mid-BT `(pre) Tj /Fm Do (post) Tj` with a bare-Tj
            # form joins as one line). A form's own BT/Tm overrides it,
            # exactly as pdf.js resets the cloned matrix there. The
            # cloned LINE matrix lags tm after shows (Tm sets both; no
            # content-stream op sets them apart), so ``ilm`` rides as a
            # native one-shot lm_seed the nested run's first Td/TD/T*/
            # '/" composes against — pdf.js clones textLineMatrix too.
            if itm is not None and itm != (1.0, 0.0, 0.0, 1.0, 0.0, 0.0):
                ops.append("%.8f %.8f %.8f %.8f %.8f %.8f Tm" % itm)
            if (
                itm is not None and ilm is not None
                and (ilm[0] != itm[4] or ilm[1] != itm[5])
            ):
                lm_seed = (ilm[0], ilm[1])
            if ops:
                body = (" ".join(ops) + "\n").encode("ascii") + body
        # paintXObject flushes the page's item (pdf.worker.js:36950) and
        # recurses with a FRESH textContentItem closure: the form's first
        # glyph sees prevTransform == null (no CR/gap vs page text), and
        # its items join the same sink — pdf-parse's lastY then follows
        # emission order, so last_y (the anchor tracker) needs no
        # special handling: a form that emits nothing leaves it alone,
        # one that does advances it to its last item's anchor. The form
        # gets its own prevTransform (glyph_y/last_end_x), twoLastChars
        # ring (last_char + pending run memory) and textContentItem
        # staleness (item_size/item_hsize/scale_flush); only the SINK
        # (pieces/last_y/line_open/width register) is shared. Save the
        # vector, run the form from closure-init state, then restore the
        # page's text state and closure — verified vs live node: a
        # form's glyphs must not roll the page's ring (a post-form
        # tracking-space decision reads the pre-Do glyphs) nor leave
        # its stale item scale behind.
        st = self.st
        saved = st.copy()
        st[_ST_CLOSURE] = 0.0
        try:
            self.run(
                body,
                xo.dict.get("Resources", parent_res),
                depth + 1,
                seen | ({key} if key is not None else set()),
                lm_seed=lm_seed,
            )
        finally:
            # a _CDefer propagates: the WHOLE page re-runs in jsvm
            self._inh_fm = inh_prev
        st[_ST_TEXT] = saved[_ST_TEXT]
        st[_ST_CLOSURE] = saved[_ST_CLOSURE]
        st[_ST_FORCE_FLUSH] = 1.0  # form stream end flush (getTextContent tail)


def _page_view_box(doc: Document, page: dict, hops: int = 0) -> list[float]:
    """The page's visible box in PDF units — pdf.js ``Page.view``:
    CropBox intersected with MediaBox, MediaBox alone when CropBox is
    absent/degenerate, LETTER when both are missing. Both keys are
    INHERITABLE, so walk /Parent links. A page with NEITHER key inherits
    the box fully from its parent chain — cached per parent object so a
    20k-page sibling run resolves the chain once, not once per page. The
    chain recursion stops after 64 hops (a /Parent cycle among box-less
    nodes), leaving the rest to ``find``'s own capped walk."""
    if "MediaBox" not in page and "CropBox" not in page and hops < 64:
        par = page.get("Parent")
        if isinstance(par, Ref):
            vb = doc.viewbox_cache.get(par.num)
            if vb is None:
                parent = doc.resolve(par)
                vb = _page_view_box(
                    doc, parent if isinstance(parent, dict) else {}, hops + 1
                )
                doc.viewbox_cache[par.num] = vb
            return vb

    def find(key: str) -> list[float] | None:
        node, hops = page, 0
        while isinstance(node, dict) and hops < 64:
            v = doc.resolve(node.get(key))
            if isinstance(v, list) and len(v) == 4:
                try:
                    b = [float(doc.resolve(x)) for x in v]
                except (TypeError, ValueError):
                    return None
                return [
                    min(b[0], b[2]), min(b[1], b[3]),
                    max(b[0], b[2]), max(b[1], b[3]),
                ]
            node = doc.resolve(node.get("Parent"))
            hops += 1
        return None

    mb = find("MediaBox") or [0.0, 0.0, 612.0, 792.0]
    cb = find("CropBox")
    if cb:
        box = [
            max(cb[0], mb[0]), max(cb[1], mb[1]),
            min(cb[2], mb[2]), min(cb[3], mb[3]),
        ]
        if box[2] > box[0] and box[3] > box[1]:
            return box
    return mb


def _page_data(doc: Document, page: dict) -> bytes:
    contents = doc.resolve(page.get("Contents"))
    if contents is None:
        return b""
    parts: list[bytes] = []
    if isinstance(contents, list):
        for c in contents:
            if isinstance(c, Ref) and doc.resolve(c) is None:
                # a ref to a MISSING object rejects the page's content
                # promise in pdf.js (XRef.fetch throws before the
                # streams are concatenated) — the WHOLE page is empty,
                # while junk non-stream elements are merely skipped
                # (probed live: [s1, 99 0 R, s2] extracts nothing)
                return b""
            parts.append(doc.decoded(c))
    else:
        parts.append(doc.decoded(page.get("Contents")))
    # pdf.js concatenates /Contents array streams with NO separator
    # (StreamsSequenceStream.readBlock appends raw chunks,
    # pdf.worker.js:7879-7901): a token MAY span two streams —
    # `(ab` + `c) Tj` is one "abc" string, `5` + `0 Tc` is Tc(50)
    # (probed live). The old b"\n" join split those tokens.
    return b"".join(parts)


class _JsCtx:
    """Document-run-scoped JS font state. pdf.js's per-font
    ``Font._charsCache`` lives on DOCUMENT-cached translated fonts
    (pdf.worker.js:28064), so a junk show on page P can hit or poison
    string keys shown on pages < P. The C path and cache-free jsvm
    pages neither consult nor populate the cache (plain-string pages
    are cache-transparent — lookup and store return the same glyphs
    charsToGlyphs would build), so on the FIRST page that needs the
    cache (a JS-coercion page, see ``_page_text``) the PRECEDING
    pages replay through jsvm population-only (text discarded, cache
    accrued in the reference's sequential page order). Page-range
    (chunked) parses populate from page 0 as well, so any range with
    at least one coercion page reproduces the DEFAULT sequential
    engine's output exactly. The one range-mode residual: a chunk with
    no coercion page of its own never learns about prefix poison (a
    bare '5 Tj' on an earlier page muting this chunk's plain '(5) Tj')
    — which is precisely the reference's OWN child-strategy semantics
    (each pdf-child re-opens the document and accrues caches only from
    the pages it renders, lib/pdf-child.js:56-97), pinned in
    test_chunked_poison_matches_reference_child_semantics.

    Poisoned keys (a .length-less junk show stored [] under its
    stringified key) MUTE later plain shows of the equal string on the
    same font — including on LATER PAGES that the C path would
    otherwise keep. Once any poisoned key exists, every subsequent
    page routes through jsvm (``poisoned`` flag), which consults the
    cache; population-only keys are transparent to plain shows (the
    lookup returns exactly the glyphs charsToGlyphs would build), so
    they never force a demotion."""

    __slots__ = ("doc", "_pages_fn", "_pages", "caches", "pop_upto",
                 "poisoned")

    def __init__(self, doc: Document, pages_fn) -> None:
        self.doc = doc
        self._pages_fn = pages_fn  # () -> full [(page_dict, resources)]
        self._pages: list | None = None
        self.caches: dict = {}
        self.pop_upto = 0  # pages [0, pop_upto) already accrued
        self.poisoned = False  # any key -> [] with key != ""

    def refresh_poisoned(self) -> None:
        # [] values come from poisoning misses (non-bytes operands with
        # no .length) and from empty-array shows under key "" — a plain
        # show can never produce key "" (empty strings early-return
        # before charsToGlyphs), so only non-"" empties demote
        if not self.poisoned:
            self.poisoned = any(
                not v and k != ""
                for c in self.caches.values()
                for k, v in c.items()
            )

    @property
    def pages(self) -> list:
        if self._pages is None:
            try:
                self._pages = self._pages_fn() or []
            except Exception:
                self._pages = []
        return self._pages

    def populate_to(self, idx: int) -> None:
        from . import jsvm

        for p in range(self.pop_upto, min(idx, len(self.pages))):
            pg, res = self.pages[p]
            try:
                data = _page_data(self.doc, pg)
                if data:
                    vm = jsvm.JsVM(
                        self.doc, _page_view_box(self.doc, pg), self.caches
                    )
                    vm.run_page(data, res)  # JsStop truncates accrual
            except Exception:
                pass  # population is best-effort; render already done
        self.pop_upto = max(self.pop_upto, idx)


def _page_text(doc: Document, page: dict, resources,
               jsctx: "_JsCtx | None" = None, page_idx: int = 0) -> str:
    """One page's text: the C path when it can take every stream of
    the page, else kernels/jsvm.py for the whole page. jsvm uses the
    document charsCache (``jsctx``) only where it can change the output:
    after an earlier page poisoned a key (plain shows of the equal
    string on that font are then MUTED), or on a page with an operand
    that needs JS coercion (``jsvm.NeedsCharsCache``). Every other page
    runs with a page-local cache, which string shows see as transparent,
    so a rotated or Type0 page late in a range never replays the pages
    before it."""
    from . import jsvm

    data = _page_data(doc, page)
    if not data:
        return ""
    viewbox = _page_view_box(doc, page)
    if jsctx is None or not jsctx.poisoned:
        interp = _TextInterp(doc, viewbox=viewbox)
        try:
            interp.run(data, resources)
            return interp.text()
        except _CDefer:
            pass
        vm = jsvm.JsVM(doc, viewbox)
        try:
            vm.run_page(data, resources)
            return vm.text()
        except jsvm.NeedsCharsCache:
            pass
    caches: dict = {}
    if jsctx is not None:
        jsctx.populate_to(page_idx)  # prior pages' charsCache accrual
        jsctx.refresh_poisoned()  # prefix junk demotes LATER range pages
        caches = jsctx.caches
    vm = jsvm.JsVM(doc, viewbox, caches)
    vm.run_page(data, resources)
    if jsctx is not None:
        jsctx.pop_upto = max(jsctx.pop_upto, page_idx + 1)
        jsctx.refresh_poisoned()
    return vm.text()


def _document_pages(doc: Document) -> tuple[list, bool]:
    """Every ``(page, resources)`` of ``doc`` in page-tree order, and
    whether the catalog's page tree yielded them. With no catalog or a
    broken tree, the pages are every ``/Type /Page`` object in object
    order."""
    pages: list = []
    try:
        root = doc.resolve(doc.trailer.get("Root"))
        if isinstance(root, dict):
            _walk_pages(doc, root.get("Pages"), pages, set(), None)
    except Exception:
        pages = []
    if pages:
        return pages, True
    for num in sorted(doc.index):
        try:
            o = doc.get_object(num)
        except Exception:
            continue
        if isinstance(o, dict) and str(o.get("Type", "")) == "Page":
            pages.append((o, o.get("Resources")))
    return pages, False


def parse_pdf_bytes(
    raw: bytes, max_pages: int = 0,
    page_range: tuple[int, int] | None = None,
) -> dict:
    """Parse one real binary PDF -> {text, n_pages, n_render, info, error,
    page_spans}.

    ``page_range=(start, end)``: render only pages [start, end) (0-based,
    after the max_pages clamp) — the chunk operator's unit of work (the
    reference fans exactly such {start,end,index} ranges to worker
    processes, lib/pdf-parse-processes.js:92-99 / lib/pdf-child.js:83-97).
    ``page_spans`` keep GLOBAL page numbers, and offsets are relative to
    this chunk's text so the reassembly can shift them by the cumulative
    length of preceding chunks.
    When the count-guided walk finds the whole range, ``n_pages`` is the
    root ``/Count``, which a lying count can make differ from the pages a
    full walk finds; callers that need the full-walk count take it from a
    ``(0, 0)`` probe, as the chunked operators do.

    ``page_spans``: per rendered page, the [start, end) offsets of that
    page's text inside the returned ``text`` (the north rule's "extracted
    text + span offsets"; each span starts after the page's leading
    separator).

    Output assembly mirrors the reference exactly: each rendered page's text
    is appended as ``"\\n\\n" + page_text`` (lib/pdf-parse.js:129-135,
    sequential mode), pages render in page-tree order, a page that fails
    renders as "" (the .catch -> "" at lib/pdf-parse.js:131-133), and
    ``info`` carries the trailer /Info dict (lib/pdf-parse.js:91-96).
    Never raises."""
    try:
        doc = Document(raw)
    except PdfError as e:
        # includes pdf:encrypted — docs whose (non-empty) password we don't
        # have are rejected exactly like the reference (pdf.js
        # PasswordException -> promise rejection); EMPTY-user-password
        # documents authenticate in _install_decryption and parse normally
        return {
            "text": "", "n_pages": 0, "n_render": 0, "info": {},
            "error": e.code, "page_spans": [],
        }
    except Exception:
        return {
            "text": "", "n_pages": 0, "n_render": 0, "info": {},
            "error": spec.ERR_BAD_XREF, "page_spans": [],
        }
    info: dict[str, str] = {}
    try:
        info_obj = doc.resolve(doc.trailer.get("Info"))
        if isinstance(info_obj, dict):
            for k, v in info_obj.items():
                v = doc.resolve(v)
                if isinstance(v, bytes):
                    info[k] = decode_pdf_text_string(v)
                elif isinstance(v, (str, int, float, bool)):
                    info[k] = str(v)
    except Exception:
        pass

    sel: list | None = None
    first_page = 0
    n_pages_total = 0
    tree_ok = True
    if page_range is not None and page_range[1] > page_range[0]:
        # chunk fast path: count-guided walk touches only this range's
        # subtrees; validated against /Count bookkeeping, falls through to
        # the full walk on any inconsistency
        lo = max(0, int(page_range[0]))
        hi = int(page_range[1])
        if max_pages > 0:
            hi = min(hi, max_pages)
        try:
            root = doc.resolve(doc.trailer.get("Root"))
            if isinstance(root, dict):
                sl: list = []
                total = _walk_pages_range(
                    doc, root.get("Pages"), lo, hi, sl, set(), None
                )
                # only a wholly found range: a root /Count that
                # understates the pages would have the walk skip real
                # ones past it (a range past the end takes the full walk)
                if total > 0 and hi > lo and len(sl) == hi - lo:
                    sel = sl
                    first_page = lo
                    n_pages_total = total
        except Exception:
            sel = None
    if sel is None:
        pages, tree_ok = _document_pages(doc)
        if not pages:
            return {
                "text": "", "n_pages": 0, "n_render": 0, "info": info,
                "error": spec.ERR_NO_PAGES, "page_spans": [],
            }
        n_pages_total = len(pages)
        n_render = len(pages) if max_pages <= 0 else min(max_pages, len(pages))
        sel = pages[:n_render]
        if page_range is not None:
            first_page = max(0, int(page_range[0]))
            sel = pages[first_page : min(n_render, int(page_range[1]))]
    else:
        n_render = (
            n_pages_total if max_pages <= 0
            else min(max_pages, n_pages_total)
        )
    # the full page list for _JsCtx's charsCache accrual: the chunk fast
    # path materializes only its range, but cache population is pinned to
    # the reference's sequential page order from page 0 (output must be
    # partition-independent)
    jsctx = _JsCtx(doc, lambda: _document_pages(doc)[0])
    texts: list[str] = []
    error = None
    for k, (pg, res) in enumerate(sel):
        try:
            texts.append(_page_text(doc, pg, res, jsctx, first_page + k))
        except Exception:
            texts.append("")
            error = error or spec.ERR_FLATE
    text_parts: list[str] = []
    page_spans: list[tuple[int, int, int]] = []  # (page_no, start, end)
    off = 0
    for i, t in enumerate(texts):
        off += 2  # leading "\n\n" per page (lib/pdf-parse.js:134)
        page_spans.append((first_page + i + 1, off, off + len(t)))
        text_parts.append("\n\n")
        text_parts.append(t)
        off += len(t)
    text = "".join(text_parts)
    if not tree_ok and not text.strip():
        # the catalog's page tree was unreachable AND the salvage scan
        # yielded nothing: structurally broken (e.g. a truncated incremental
        # file like the reference's 03-invalid.pdf, startxref 0 + /Prev
        # beyond EOF) — the reference REJECTS these (test/03-invalid-
        # default.js asserts the promise rejects), so surface an error row
        return {
            "text": "", "n_pages": 0, "n_render": 0, "info": info,
            "error": spec.ERR_BAD_XREF, "page_spans": [],
        }
    return {
        "text": text, "n_pages": n_pages_total,
        # chunked calls report the pages THIS range rendered
        "n_render": n_render if page_range is None else len(texts),
        "info": info, "error": error, "page_spans": page_spans,
    }


def decode_pdf_text_string(b: bytes) -> str:
    """PDF text string: UTF-16BE with BOM, else PDFDocEncoding (~latin-1)."""
    if b.startswith(b"\xfe\xff"):
        return b[2:].decode("utf-16-be", "replace")
    return b.decode("latin-1")
