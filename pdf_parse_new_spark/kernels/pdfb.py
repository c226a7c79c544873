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

Pure-Python + zlib; designed to run inside Arrow-batched ``mapInPandas``
(one call per *batch*, C-speed inner loops) — same execution shape as
``kernels.pdfk``.
"""

from __future__ import annotations

import math
import re
import unicodedata
import zlib

from pdf_parse_new_spark import spec
from pdf_parse_new_spark.kernels import cinterp, cobj, crypt
from pdf_parse_new_spark.kernels import bidi as _bidi_mod
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
        self._ckey: bytes | None = None
        self.handler: crypt.StandardSecurityHandler | None = None
        self._encrypt_num = -1
        self._load_index()
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is not None:
            self._install_decryption(enc_ref)

    def content_key(self) -> bytes:
        """sha1 of the full payload, computed once per Document — the
        cross-document font-map cache key component."""
        k = self._ckey
        if k is None:
            import hashlib

            k = self._ckey = hashlib.sha1(self.raw).digest()
        return k

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
        if len(w) == 3 and rw and all(0 <= x <= 8 for x in w) \
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
            return self.cache[num]
        self.cache[num] = None  # cycle guard
        entry = self.index.get(num)
        obj = None
        if entry is None:
            pass
        elif entry[0] == "n":
            obj, _ = self._parse_indirect_at(entry[1], expect=num)
        elif entry[0] == "c":
            obj = self._fetch_compressed(entry[1], entry[2], num)
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
        "cid_ranges", "var_ranges", "_trans", "_warr", "_cspec",
        "cf_codes", "_sp_arr", "_cf_arr", "_zw_arr", "zw_any", "error",
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
        # advance (pdf.worker.js:36684) — zero their widths so every
        # aggregate advance path excludes them for free; tc exclusion
        # rides on ncf()
        self.cf_codes = frozenset(cf_codes or ())
        for c in self.cf_codes:
            self.widths[c] = 0.0
        # 1-byte fast path: one C-speed str.translate per show string
        # (None deletes — same as the per-byte t.get(c, "") fallback)
        self._trans = (
            {i: (table.get(i) or None) for i in range(256)}
            if nbytes == 1 and not identity and not self.var_ranges
            else None
        )
        # 1-byte advance fast path: sum(map(list.__getitem__, bytes)) runs
        # the whole per-glyph width lookup in C
        self._warr = (
            [self.widths.get(i, default_width) for i in range(256)]
            if self._trans is not None
            else None
        )
        # per-code category fast arrays (1-byte fonts): ws glyphs take
        # wordSpacing (pdf.js keys Tw on the GLYPH's whitespace
        # category, not the byte — pdf.worker.js:36693-36697); cf
        # glyphs contribute nothing at all
        if nbytes == 1:
            self._sp_arr = [
                1 if (i == 0x20 or table.get(i) == " ") else 0
                for i in range(256)
            ]
            self._cf_arr = [
                1 if i in self.cf_codes else 0 for i in range(256)
            ]
            # zero-width NON-space glyphs stall prevTransform (pdf.js
            # stores it only when scaledDim != 0), so every following
            # glyph re-reads the stale gap — such items need the
            # per-glyph compare (incomplete /Widths subset fonts)
            self._zw_arr = [
                1
                if (
                    self.widths.get(i, default_width) == 0.0
                    and not self._sp_arr[i] and not self._cf_arr[i]
                )
                else 0
                for i in range(256)
            ]
            self.zw_any = any(self._zw_arr)
        else:
            self._sp_arr = None
            self._cf_arr = None
            self._zw_arr = None
            self.zw_any = False
        self._cspec: tuple | None | bool = False  # False = not built yet

    def has_zw(self, s: bytes) -> bool:
        """Any zero-width non-space glyph in the string (the
        prevTransform stallers)."""
        return self.zw_any and bool(sum(map(self._zw_arr.__getitem__, s)))

    def nsp(self, s: bytes) -> int:
        """Count of whitespace-category glyphs (the Tw recipients)."""
        if self._sp_arr is None:
            return 0
        return sum(map(self._sp_arr.__getitem__, s))

    def ncf(self, s: bytes) -> int:
        """Count of Cf-category glyphs (excluded from charSpacing)."""
        if self._cf_arr is None or not self.cf_codes:
            return 0
        return sum(map(self._cf_arr.__getitem__, s))

    def cspec(self) -> tuple | None:
        """Tables for the full-C replay (``pdftext_replay``):
        ``(trans_utf8_blob, offsets int32[257], widths float64[256])``, or
        None when this font can't take the C path — multi-byte/identity/
        variable-codespace fonts, or a table entry containing an RTL
        character (``bidi.visual`` would reorder the shown string; the C replay
        doesn't implement UAX#9, so those streams fall back to Python)."""
        sp = self._cspec
        if sp is False:
            sp = None
            if self._trans is not None:
                entries = [self.table.get(i) or "" for i in range(256)]
                if _RTL_RUN.search("".join(entries)) is None:
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
                        if self._cf_arr[i]:
                            cat_arr[i] = 2
                        elif self._zw_arr[i]:
                            cat_arr[i] = 3
                    sp = (
                        b"".join(blobs),
                        off,
                        _np.array(self._warr, _np.float64),
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

    def _codes(self, s: bytes) -> list[int]:
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

    def decode(self, s: bytes) -> str:
        if self._trans is not None:
            return s.decode("latin-1").translate(self._trans)
        if self.identity or self.var_ranges:
            return "".join(self._one(c) for c in self._codes(s))
        t = self.table
        if self.nbytes == 2:
            out = []
            for c in self._codes(s):
                u = t.get(c)
                out.append(u if u else self._fallback_char(c))
            return "".join(out)
        return "".join(t.get(c, "") for c in s)

    def advance(self, s: bytes) -> float:
        """Total glyph width of the string in 1/1000 em."""
        if self._warr is not None:
            return sum(map(self._warr.__getitem__, s))
        w, dw = self.widths, self.default_width
        if self.identity or self.var_ranges:
            return sum(w.get(self._cid(c), dw) for c in self._codes(s))
        if self.nbytes == 2:
            return sum(w.get(c, dw) for c in self._codes(s))
        return sum(w.get(c, dw) for c in s)


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


def build_font_map(doc: Document, font_obj) -> FontMap:
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
            for code, uni in list(table.items()):
                w = std.get(uni)
                if w is None and uni:
                    # the metric tables key ligatures by their EXPANDED
                    # form ("fi"), while table entries here may still
                    # carry the codepoint (expansion runs later)
                    w = std.get(
                        "".join(_LIGATURES.get(c, c) for c in uni)
                    )
                if w is not None:
                    widths[code] = w
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


_OPERATOR = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")
_SPACE_RUN = re.compile("  +")

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
    `+x` erases the preceding show AND its operand). Content loops stop
    at `_prescan_lexer_throw`'s cut; reaching the raise directly maps
    to _PageStop (same visible outcome in the covered cases)."""


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

# sentinel for the inline-image stream operand (worker:13761 returns the
# imageStream object; the preprocessor pushes it and EI consumes it)
class _InlineImg:
    __slots__ = ()


_IMG_OPERAND = _InlineImg()

# specialChars === 1 set (whitespace-ish skip chars), pdf.worker.js:13933
_WIN_WS = frozenset(b"\x00\t\n\x0c\r ")


def _win_getnumber(w: bytes, i: int) -> int:
    """Lexer.getNumber (pdf.worker.js:13958-14031) over the 15-byte
    window: returns the index of the terminating char (the lexer's
    currentChar); raises _PageStop where pdf.js throws FormatError
    ("Invalid number: x") — a sign/dot followed by a non-digit that is
    neither whitespace nor EOF."""
    m = len(w)

    def cur(j: int) -> int:
        return w[j] if j < m else -1

    ch = cur(i)
    if ch == 0x2D:
        i += 1
        ch = cur(i)
        if ch == 0x2D:  # "--" double minus tolerated
            i += 1
            ch = cur(i)
    elif ch == 0x2B:
        i += 1
        ch = cur(i)
    while ch == 0x0A or ch == 0x0D:  # CR/LF run between sign and digits
        i += 1
        ch = cur(i)
    divide = False
    if ch == 0x2E:
        divide = True
        i += 1
        ch = cur(i)
    if ch < 0x30 or ch > 0x39:
        if ch in (0x20, 0x09, 0x0D, 0x0A) or ch == -1:
            return i  # info() + return 0: a valid 0-valued operand
        raise _PageStop()  # FormatError propagates out of the tmpLexer
    while True:
        i += 1
        ch = cur(i)
        if 0x30 <= ch <= 0x39:
            continue
        if ch == 0x2E:
            if not divide:
                divide = True
                continue
            break
        if ch == 0x2D:
            continue  # "minus sign in the middle" warn, keeps scanning
        if ch == 0x45 or ch == 0x65:  # e-notation
            nxt = cur(i + 1)
            if nxt == 0x2B or nxt == 0x2D:
                i += 1
            elif nxt < 0x30 or nxt > 0x39:
                break
            continue
        break
    return i


def _win_getstring(w: bytes, i: int) -> int:
    """Lexer.getString (pdf.worker.js:14032-14129): EOF-graceful, returns
    the index after the balanced ')'. ``i`` sits on '('."""
    m = len(w)
    depth = 1
    i += 1
    while i < m:
        ch = w[i]
        if ch == 0x28:
            depth += 1
            i += 1
        elif ch == 0x29:
            depth -= 1
            i += 1
            if depth == 0:
                return i
        elif ch == 0x5C:
            i += 1
            if i >= m:
                return m
            e = w[i]
            if 0x30 <= e <= 0x37:  # up to three octal digits
                i += 1
                if i < m and 0x30 <= w[i] <= 0x37:
                    i += 1
                    if i < m and 0x30 <= w[i] <= 0x37:
                        i += 1
            elif e == 0x0D:
                i += 1
                if i < m and w[i] == 0x0A:
                    i += 1
            else:
                i += 1
        else:
            i += 1
    return m  # "Unterminated string" warn + done


def _win_getname(w: bytes, i: int) -> int:
    """Lexer.getName (pdf.worker.js:14130-14168) position walk incl. the
    #-escape consumption quirks. ``i`` sits on '/'."""
    m = len(w)
    while True:
        i += 1
        if i >= m:
            return m
        ch = w[i]
        if ch in _LEX_SPECIAL:
            return i
        if ch == 0x23:
            i += 1
            if i >= m:
                return m
            ch = w[i]
            if ch in _LEX_SPECIAL:
                return i  # "# should be followed by hex" -> break at it
            x = _WIN_HEXD[ch]
            if x == -1:
                continue  # '#'+ch pushed, scan continues
            i += 1
            if i >= m:
                return m
            ch2 = w[i]
            if _WIN_HEXD[ch2] == -1:
                if ch2 in _LEX_SPECIAL:
                    return i  # illegal digit + special -> break at it
                continue  # pushed as literal, scan continues
            # two hex digits consumed; loop advances past


_WIN_HEXD = [-1] * 256
for _c in range(0x30, 0x3A):
    _WIN_HEXD[_c] = _c - 0x30
for _c in list(range(0x41, 0x47)) + list(range(0x61, 0x67)):
    _WIN_HEXD[_c] = (_c & 0x0F) + 9


def _win_gethex(w: bytes, i: int) -> int:
    """Lexer.getHexString (pdf.worker.js:14180-14219): graceful, scans to
    '>' (consumed) or EOF. ``i`` sits on the char after '<'."""
    m = len(w)
    while i < m and w[i] != 0x3E:
        i += 1
    return i + 1 if i < m else m


def _win_accept(w: bytes) -> bool:
    """findDefaultInlineStreamEnd's candidate validation (pdf.worker.js:
    13494-13515): a fresh Lexer over the 15-byte window counts operands
    until a command token — unknown command (or a null-valued opMap
    prefix entry like BM/BD, whose lookup is falsy) rejects, a known
    command with matching arity accepts, EOF rejects. Lexer FormatErrors
    (')' illegal char, invalid number) propagate as _PageStop."""
    m = len(w)
    i = 0
    numargs = 0
    while True:
        comment = False
        while True:  # Lexer.getObj skip loop (worker:14220-14237)
            if i >= m:
                return False  # EOF -> state = 0 -> reject
            ch = w[i]
            if comment:
                if ch == 0x0A or ch == 0x0D:
                    comment = False
            elif ch == 0x25:
                comment = True
            elif ch not in _WIN_WS:
                break
            i += 1
        if 0x30 <= ch <= 0x39 or ch in (0x2B, 0x2D, 0x2E):
            i = _win_getnumber(w, i)
            numargs += 1
            continue
        if ch == 0x28:
            i = _win_getstring(w, i)
            numargs += 1
            continue
        if ch == 0x2F:
            i = _win_getname(w, i)
            numargs += 1
            continue
        if ch in (0x5B, 0x5D, 0x7B, 0x7D):
            return False  # Cmd "[", "]", "{", "}": not in the opMap
        if ch == 0x3C:
            if i + 1 < m and w[i + 1] == 0x3C:
                return False  # Cmd "<<": unknown
            i = _win_gethex(w, i + 1)
            numargs += 1
            continue
        if ch == 0x3E:
            return False  # Cmd ">>" / ">": unknown
        if ch == 0x29:
            raise _PageStop()  # Lexer FormatError "Illegal character"
        # command token (incl. the unprintable single-char rule,
        # worker:14287-14293)
        if (ch < 0x20 or ch > 0x7F) and i + 1 < m and 0x20 <= w[i + 1] <= 0x7F:
            tok = w[i:i + 1]
            i += 1
        else:
            tok, i = _lex_op(w, i)
        if tok in (b"true", b"false", b"null"):
            numargs += 1  # keyword objects count as operands
            continue
        spec = _OP_ARITY.get(tok)
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


def _inline_js_truthy(v) -> bool:
    """JS truthiness of a parsed inline-dict value for the
    ``dictMap.F || dictMap.Filter`` pick (worker:13703): Name objects are
    ALWAYS truthy (even empty), arrays/dicts/Cmds truthy, null/false/0/""
    falsy."""
    if v is None or v is False:
        return False
    if isinstance(v, Name):
        return True
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return v != 0 and v == v
    if isinstance(v, (bytes, str)):
        return len(v) > 0
    return True


def _inline_image_scan(data: bytes, pos: int, n: int):
    """Parser.makeInlineImage (pdf.worker.js:13684-13762) for the text
    pipeline. ``pos`` sits right after the "BI" token. Returns
    (resume_pos, id_terminator_byte_or_None): the terminator of the "ID"
    token was consumed as lexer.currentChar, so when it is NOT a skip
    char the next token after the image is the SPLICE of that byte with
    the post-image bytes (worker:13759 synthesizes buf2 = Cmd("EI") and
    shift() lexes from the stale currentChar). Raises _PageStop exactly
    where pdf.js throws: a non-Name dict key (worker:13691), "ID" in a
    value slot (buf1 becomes null next iteration), lexer FormatErrors.
    Known approximations (all rare^3, excluded from generators): "ID" or
    "BI" INSIDE an array/value (pdf.js stores the Cmd as an element /
    recurses into a nested makeInlineImage), and a Ref-valued F/Filter
    (pdf.js resolves it through the xref; we keep the Ref, which is not
    a Name, so the default finder runs)."""
    try:
        return _inline_image_scan_inner(data, pos, n)
    except _LexThrow:
        raise _PageStop() from None


def _inline_image_scan_inner(data: bytes, pos: int, n: int):
    dm: dict = {}
    idpos = None
    while True:
        pos = _skip_ws(data, pos)
        if pos >= n:
            break  # EOF: partial dict, end finder runs at stream end
        c = data[pos]
        if c == 0x2F:  # /Name key
            key, pos = _parse_name(data, pos)
            vpos = _skip_ws(data, pos)
            if vpos >= n:
                pos = vpos
                break  # shift() -> EOF -> break (worker:13695)
            vc = data[vpos]
            if 0x30 <= vc <= 0x39 or vc in b"+-.":
                # the inline dict is parsed by the FULL Parser with xref
                # (worker:13698): `int int R` folds to one Ref value
                val, pos = _lex_number(data, vpos, n)
                if _is_js_integer(val):
                    folded = _peek_ref(data, pos, n, val)
                    if folded is not None:
                        val, pos = folded
                dm[str(key)] = val
            elif vc == 0x3C and data[vpos:vpos + 2] != b"<<":
                val, pos = _hex_content(data, vpos, n)
                dm[str(key)] = val
            elif vc == 0x5B:
                val, pos = _parse_content_array(data, vpos, n)
                dm[str(key)] = val
            elif vc == 0x28 or vc == 0x3C or vc == 0x2F:
                try:
                    val, pos = parse_object(data, vpos, refs=True)
                except ValueError:
                    # Parser/Lexer throw (malformed dict, illegal char)
                    raise _PageStop() from None
                dm[str(key)] = val
            elif _OPERATOR.match(data, vpos):
                tok, pos = _lex_op(data, vpos)
                if tok == b"ID":
                    # value-slot ID: buf1 becomes null -> FormatError on
                    # the next key iteration (worker:13690)
                    raise _PageStop()
                if tok == b"true":
                    dm[str(key)] = True
                elif tok == b"false":
                    dm[str(key)] = False
                elif tok == b"null":
                    dm[str(key)] = None
                else:
                    dm[str(key)] = _IMG_OPERAND  # Cmd value: truthy, non-Name
            elif vc == 0x29:
                raise _PageStop()  # Lexer "Illegal character"
            elif vc == 0x3E:
                pos = vpos + (2 if data[vpos:vpos + 2] == b">>" else 1)
                dm[str(key)] = _IMG_OPERAND
            elif vc in b"]}{":
                pos = vpos + 1
                dm[str(key)] = _IMG_OPERAND
            else:
                # unprintable-lead command token (worker:14287-14293)
                if ((vc < 0x20 or vc > 0x7F) and vpos + 1 < n
                        and 0x20 <= data[vpos + 1] <= 0x7F):
                    pos = vpos + 1
                else:
                    _, pos = _lex_op(data, vpos)
                dm[str(key)] = _IMG_OPERAND
        elif _OPERATOR.match(data, pos):
            tok, pos = _lex_op(data, pos)
            if tok == b"ID":
                idpos = pos
                break
            raise _PageStop()  # non-Name key Cmd/keyword (worker:13691)
        else:
            raise _PageStop()  # number/string/delimiter key
    if idpos is not None and idpos < n:
        term = data[idpos]
        start = idpos + 1
    else:
        term = None
        start = n if idpos is None else idpos
    f = dm.get("F")
    flt = f if _inline_js_truthy(f) else dm.get("Filter")
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


# ---------------------------------------------------------------------------
# Content-stream Ref operands and array elements. The preprocessor reads
# through the FULL Parser (with xref), so three consecutive tokens
# `int int R` fold into ONE Ref operand in any content stream
# (pdf.worker.js:13432-13438; JS Number.isInteger — "0.0" qualifies), and
# array elements are parsed by the same getObj: command tokens become
# inert Cmd elements, refs fold inside arrays, an unclosed array is a
# ParserEOFException (page stop keeping partial text). The Ref operand is
# a JS object: ToString "5R" / "5R2" (gen appended only when nonzero,
# worker:5525-5530), ToNumber NaN — the jsvm tier owns those use sites.
# ---------------------------------------------------------------------------

# inert JS-object array element (a Cmd stored by the array loop): truthy,
# non-Name, non-bytes, non-number — dropped by showSpacedText
_CMD_ELEM = _InlineImg()


def _is_js_integer(v) -> bool:
    return (
        isinstance(v, (int, float))
        and not isinstance(v, bool)
        and float(v).is_integer()
    )


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
        x = _WIN_HEXD[ch]
        if x != -1:
            if first < 0:
                first = x
            else:
                out.append((first << 4) | x)
                first = -1
        i += 1
    return bytes(out), i


def _hex_span(data: bytes, pos: int):
    """Content hex-string decode at a C-event span start (drop-dangling
    getHexString semantics); signature-compatible with the
    _parse_literal_string call sites in the TJ event rewrite."""
    return _hex_content(data, pos, len(data))


def _peek_ref(data: bytes, pos: int, n: int, num):
    """After an integral numeric token: lookahead for `int R` completing
    pdf.js's three-token Ref formation. Returns (Ref, next_pos) or
    None. The R command must lex as exactly "R" (an unknown token
    extends freely, so "R5"/"Rz" are single non-R commands)."""
    p = _skip_ws(data, pos)
    if p >= n:
        return None
    c = data[p]
    if not (0x30 <= c <= 0x39 or c in (0x2B, 0x2D, 0x2E)):
        return None
    try:
        gen, e2 = _lex_number(data, p, n)
    except _LexThrow:
        return None  # the throw fires when the scan reaches that token
    if not _is_js_integer(gen):
        return None
    p2 = _skip_ws(data, e2)
    if p2 >= n or not _OPERATOR.match(data, p2):
        return None
    opv, p3 = _lex_op(data, p2)
    if opv != b"R":
        return None
    return Ref(num, gen), p3


def _prescan_lexer_throw(data: bytes, n: int):
    """Walk the token stream for the FIRST Lexer throw (illegal ')',
    invalid number, >128-char command). The Parser's buf1/buf2
    lookahead means the throw erases the two preceding tokens too, so
    interpretation must stop at the CUT = start of the token two before
    the throwing one (probed live: `(ab) Tj (cd) Tj (ef) Tj +x` keeps
    only "abcd"). Returns the cut position, or None when the stream has
    no lexer throw — or when it reaches a BI whose ID terminator forces
    the stale-currentChar splice (the interpreter re-prescans on the
    rebased stream) or a parser-level _PageStop (the interpreter hits
    it at its own, later timing — dict tokens carry no side effects)."""
    s1 = s2 = None
    pos = 0
    while True:
        pos = _skip_ws(data, pos)
        if pos >= n:
            return None
        start = pos
        c = data[pos]
        try:
            if c == 0x29:
                raise _LexThrow()  # Lexer "Illegal character"
            if c == 0x28:
                _, pos = _parse_literal_string(data, pos)  # EOF-graceful
            elif c == 0x3C:
                if data[pos:pos + 2] == b"<<":
                    pos += 2
                else:
                    _, pos = _hex_content(data, pos, n)
            elif c == 0x3E:
                pos += 2 if data[pos:pos + 2] == b">>" else 1
            elif c in b"[]{}":
                pos += 1
            elif c == 0x2F:
                pos += 1
                while pos < n and data[pos] not in _LEX_SPECIAL:
                    pos += 1
            elif 0x30 <= c <= 0x39 or c in b"+-.":
                _, pos = _lex_number(data, pos, n)
            elif _OPERATOR.match(data, pos):
                tok, pos = _lex_op(data, pos)
                if tok == b"BI":
                    ipos, term = _inline_image_scan(data, pos, n)
                    if term is not None and term not in _WS:
                        return None  # splice: caller re-prescans rebased
                    pos = ipos
            else:
                pos += 1  # mirror the interpreters' weird-byte skip
        except _LexThrow:
            if s2 is not None:
                return s2
            if s1 is not None:
                return s1
            return 0
        except _PageStop:
            return None
        s2 = s1
        s1 = start


def _parse_content_array(data: bytes, pos: int, n: int):
    """Content-dialect array (Parser.getObj "[" case, worker:13389-13401):
    elements via the same dispatch as the operand loop — commands become
    inert dropped elements, `int int R` folds to a Ref, ')' and parse
    throws stop the page, EOF raises ParserEOFException (page stop).
    ``pos`` sits on '['. Returns (elements, next_pos)."""
    try:
        return _parse_content_array_inner(data, pos, n)
    except _LexThrow:
        raise _PageStop() from None


def _parse_content_array_inner(data: bytes, pos: int, n: int):
    pos += 1
    out: list = []
    while True:
        pos = _skip_ws(data, pos)
        if pos >= n:
            raise _PageStop()  # ParserEOFException (worker:13398)
        c = data[pos]
        if c == 0x5D:
            return out, pos + 1
        if c == 0x5B:
            sub, pos = _parse_content_array(data, pos, n)
            out.append(sub)
            continue
        if 0x30 <= c <= 0x39 or c in b"+-.":
            try:
                v, pos = _lex_number(data, pos, n)
            except _LexThrow:
                raise _PageStop() from None
            if _is_js_integer(v):
                folded = _peek_ref(data, pos, n, v)
                if folded is not None:
                    v, pos = folded
            out.append(v)
            continue
        if c == 0x3C and data[pos:pos + 2] != b"<<":
            v, pos = _hex_content(data, pos, n)
            out.append(v)
            continue
        if c == 0x28 or c == 0x3C or c == 0x2F:
            try:
                v, pos = parse_object(data, pos, refs=False)
            except ValueError:
                raise _PageStop() from None
            out.append(v)
            continue
        if _OPERATOR.match(data, pos):
            tok, pos = _lex_op(data, pos)
            if tok == b"true":
                out.append(True)
            elif tok == b"false":
                out.append(False)
            elif tok == b"null":
                out.append(None)
            else:
                out.append(_CMD_ELEM)
            continue
        if c == 0x29:
            raise _PageStop()  # Lexer "Illegal character"
        if c == 0x3E:
            pos += 2 if data[pos:pos + 2] == b">>" else 1
            out.append(_CMD_ELEM)
            continue
        if c in b"}{":
            pos += 1
            out.append(_CMD_ELEM)
            continue
        if ((c < 0x20 or c > 0x7F) and pos + 1 < n
                and 0x20 <= data[pos + 1] <= 0x7F):
            pos += 1  # unprintable single-char Cmd (worker:14287-14293)
            out.append(_CMD_ELEM)
            continue
        _, pos = _lex_op(data, pos)
        out.append(_CMD_ELEM)


# cross-document font-map cache: (payload sha1, obj num, gen) -> FontMap.
# Insertion-ordered dict as LRU-ish (overwrite-evict oldest); per Python
# worker process, so chunk tasks / replicated corpora reuse built maps.
_FONT_MAP_LRU: dict = {}

# shared fallback font map (immutable — FontMap never mutates its table)
_ASCII_FM = FontMap(
    {i: chr(i) if 32 <= i < 127 else "" for i in range(256)}, 1
)


def _span_name(data: bytes, a: int, b: int) -> str:
    """Decode a /Name token span (C lexer hands raw spans; #xx unescaped
    here to match _parse_name)."""
    raw = data[a:b]
    if b"#" in raw:
        raw = _NAME_HEX.sub(lambda m: bytes([int(m.group(1), 16)]), raw)
    return raw.decode("latin-1")


class _CDefer(Exception):
    """The C replay hit a construct whose semantics need the exact
    width-register model (zero-width glyphs, register <= 0 at a
    decision, Cf-riding kerns, null-anchor whitespace runs) — the
    caller re-runs the PAGE through the Python implementation."""


class _JsCoerce(Exception):
    """A NON-NUMERIC operand reached a numeric text-state slot
    (Tc/Tw/Tz/TL/Ts/Td/TD/Tm/Tf-size/quote-spacing). pdf.js stores the
    raw value and coerces per USE SITE through JS operators — string
    concat in ``charSpacing + extraSpacing`` ("5"+0 == "50"), ToNumber
    in every multiply, NaN cascades through positions. The float
    pipeline can't represent that; _page_text re-runs the page through
    the faithful kernels/jsvm.py interpreter. Raised BEFORE the op
    mutates any state (detection precedes execution), but the page
    restart makes mid-page ordering irrelevant anyway."""


# op -> how many TRAILING operands feed numeric slots (Tf: only the
# size, stack[-1]; the quote's string operand is exempt — slots are
# stack[-3:-1]). cm feeds stateManager.transform -> Util.transform,
# whose e/f products poison ctm with NaN / concat strings the same way.
_COERCE_OPS: dict[bytes, int] = {
    b"Tc": 1, b"Tw": 1, b"Tz": 1, b"TL": 1, b"Ts": 1, b"Tf": 1,
    b"Td": 2, b"TD": 2, b"Tm": 6, b"cm": 6,
}


class _TextInterp:
    """Content-stream text interpreter. Recurses into Form XObjects on
    ``Do`` (figure labels live there; pdf.js PartialEvaluator does the same),
    with a depth cap and a seen-set against self-referential forms."""

    MAX_DEPTH = 8

    def __init__(self, doc: Document, viewbox: list[float] | None = None) -> None:
        self.doc = doc
        # pdf.js drops glyphs OUTSIDE the page view box before any
        # assembly state changes (compareWithLastPosition,
        # pdf.worker.js:36531-36536): crop marks and off-page text never
        # reach the output. None disables clipping (unit-level callers).
        self.viewbox = viewbox
        # eager line model: breaks and word-gap spaces are emitted inline
        # into `pieces` ("\n".join(lines) == "".join(pieces) — the same
        # output as the old out/cur_line form, and the representation the
        # C replay appends to directly). line_open tracks "anything on the
        # current line"; last_char is the last emitted char of that line.
        self.pieces: list[str] = []
        self.line_open = False
        self.last_char = ""
        self.pending_space = False
        # pending_multi: the pending whitespace run had >= 2 glyphs.
        # pdf.js's shouldAddWhitepsace consults the last TWO saved
        # glyphs (twoLastChars, pdf.worker.js:36373-36385): a run of
        # two-plus spaces makes it FALSE, so in the sub-trackingSpaceMin
        # window the space never materializes ("nu   " then "  eta" at
        # a near-zero gap reads "nueta" in the reference).
        self.pending_multi = False
        # two y trackers, mirroring the reference's two-stage assembly:
        # pdf.js decides flush/EOL/space per glyph against the PREVIOUS
        # GLYPH position (textContentItem.prevTransform,
        # pdf.worker.js:36614-36615), while pdf-parse emits "\n" by
        # comparing successive ITEM anchor y's (item.transform[5] set at
        # ensureTextContentItem) against Y_TOLERANCE (lib/pdf-parse.js:30).
        # last_y == the current item's anchor y; glyph_y == the previous
        # glyph's y. force_flush mirrors flushTextContentItem on font
        # change / Do / stream end (pdf.worker.js:36841,36950).
        self.last_y: float | None = None
        self.glyph_y: float | None = None
        self.last_end_x: float | None = None
        self.force_flush = False
        # pieces-index where the OPEN item's text begins — flush-time
        # bidi runs over the joined span (see _close_item_bidi)
        self._it_start: int | None = None
        # scale_flush: a Tm scale change ran updateAdvanceScale on an
        # open item, zeroing its width — textOrientation becomes
        # Math.sign(0) == 0 at the next glyph's compare, forcing the
        # carriage-return flush (advanceX < 0) or the standalone-space
        # + flush path (advanceX > 0). item_size: the compare uses the
        # ITEM-STALE font scale (thresholds captured at
        # ensureTextContentItem; textAdvanceScale from the last update)
        # — not the scale of the incoming glyph.
        self.scale_flush = False
        self.item_size = 0.0
        # item_wreg: the WIDTH REGISTER — pdf.js's
        # textContentItem.width. It starts at 0 (ensureTextContentItem)
        # and grows by each appended glyph's scaledDim plus every
        # ABSORBED compare advance (the tracking-band else and the
        # in-flow fake-space paths run width += advanceX, which can be
        # negative: a tightened kern absorbed over a zero-width run
        # drives the register negative). textOrientation =
        # Math.sign(width) multiplies every cascade threshold, so
        # register == 0 degenerates every band (any positive advance
        # falls outside addFakeSpaces' empty in-flow window: flush +
        # standalone " " at prevTransform; any negative advance takes
        # the carriage-return band) and register < 0 inverts them (the
        # negative-Tz orientation). Like item_size, the register is
        # STALE across flushes (flushTextContentItem never resets
        # width; only the next ensureTextContentItem does).
        self.item_wreg = 0.0
        # sign of the open item's RUNNING width — pdf.js multiplies
        # every cascade threshold by textOrientation = sign(width);
        # mirrored glyphs (negative textHScale) accumulate negative
        # width, so an item OPENED under a negative Tz compares with
        # inverted windows. Like item_size, the compare reads the
        # STALE value across flushes (ensureTextContentItem re-inits
        # only at the next append).
        self.item_osign = 1
        # FontMap a form inherits from its parent stream (see _INH_FONT)
        self._inh_fm: FontMap | None = None
        # no_c: this page deferred out of the C replay (_CDefer) —
        # the rerun takes _run_py for every stream, forms included
        self.no_c = False
        # item_hsize: the item's CROSS-AXIS height — pdf.js's
        # textContentItem.height = hypot(trm[2], trm[3]), captured at
        # ensureTextContentItem and used for the EOL / 0.25
        # vertical-shift thresholds. Differs from item_size under shear
        # or non-uniform scales; rotated/skew callers pass hsize, the
        # quad-0 paths keep the legacy writing-axis value.
        self.item_hsize = 0.0
        # glyph_mat: the prev glyph's row-normalized composed 2x2 (set
        # by show() from its mat argument). The quad == -1 compare
        # inverse-rotates each point under its OWN matrix (pdf.js
        # applyInverseRotation on prevTransform); None falls back to the
        # raw device point.
        self.glyph_mat: tuple | None = None

    # fraction of the font size an inter-item x-gap must exceed to count
    # as a word break — the reference's TRACKING_SPACE_FACTOR /
    # SPACE_IN_FLOW_MIN_FACTOR (pdf.worker.js:36387,36390): gaps past
    # 0.102 x fontSize read as spaces ("in Fig", not "inFig")
    GAP_FRACTION = 0.102

    @staticmethod
    def _lgap_join(dec: str) -> str:
        """Letter-gap fake-space join, EXCLUDING the edge real-space
        runs: pdf.js's compare never runs at a space glyph (the
        whitespace branch skips it before compareWithLastPosition,
        pdf.worker.js:36693-36703), so no fake space can land between
        the last real glyph and a trailing space — the twoLastChars
        ring sees exactly the real trailing glyphs. A joined trailing
        2-run would make the pend machinery vanish a space the
        reference keeps (distilled: '1.50 Tc [(a ) 567 (c)] TJ' reads
        'a c' in the reference, 'ac' with the naive join). The LEADING
        run is spared for the mirror-image reason: the gap between a
        leading space glyph and the first real glyph belongs to the
        BOUNDARY compare (whose advance spans the space's translate),
        and a joined leading 2-run reads as ring [' ',' '] — vanishing
        the boundary space pdf.js's shouldAddWhitepsace keeps when the
        net advance lands in the tracking band (distilled:
        '6.5 Tc [(i) 1500] TJ ( i) Tj' reads 'i i' in the reference,
        'ii' with the joined lead)."""
        body = dec.lstrip(" ")
        lead = dec[: len(dec) - len(body)]
        core = body.rstrip(" ")
        return lead + " ".join(core) + body[len(core):]

    def show(self, s: str, ty: float, tx: float | None = None,
             size: float = 0.0, quad: int = 0,
             dev_x: float | None = None,
             dev_y: float | None = None,
             mat: tuple | None = None,
             dev_w: float = 0.0,
             hsize: float | None = None,
             move_prev: bool = True,
             mirror: bool = False,
             seg_w: float | None = None) -> bool:
        """Returns True when glyphs were emitted or position-tracked
        (the caller then updates last_end_x / prevTransform), False when
        the item was clipped by the view box.

        (tx, ty) are COMPARE-FRAME pen coordinates; for rotated
        quadrants (quad 90/180/270) pdf.js swaps/negates device axes so
        the rotation-0 decision logic applies unchanged
        (compareWithLastPosition, pdf.worker.js:36551-36565) — the
        caller passes the already-swapped pen, and this method applies
        the SAME swap to the stored prev-glyph DEVICE point
        (prevTransform is re-swapped under the CURRENT rotation each
        compare). dev_x/dev_y are the raw device coordinates, used for
        the view-box test and the pdf-parse anchor join (both operate on
        item.transform[4..5] device values); they default to (tx, ty),
        which is exact for quad 0."""
        if not s:
            return True
        if dev_y is None:
            dev_y = ty
        # whitespace GLYPHS are never emitted by the reference — pdf.js
        # skips them (category.isWhitespace, pdf.worker.js:36693-36702),
        # only advancing position and arming saveLastChar(" "); the
        # space that appears in output is the fake/pending space decided
        # at the NEXT glyph. We model that as: collapse runs, convert
        # edge spaces to a pending flag, and materialize per the rules
        # below.
        # whitespace-run lengths BEFORE collapsing (multi-glyph runs
        # behave differently through twoLastChars — see pending_multi)
        lead_n = len(s) - len(s.lstrip(" "))
        trail_n = len(s) - len(s.rstrip(" "))
        sp_total = s.count(" ")
        s = _SPACE_RUN.sub(" ", s)
        vb = self.viewbox
        if vb is not None and (
            dev_y < vb[1] or dev_y > vb[3]
            or (
                # rotated items: the x half of pdf.js's device-space box
                # test (the quad-0 path gets per-glyph x clipping from
                # the caller's _clip_x instead). pdf.js's left-edge test
                # is posX + glyphWidth < vb0 — the glyph's NAIVE +x
                # extension, regardless of actual writing direction
                # (rotation-naive in the reference too) — so a leftward
                # quad-180 run keeps one extra glyph at the edge.
                quad != 0
                and dev_x is not None
                and (dev_x + dev_w < vb[0] or dev_x > vb[2])
            )
        ):
            # outside the view box: glyphs drop BEFORE any state change
            # (prevTransform untouched — return False so the caller skips
            # last_end_x); whitespace glyphs still arm the pending space
            # (the isWhitespace branch runs before the box check;
            # clipped NON-space glyphs skip saveLastChar, so the saved
            # run is ALL of the item's space glyphs)
            if " " in s and (self.line_open or self.glyph_y is not None):
                if self.pending_space:
                    self.pending_multi = True
                else:
                    self.pending_space = True
                    self.pending_multi = sp_total >= 2
            return False
        if lead_n and (self.line_open or self.glyph_y is not None):
            if self.pending_space:
                self.pending_multi = True  # run continues across items
            else:
                self.pending_space = True
                self.pending_multi = lead_n >= 2
        core = s.strip(" ")
        if not core:
            # all-space item: the lead arm above covered the whole run
            return True  # position advances (caller), prev-glyph y does not
        fs = size if size > 0 else 0.0
        ifs = self.item_size if self.item_size > 0 else fs
        hs = hsize if hsize is not None and hsize > 0 else fs
        ihs = self.item_hsize if self.item_hsize > 0 else hs
        # the prev-glyph point is stored in DEVICE coords; re-swap it
        # under the CURRENT quadrant (pdf.js re-transforms prevTransform
        # at every compare with the incoming glyph's rotation,
        # pdf.worker.js:36551-36565)
        gx, gy = self.last_end_x, self.glyph_y
        if quad == 90:
            lx, ly = gy, gx
        elif quad == 180:
            lx = None if gx is None else -gx
            ly = None if gy is None else -gy
        elif quad == 270:
            lx = None if gy is None else -gy
            ly = None if gx is None else -gx
        elif (
            quad == -1
            and self.glyph_mat is not None
            and gx is not None
            and gy is not None
        ):
            # arbitrary rotation: the prev point inverse-rotates under
            # its OWN matrix (pdf.js applyInverseRotation with
            # prevTransform, pdf.worker.js:36566-36567)
            m0, m1, m2, m3 = self.glyph_mat
            lx = m0 * gx + m1 * gy
            ly = m2 * gx + m3 * gy
        else:
            lx, ly = gx, gy
        dyg = None if ly is None else ty - ly
        adv = tx - lx if tx is not None and lx is not None else None
        space = False
        standalone = False  # " " as its own item, anchored at glyph_y
        flush = self.force_flush
        self.force_flush = False
        # pdf.js's equal-position test runs on the RAW device
        # translations BEFORE any rotation handling (worker:36547 vs
        # the applyInverseRotation at 36551-36567) — under one matrix
        # it coincides with adv/dyg == 0, but when the matrix CHANGED
        # between items (a Tz sign flip under shear: the mirrored pen
        # returns exactly to prevTransform) only the raw compare
        # catches it ('1 0.3 0 1 0 0 cm -100 Tz (io) Tj 85 Tz (bet)
        # Tj' reads 'iobet' in the reference; form_combo hunt base
        # 28,000,000 seed 295).
        raw_eq = (
            dev_x is not None and gx is not None and gy is not None
            and dev_x == gx and dev_y == gy
        )
        shortcut = False
        if raw_eq or (adv == 0.0 and dyg == 0.0):
            # pdf.js equal-position shortcut (lastPosX === posX &&
            # lastPosY === posY, pdf.worker.js:36547-36549): the glyph
            # appends with NO cascade decisions; an armed scale_flush
            # stays armed. The RING-driven pend1 space still
            # materializes at the append itself (saveLastChar,
            # pdf.worker.js:36373-36378 — independent of the compare),
            # so a zero-advance space glyph still separates words.
            # pdf.js RETURNS here — the vertical-shift check below
            # must not run (visible only through raw_eq, where the
            # frame-projected dyg is nonzero across a matrix change).
            shortcut = True
            space = self.pending_space and not self.pending_multi
            self.pending_space = False
            self.pending_multi = False
        elif self.scale_flush:
            # textOrientation == sign(0) == 0 — the zero-threshold
            # cascade (pdf.worker.js:36616-36655): CR-flush when
            # advanceX < 0; standalone space + flush when advanceX > 0
            # (the in-flow window [0, 0] is empty); EOL when
            # |dy| > height; and — the easily-missed case — advanceX
            # EXACTLY 0 falls through notASpace/trackingSpaceMin with
            # width += 0: the item simply CONTINUES (a Times 'nu' at
            # scale 8 ending exactly where the scale-10 glyph starts
            # merges in the reference).
            self.scale_flush = False
            self.pending_space = False
            self.pending_multi = False
            if (
                adv is not None
                and ifs > 0
                and not (dyg is not None and abs(dyg) > ihs)
            ):
                if adv < 0:
                    flush = True
                elif adv > 0:
                    space = True
                    standalone = True
                    flush = True
                # adv == 0: item continues (vertical-shift check below
                # still applies)
            else:
                flush = True
        elif dyg is None:
            # null prevTransform: pdf.js returns true BEFORE any cascade
            # (pdf.worker.js:36543-36545) — the glyph appends to the
            # OPEN item even across Td/y jumps (an all-zero-width line
            # never sets prevTransform, and the next line's glyphs join
            # its item with no EOL). With no open item this initializes
            # the first one. The ring-driven pend1 space still applies —
            # but ONLY when the ring holds a prior saved glyph:
            # shouldAddWhitepsace reads twoLastChars, and in a FRESH
            # closure (a Form XObject's first item — the page's ring is
            # save/restored around Do) the ring is empty, so a leading
            # space pend does NOT materialize ('6.5 Tc ( gam) Tj ET
            # /Fm Do' + form '( io ) Tj' reads 'g a mi o' in the
            # reference; form_combo hunt base 27,000,000).
            space = (
                self.pending_space and not self.pending_multi
                and self.last_char != ""
            )
            self.pending_space = False
            self.pending_multi = False
        elif self.item_wreg == 0.0 and ifs > 0.0 and adv is not None:
            # zero width register (an all-zero-width open item, or the
            # stale width of a flushed one): textOrientation ==
            # Math.sign(0) == 0 and every cascade threshold degenerates
            # (pdf.worker.js:36616-36655) — any negative advance takes
            # the carriage-return band (or appendEOL past 0.5*height;
            # both flush), any positive advance falls outside
            # addFakeSpaces' empty [0, 0] in-flow window (flush +
            # standalone " " at prevTransform, ring reset), and an
            # advance of EXACTLY zero resets the ring and absorbs
            # (width += 0): the item continues.
            ady = abs(dyg)
            self.pending_space = False
            self.pending_multi = False
            if adv < 0:
                flush = True
            elif ady > ihs:
                flush = True
            elif adv > 0:
                space = True
                standalone = True
                flush = True
            # adv == 0: item continues (vertical-shift check below
            # still applies)
        elif (
            (self.item_osign < 0 or self.item_wreg < 0.0)
            and ifs > 0.0 and adv is not None
        ):
            # negative-orientation item (opened under a negative Tz,
            # or whose register went negative through absorbed
            # tightened-kern advances over zero-width runs):
            # pdf.js multiplies every threshold by textOrientation =
            # sign(width). The CR window flips to advanceX < +0.2*fs
            # (small letter gaps CR-flush into their own items, joined
            # by the pdf-parse render with no space); the notASpace/
            # tracking/in-flow windows invert to unreachable for a
            # positive advance, so anything larger falls through
            # addFakeSpaces' outside-window path: flush + standalone
            # " " at prevTransform, ring reset.
            ady = abs(dyg)
            self.pending_space = False
            self.pending_multi = False
            if adv < 0.2 * ifs:
                flush = True
            elif ady > ihs:
                flush = True
            else:
                space = True
                standalone = True
                flush = True
        elif ifs > 0.0 and adv is not None:
            ady = abs(dyg)
            if adv < -0.2 * ifs:
                # carriage return (NEGATIVE_SPACE_FACTOR,
                # pdf.worker.js:36617-36625): flush, no space
                self.pending_space = False
                self.pending_multi = False
                flush = True
            elif ady > ihs:
                # taller than the item height -> appendEOL
                # (pdf.worker.js:36626-36629)
                self.pending_space = False
                self.pending_multi = False
                flush = True
            else:
                # gap space (TRACKING_SPACE/SPACE_IN_FLOW factors,
                # pdf.worker.js:36633-36651) or a pending whitespace
                # glyph. notASpace first: an advance <= 0.03*fs runs
                # resetLastChars (pdf.worker.js:36630-36632), killing
                # the pending whitespace — a kern pulling the pen back
                # over a space glyph un-spaces it ("Calibra )567(tion").
                # Callers pass tx at the FIRST NON-SPACE glyph (leading
                # space-glyph advances included), matching where pdf.js
                # runs this compare.
                if adv <= 0.03 * ifs:
                    self.pending_space = False
                    self.pending_multi = False
                pend1 = self.pending_space and not self.pending_multi
                space = pend1 or adv > self.GAP_FRACTION * ifs
                if pend1 and adv <= self.GAP_FRACTION * ifs:
                    # shouldAddWhitepsace: flush + standalone " "
                    # (pdf.worker.js:36634-36639)
                    standalone = True
                    flush = True
                elif space:
                    # in-flow spaces join the OPEN item; a gap past
                    # 0.6*fs — or no open item (str empty after a
                    # flush) — pushes a standalone " " at prevTransform
                    standalone = (
                        adv > 0.6 * ifs or flush or not self.line_open
                    )
                    if not standalone:
                        # in-flow fake space: pdf.js ALSO absorbs the
                        # advance into the width register
                        # (pdf.worker.js:36641-36651)
                        self.item_wreg += adv
                else:
                    # quiet gap (notASpace / tracking absorb): pdf.js
                    # runs width += advanceX (pdf.worker.js:36641)
                    self.item_wreg += adv
                self.pending_space = False
                self.pending_multi = False
                if adv > 0.6 * ifs or ady > 0.25 * ihs:
                    # VERTICAL_SHIFT_RATIO flush (pdf.worker.js:36653)
                    flush = True
        else:
            # degraded info (no size / no x): legacy single-tracker rules
            if abs(dyg) > spec.Y_TOLERANCE:
                self.pending_space = False
                self.pending_multi = False
                flush = True
            else:
                space = self.pending_space and self.line_open
                self.pending_space = False
                self.pending_multi = False
        if (
            not shortcut
            and dyg is not None and ihs > 0.0 and abs(dyg) > 0.25 * ihs
        ):
            flush = True  # vertical shift flush applies on every
            # non-shortcut path (pdf.js returns at the shortcut)
        new_item = flush or not self.line_open
        if new_item:
            # the PREVIOUS item is complete: apply the reference's
            # flush-time bidi over its WHOLE string (runBidiTransform,
            # pdf.worker.js:36495-36510 — the ratio test numBidi/len <
            # 0.3 && len > 4 sees the FULL item, so an item joined from
            # several shows can stay unreordered where a single show
            # would flip; caught live by the type0 fuzz)
            self._close_item_bidi()
        # emission = pdf-parse's item join (lib/pdf-parse.js:27-38):
        # "\n" when successive item ANCHORS differ by > Y_TOLERANCE;
        # items on the same anchor line concatenate directly
        if space and self.last_char != " ":
            if standalone and self.glyph_y is not None:
                # standalone whitespace item carries prevTransform
                # (pushWhitespace, pdf.worker.js:36401-36416)
                if (
                    self.last_y is not None
                    and abs(self.glyph_y - self.last_y) > spec.Y_TOLERANCE
                ):
                    self.pieces.append("\n")
                self.last_y = self.glyph_y
            self.pieces.append(" ")
        if new_item:
            # pdf-parse's item join compares raw DEVICE transform[5]
            # anchors regardless of rotation (lib/pdf-parse.js:27-38)
            if (
                self.last_y is not None
                and abs(dev_y - self.last_y) > spec.Y_TOLERANCE
            ):
                self.pieces.append("\n")
            self.last_y = dev_y
            self.item_size = fs
            self.item_hsize = hs
            self.item_osign = -1 if mirror else 1
            # ensureTextContentItem resets the width register; the
            # append contributes the segment's own glyph widths plus
            # its internally-absorbed gaps (seg_w). Callers that can't
            # compute it pass None: derive zero when no emitted glyph
            # had scaledDim != 0 (the move_prev condition), else a
            # sign-exact magnitude-approximate stand-in — NEGATIVE for
            # mirrored items, where pdf.js's width += scaledDim runs
            # after scaledDim *= textHScale (< 0) flips every appended
            # width (the multibyte mirrored fallback path).
            standin = 0.0 if not move_prev else (fs if fs > 0 else 1.0)
            if mirror:
                standin = -standin
            self.item_wreg = seg_w if seg_w is not None else standin
            self._it_start = len(self.pieces)
        else:
            standin = 0.0 if not move_prev else (fs if fs > 0 else 1.0)
            if mirror:
                standin = -standin
            self.item_wreg += seg_w if seg_w is not None else standin
        self.pieces.append(core)
        self.line_open = True
        self.last_char = core[-1]  # ring reads LOGICAL order (pre-bidi)
        self.pending_space = trail_n > 0
        self.pending_multi = trail_n >= 2
        if move_prev:
            # prevTransform moves only for items that contained a
            # nonzero-width non-space glyph (pdf.js stores it only when
            # scaledDim != 0) — the caller passes the same condition it
            # uses for last_end_x
            self.glyph_y = dev_y
            self.glyph_mat = mat
        return True

    def _close_item_bidi(self) -> None:
        """Reference-faithful flush-time transforms at ITEM granularity
        (runBidiTransform, pdf.worker.js:36495-36510): normalizeUnicode
        over the item's full string (targeted NFKC — a fallback glyph
        like U+FB3B decomposes to kaf+dagesh HERE, not at decode), then
        bidi (pinned to node output by tests/test_bidi_reference.py).
        Items with neither are identity, so plain LTR pages never pay."""
        st = self._it_start
        self._it_start = None
        if st is None or st >= len(self.pieces):
            return
        joined = "".join(self.pieces[st:])
        changed = False
        if _NORM_RE.search(joined) is not None:
            joined = _normalize_unicode(joined)
            changed = True
        if _RTL_RUN.search(joined) is not None:
            joined = _bidi_mod.visual(joined)
            changed = True
        if changed:
            del self.pieces[st:]
            self.pieces.append(joined)

    def text(self) -> str:
        self._close_item_bidi()
        return "".join(self.pieces)


    def _clip_x(self, fm: FontMap, item: bytes, dec: str, start_x: float,
                size: float, sxz: float, tc: float, tw: float) -> str:
        """Per-glyph x view-box clip (pdf.js runs the box test PER
        GLYPH): glyphs whose pen x falls outside [vb0, vb2] vanish while
        position still advances, so an item straddling the page edge
        keeps only its visible part. Space glyphs are exempt (whitespace
        branch precedes the box test). Gated to the rare straddle case
        by the caller; 1-byte fonts only (the C path mirrors this).
        Returns (visible_dec, prev_x, n_clipped, last_clipped,
        first_vis_x) — a CLIPPED glyph advances by its width ONLY
        (pdf.js's reject path translates scaledDim and skips the
        charSpacing translate, pdf.worker.js:36705-36711), so the
        caller subtracts n_clipped * tc from the item advance;
        ``last_clipped`` is True when the item's FINAL glyph was
        rejected — a TJ kern riding that glyph as extraSpacing is then
        dropped with it. ``first_vis_x`` is the first VISIBLE non-space
        glyph's pen x — the position where pdf.js's compare actually
        runs: leading rejected glyphs advance the pen width-only with
        NO compare, so an item whose head straddles the left edge
        anchors at its first surviving glyph, not at the item start
        (distilled: '-50 Tz (epsi) Tj 200 Tz (delta) Tj' reads
        'ep elta' in the reference — the advance at 'e' is +7.51 from
        the surviving glyph, not -3.61 from the clipped 'd')."""
        vb = self.viewbox
        out = []
        x = start_x
        prev: float | None = None
        nclip = 0
        last_clip = False
        fvx: float | None = None
        w, dw = fm.widths, fm.default_width
        cf = fm._cf_arr
        for i, code in enumerate(item):
            if cf is not None and cf[code]:
                continue  # Cf: invisible, zero advance (worker:36684)
            ch = dec[i] if i < len(dec) else ""
            gw = w.get(code, dw) / 1000.0 * size * sxz
            sp = ch == " " or code == 0x20
            # pdf.js: posX + glyphWidth < vb0 (left straddlers stay),
            # posX > vb2 (pdf.worker.js:36529-36536). glyphWidth there
            # is scaledDim BEFORE the textHScale multiply (and before
            # any text-matrix scale) — raw width x fontSize only
            gw_raw = w.get(code, dw) / 1000.0 * size
            if sp or (x + gw_raw >= vb[0] and x <= vb[2]):
                out.append(ch)
                last_clip = False
                if not sp and fvx is None:
                    fvx = x
                if not sp and gw:
                    # prevTransform follows EMITTED glyphs with NONZERO
                    # width (pdf.js stores it only when scaledDim != 0)
                    prev = x + gw
                x += gw + (tc + (tw if sp else 0.0)) * sxz
            else:
                nclip += 1
                last_clip = True
                x += gw  # clipped: width only, no charSpacing
        return "".join(out), prev, nclip, last_clip, fvx


    def _first_x(self, fm: FontMap, item: bytes, dec: str, start_x: float,
                 size: float, sxz: float, tc: float, tw: float
                 ) -> float | None:
        """The FIRST NON-SPACE glyph's pen x — where pdf.js runs
        compareWithLastPosition for this item (leading space glyphs only
        advance the pen by width+charSpacing+wordSpacing and arm the
        pending space, pdf.worker.js:36693-36702). None for all-space
        items. 1-byte fonts; multi-byte callers keep the item start."""
        n = len(item)
        aligned = len(dec) == n
        cf = fm._cf_arr
        x = start_x
        for k in range(n):
            code = item[k]
            if cf is not None and cf[code]:
                continue  # Cf: invisible, zero advance (worker:36684)
            sp = code == 0x20 or (aligned and dec[k] == " ") or (
                fm._sp_arr is not None and fm._sp_arr[code]
            )
            if not sp:
                return x
            x += (
                fm.widths.get(code, fm.default_width) / 1000.0 * size
                + tc + tw
            ) * sxz
        return None

    def _prev_x(self, fm: FontMap, item: bytes, dec: str, start_x: float,
                size: float, sxz: float, tc: float, tw: float,
                adv_full: float | None = None) -> float | None:
        """pdf.js's prevTransform x after this item: the pen right after
        the last NON-SPACE glyph's width, before its charSpacing
        (pdf.worker.js:36693-36727). Space glyphs advance position
        without touching it; an all-space item returns None (the caller
        leaves last_end_x alone). 1-byte fonts; multi-byte callers keep
        the whole-advance approximation.

        ``adv_full``: the caller's own closed-form item advance (the
        exact float it adds to cur_x). pdf.js's prevTransform and the
        next show's posX are the SAME accumulated translate chain, so
        the pen returns to prevTransform EXACTLY whenever the tail
        translates cancel analytically — its equal-position shortcut
        then fires ACROSS items ('-3 Tc (  zet ) Tj (kap) Tj' reads
        'zet kap': the trailing space's +w and the two charSpacing
        translates cancel; combo hunt base 22,000,000 seed 17).
        Closed-PREFIX arithmetic leaves ulp dust there (the prefix and
        full-item chains group differently), so when adv_full is given
        prevTransform anchors to it instead: prev = (start + adv_full)
        - tail, making the next compare's adv = tx - prev round-trip
        the analytic tail (exactly 0 at cancellation). Known residual:
        pdf.js's own chain can fail to round-trip at magnitude
        boundaries (x crossing a power of 2) where it would glue —
        ulp-rare, the documented knife-edge family."""
        n = len(item)
        aligned = len(dec) == n
        sp_arr, cf = fm._sp_arr, fm._cf_arr
        k = n - 1
        while k >= 0 and (
            item[k] == 0x20 or (aligned and dec[k] == " ")
            or (sp_arr is not None and sp_arr[item[k]])
            or (cf is not None and cf[item[k]])
            # ZERO-width glyphs never move prevTransform — pdf.js only
            # stores it when scaledDim is nonzero (`if (scaledDim)
            # textChunk.prevTransform = ...`); incomplete /Widths
            # subsets leave it stuck and every following glyph reads
            # the stale gap
            or fm.widths.get(item[k], fm.default_width) == 0.0
        ):
            k -= 1
        if k < 0:
            return None
        if adv_full is not None:
            # tail beyond prevTransform: the last kept glyph's own
            # charSpacing, then each trailing glyph's translate in the
            # walk's add order (space: one summed ktc+(w*kx+ktw);
            # zero-width non-space: charSpacing only; Cf: skipped)
            kx = size / 1000.0 * sxz
            ktc = tc * sxz
            ktw = tw * sxz
            tail = ktc
            cf = fm._cf_arr
            sp_arr = fm._sp_arr
            for j in range(k + 1, n):
                code = item[j]
                if cf is not None and cf[code]:
                    continue
                if (
                    code == 0x20 or (aligned and dec[j] == " ")
                    or (sp_arr is not None and sp_arr[code])
                ):
                    tail += ktc + (
                        fm.widths.get(code, fm.default_width) * kx + ktw
                    )
                else:
                    tail += ktc  # zero-width non-space (w*kx == 0.0)
            return (start_x + adv_full) - tail
        prefix = item[: k + 1]
        # tc applies to the k PRIOR glyphs minus the invisible Cf ones
        # (pdf.js `continue`s before charSpacing, worker:36684)
        adv = (
            fm.advance(prefix) / 1000.0 * size
            + (k - fm.ncf(prefix)) * tc
            + fm.nsp(prefix) * tw
        ) * sxz
        return start_x + adv

    # splits per item past this are treated as in-flow (the C twin
    # carries a fixed-size run record array; both paths cap identically)
    MAX_SEG_SPLITS = 64

    def _big_tc(self, tc: float, sxz: float, fs: float) -> bool:
        """charSpacing past spaceInFlowMax (0.6 * fontSize) under
        EITHER candidate item size: pdf.js flushes + pushes a
        standalone " " at prevTransform between every glyph pair
        (pdf.worker.js:36641-36651) — the seg-split trigger for
        big-Tc adjacency splitting."""
        if tc <= 0.0:
            return False
        ktc = tc * sxz
        stale = self.item_size if self.item_size > 0 else fs
        return ktc > 0.6 * stale or ktc > 0.6 * fs

    def _inline_wcontrib(self, fm, item: bytes, dec: str, adv: float,
                         tc: float, tw: float, sxz: float,
                         kx: float, anchored: bool = True) -> float:
        """WIDTH-REGISTER contribution of an element appended on the
        inline (no-split) path: appended glyph widths + absorbed
        intra-element gaps, accumulated ADDITIVELY the way pdf.js does
        (width += scaledDim per glyph, width += advanceX per absorbed
        compare) so an all-zero-width element contributes an EXACT
        zero — a subtractive formula leaves float dust that flips
        textOrientation. Edge whitespace runs are excluded (a leading
        run belongs to the deferred boundary compare's gap, a trailing
        run to the next compare's); internal in-flow runs stay
        included (pdf.worker.js:36641-36651)."""
        if not dec.strip(" "):
            return 0.0
        if fm.nbytes != 1 or len(dec) != len(item) - fm.ncf(item):
            # multi-byte / ligature decodes: advance-based estimate
            return adv - tc * sxz
        widths, dw = fm.widths, fm.default_width
        cf = fm._cf_arr
        ktcw = (tc + tw) * sxz
        ktc = tc * sxz
        contrib = 0.0
        pend_gap = None  # gap since the last real glyph; None = lead
        di = 0
        for code in item:
            if cf is not None and cf[code]:
                continue  # Cf: invisible, zero advance
            ch = dec[di]
            di += 1
            w = widths.get(code, dw)
            if code == 0x20 or ch == " ":
                if pend_gap is not None:
                    pend_gap += w * kx + ktcw
            else:
                if (
                    pend_gap is not None and pend_gap != 0.0
                    and anchored
                ):
                    # absorbed quiet/in-flow gap — only when a
                    # prevTransform anchors the compare (pdf.js
                    # early-returns on a null prev: no absorb)
                    contrib += pend_gap
                contrib += w * kx
                pend_gap = ktc
                if w:
                    anchored = True
        return contrib

    def _tj_boundary_stale(self, tx: float | None, dev_y: float,
                           fs: float, hs: float | None) -> float:
        """The width register a deferred TJ-group boundary compare
        leaves behind: 0.0 when the compare will FLUSH (the next
        ensureTextContentItem resets the register), item_wreg + gap
        when it absorbs, item_wreg untouched when it never runs (null
        prevTransform / equal position). Mirrors show()'s flush
        outcomes — used ONLY for the live mid-TJ register model, never
        for emission."""
        if self.force_flush or not self.line_open:
            return 0.0
        if self.scale_flush:
            return 0.0  # register zeroed by updateAdvanceScale
        gx, gy = self.last_end_x, self.glyph_y
        if gx is None or gy is None or tx is None:
            return self.item_wreg  # null prev: appends, no compare
        adv = tx - gx
        dyg = dev_y - gy
        if adv == 0.0 and dyg == 0.0:
            return self.item_wreg  # equal-position shortcut
        ifs = self.item_size if self.item_size > 0 else fs
        ihs = self.item_hsize if self.item_hsize > 0 else (
            hs if hs is not None and hs > 0 else fs
        )
        if ifs <= 0.0:
            return 0.0 if abs(dyg) > spec.Y_TOLERANCE else self.item_wreg
        if ihs > 0.0 and abs(dyg) > 0.25 * ihs:
            return 0.0  # vertical-shift flush
        if self.item_wreg == 0.0:
            return 0.0  # flush at any nonzero gap; 0 absorb keeps 0
        if self.item_osign < 0 or self.item_wreg < 0.0:
            return 0.0  # inverted windows: every nonzero gap flushes
        if adv < -0.2 * ifs or adv > 0.6 * ifs:
            return 0.0  # CR / outside-window flush
        pend1 = self.pending_space and not self.pending_multi
        if pend1 and 0.03 * ifs < adv <= self.GAP_FRACTION * ifs:
            return 0.0  # shouldAddWhitepsace standalone flush
        return self.item_wreg + adv  # absorbed (width += advanceX)

    def _seg_split(self, fm: FontMap, item: bytes, dec: str, start_x: float,
                   size: float, sxz: float, tc: float, tw: float,
                   fs: float, prev0: float | None = None,
                   fallback_prev: float | None = None,
                   zw_mode: bool = False,
                   reg0: float | None = None):
        """Per-glyph item splitting at quadrant 0 (VERDICT r3 missing #1).

        pdf.js runs compareWithLastPosition at every glyph
        (pdf.worker.js:36614-36655), so an INTERNAL space run whose
        advance leaves the in-flow fake-space window
        ((0.102, 0.6] x item font size) diverges from inline emission:
        notASpace (<= 0.03) kills the run, a single saved space within
        trackingSpaceMin goes standalone (shouldAddWhitepsace -> flush +
        pushWhitespace at prevTransform), and a run past spaceInFlowMax
        flushes and pushes a standalone " " anchored at prevTransform —
        both standalone cases move the pdf-parse anchor (last_y) to the
        PREVIOUS GLYPH's device y, which differs from the open item's
        anchor whenever Ts rise toggled mid-line (or sub-tolerance y
        drift accumulated). Splitting the item at exactly those runs —
        the run riding as the next segment's LEADING spaces — reduces
        every case to the existing inter-item pend mechanism in show().

        Returns None when every internal run is strictly in-flow under
        BOTH candidate item sizes (the open item's stale size and this
        item's own — whichever show() ends up using, inline emission is
        then exact), else ``(segments, nclip, lclip)`` with segments a
        list of ``(visible_text, first_x, prev_end_x)``.
        1-byte aligned decodes only; callers keep the inline path for
        multi-byte/ligature items.

        Box-rejected glyphs are handled HERE (pdf.js's box test sits at
        the TOP of compareWithLastPosition, pdf.worker.js:36529-36536 —
        a rejected glyph returns false before ANY cascade decision, so
        it never closes a space run, never anchors a segment, never
        moves prevTransform, and advances by width only, no
        charSpacing). ``nclip`` is the rejected-glyph count (the caller
        subtracts nclip*tc from the item advance), ``lclip`` True when
        the item's FINAL glyph was rejected (a TJ kern riding it as
        extraSpacing drops with it). Space glyphs are exempt (their
        branch precedes the box test).

        ``prev0``: TJ callers pass the buffered run's prevTransform x
        (tj_prev) so a LEADING space run of this element — a run that
        started as the buffer's trailing spaces, possibly kern-adjusted
        in between — counts as internal and can split at index 0 (the
        empty first segment then flushes the buffered group)."""
        n = len(item)
        stale = self.item_size if self.item_size > 0 else fs
        if stale == fs:
            cands = (fs,)
        else:
            cands = (stale, fs)
        widths, dw = fm.widths, fm.default_width
        # position arithmetic mirrors the C twin's PUTCODE exactly
        # (px = start_x + wsum*kx + (glyphs-clipped)*ktc + spaces*ktw)
        # so split decisions stay float-identical across C and Python
        kx = size / 1000.0 * sxz
        ktc = tc * sxz
        ktw = tw * sxz
        vb = self.viewbox
        # pdf.js's left-edge box test adds scaledDim BEFORE the
        # textHScale multiply: raw width x fontSize only
        kraw = size / 1000.0
        wsum = 0.0
        g = 0
        c = 0
        nsp = 0
        nclip = 0
        lclip = False
        prev_end: float | None = prev0
        cur_seg: list[str] = []
        run_buf: list[str] = []
        run_open = False
        run_prev_end = 0.0
        out: list | None = None
        seg_first: float | None = None
        # charSpacing below the carriage-return window (advanceX == tc
        # < -0.2 * fontSize, pdf.worker.js:36617-36625) OR past the
        # standalone-space window (tc > 0.6 * fontSize, spaceInFlowMax,
        # pdf.worker.js:36641-36651) flushes between EVERY glyph pair:
        # split at each adjacency and let show()'s cascade take the
        # CR / standalone-" "-at-prevTransform path (an adjacency split
        # is output-neutral whenever the cascade would NOT flush)
        per_glyph = any(ktc < -0.2 * c_ or ktc > 0.6 * c_ for c_ in cands)
        # reg0: the caller's live WIDTH REGISTER (pdf.js
        # textContentItem.width) at this item's first glyph.
        # textOrientation = sign(register) multiplies every band
        # threshold, so while the register is <= 0 every space run and
        # every nonzero glyph adjacency splits (show()'s zero/negative
        # register branches decide flush / CR / standalone " "
        # exactly). The walk evolves it like pdf.js does: appended
        # glyph widths grow it, absorbed quiet/in-flow gaps add
        # (possibly negative) advances, and each split re-zeroes it
        # (the new segment re-runs ensureTextContentItem). None = a
        # positive stand-in (callers without the live value).
        reg_live = reg0 if reg0 is not None else (fs if fs > 0 else 1.0)
        if reg_live <= 0.0 and prev_end is None:
            prev_end = fallback_prev
        if zw_mode:
            # zero-width glyphs stall prevTransform, so every adjacency
            # can read a stale gap: run the compare per glyph for the
            # WHOLE item (pdf.js always does), show() re-deciding each
            # pair exactly — the caller disables the letter-gap
            # pre-join (those spaces emerge from the cascade instead).
            # Cross-item staleness: seed the anchor from the caller's
            # prevTransform mirror.
            per_glyph = True
            if prev_end is None:
                prev_end = fallback_prev
        cf = fm._cf_arr
        di = 0  # dec index: Cf codes decode to "" and occupy no slot
        seg_hadw = False  # current segment appended a width!=0 glyph
        seg_wacc = 0.0  # current segment's register contribution
        rewrote = False  # a null-anchor run was dropped (text changed)
        pen = start_x  # accumulative pen (pdf.js translate chain)
        for k in range(n):
            code = item[k]
            if cf is not None and cf[code]:
                continue  # Cf: invisible, zero advance (worker:36684)
            ch = dec[di]
            di += 1
            sp = code == 0x20 or ch == " "
            # ACCUMULATIVE pen, in pdf.js's per-glyph add order (width
            # translate, then charSpacing translate; spaces one summed
            # translate) — NOT the closed-form sum: pdf.js's
            # equal-position shortcut (lastPosX === posX) fires when
            # tiny +/- increments round-trip at the pen's magnitude
            # (distilled: '-1.5 Tc (del zet)' — the -1.5 and +1.5
            # translates cancel exactly at x~211), and a closed-form
            # px groups the terms differently, leaving ulp dust that
            # misses the shortcut and kills the ring space.
            px = pen
            w = widths.get(code, dw)
            if not sp and vb is not None and (
                px + w * kraw < vb[0] or px > vb[2]
            ):
                # box-rejected: width-only advance, no cascade, run
                # stays open, prevTransform/anchors untouched
                nclip += 1
                lclip = True
                c += 1
                wsum += w
                g += 1
                pen = px + w * kx
                continue
            # a kept glyph right after a reject: pdf.js's compare sees
            # the skipped width as advanceX vs the unmoved prevTransform
            # — split the adjacency and let show()'s cascade take the
            # notASpace / in-flow " " / standalone / CR band exactly
            # (an adjacency split is output-neutral when the cascade
            # would do nothing)
            prev_rej = lclip
            lclip = False
            if sp:
                if not run_open and prev_end is not None:
                    run_open = True
                    run_prev_end = prev_end
                if run_open:
                    run_buf.append(ch)
                elif cur_seg or seg_first is not None:
                    # INTERNAL run with a NULL anchor (no prevTransform
                    # anywhere — an all-zero-width prefix): pdf.js's
                    # compare at the next glyph early-returns before
                    # any band, so the run's fate is purely ring-driven
                    # (saveLastChar, pdf.worker.js:36373-36378): ONE
                    # whitespace glyph materializes " " at the append,
                    # a run of 2+ leaves the ring [' ',' '] and vanishes
                    run_open = True
                    run_prev_end = None  # marks the null-anchor run
                    run_buf.append(ch)
                else:
                    cur_seg.append(ch)
            else:
                if run_open and run_prev_end is None:
                    # null-anchor internal run (see above): ring-driven
                    # fate — exactly one saved space materializes, a
                    # multi-glyph run leaves the ring at [' ',' ']
                    if len(run_buf) == 1:
                        cur_seg.append(" ")
                    else:
                        rewrote = True  # text changed: must return segs
                    run_buf = []
                    run_open = False
                elif run_open:
                    a = px - run_prev_end
                    if (
                        (
                            # register <= 0: the in-flow window is
                            # empty (orientation 0) or inverted
                            # (orientation -1) — every run splits
                            reg_live <= 0.0
                            or not all(
                                0.102 * c_ < a <= 0.6 * c_ for c_ in cands
                            )
                        )
                        and (out is None or len(out) < self.MAX_SEG_SPLITS)
                    ):
                        if out is None:
                            out = []
                        out.append(
                            ("".join(cur_seg), seg_first, run_prev_end,
                             seg_hadw, seg_wacc)
                        )
                        cur_seg = run_buf
                        seg_first = None
                        seg_hadw = False
                        seg_wacc = 0.0
                        reg_live = 0.0  # new item: register re-zeroes
                    else:
                        # in-flow run: pdf.js absorbs the advance into
                        # the width register (width += advanceX)
                        cur_seg.extend(run_buf)
                        reg_live += a
                        seg_wacc += a
                    run_buf = []
                    run_open = False
                elif (
                    (
                        per_glyph or prev_rej
                        # register <= 0: any nonzero adjacency gap
                        # flushes (equal positions take pdf.js's
                        # shortcut — no decision, no split needed)
                        or (reg_live <= 0.0 and px != prev_end)
                    )
                    and prev_end is not None
                    and seg_first is not None
                    and (out is None or len(out) < self.MAX_SEG_SPLITS)
                ):
                    if out is None:
                        out = []
                    out.append(
                        ("".join(cur_seg), seg_first, prev_end,
                         seg_hadw, seg_wacc)
                    )
                    cur_seg = []
                    seg_first = None
                    seg_hadw = False
                    seg_wacc = 0.0
                    reg_live = 0.0  # new item: register re-zeroes
                elif (
                    prev_end is not None and px != prev_end
                    and seg_first is not None
                ):
                    # quiet INTRA-segment adjacency gap (charSpacing
                    # within the absorb windows): pdf.js width +=
                    # advanceX. The item-boundary compare (seg_first
                    # None) belongs to the caller — its kern band /
                    # show()-time cascade decides AND absorbs it.
                    reg_live += px - prev_end
                    seg_wacc += px - prev_end
                if seg_first is None:
                    seg_first = px
                if w:
                    # zero-width glyphs never move prevTransform
                    prev_end = px + w * kx
                    seg_hadw = True
                reg_live += w * kx
                seg_wacc += w * kx
                cur_seg.append(ch)
            wsum += w
            g += 1
            if sp:
                nsp += 1  # Tw rides every whitespace-category glyph
                # whitespace glyph: ONE summed translate of
                # charSpacing + scaledDim + wordSpacing
                # (pdf.worker.js:36695-36697)
                pen = px + (ktc + (w * kx + ktw))
            else:
                # real glyph: width translate, then charSpacing
                # translate (pdf.worker.js:36718/36733) — two adds
                pen = (px + w * kx) + ktc
        if out is None and not rewrote and not (
            nclip and len(dec) != len(item)
        ):
            # no split and no text change — EXCEPT when glyphs were
            # box-rejected on a Cf-bearing item: the caller's inline
            # _clip_x fallback is gated on len(dec) == len(item), so a
            # None return would lose the clip entirely (pdf.js rejects
            # at the TOP of compareWithLastPosition regardless of
            # prevTransform — an off-page tail after a zero-width run
            # must still vanish; distilled from the all-zero-width
            # hunt at seed 79e6+11)
            return None
        if out is None:
            out = []
        cur_seg.extend(run_buf)
        out.append(
            ("".join(cur_seg), seg_first, prev_end, seg_hadw, seg_wacc)
        )
        return out, nclip, lclip

    @staticmethod
    def _coalesce_tj(arr):
        """pdf.js joins adjacent TJ string elements into ONE chars
        string (showSpacedTextBuffer.join(""), pdf.worker.js:
        36890-36909) and skips zero kerns entirely (``item !== 0``), so
        an element boundary with no nonzero kern between is plain glyph
        adjacency — cross-boundary space runs, fake-space windows,
        notASpace kills and per-glyph CR splits all follow from the
        intra-item machinery. Returns ``[(joined_bytes, kern), ...]``
        with ``kern`` in raw TJ units (None only on the final group).
        CONSECUTIVE kerns merge into one: pdf.js evaluates the gap once,
        at the next group's first glyph, with the total translate —
        and each kern processed with an EMPTY buffer runs
        buildTextContentItem's !chars branch, which applies charSpacing
        IN ADDITION to the kern (pdf.worker.js:36663-36675); ``n_tc``
        counts those."""
        groups: list = []
        pend: list[bytes] = []
        kern_open = False
        for it in arr:
            if isinstance(it, bytes):
                pend.append(it)
            elif (isinstance(it, (int, float))
                  and not isinstance(it, bool) and it != 0):
                # booleans/Names/Cmds/refs are neither string nor number
                # to showSpacedText — skipped (pdf.worker.js:36890-36902)
                # decide on the JOINED bytes, not the element list: a
                # pend of only empty () elements joins to b"" and the
                # kern runs pdf.js's !chars branch (charSpacing applies,
                # pdf.worker.js:36663-36675) — it merges with the open
                # kern like any other empty-buffer kern
                joined = b"".join(pend)
                pend = []
                if joined:
                    # 4th field: the first kern's value — extraSpacing
                    # riding the joined string's LAST glyph, dropped
                    # when that glyph is box-rejected (pdf.js's reject
                    # path translates scaledDim only,
                    # pdf.worker.js:36704-36711)
                    groups.append([joined, float(it), 0, float(it)])
                    kern_open = True
                elif kern_open:
                    groups[-1][1] += float(it)
                    groups[-1][2] += 1
                else:
                    groups.append([b"", float(it), 1, 0.0])
                    kern_open = True
        groups.append([b"".join(pend), None, 0, 0.0])
        return groups

    @staticmethod
    def _tj_rewrite_needed(ev, data) -> bool:
        """True when a stream's TJ arrays need the coalescing rewrite
        (:meth:`_coalesce_tj_events`): adjacent string elements,
        consecutive kerns, a leading kern, a zero kern, or an
        empty-decoding string element. Everything else — the common
        ``[(str) num (str) num ...]`` justified-text shape — is already
        exact under per-element processing, so the fast paths skip the
        rewrite cost entirely."""
        k = ev["kind"]
        if not (k == 5).any():
            # no K_TJSTART => no TJ regions at all (kinds 6/7/8 only occur
            # inside one): ONE vector compare instead of the full battery
            # — most streams carry no TJ and this gate is per page
            return False
        if len(k) > 1:
            a2, b2 = k[:-1], k[1:]
            if (
                ((a2 == 6) & (b2 == 6))
                | ((a2 == 7) & (b2 == 7))
                | ((a2 == 5) & (b2 == 7))
            ).any():
                return True
        m7 = k == 7
        if m7.any() and (ev["f0"][m7] == 0.0).any():
            return True
        m6 = k == 6
        if not m6.any():
            return False
        fl = ev["flag"][m6]
        if (((ev["b"][m6] - ev["a"][m6]) <= 2) & (fl == 0)).any():
            return True
        esc = fl != 0
        if esc.any():
            # hex / escape-bearing elements: exact emptiness needs the
            # unescape (``<  >`` or a bare line continuation decode to
            # b"") — cheap, runs only over those few rows
            for a, flg in zip(
                ev["a"][m6][esc].tolist(), fl[esc].tolist()
            ):
                raw = (
                    _hex_span(data, a)[0]
                    if flg == 1
                    else _parse_literal_string(data, a)[0]
                )
                if not raw:
                    return True
        return False

    @staticmethod
    def _coalesce_tj_events(evl, data, chunks):
        """Event-list twin of :meth:`_coalesce_tj`: rewrite each TJ
        region so a run of K_TJSTR events becomes ONE synthetic event
        (flag 3, ``a``/``b`` = offsets into the scratch blob
        ``b"".join(chunks)``), zero kerns vanish, CONSECUTIVE kerns
        merge into one row (f0 = summed value; the gap is evaluated
        once, at the next group's first glyph), and a kern row's flag
        carries the count of merged kerns that ran with an EMPTY buffer
        — each applied charSpacing in addition to its kern (the !chars
        branch, pdf.worker.js:36663-36675)."""
        out = []
        pend: list[bytes] | None = None
        pend_row = None
        kern_row = None
        total = 0

        def _flush_pend():
            nonlocal pend, total
            raw = b"".join(pend)
            nr = list(pend_row)
            nr[1] = 3
            nr[2] = total
            nr[3] = total + len(raw)
            chunks.append(raw)
            total += len(raw)
            out.append(nr)
            pend = None

        for row in evl:
            kind = row[0]
            if kind == 6:
                flag, a, b = row[1], row[2], row[3]
                if flag == 0:
                    raw = data[a + 1 : b - 1]
                elif flag == 1:
                    raw = _hex_span(data, a)[0]
                else:
                    raw = _parse_literal_string(data, a)[0]
                if pend is None:
                    pend = [raw]
                    pend_row = row
                else:
                    pend.append(raw)
                # kern_row is NOT reset here: an all-empty pend joins to
                # b"" at the next kern, which then merges with the open
                # kern chain (pdf.js never sees the empty () elements)
                continue
            if kind == 7:
                if row[4] == 0.0:
                    continue  # zero kern: skipped (``item !== 0``)
                if pend is not None and b"".join(pend):
                    _flush_pend()
                    kern_row = list(row)
                    kern_row[1] = 0
                    # f1 = this first kern's value: it is extraSpacing
                    # on the flushed string's LAST glyph — dropped by
                    # the consumers when that glyph was box-rejected
                    # (pdf.js's reject path translates scaledDim only,
                    # pdf.worker.js:36704-36711). Later merged kerns
                    # run the !chars branch and always apply.
                    kern_row[5] = row[4]
                    out.append(kern_row)
                elif kern_row is not None:
                    # empty-join pend (or none): the kern ran with an
                    # EMPTY buffer — pdf.js's !chars branch applies
                    # charSpacing (pdf.worker.js:36663-36675)
                    pend = None
                    kern_row[4] += row[4]
                    kern_row[1] += 1
                else:
                    pend = None
                    kern_row = list(row)
                    kern_row[1] = 1
                    kern_row[5] = 0.0  # leading kern: nothing to ride
                    out.append(kern_row)
                continue
            if kind == 8 and pend is not None:
                _flush_pend()
            kern_row = None
            out.append(row)
        return out

    def _tj_rewrite(self, ev, data):
        """Rewrite the event array for TJ coalescing; returns
        ``(ev2, scratch)`` with ``ev2`` in the same record dtype and
        ``scratch`` the joined-bytes blob flag-3 rows index into.
        Dispatches to the C twin (``pdftext_coalesce_tj``) when the
        extension is loaded — the row-at-a-time pass below is the
        reference implementation and the fallback; (events, scratch)
        identity between the two is pinned in test_ctext.py."""
        if cinterp.AVAILABLE:
            res = cinterp.coalesce_tj(data, ev)
            if res is not None:
                return res
        chunks: list[bytes] = []
        rows = self._coalesce_tj_events(ev.tolist(), data, chunks)
        ev2 = _np.array([tuple(r) for r in rows], dtype=ev.dtype)
        return ev2, b"".join(chunks)

    # reserved resource name for the text state a Form XObject inherits
    # from its parent stream (pdf.js clones the whole eval state into the
    # form run, paintXObject/stateManager — the form's shows use the
    # page's current font when it sets none of its own). _do_xobject
    # prepends synthetic `Tc/Tw/Tz/Tf` ops under this name so both the C
    # replay and _run_py consume the inherited state through their normal
    # operator machinery.
    _INH_FONT = "pdfb-inherited-font"

    def _font_for(self, fonts_dict, name: str) -> FontMap:
        if name == self._INH_FONT and self._inh_fm is not None:
            return self._inh_fm
        return self._font_for_ref((fonts_dict or {}).get(name))

    def _fallback_fm(self) -> FontMap:
        fm = self.doc.fallback_font_map
        if fm is None:
            fm = build_font_map(self.doc, None)
            self.doc.fallback_font_map = fm
        return fm

    def _font_for_ref(self, ref) -> FontMap:
        """FontMap for a direct font reference — the Tf path resolves
        resource names here; ExtGState /Font entries (the `gs` operator,
        pdf.js handleSetFont(null, gStateFont[0])) carry the ref
        directly."""
        if not isinstance(ref, Ref):
            if ref is not None:
                rv = self.doc.resolve(ref)
                if isinstance(rv, dict) and not isinstance(rv, Stream):
                    # inline font dict: id() keys are not stable across
                    # gc — no cache
                    return build_font_map(self.doc, rv)
            # missing name / junk value: ONE shared fallback per
            # document (pdf.js static fallbackFontDict + cacheKey
            # short-circuit, pdf.worker.js:35575-35580) — identity
            # matters for the per-font charsCache, not just the widths
            return self._fallback_fm()
        doc = self.doc
        fm = doc.font_map_cache.get(ref.num)
        if fm is None:
            rv = doc.resolve(ref)
            if not isinstance(rv, dict) or isinstance(rv, Stream):
                # a ref resolving to a non-dict: pdf.js falls to the
                # SHARED fallbackFontDict font (same object as every
                # other missing/junk font of this document)
                fm = self._fallback_fm()
                doc.font_map_cache[ref.num] = fm
                return fm
            # second level: (document content digest, object number) —
            # FontMap is immutable, so identical bytes parsed again (the
            # chunk operator's per-range tasks, retries, replicated or
            # templated corpora — enterprise PDFs are mostly a handful of
            # generators re-emitting the same fonts) reuse the built map
            # instead of re-parsing ToUnicode/Differences/widths. Keyed
            # on the FULL payload hash: no false sharing possible.
            gkey = (doc.content_key(), ref.num, ref.gen)
            fm = _FONT_MAP_LRU.get(gkey)
            if fm is None:
                fm = build_font_map(doc, ref)
                # giant CID tables (bfrange up to 64k entries, ~MBs each)
                # stay document-scoped only — the worker-global cache is
                # bounded by entry count AND per-entry size
                if len(fm.table) <= 20_000:
                    _FONT_MAP_LRU[gkey] = fm
                    while len(_FONT_MAP_LRU) > 256:
                        _FONT_MAP_LRU.pop(next(iter(_FONT_MAP_LRU)))
            doc.font_map_cache[ref.num] = fm
        return fm

    def run(self, data: bytes, resources, depth: int = 0,
            seen: frozenset = frozenset(),
            lm_seed: tuple | None = None) -> None:
        """Interpret one content stream. Dispatches to the C lexer + C
        replay when the compiled extension is available; the pure-Python
        interpreter ``_run_py`` is the reference implementation and the
        fallback for every stream the C replay cannot take (equivalence
        asserted by tests/test_ctext.py). Pages re-run after a
        ``_CDefer`` (``no_c``) go straight to ``_run_py``, as do streams
        that can set the font through an ExtGState (`gs` with a /Font
        entry — pdf.js setGState -> handleSetFont): the C lexer cannot
        resolve resources, and the pattern is rare."""
        if cinterp.AVAILABLE and not self.no_c and not (
            b"gs" in data and self._has_gs_font(resources)
        ):
            try:
                return self._run_events(
                    data, resources, depth, seen, lm_seed
                )
            except cinterp.PreprocessorEngaged:
                # the C lexer raises BEFORE building any event (no
                # state was touched): re-run THIS stream through the
                # Python interpreter, which implements pdf.js's full
                # nonProcessedArgs stash (operand over/underflow,
                # 34-operand page stop)
                return self._run_py(data, resources, depth, seen, lm_seed)
        return self._run_py(data, resources, depth, seen, lm_seed)

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
        """Per-stream tables for the full-C replay: a global translate
        blob + offsets/widths per font index, and a per-event font index
        for every K_FONT event. None when any font used by the stream
        can't take the C path (multi-byte, RTL-capable, failed build) —
        the caller then runs the stream through ``_run_py``."""
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
        # the concatenated blobs are cached document-scoped. FontMaps
        # are immutable and doc-cached, so identity keys are stable for
        # the document's lifetime; font_idx stays per-stream.
        key = tuple(id(sp) for sp in specs)
        cached = self.doc.c_plan_cache.get(key)
        if cached is not None:
            _, tbytes, toff, widths, cats = cached
            return tbytes, toff, widths, cats, font_idx, fms
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
        self.doc.c_plan_cache[key] = (specs, tbytes, toff, widths, cats)
        return tbytes, toff, widths, cats, font_idx, fms

    def _replay_c(self, data: bytes, ev, plan, xobjs, resources,
                  depth: int, seen: frozenset, scratch: bytes = b"") -> None:
        """Drive ``pdftext_replay`` over the event array, recursing into
        Form XObjects between C segments. Line-model state round-trips
        through the state vector so C segments and Python recursion
        compose (a Form may itself fall back to ``_run_py``)."""
        tbytes, toff, widths, cats, font_idx, fms = plan
        st = _np.zeros(32, _np.float64)
        st[3] = 1.0  # sx
        st[6] = 1.0  # tz
        if self.viewbox is not None:
            st[21:25] = self.viewbox
            st[25] = 1.0
        out = _np.empty(max(1024, 4 * len(data)), _np.uint8)
        qst = _np.zeros(1 + 64 * 12, _np.float64)  # q/Q TextState stack
        i, nev = 0, len(ev)
        while True:
            st[8] = 0.0 if self.last_y is None else self.last_y
            st[9] = 0.0 if self.last_y is None else 1.0
            st[10] = 0.0 if self.last_end_x is None else self.last_end_x
            st[11] = 0.0 if self.last_end_x is None else 1.0
            st[12] = 1.0 if self.line_open else 0.0
            st[13] = float(ord(self.last_char)) if self.last_char else 0.0
            st[15] = 1.0 if self.pending_space else 0.0
            st[26] = 1.0 if self.pending_multi else 0.0
            st[16] = 0.0 if self.glyph_y is None else self.glyph_y
            st[17] = 0.0 if self.glyph_y is None else 1.0
            st[18] = 1.0 if self.force_flush else 0.0
            st[19] = 1.0 if self.scale_flush else 0.0
            st[20] = self.item_size
            st[30] = self.item_hsize
            st[31] = self.item_wreg
            while True:
                ret, olen = cinterp.replay(
                    data, ev, i, font_idx, tbytes, toff, widths, st, out,
                    scratch, qst, cats,
                )
                if ret == -3:
                    # width-register-sensitive construct: the page is
                    # re-run through the exact Python model (the
                    # per-page interp is discarded, so partial state
                    # and already-committed pieces don't matter)
                    raise _CDefer()
                if ret >= 0:
                    break
                out = _np.empty(len(out) * 2, _np.uint8)
            if olen:
                self.pieces.append(out[:olen].tobytes().decode("utf-8"))
            self.last_y = st[8] if st[9] else None
            self.last_end_x = st[10] if st[11] else None
            # C segments run rotation-0 only: the prev matrix is
            # axis-aligned — None means "raw device" in the -1 compare
            self.glyph_mat = None
            self.line_open = bool(st[12])
            lc = int(st[13])
            self.last_char = chr(lc) if lc else ""
            self.pending_space = bool(st[15])
            self.pending_multi = bool(st[26])
            self.glyph_y = st[16] if st[17] else None
            self.force_flush = bool(st[18])
            self.scale_flush = bool(st[19])
            self.item_size = float(st[20])
            self.item_hsize = float(st[30])
            self.item_wreg = float(st[31])
            if ret >= nev:
                return
            # paintXObject flushes before resolving anything (images,
            # missing names, junk operands — pdf.worker.js:36946)
            self.force_flush = True
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

    def _run_events(self, data: bytes, resources, depth: int,
                    seen: frozenset,
                    lm_seed: tuple | None = None) -> None:
        doc = self.doc
        res = doc.resolve(resources) or {}
        fonts_dict = doc.resolve(res.get("Font")) if isinstance(res, dict) else {}
        xobjs = doc.resolve(res.get("XObject")) if isinstance(res, dict) else {}
        ev = cinterp.interpret(data, lm_seed)
        if (ev["kind"] == cinterp.K_ROT).any():
            # rotated/skewed matrix: the flattened events carry only
            # translate+scale, so quadrant-faithful assembly (pdf.js's
            # compareWithLastPosition axis swap) needs the full-matrix
            # interpreter. Rare in practice — rotation-0 streams keep
            # the C fast paths.
            return self._run_py(data, resources, depth, seen, lm_seed)
        scratch = b""
        if self._tj_rewrite_needed(ev, data):
            ev, scratch = self._tj_rewrite(ev, data)
        plan = self._c_plan(ev, data, fonts_dict)
        if plan is not None:
            return self._replay_c(
                data, ev, plan, xobjs, res, depth, seen, scratch
            )
        return self._run_py(data, resources, depth, seen, lm_seed)

    def _run_py(self, data: bytes, resources, depth: int = 0,
                seen: frozenset = frozenset(),
                lm_seed: tuple | None = None) -> None:
        doc = self.doc
        res = doc.resolve(resources) or {}
        fonts_dict = doc.resolve(res.get("Font")) if isinstance(res, dict) else {}
        xobjs = doc.resolve(res.get("XObject")) if isinstance(res, dict) else {}
        extg = doc.resolve(res.get("ExtGState")) if isinstance(res, dict) else {}
        fm = _ASCII_FM
        # no Tf yet in THIS stream: pdf.js skips every text-showing op
        # (Tj/TJ/'/") until state.font is set — including the op's side
        # effects (the quotes' carriage return, "'s Tw/Tc assignment)
        # (ensureStateFont + continue, pdf.worker.js:36911-36943); the
        # engine models fonts per stream, so the gate is stream-local
        have_font = False
        leading = 0.0
        rise = 0.0  # Ts text rise (pdf.js folds it into transform[5])
        # full text LINE MATRIX (Tm sets it, Td/TD/T* compose translations
        # into it — offsets are unscaled text units the matrix multiplies)
        tm_a, tm_b, tm_c, tm_d, tm_e, tm_f = 1.0, 0.0, 0.0, 1.0, 0.0, 0.0
        # cloned LINE matrix lagging tm (a Form XObject's lm_seed —
        # pdf.js clones textLineMatrix separately from textMatrix):
        # the seed ARMS at the stream's first full Tm (always the
        # synthetic cloned-tm prelude; the clone describes the state
        # AFTER it). Once armed, it is a one-shot pending e/f the first
        # Td/TD/T*/'/" composes against; a later full Tm/BT overwrites
        # both matrices and drops it; q/Q snapshot it.
        plm: tuple | None = None
        seed_pending: tuple | None = lm_seed
        cur_x = 0.0
        size = 0.0
        tc = 0.0  # Tc char spacing (text-space units, added per glyph)
        tw = 0.0  # Tw word spacing (added per 0x20 byte, 1-byte fonts)
        tz = 1.0  # Tz horizontal scaling MAGNITUDE (percent / 100)
        tz_mirror = False  # negative Tz: x-mirror -> 180-quadrant frame
        # graphics-state CTM (q/Q/cm): the working coordinates ay/ax/asx
        # that shows see are TRANSFORMED at anchor points, mirroring the
        # C lexer's emit-time transform — absolute positions like the
        # reference's item.transform[5]. arise = rise pre-scaled by the
        # CTM d coefficient at Ts time (same staleness window as C).
        cm_a, cm_b, cm_c, cm_d, cm_e, cm_f = 1.0, 0.0, 0.0, 1.0, 0.0, 0.0
        qstack: list[tuple] = []
        ax = 0.0
        ay = 0.0
        # asx: POSITIVE advance scale along the writing axis (equals the
        # legacy tm_a*cm_a for quadrant 0 / skew; |composed b| or
        # |composed a| for rotated quadrants) — maintained by _requad()
        asx = 1.0
        arise = 0.0
        # rotation quadrant of the composed text-line x CTM matrix and
        # its 2x2 (pdf.js compareWithLastPosition rotate detection,
        # pdf.worker.js:36545-36550). The pen (cur_x) walks the COMPARE
        # FRAME's writing axis; cross_v is the anchor's cross-axis
        # coordinate in that frame. For quadrant 0 the compare frame IS
        # device space and everything below reduces to the legacy model.
        quad = 0
        cA, cB, cC, cD = 1.0, 0.0, 0.0, 1.0
        csy = 1.0
        matn: tuple | None = (1.0, 0.0, 0.0, 1.0)
        cross_v = 0.0
        stack: list = []
        # pdf.js nonProcessedArgs (EvaluatorPreprocessor.read): operand
        # overflow from fixed-arity ops lands here; underfilled ops pop
        # it back. Page-scoped in pdf.js (one preprocessor per
        # content-stream run) — matches this per-stream loop.
        opstash: list = []
        pos = 0
        n = len(data)

        def _swapq(dx: float, dy: float) -> tuple[float, float]:
            # device -> compare frame under the current quadrant (an
            # involution for quadrants, pdf.worker.js:36551-36565; for
            # quad -1 the FORWARD normalized-matrix transform — pdf.js's
            # applyInverseRotation — callers never invert it)
            if quad == 90:
                return dy, dx
            if quad == 180:
                return -dx, -dy
            if quad == 270:
                return -dy, -dx
            if quad == -1 and matn is not None:
                return (
                    matn[0] * dx + matn[1] * dy,
                    matn[2] * dx + matn[3] * dy,
                )
            return dx, dy

        def _requad() -> None:
            # composed 2x2 + quadrant + writing-axis advance scale.
            # pdf.js: rotate 0/180 needs b == c == 0 (sign of a picks
            # which — an x-mirror counts as 180); 90/270 needs
            # a == d == 0 (sign of b); anything else (shear, arbitrary
            # angles like de-skewed scans) is rotate -1, compared in the
            # inverse-rotated frame of each point's own matrix
            # (applyInverseRotation, pdf.worker.js:36521-36524).
            nonlocal quad, cA, cB, cC, cD, asx, matn, csy, arise
            # pdf.js folds textHScale into the X COLUMN of the composed
            # transform (tsm = [fs*hs, 0, 0, fs, 0, rise]) — a negative
            # Tz mirrors the writing direction and the quadrant flips.
            # (A negative FONT SIZE scales BOTH rows by fs and flips the
            # whole frame to rotate 180 with a MIXED-SIGN width register
            # — negative device widths + positive frame advances — which
            # this float model cannot mirror; such pages defer to jsvm
            # at the Tf/gs site.)
            s_ = -1.0 if tz_mirror else 1.0
            cA = (tm_a * cm_a + tm_b * cm_c) * s_
            cB = (tm_a * cm_b + tm_b * cm_d) * s_
            cC = tm_c * cm_a + tm_d * cm_c
            cD = tm_c * cm_b + tm_d * cm_d
            if cB == 0.0 and cC == 0.0:
                quad = 0 if cA >= 0.0 else 180
            elif cB != 0.0 and cA == 0.0 and cD == 0.0:
                quad = 90 if cB > 0.0 else 270
            elif cA == 0.0 and cB == 0.0:
                quad = 0  # degenerate writing axis: legacy fallback
            else:
                quad = -1
            sh = math.hypot(cA, cB)
            matn = (
                (cA / sh, cB / sh, cC / sh, cD / sh) if sh > 0.0 else None
            )
            # cross-axis scale: pdf.js item height = hypot(trm[2],
            # trm[3]) = fontSize * hypot(composed c, composed d)
            csy = math.hypot(cC, cD)
            if quad == 90:
                asx = cB
            elif quad == 180:
                asx = -cA
            elif quad == 270:
                asx = -cB
            elif quad == -1:
                asx = sh
            else:
                asx = tm_a * cm_a
            # rise is matrix-scaled: a Tm/cm/Q that changes the matrix
            # must refresh the compare-frame offset (pdf.js applies rise
            # through tsm at every glyph — always current-scaled; the C
            # lexer re-emits K_STATE at the same points)
            if quad:
                arise = _swapq(rise * cC, rise * cD)[1]
            else:
                arise = rise * tm_d * cm_d

        def _matstore():
            # the matrix stored WITH a prevTransform point: pdf.js's
            # applyInverseRotation later divides that point by
            # hypot(prev_trm[0], prev_trm[1]) = fs*|hs|*hypot(cA, cB) —
            # the |hs| cancels in the X row but scales the Y row by
            # 1/|hs|, and the divisor is the POINT'S OWN Tz at store
            # time (caught live: quad-0 'tau' under 700 Tz followed by a
            # sheared Tm — the raw Y made |advanceY| dwarf the item
            # height and the EOL band swallowed pdf.js's standalone
            # space; arity hunt base 83M seed 149)
            if matn is None:
                return None
            return (matn[0], matn[1],
                    matn[2] / (tz or 1.0), matn[3] / (tz or 1.0))

        def _sety() -> None:
            # partial Td/TD/Tm (the x operand failed to convert): only
            # the y leg lands, mirroring the C lexer's K_SETY. Quad 0
            # keeps the pen's advanced x (legacy); rotated quads
            # recompute both compare coords from the stale x anchor.
            nonlocal cur_x, cross_v
            if quad == 0:
                cross_v = ay
            else:
                cur_x, cross_v = _swapq(ax, ay)

        def advance(item: bytes) -> float:
            glyphs = len(item) // fm.nbytes - fm.ncf(item)
            spaces = fm.nsp(item)
            return (
                fm.advance(item) / 1000.0 * size + glyphs * tc + spaces * tw
            ) * asx * tz

        def advance_clip(item: bytes) -> float:
            # whole item view-box-rejected: non-space glyphs advance by
            # width only (pdf.js skips charSpacing on the reject path);
            # space glyphs keep width+tc+tw (whitespace branch precedes
            # the box test)
            spaces = fm.nsp(item)
            return (
                fm.advance(item) / 1000.0 * size + spaces * (tc + tw)
            ) * asx * tz

        def _show_item(dec: str, prev: float | None, adv: float,
                       fx: float | None = None,
                       dev_w: float = 0.0,
                       adv_clip: float | None = None,
                       seg_w: float | None = None) -> bool:
            # one item through the assembler: compute compare-frame +
            # device coordinates for the CURRENT matrix mode, show,
            # advance the pen, update prevTransform. fx = the first
            # NON-SPACE glyph's writing-axis position (pdf.js runs the
            # compare there; leading space glyphs only advance the pen)
            nonlocal cur_x
            cx = cur_x if fx is None else fx
            if quad == -1 and matn is not None:
                # arbitrary rotation/shear: reconstruct the device point
                # from the pen's text-space progress along the writing
                # direction, then compare in the inverse-rotated frame
                # (each point under its OWN matrix — pdf.js rotate == -1)
                au = matn[0] * ax + matn[1] * ay
                p = (cx - au) / asx if asx else 0.0
                ddx = ax + cA * p + rise * cC
                ddy = ay + cB * p + rise * cD
                # pdf.js applyInverseRotation divides BOTH components by
                # hypot(m[0], m[1]) — and the composed matrix's first
                # column carries fontSize * textHScale, so the Y
                # projection scales by 1/|hs| (the X row's hs cancels).
                # Each point projects under its OWN matrix: the divisor
                # is the point's own |tz| (folded into the stored mat
                # rows 2/3 for the prev side). '-100 Tz (io ) Tj 85 Tz
                # ( bet) Tj' under shear reads 'io\nbet' — the |hs|
                # mismatch inflates advanceY past the item height and
                # pdf.js appendEOLs (form_combo hunt base 28,000,000).
                # tz == 0 would divide by zero (a Python exception,
                # unlike JS Infinity): pdf.js's own hypot(m0, m1) is 0
                # there and its NaN cascade is the documented
                # JS-coercion residual — clamp to keep the page alive
                cy = (matn[2] * ddx + matn[3] * ddy) / (tz or 1.0)
                # compare x comes from the SAME rise-bearing device
                # point as cy and the stored prevTransform (pdf.js's
                # current and prev transforms both carry rise) — under
                # shear the rise offset has a writing-axis component,
                # and a rise-free pen x against a rise-bearing prev
                # read as a phantom per-glyph gap
                cmp_x = matn[0] * ddx + matn[1] * ddy
                # the stored mat carries this point's own 1/|tz| in its
                # Y row, so show()'s re-projection of the prev device
                # point reproduces pdf.js's own-matrix divisor exactly
                matp = _matstore()
                shown = self.show(
                    dec, cy, cmp_x, size * asx,
                    quad=-1, dev_x=ddx, dev_y=ddy, mat=matp,
                    dev_w=dev_w, hsize=size * csy,
                    move_prev=prev is not None,
                    mirror=tz_mirror,
                    seg_w=seg_w,
                )
                cur_x += adv if shown or adv_clip is None else adv_clip
                if shown and prev is not None:
                    pp = (prev - au) / asx if asx else 0.0
                    self.last_end_x = ax + cA * pp + rise * cC
                    self.glyph_y = ay + cB * pp + rise * cD
                    self.glyph_mat = matp
                return shown
            vv = cross_v + arise
            ddx, ddy = _swapq(cx, vv)
            shown = self.show(
                dec, vv, cx, size * asx,
                quad=quad, dev_x=ddx, dev_y=ddy, mat=_matstore(),
                # cross-axis item height: pdf.js height = fontSize *
                # hypot(trm[2], trm[3]) — |composed d| at quad 0, which
                # differs from the x-scale under anisotropic matrices
                dev_w=dev_w, hsize=size * csy,
                move_prev=prev is not None,
                mirror=tz_mirror,
                seg_w=seg_w,
            )
            cur_x += adv if shown or adv_clip is None else adv_clip
            if shown and prev is not None:
                if quad:
                    self.last_end_x, self.glyph_y = _swapq(prev, vv)
                    self.glyph_mat = _matstore()
                else:
                    self.last_end_x = prev
            return shown

        def _show_glyphs(item: bytes, dec: str, extra: float = 0.0) -> None:
            # PER-GLYPH path for rotated/sheared 1-byte items: pdf.js
            # runs compareWithLastPosition per glyph, and under rotation
            # its mid-item flushes (letter-spacing fake spaces past
            # spaceInFlowMax, shouldAddWhitepsace after a space glyph)
            # create items whose device anchors differ — visible "\n"s
            # through the pdf-parse join that the item-level
            # approximation (exact for quad 0, where anchors share one
            # line) cannot reproduce. Letter-spacing gaps emerge from
            # the compare itself, so the " ".join pre-pass must NOT run
            # before this.
            #
            # EXACT pdf.js arithmetic order: band decisions at exact
            # threshold values (e.g. tc*|tz| == 0.2*fs, the tzneg
            # register minimal) ride on last-ulp position rounding, so
            # the pen must track pdf.js's tm[4] accumulation bit-for-
            # bit: scale = fontMatrix[0]*fontSize, scaledDim = w*scale,
            # and the glyph-width and charSpacing advances land as
            # SEPARATE adds (pdf.worker.js:36718/36733) of sign-flipped
            # device addends — negation is exact, so when the composed
            # advance scale is 1 the compare-frame pen equals -tm[4]
            # (or +tm[4]) exactly. `extra` is a trailing TJ kern's
            # extraSpacing (kern * -fs/1000), folded into the LAST
            # glyph's charSpacing like buildTextContentItem does.
            nonlocal cur_x
            scale = 0.001 * size
            n_g = len(dec)
            for i, ch in enumerate(dec):
                code = item[i]
                wt = fm.widths.get(code, fm.default_width) * scale
                cs = tc + extra if i + 1 == n_g else tc
                if ch == " ":
                    # whitespace glyph: ONE summed translate of
                    # charSpacing + scaledDim + wordSpacing
                    # (pdf.worker.js:36695); the pending space arms via
                    # show's edge-space handling
                    _show_item(" ", None, 0.0)
                    cur_x += ((cs + (wt + tw)) * tz) * asx
                    continue
                # prevTransform excludes the trailing charSpacing;
                # dev_w = pdf.js's glyphWidth for the left-edge box
                # test — the TEXT-SPACE scaledDim (before hscale,
                # untransformed), added to the device posX exactly
                # as the reference does. A box-rejected glyph
                # advances by width only (no charSpacing). A ZERO-
                # width glyph never moves prevTransform (pdf.js
                # stores it only when scaledDim != 0).
                w = (wt * tz) * asx
                # EXACT register contribution: pdf.js appends
                # width += scaledDim AFTER scaledDim *= textHScale
                # (pdf.worker.js:36718-36721), so mirrored glyphs
                # (negative Tz) push the register NEGATIVE while the
                # rotate-180 compare frame keeps advances positive —
                # textOrientation flips mid-item exactly where the
                # accumulated signed widths outweigh the absorbed
                # gaps (the tzneg 'a mm' hunt minimal). Sign = the
                # raw Tz sign; magnitude = the device advance (our
                # register, like our bands, lives in the asx-scaled
                # frame — asx > 0 preserves the sign).
                shown = _show_item(ch, (cur_x + w) if wt else None, 0.0,
                                   dev_w=wt,
                                   seg_w=(-w if tz_mirror else w))
                cur_x += w
                if shown and cs:
                    cur_x += (cs * tz) * asx
        # Lexer-throw cut: the Parser's two-token lookahead loses the two
        # tokens before a throwing one — stop interpreting at the cut
        # (recomputed after a BI stale-currentChar splice rebases data)
        cut = _prescan_lexer_throw(data, n)
        while pos < n:
            pos = _skip_ws(data, pos)
            if pos >= n:
                break
            if cut is not None and pos >= cut:
                raise _PageStop()
            c = data[pos]
            is_operand = (
                c in b"/(<[" or c == 0x2B or c == 0x2D or c == 0x2E
                or 0x30 <= c <= 0x39
            )
            if is_operand:
                if c == 0x5B:
                    # full-Parser array semantics: Cmd elements kept
                    # inert, refs fold, EOF/')' stop the page
                    obj, pos = _parse_content_array(data, pos, n)
                elif 0x30 <= c <= 0x39 or c == 0x2B or c == 0x2D \
                        or c == 0x2E:
                    # faithful getNumber tokenization (e-notation,
                    # mid-minus, graceful 0); normally the prescan cut
                    # stops the loop before a throwing token is reached
                    try:
                        obj, pos = _lex_number(data, pos, n)
                    except _LexThrow:
                        raise _PageStop() from None
                    if _is_js_integer(obj):
                        # `int int R` folds to ONE Ref operand
                        # (worker:13432-13438) — jsvm owns its use sites
                        folded = _peek_ref(data, pos, n, obj)
                        if folded is not None:
                            obj, pos = folded
                elif c == 0x3C and data[pos:pos + 2] != b"<<":
                    # content hex string: pairs only, dangling dropped
                    obj, pos = _hex_content(data, pos, n)
                else:
                    try:
                        obj, pos = parse_object(data, pos, refs=False)
                    except ValueError:
                        pos += 1
                        continue
                stack.append(obj)
                if len(stack) > 33:
                    # pdf.worker.js:38668: the 34th pending operand
                    # throws "Too many arguments" — page stops, text
                    # accumulated so far is kept (probed live)
                    raise _PageStop()
                continue
            if not _OPERATOR.match(data, pos):
                pos += 1
                continue
            # longest-known-prefix command scan (NOT a maximal alpha
            # run): "BQ" is B then Q — the Q restores state; "ETq" is
            # ET then q (pdf.js Lexer, pdf.worker.js:14293-14307)
            try:
                op, pos = _lex_op(data, pos)
            except _LexThrow:
                raise _PageStop() from None  # >128-char command token
            if op == b"BI":  # inline image (worker:13387 -> makeInlineImage)
                pos, _term = _inline_image_scan(data, pos, n)
                # the imageStream object is ONE operand; then buf1 is a
                # synthesized Cmd("EI") — the 1-arg endInlineImage op runs
                # through the normal stash machinery (worker:13759-13761)
                stack.append(_IMG_OPERAND)
                if len(stack) > 33:
                    raise _PageStop()
                if _term is not None and _term not in _WS:
                    # stale-currentChar splice: the ID terminator byte was
                    # consumed as lexer.currentChar, so the token AFTER the
                    # image starts with it and continues at the resume pos
                    data = bytes((_term,)) + data[pos:]
                    n = len(data)
                    pos = 0
                    cut = _prescan_lexer_throw(data, n)
                op = b"EI"  # fall through to the arity/dispatch path
            # true/false parse as OPERANDS (JS arithmetic coerces them
            # to 1/0 — probed: `5 true Tc` runs Tc(true), spacing == 1);
            # a parsed null is never pushed (read(): `if (obj !== null)`)
            if op == b"true" or op == b"false":
                stack.append(1.0 if op == b"true" else 0.0)
                if len(stack) > 33:
                    raise _PageStop()
                continue
            if op == b"null":
                continue
            spec = _OP_ARITY.get(op)
            if spec is None:
                # unknown command: pdf.js warns and KEEPS the pending
                # operands for the next operator (probed: `0 -40 BQ Td`
                # runs Td(0, -40))
                continue
            numargs, varargs = spec
            if not varargs and len(stack) != numargs:
                while len(stack) > numargs:
                    opstash.append(stack.pop(0))
                while len(stack) < numargs and opstash:
                    stack.insert(0, opstash.pop())
                if len(stack) < numargs:
                    stack.clear()  # skip the op; the stash is KEPT
                    continue
            # JS value-coercion trigger: a non-numeric operand in a
            # numeric text-state slot (or a non-Name in Tf's font slot
            # — pdf.js args[0].name is undefined there, loadFont falls
            # to ErrorFont and every later show renders NOTHING) needs
            # pdf.js's raw-store + per-use-site coercion semantics —
            # restart the page through the faithful jsvm interpreter
            nchk = _COERCE_OPS.get(op)
            if nchk is not None:
                for v in stack[-nchk:]:
                    if not isinstance(v, (int, float)):
                        raise _JsCoerce()
                if op == b"Tf" and not isinstance(stack[-2], Name):
                    raise _JsCoerce()
            elif op == b'"':
                if not isinstance(stack[-3], (int, float)) or (
                    not isinstance(stack[-2], (int, float))
                ) or not isinstance(stack[-1], bytes):
                    raise _JsCoerce()
            elif (op == b"Tj" or op == b"'") and stack and not isinstance(
                stack[-1], bytes
            ):
                # ANY non-string chars operand interacts with the
                # per-font Font._charsCache (pdf.worker.js:29819-29846):
                # the property lookup stringifies it, a hit SHOWS the
                # cached string's glyphs, a miss throws for non-empty
                # arrays (no .charCodeAt — page stop) and silently
                # POISONS the key with [] for .length-less values
                # (numbers/Names/dicts/bools), muting later shows of
                # the toString-equal string. jsvm models all of it.
                raise _JsCoerce()
            if op == b"TJ" and stack and isinstance(stack[-1], bytes):
                # TJ over a plain string: pdf.js iterates the string's
                # chars — all strings, so showSpacedTextBuffer joins
                # them into ONE buildTextContentItem with no kerns,
                # exactly a Tj (pdf.worker.js:36890-36909)
                op = b"Tj"
            try:
                if op == b"Tf" and len(stack) >= 2:
                    have_font = True  # even when the size operand is junk
                    nfm = self._font_for(fonts_dict, str(stack[-2]))
                    nsize = float(stack[-1])
                    if nsize < 0.0:
                        # a negative size flips the compare frame to
                        # rotate 180 (both tsm rows scale by fs) with a
                        # MIXED-SIGN width register in pdf.js (device
                        # widths negative, frame advances positive) —
                        # exact only in the raw-value tier. jsvm
                        # transcribes compareWithLastPosition verbatim,
                        # so the whole page restarts there.
                        raise _JsCoerce()
                    if nfm is not fm or nsize != size:
                        self.force_flush = True  # setFont flush
                    fm, size = nfm, nsize
                elif op == b"Td" and len(stack) >= 2:
                    ty = float(stack[-1])
                    if plm is not None:  # compose against the cloned lm
                        tm_e, tm_f = plm
                        plm = None
                    # y leg first (C K_SETY): visible even if the x
                    # operand fails to convert below
                    tm_e += ty * tm_c
                    tm_f += ty * tm_d
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    _sety()
                    tx_ = float(stack[-2])
                    tm_e += tx_ * tm_a
                    tm_f += tx_ * tm_b
                    ax = cm_a * tm_e + cm_c * tm_f + cm_e
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    cur_x, cross_v = _swapq(ax, ay)
                elif op == b"TD" and len(stack) >= 2:
                    ty = float(stack[-1])
                    leading = -ty
                    if plm is not None:  # compose against the cloned lm
                        tm_e, tm_f = plm
                        plm = None
                    tm_e += ty * tm_c
                    tm_f += ty * tm_d
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    _sety()
                    tx_ = float(stack[-2])
                    tm_e += tx_ * tm_a
                    tm_f += tx_ * tm_b
                    ax = cm_a * tm_e + cm_c * tm_f + cm_e
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    cur_x, cross_v = _swapq(ax, ay)
                elif op == b"Tm" and len(stack) >= 6:
                    tm_f = float(stack[-1])
                    # a partial Tm (e fails below) aborts after the
                    # lm_f == tm_f assignment: the pending clone keeps
                    # its e but takes the new f
                    if plm is not None:
                        plm = (plm[0], tm_f)
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    _sety()
                    tm_e = float(stack[-2])
                    # full Tm sets BOTH matrices — except the first one,
                    # the synthetic clone prelude, which ARMS the seed
                    plm, seed_pending = seed_pending, None
                    try:
                        va = float(stack[-6])
                        vb = float(stack[-5])
                        vc = float(stack[-4])
                        vd = float(stack[-3])
                    except (TypeError, ValueError):
                        pass
                    else:
                        tm_a = va
                        tm_b = vb
                        tm_c = vc
                        tm_d = vd
                        # degenerate-AXIS guard only (the old blanket
                        # 'or 1.0' garbled rotation matrices, where a
                        # or d is legitimately 0 while b/c carry the
                        # writing direction)
                        if tm_a == 0.0 and tm_b == 0.0:
                            tm_a = 1.0
                        if tm_d == 0.0 and tm_c == 0.0:
                            tm_d = 1.0
                    ax = cm_a * tm_e + cm_c * tm_f + cm_e
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    old_asx = asx
                    _requad()
                    if (
                        asx != old_asx and self.line_open
                        and not self.force_flush
                    ):
                        # updateAdvanceScale (no-op on a closed item;
                        # pdf.js compares the hypot-based scale, which a
                        # pure rotation change leaves untouched). The
                        # open item's advance thresholds RESCALE: pdf.js
                        # divides advanceX by the item's textAdvanceScale,
                        # which updateAdvanceScale sets to the NEW scale
                        # while the fontSize-based windows stay — our
                        # item_size embeds the scale, so it multiplies by
                        # the ratio (rotated 'delta' + 0.75-scale Tm +
                        # 3-space run reads 'deltaxi\n omicron' in the
                        # reference: 4.0/0.75 = 5.34 > 0.6*8 leaves the
                        # in-flow window; rotstate hunt base 34,050,068).
                        # item_hsize stays stale: advanceY is raw and the
                        # ensure-time height is never rescaled.
                        self.scale_flush = True
                        self.item_wreg = 0.0
                        if old_asx:
                            self.item_size *= abs(asx / old_asx)
                    cur_x, cross_v = _swapq(ax, ay)
                elif op == b"TL" and stack:
                    leading = float(stack[-1])
                elif op == b"Ts" and stack:
                    rise = float(stack[-1])
                    if quad:
                        # device rise offset is (rise*cC, rise*cD); its
                        # compare-frame cross component shifts cy (the
                        # writing-axis component is 0 for pure quadrants)
                        arise = _swapq(rise * cC, rise * cD)[1]
                    else:
                        arise = rise * tm_d * cm_d
                elif op == b"Tc" and stack:
                    tc = float(stack[-1])
                elif op == b"Tw" and stack:
                    tw = float(stack[-1])
                elif op == b"Tz" and stack:
                    # negative Tz mirrors the writing direction:
                    # pdf.js's composed transform gets m[0] < 0 and the
                    # compare runs in the 180 quadrant — fold the SIGN
                    # into the quadrant frame, keep the magnitude in
                    # the advance math
                    # NO zero guard: pdf.js setTextHScale keeps 0/100
                    # == 0 — every advance times 0, so all glyphs land
                    # on the same point and the equal-position shortcut
                    # joins them ("0 Tz (sigma)" reads "sigma", probed
                    # live via a stash-fed `false Tz`)
                    tzv = float(stack[-1]) / 100.0
                    tz = abs(tzv)
                    if (tzv < 0.0) != tz_mirror:
                        # the pen keeps its DEVICE position through the
                        # flip — only the compare frame changes: unswap
                        # under the OLD quadrant, reswap under the new
                        if quad == -1 and matn is not None:
                            # a pure sign flip negates matn rows 0/1
                            # EXACTLY (cA/cB pick up s_ = -1 on the
                            # same products; sh/cC/cD unchanged), so
                            # the writing-axis pen negates exactly too
                            # — the matrix-inversion round-trip left
                            # ulp dust that kept the raw equal-position
                            # shortcut from firing when the mirrored
                            # pen returns to prevTransform (form_combo
                            # hunt base 28,000,000 seed 295)
                            tz_mirror = tzv < 0.0
                            _requad()
                            cur_x = -cur_x
                        else:
                            pdx_, pdy_ = _swapq(cur_x, cross_v)
                            tz_mirror = tzv < 0.0
                            _requad()
                            cur_x, cross_v = _swapq(pdx_, pdy_)
                elif op == b"T*":
                    if plm is not None:  # compose against the cloned lm
                        tm_e, tm_f = plm
                        plm = None
                    tm_e += -leading * tm_c
                    tm_f += -leading * tm_d
                    ax = cm_a * tm_e + cm_c * tm_f + cm_e
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    cur_x, cross_v = _swapq(ax, ay)
                elif (
                    op == b"Tj" and have_font
                    and stack and isinstance(stack[-1], bytes)
                ):
                    item = stack[-1]
                    dec = fm.decode(item)
                    if quad and fm.nbytes == 1 and len(dec) == len(item):
                        _show_glyphs(item, dec)
                        stack.clear()
                        continue
                    vb = self.viewbox
                    cprev: float | None = None
                    cfvx: float | None = None
                    clipped_item = False
                    nclip = 0
                    zw_item = (
                        fm.has_zw(item)
                        and _RTL_RUN.search(dec) is None
                    )
                    lg = (
                        size > 0 and tc * tz > self.GAP_FRACTION * size
                        and not zw_item  # zw: the cascade decides
                    )
                    segs = None
                    reg0_el = self.item_wreg
                    if (
                        quad == 0 and fm.nbytes == 1 and size > 0
                        and len(dec) == len(item) - fm.ncf(item)
                        and (" " in dec[1:-1] or tc < 0.0
                             or self._big_tc(tc, asx * tz, size * asx)
                             or zw_item
                             or reg0_el <= 0.0
                             or (vb is not None and (
                                 min(cur_x, cur_x + advance(item))
                                 < vb[0]
                                 or max(cur_x, cur_x + advance(item))
                                 > vb[2])))
                    ):
                        r_ = self._seg_split(
                            fm, item, dec, cur_x, size, asx * tz, tc, tw,
                            size * asx, fallback_prev=self.last_end_x,
                            zw_mode=zw_item,
                            reg0=reg0_el,
                        )
                        if r_ is not None:
                            segs, nclip, lclip = r_
                    if segs is None and (
                        vb is not None
                        and quad == 0  # rotated: show() box-tests whole
                        and fm.nbytes == 1
                        and len(dec) == len(item)
                        and (
                            min(cur_x, cur_x + advance(item)) < vb[0]
                            or max(cur_x, cur_x + advance(item)) > vb[2]
                        )
                    ):
                        dec, cprev, nclip, lclip, cfvx = self._clip_x(
                            fm, item, dec, cur_x, size, asx * tz, tc, tw
                        )
                        clipped_item = nclip > 0
                    if segs is not None:
                        # per-glyph item splitting at quad 0 (_seg_split)
                        sh0 = None
                        for sd, sfx, spv, shw, sww in segs:
                            if lg:
                                sd = self._lgap_join(sd)
                            # carried prev VALUES (all-zero-width
                            # segments) must not move prevTransform
                            r = _show_item(sd, spv if shw else None,
                                           0.0, fx=sfx,
                                           seg_w=sww)
                            if sh0 is None:
                                sh0 = r
                        cur_x += (
                            advance(item) - nclip * tc * asx * tz
                            if sh0 else advance_clip(item)
                        )
                        stack.clear()
                        continue
                    if lg:
                        # letter-spacing fake spaces
                        dec = self._lgap_join(dec)
                    if clipped_item:
                        prev = cprev
                    elif fm.nbytes == 1:
                        # advance(item) is the exact float _show_item
                        # adds to cur_x (nclip == 0 on this path)
                        prev = self._prev_x(
                            fm, item, dec, cur_x, size, asx * tz, tc, tw,
                            adv_full=advance(item),
                        )
                    else:
                        prev = (
                            cur_x + advance(item) - tc * asx * tz
                            if item else None
                        )
                    _show_item(
                        dec, prev, advance(item) - nclip * tc * asx * tz,
                        fx=(
                            cfvx if clipped_item else (
                                self._first_x(
                                    fm, item, dec, cur_x, size,
                                    asx * tz, tc, tw,
                                )
                                if fm.nbytes == 1
                                else None
                            )
                        ),
                        adv_clip=advance_clip(item),
                        seg_w=self._inline_wcontrib(
                            fm, item, dec, advance(item), tc, tw,
                            asx * tz, size / 1000.0 * asx * tz,
                            anchored=self.last_end_x is not None,
                        ),
                    )
                elif op in (b"'", b'"') and have_font:
                    if plm is not None:  # compose against the cloned lm
                        tm_e, tm_f = plm
                        plm = None
                    tm_e += -leading * tm_c
                    tm_f += -leading * tm_d
                    ax = cm_a * tm_e + cm_c * tm_f + cm_e
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    cur_x, cross_v = _swapq(ax, ay)
                    if op == b'"' and len(stack) >= 3:
                        tw = float(stack[-3])
                        tc = float(stack[-2])
                    if (
                        stack and isinstance(stack[-1], bytes)
                        and quad and fm.nbytes == 1
                        and len(fm.decode(stack[-1])) == len(stack[-1])
                    ):
                        _show_glyphs(stack[-1], fm.decode(stack[-1]))
                    elif stack and isinstance(stack[-1], bytes):
                        item = stack[-1]
                        dec = fm.decode(item)
                        vb = self.viewbox
                        cprev = None
                        cfvx = None
                        clipped_item = False
                        nclip = 0
                        zw_item = (
                            fm.has_zw(item)
                            and _RTL_RUN.search(dec) is None
                        )
                        lg = (
                            size > 0
                            and tc * tz > self.GAP_FRACTION * size
                            and not zw_item  # zw: the cascade decides
                        )
                        segs = None
                        reg0_el = self.item_wreg
                        if (
                            quad == 0 and fm.nbytes == 1 and size > 0
                            and len(dec) == len(item) - fm.ncf(item)
                            and (" " in dec[1:-1] or tc < 0.0
                                 or self._big_tc(tc, asx * tz,
                                                 size * asx)
                                 or zw_item
                                 or reg0_el <= 0.0
                                 or (vb is not None and (
                                     min(cur_x,
                                         cur_x + advance(item))
                                     < vb[0]
                                     or max(cur_x,
                                            cur_x + advance(item))
                                     > vb[2])))
                        ):
                            r_ = self._seg_split(
                                fm, item, dec, cur_x, size, asx * tz,
                                tc, tw, size * asx,
                                fallback_prev=self.last_end_x,
                                zw_mode=zw_item,
                                reg0=reg0_el,
                            )
                            if r_ is not None:
                                segs, nclip, lclip = r_
                        if segs is None and (
                            vb is not None
                            and quad == 0
                            and fm.nbytes == 1
                            and len(dec) == len(item)
                            and (
                                min(cur_x, cur_x + advance(item))
                                < vb[0]
                                or max(cur_x, cur_x + advance(item))
                                > vb[2]
                            )
                        ):
                            dec, cprev, nclip, lclip, cfvx = (
                                self._clip_x(
                                    fm, item, dec, cur_x, size,
                                    asx * tz, tc, tw,
                                )
                            )
                            clipped_item = nclip > 0
                        if segs is not None:
                            sh0 = None
                            for sd, sfx, spv, shw, sww in segs:
                                if lg:
                                    sd = self._lgap_join(sd)
                                r = _show_item(sd, spv if shw else None,
                                               0.0, fx=sfx,
                                               seg_w=sww)
                                if sh0 is None:
                                    sh0 = r
                            cur_x += (
                                advance(item) - nclip * tc * asx * tz
                                if sh0 else advance_clip(item)
                            )
                            stack.clear()
                            continue
                        if lg:
                            dec = self._lgap_join(dec)
                        if clipped_item:
                            prev = cprev
                        elif fm.nbytes == 1:
                            # advance(item) is the exact float
                            # _show_item adds (nclip == 0 here)
                            prev = self._prev_x(
                                fm, item, dec, cur_x, size, asx * tz,
                                tc, tw, adv_full=advance(item),
                            )
                        else:
                            prev = (
                                cur_x + advance(item) - tc * asx * tz
                                if item else None
                            )
                        _show_item(
                            dec, prev,
                            advance(item) - nclip * tc * asx * tz,
                            fx=(
                                cfvx if clipped_item else (
                                    self._first_x(
                                        fm, item, dec, cur_x, size,
                                        asx * tz, tc, tw,
                                    )
                                    if fm.nbytes == 1
                                    else None
                                )
                            ),
                            adv_clip=advance_clip(item),
                            seg_w=self._inline_wcontrib(
                                fm, item, dec, advance(item), tc, tw,
                                asx * tz, size / 1000.0 * asx * tz,
                                anchored=self.last_end_x is not None,
                            ),
                        )
                elif (
                    op == b"TJ" and have_font
                    and stack and isinstance(stack[-1], list)
                    and quad
                ):
                    # rotated quadrants: item anchors are VISIBLE through
                    # the pdf-parse join (device transform[5] varies
                    # ALONG the line), so pdf.js's mid-TJ flushes (its
                    # per-glyph compare sees each kern as an advance)
                    # split items the buffered quad-0 path would hide
                    # behind one anchor. Run each element through the
                    # per-item compare; a big kern then takes the
                    # carriage-return / gap paths naturally.
                    # raw showSpacedText walk (pdf.worker.js:36888-36906)
                    # with pdf.js's exact structure: adjacent strings
                    # JOIN in the buffer, each nonzero number flushes
                    # the buffer with extraSpacing = kern * -fs/1000
                    # folded into the last glyph's charSpacing, an
                    # empty-buffer kern translates (tc + extra) * hs
                    # (the !chars branch), and a ZERO kern is skipped
                    # entirely (item !== 0). The riding-kern drop of
                    # the quad-0 consumer does not apply here (the
                    # rotated paths clip item-level via show's box
                    # test).
                    sf_tj = -size / 1000.0

                    def _flush_rot(joined: bytes, extra: float) -> None:
                        nonlocal cur_x
                        dec = fm.decode(joined)
                        if fm.nbytes == 1 and len(dec) == len(joined):
                            _show_glyphs(joined, dec, extra=extra)
                            return
                        # item-level fallback (multibyte / Cf-bearing):
                        # the historical approximation — tc applies per
                        # glyph inside advance(), the kern lands as a
                        # separate pen move after the item
                        if (
                            size > 0
                            and tc * tz > self.GAP_FRACTION * size
                        ):
                            dec = self._lgap_join(dec)
                        prev = (
                            cur_x + advance(joined) - tc * asx * tz
                            if joined else None
                        )
                        _show_item(dec, prev, advance(joined))
                        if extra:
                            cur_x += (extra * tz) * asx

                    tjbuf = b""
                    for el in stack[-1]:
                        if isinstance(el, bytes):
                            tjbuf += el
                        elif (isinstance(el, (int, float))
                              and not isinstance(el, bool) and el != 0):
                            extra = el * sf_tj
                            if tjbuf:
                                _flush_rot(tjbuf, extra)
                                tjbuf = b""
                            else:
                                # bare kern: charSpacing rides along
                                # (tc + extra, ONE summed translate)
                                cur_x += ((tc + extra) * tz) * asx
                    if tjbuf:
                        _flush_rot(tjbuf, 0.0)
                elif (
                    op == b"TJ" and have_font
                    and stack and isinstance(stack[-1], list)
                ):
                    buf: list[str] = []
                    start_x = cur_x
                    tjprev: float | None = None
                    tjfirst: float | None = None
                    # buffered group appended a width!=0 glyph since
                    # the last flush (see pdftext_replay)
                    tjhadw = False
                    # buffered register contribution (see tj_wacc)
                    tjwacc = 0.0
                    tjstale = 0.0
                    tjbpend = True  # deferred boundary not evaluated
                    tjgabs = 0.0  # cumulative kern gap absorbed
                    # current boundary's provisional absorb inside
                    # tjwacc (see pdftext_replay's tj_tailw)
                    tjtailw = 0.0
                    # real trailing space GLYPHS behind the buffer tail
                    # (letter-gap join spaces don't count: pdf.js's
                    # twoLastChars ring only ever saw the glyphs)
                    tail_sp = 0
                    # kern-killed-run carry (see pdftext_replay's tj_kill)
                    tj_kill = False
                    # deferred kern fake space (see pdftext_replay's tj_fake)
                    tj_fake = False
                    lgap = (
                        size > 0 and tc * tz > self.GAP_FRACTION * size
                    )
                    for item, tj_kern, tj_ntc, tj_ride in (
                        self._coalesce_tj(stack[-1])
                    ):
                        ride_lost = False
                        if item:
                            dec = fm.decode(item)
                            # zw elements: the cascade decides the gaps
                            zw_item = (
                                fm.has_zw(item)
                                and _RTL_RUN.search(dec) is None
                            )
                            lgap_el = lgap and not zw_item
                            vb = self.viewbox
                            cprev = None
                            cfvx = None
                            clipped_item = False
                            nclip = 0
                            segs = None
                            if tjbpend and dec.strip(" "):
                                fxp = (
                                    self._first_x(
                                        fm, item, dec, cur_x, size,
                                        asx * tz, tc, tw,
                                    )
                                    if fm.nbytes == 1 else None
                                )
                                tjstale = self._tj_boundary_stale(
                                    fxp if fxp is not None else cur_x,
                                    cross_v + arise, size * asx,
                                    size * csy if csy else None,
                                )
                                tjbpend = False
                            reg0_el = (
                                tjstale if not tjbpend
                                else self.item_wreg
                            ) + tjwacc
                            if (
                                quad == 0
                                and fm.nbytes == 1 and size > 0
                                and len(dec) == len(item) - fm.ncf(item)
                                and (
                                    " " in dec[1:-1]
                                    or (
                                        tjprev is not None
                                        and dec[:1] == " "
                                    )
                                    or tc < 0.0
                                    or self._big_tc(
                                        tc, asx * tz, size * asx
                                    )
                                    or zw_item
                                    or reg0_el <= 0.0
                                    or (vb is not None and (
                                        min(cur_x,
                                            cur_x + advance(item))
                                        < vb[0]
                                        or max(cur_x,
                                               cur_x + advance(item))
                                        > vb[2]))
                                )
                            ):
                                r_ = self._seg_split(
                                    fm, item, dec, cur_x, size,
                                    asx * tz, tc, tw, size * asx,
                                    prev0=tjprev,
                                    fallback_prev=self.last_end_x,
                                    zw_mode=zw_item,
                                    reg0=reg0_el,
                                )
                                if r_ is not None:
                                    segs, nclip, lclip = r_
                                    if nclip:
                                        dec = "".join(
                                            t for t, _f, _p, _h, _w
                                            in segs
                                        )
                            if segs is None and (
                                vb is not None
                                and quad == 0
                                and fm.nbytes == 1
                                and len(dec) == len(item)
                                and (
                                    min(cur_x, cur_x + advance(item))
                                    < vb[0]
                                    or max(cur_x, cur_x + advance(item))
                                    > vb[2]
                                )
                            ):
                                dec, cprev, nclip, lclip, cfvx = (
                                    self._clip_x(
                                        fm, item, dec, cur_x, size,
                                        asx * tz, tc, tw,
                                    )
                                )
                                clipped_item = nclip > 0
                            if dec and tjprev is None \
                                    and self.last_end_x is None:
                                # NULL-anchor ring across the buffer
                                # join (see pdftext_replay)
                                txt0 = (
                                    segs[0][0] if segs is not None
                                    else dec
                                )
                                lead = (
                                    len(txt0) - len(txt0.lstrip(" "))
                                )
                                if (
                                    txt0.strip(" ")
                                    and tail_sp + lead >= 2
                                ):
                                    if tail_sp and buf:
                                        buf[-1] = buf[-1].rstrip(" ")
                                    if lead:
                                        if segs is not None:
                                            (t0_, f0s, p0s, h0s,
                                             w0s) = segs[0]
                                            segs[0] = (
                                                t0_.lstrip(" "),
                                                f0s, p0s, h0s, w0s,
                                            )
                                        else:
                                            dec = dec.lstrip(" ")
                                    tail_sp = 0
                            if tj_fake and dec:
                                if not dec.startswith(" "):
                                    buf.append(" ")
                                tj_fake = False
                            clip_y = (
                                vb is not None and fm.nbytes == 1
                                and not (
                                    vb[1] <= cross_v + arise <= vb[3]
                                )
                            )
                            # a box-rejected FINAL glyph takes the
                            # group's kern (its riding extraSpacing)
                            # down with it (pdf.js's reject path
                            # translates scaledDim only,
                            # pdf.worker.js:36704-36711); quad-0 only
                            # (the rotated paths clip item-level)
                            if quad == 0 and fm.nbytes == 1 and (
                                clip_y or (nclip > 0 and lclip)
                            ):
                                ride_lost = not (
                                    item[-1] == 0x20
                                    or fm.decode(item[-1:]) == " "
                                )
                            if (
                                item and fm.nbytes == 1
                                and fm._cf_arr is not None
                                and fm._cf_arr[item[-1]]
                            ):
                                # Cf final glyph loses the riding
                                # kern (see pdftext_replay)
                                ride_lost = True
                            t_run = len(dec) - len(dec.rstrip(" "))
                            tail_sp = (
                                t_run if dec.strip(" ")
                                else tail_sp + dec.count(" ")
                            )
                            if segs is not None and len(segs) == 1:
                                # no split point — the walk only
                                # REWROTE the text (null-anchor run):
                                # plain append
                                sd0, sfx, spv, sh0w, sw0 = segs[0]
                                buf.append(
                                    self._lgap_join(sd0)
                                    if lgap_el else sd0
                                )
                                if sd0.strip(" "):
                                    tj_kill = False
                                if tjfirst is None:
                                    tjfirst = sfx
                                cur_x += (
                                    advance_clip(item) if clip_y
                                    else advance(item)
                                    - nclip * tc * asx * tz
                                )
                                tjwacc += sw0
                                if sd0.strip(" "):
                                    tjgabs = 0.0
                                    tjtailw = 0.0
                                if spv is not None and sh0w:
                                    tjprev = spv
                                    tjhadw = True
                            elif segs is not None:
                                # per-glyph item splitting at quad 0
                                # mid-TJ (_seg_split): seg 0 completes
                                # the buffered group, the last becomes
                                # the new buffer
                                vv = cross_v + arise
                                sd0, sfx, spv, sh0w, sw0 = segs[0]
                                if sd0.strip(" "):
                                    # real glyphs precede the split:
                                    # the ring rolled
                                    tj_kill = False
                                buf.append(
                                    self._lgap_join(sd0)
                                    if lgap_el else sd0
                                )
                                fx0 = (
                                    tjfirst if tjfirst is not None
                                    else sfx
                                )
                                tj_cx = (
                                    fx0 if fx0 is not None else start_x
                                )
                                ddx, ddy = _swapq(tj_cx, vv)
                                sh0 = self.show("".join(buf), vv, tj_cx,
                                                size * asx, quad=quad,
                                                dev_x=ddx, dev_y=ddy,
                                                mat=_matstore(),
                                                move_prev=(
                                                    spv is not None
                                                    and (tjhadw or sh0w)
                                                ),
                                                mirror=tz_mirror,
                                                seg_w=tjwacc + sw0)
                                if sh0:
                                    self.last_end_x = spv
                                if tj_kill:
                                    self.pending_space = True
                                    self.pending_multi = True
                                    tj_kill = False
                                for sdm, sfm, spm, shwm, swm in segs[1:-1]:
                                    sd = (
                                        self._lgap_join(sdm)
                                        if lgap_el else sdm
                                    )
                                    ddx, ddy = _swapq(sfm, vv)
                                    if self.show(sd, vv, sfm,
                                                 size * asx, quad=quad,
                                                 dev_x=ddx, dev_y=ddy,
                                                 mat=_matstore(),
                                                 move_prev=(
                                                     spm is not None
                                                     and shwm),
                                                 mirror=tz_mirror,
                                                 seg_w=swm):
                                        self.last_end_x = spm
                                sdl, sfl, spl, shwl, swl = segs[-1]
                                buf = [
                                    self._lgap_join(sdl)
                                    if lgap_el else sdl
                                ]
                                tjfirst = sfl
                                start_x = sfl
                                tjprev = spl
                                tjhadw = shwl
                                tjwacc = swl
                                tjgabs = 0.0
                                tjtailw = 0.0
                                if sdl.strip(" "):
                                    tjstale = self._tj_boundary_stale(
                                        sfl, cross_v + arise,
                                        size * asx,
                                        size * csy if csy else None,
                                    )
                                    tjbpend = False
                                else:
                                    tjbpend = True
                                cur_x += (
                                    advance(item) - nclip * tc * asx * tz
                                    if sh0 else advance_clip(item)
                                )
                            else:
                                if clipped_item:
                                    prev = cprev
                                elif fm.nbytes == 1:
                                    # advance(item) is the exact float
                                    # added to cur_x below (nclip == 0);
                                    # y-clipped elements keep the
                                    # legacy prefix form
                                    prev = self._prev_x(
                                        fm, item, dec, cur_x, size,
                                        asx * tz, tc, tw,
                                        adv_full=(
                                            None if clip_y
                                            else advance(item)
                                        ),
                                    )
                                else:
                                    prev = (
                                        cur_x + advance(item)
                                        - tc * asx * tz
                                        if item else None
                                    )
                                buf.append(self._lgap_join(dec) if lgap_el else dec)
                                if dec.strip(" "):
                                    tj_kill = False
                                if tjfirst is None and fm.nbytes == 1:
                                    tjfirst = (
                                        cfvx if clipped_item
                                        else self._first_x(
                                            fm, item, dec, cur_x, size,
                                            asx * tz, tc, tw,
                                        )
                                    )
                                cur_x += (
                                    advance_clip(item) if clip_y
                                    else advance(item)
                                    - nclip * tc * asx * tz
                                )
                                tjwacc += self._inline_wcontrib(
                                    fm, item, dec, advance(item),
                                    tc, tw, asx * tz,
                                    size / 1000.0 * asx * tz,
                                    anchored=(
                                        tjprev is not None
                                        or self.last_end_x is not None
                                    ),
                                )
                                if dec.strip(" "):
                                    tjgabs = 0.0
                                    tjtailw = 0.0
                                if prev is not None:
                                    tjprev = prev
                                    # per-item _prev_x: non-None means
                                    # a width!=0 glyph was emitted
                                    tjhadw = True
                        if tj_kern is not None:
                            # riding component lost with a box-rejected
                            # final glyph (see ride_lost above)
                            keff = (
                                tj_kern - tj_ride if ride_lost
                                else tj_kern
                            )
                            cur_x -= keff / 1000.0 * size * asx * tz
                            if tj_ntc:
                                # tj_ntc merged kerns ran with an EMPTY
                                # buffer: each applied charSpacing in
                                # its translate (!chars branch,
                                # pdf.worker.js:36663-36675)
                                cur_x += tj_ntc * tc * asx * tz
                            if size > 0:
                                kern = keff / 1000.0 * size
                                gap = (
                                    None if tjprev is None
                                    else cur_x - tjprev
                                )
                                # leading kerns: fall back to the
                                # page-level prevTransform (see
                                # pdftext_replay's K_TJNUM)
                                gap2 = gap
                                if (
                                    gap2 is None
                                    and self.last_end_x is not None
                                ):
                                    gap2 = cur_x - self.last_end_x
                                # last-ensured item's bands while the
                                # boundary is pending (see the event
                                # consumer's staleness note)
                                lim = (
                                    self.item_size
                                    if tjbpend and self.item_size > 0
                                    else size * asx
                                )
                                # non-positive live register: any
                                # nonzero gap flushes (see
                                # pdftext_replay)
                                # excluding the provisional
                                # absorb (see pdftext_replay)
                                reg_k = (
                                    tjstale if not tjbpend
                                    else self.item_wreg
                                ) + tjwacc - tjtailw
                                keep1 = (
                                    buf and buf[-1].endswith(" ")
                                    and gap2 is not None
                                    and reg_k > 0.0
                                    and 0.03 * lim < gap2
                                    <= self.GAP_FRACTION * lim
                                    and (
                                        tail_sp if tail_sp > 0 else 1
                                    ) == 1
                                )
                                if gap2 is not None and (
                                    keep1
                                    or (reg_k <= 0.0 and gap2 != 0.0)
                                    or gap2 < -0.2 * lim
                                    or gap2 > 0.6 * lim
                                ):
                                    # flush-window kern: split the
                                    # buffered segment (see the event
                                    # consumer's K_TJNUM)
                                    vv = cross_v + arise
                                    tj_cx = (
                                        tjfirst if tjfirst is not None
                                        else start_x
                                    )
                                    ddx, ddy = _swapq(tj_cx, vv)
                                    if (
                                        self.show(
                                            "".join(buf), vv, tj_cx,
                                            size * asx, quad=quad,
                                            dev_x=ddx, dev_y=ddy,
                                            mat=_matstore(),
                                            move_prev=tjhadw,
                                            mirror=tz_mirror,
                                            seg_w=tjwacc - tjtailw,
                                        )
                                        and tjprev is not None
                                    ):
                                        self.last_end_x = tjprev
                                    if tj_kill:
                                        self.pending_space = True
                                        self.pending_multi = True
                                        tj_kill = False
                                    buf = []
                                    start_x = cur_x
                                    tjprev = None
                                    tjfirst = None
                                    tjhadw = False
                                    tjwacc = 0.0
                                    tjbpend = True
                                    tjgabs = 0.0
                                    tjtailw = 0.0
                                    tail_sp = 0
                                    tj_fake = False
                                elif buf and buf[-1].endswith(" "):
                                    # run-fate bands: see the event
                                    # consumer's K_TJNUM. With NO
                                    # anchor (null page prevTransform)
                                    # pdf.js's compare early-returns —
                                    # no kill, no fake
                                    n_real = (
                                        tail_sp if tail_sp > 0 else 1
                                    )
                                    if gap2 is not None:
                                        kill = gap2 <= 0.03 * lim or (
                                            n_real != 1
                                            and gap2
                                            <= self.GAP_FRACTION * lim
                                        )
                                        if (
                                            kill
                                            or gap2
                                            > self.GAP_FRACTION * lim
                                        ):
                                            # absorbed outcomes (see
                                            # pdftext_replay)
                                            if not tjbpend:
                                                tjwacc += gap2 - tjgabs
                                                tjtailw += gap2 - tjgabs
                                            tjgabs = gap2
                                    else:
                                        kill = False
                                    if kill:
                                        buf[-1] = buf[-1].rstrip(" ")
                                        tail_sp = 0
                                        tj_kill = True
                                elif (
                                    gap2 is not None
                                    and gap2 > self.GAP_FRACTION * lim
                                ):
                                    tj_fake = True
                                    if not tjbpend:
                                        tjwacc += gap2 - tjgabs
                                        tjtailw += gap2 - tjgabs
                                    tjgabs = gap2
                                elif gap2 is not None and gap2 != 0.0:
                                    # quiet kern gap absorbed
                                    if not tjbpend:
                                        tjwacc += gap2 - tjgabs
                                        tjtailw += gap2 - tjgabs
                                    tjgabs = gap2
                    vv = cross_v + arise
                    tj_cx = tjfirst if tjfirst is not None else start_x
                    ddx, ddy = _swapq(tj_cx, vv)
                    if (
                        self.show(
                            "".join(buf), vv, tj_cx, size * asx,
                            quad=quad, dev_x=ddx, dev_y=ddy, mat=_matstore(),
                            move_prev=tjhadw,
                            mirror=tz_mirror,
                            # trailing provisional absorb stays with
                            # the boundary (see pdftext_replay)
                            seg_w=tjwacc - tjtailw,
                        )
                        and tjprev is not None
                    ):
                        self.last_end_x = tjprev
                    if tj_kill:
                        self.pending_space = True
                        self.pending_multi = True
                elif op == b"Do":
                    # paintXObject flushes before resolving anything
                    # (pdf.worker.js:36946) — images, missing names and
                    # junk operands included
                    self.force_flush = True
                    if not stack or depth >= self.MAX_DEPTH:
                        stack.clear()
                        continue
                    # advanced text matrix in TEXT space for the clone:
                    # un-swap the compare-frame pen back to device, then
                    # divide the full CTM out; the linear part is the
                    # line matrix's (shows only translate tm)
                    itm = None
                    if quad == -1 and matn is not None:
                        # device pen = anchor + advance projected along
                        # the device writing direction (matn row 0).
                        # NOT the matn-inverse of (cur_x, cross_v): the
                        # stored cross_v is the ANCHOR's cross
                        # coordinate, and under a NON-ORTHOGONAL frame
                        # (shear — cross row not perpendicular to the
                        # writing direction) the pen's cross coordinate
                        # moves with the advance, so the inverse
                        # reconstruction dropped the f-advance a sheared
                        # show makes (translateTextMatrix moves e AND f
                        # when b != 0) — the cloned tm then lagged and a
                        # form's `0 0 Td` rewound to the wrong line
                        # (round-5 form-lm hunt, base 81M doc02)
                        adv_t = cur_x - (matn[0] * ax + matn[1] * ay)
                        pdx = ax + adv_t * matn[0]
                        pdy = ay + adv_t * matn[1]
                    else:
                        pdx, pdy = _swapq(cur_x, cross_v)
                    if pdx is not None:
                        det = cm_a * cm_d - cm_b * cm_c
                        if det:
                            ptx, pty = pdx - cm_e, pdy - cm_f
                            itm = (
                                tm_a, tm_b, tm_c, tm_d,
                                (ptx * cm_d - pty * cm_c) / det,
                                (pty * cm_a - ptx * cm_b) / det,
                            )
                    self._do_xobject(
                        xobjs, str(stack[-1]), res, depth, seen,
                        cm=(cm_a, cm_b, cm_c, cm_d, cm_e, cm_f),
                        inherit=(
                            fm if have_font else None,
                            size, tc, tw,
                            -tz if tz_mirror else tz,
                            leading, rise, itm,
                            plm if plm is not None else (tm_e, tm_f),
                        ),
                    )
                elif op in (b"BMC", b"BDC", b"EMC"):
                    # marked-content ops flush the open item
                    # unconditionally (pdf.worker.js:37075,37085,37100)
                    self.force_flush = True
                elif op == b"BT":
                    tm_a, tm_b, tm_c = 1.0, 0.0, 0.0
                    tm_d, tm_e, tm_f = 1.0, 0.0, 0.0
                    plm = seed_pending = None  # BT resets BOTH matrices
                    ax = cm_e
                    ay = cm_f
                    _requad()
                    # leading/Tc/Tw/Tz AND rise are TEXT STATE (persist
                    # across BT — pdf.js beginText resets only the
                    # matrices; verified vs live node): refresh the
                    # matrix-scaled rise offset under the reset tm
                    if quad:
                        arise = _swapq(rise * cC, rise * cD)[1]
                    else:
                        arise = rise * tm_d * cm_d
                    cur_x, cross_v = _swapq(ax, ay)
                elif op == b"cm" and len(stack) >= 6:
                    vals = [float(stack[i]) for i in range(-6, 0)]
                    ma, mb, mc, md, me, mf = vals
                    (cm_a, cm_b, cm_c, cm_d, cm_e, cm_f) = (
                        ma * cm_a + mb * cm_c,
                        ma * cm_b + mb * cm_d,
                        mc * cm_a + md * cm_c,
                        mc * cm_b + md * cm_d,
                        me * cm_a + mf * cm_c + cm_e,
                        me * cm_b + mf * cm_d + cm_f,
                    )
                    # the PEN follows the new matrix; prevTransform keeps
                    # its old device point (never retransformed). The
                    # pen's progress along the writing axis rescales by
                    # the advance-scale ratio (exact for translate+scale;
                    # quadrant changes re-anchor in the new frame)
                    progress = cur_x - _swapq(ax, ay)[0]
                    old_asx = asx
                    ax = cm_a * tm_e + cm_c * tm_f + cm_e
                    ay = cm_b * tm_e + cm_d * tm_f + cm_f
                    _requad()
                    cur_x, cross_v = _swapq(ax, ay)
                    cur_x += progress * (asx / old_asx if old_asx else 1.0)
                elif op == b"gs" and stack:
                    gsd = (
                        doc.resolve(extg.get(str(stack[-1])))
                        if isinstance(extg, dict) else None
                    )
                    if isinstance(gsd, dict):
                        gf = doc.resolve(gsd.get("Font"))
                        if _js_truthy_obj(gf) and not (
                            isinstance(gf, list) and len(gf) >= 2
                        ):
                            # `if (!gStateFont)` skips FALSY values
                            # only: a truthy non-array / short array
                            # still flushes and sets the font with
                            # fontSize = gStateFont[1] == undefined —
                            # NaN at every use site. jsvm models it.
                            raise _JsCoerce()
                        if isinstance(gf, list) and len(gf) >= 2:
                            raw_sz = doc.resolve(gf[1])
                            if isinstance(raw_sz, (int, float)) and (
                                not isinstance(raw_sz, bool)
                            ):
                                nsize = float(raw_sz)
                            else:
                                # setGState stores gStateFont[1] RAW
                                # (pdf.worker.js:37061) — a non-numeric
                                # size still sets the font; NaN advances
                                # are falsy so prevTransform never
                                # updates and every glyph joins; string
                                # sizes coerce per JS ToNumber (Python
                                # float() is looser, e.g. "1_0").
                                # Restart through jsvm.
                                raise _JsCoerce()
                            if nsize is not None:
                                if nsize < 0.0:
                                    # negative size: 180-flipped frame
                                    # with a mixed-sign register — jsvm
                                    # page (same as the Tf site)
                                    raise _JsCoerce()
                                # setGState with /Font flushes
                                # UNCONDITIONALLY and sets the font by
                                # REF (pdf.worker.js:37053-37062)
                                self.force_flush = True
                                fm = self._font_for_ref(gf[0])
                                size = nsize
                                have_font = True
                elif op == b"q":
                    # q/Q snapshot the WHOLE TextState (pdf.js
                    # StateManager: ctm, text/line matrices, font,
                    # Tc/Tw/Tz/TL/Ts — TextState.clone); the pen rewinds
                    # with the restored matrices (verified vs live node:
                    # `(a) Tj q ... Tm (b) Tj Q (c) Tj` puts c back on
                    # a's line)
                    if len(qstack) < 64:
                        qstack.append((
                            cm_a, cm_b, cm_c, cm_d, cm_e, cm_f,
                            tm_a, tm_b, tm_c, tm_d, tm_e, tm_f,
                            tc, tw, tz, leading, rise, arise,
                            tz_mirror,
                            fm, size, have_font,
                            ax, ay, cur_x, cross_v,
                            plm,
                        ))
                elif op == b"Q":
                    if qstack:
                        (cm_a, cm_b, cm_c, cm_d, cm_e, cm_f,
                         tm_a, tm_b, tm_c, tm_d, tm_e, tm_f,
                         tc, tw, tz, leading, rise, arise,
                         tz_mirror,
                         sfm, ssize, have_font,
                         ax, ay, cur_x, cross_v,
                         plm) = qstack.pop()
                        # restore flushes ONLY on a font/size change
                        # (pdf.worker.js:37112); no updateAdvanceScale
                        # runs at restore, so no scale_flush arming
                        if sfm is not fm or ssize != size:
                            self.force_flush = True
                        fm, size = sfm, ssize
                        _requad()
                # other operators (re, colors, paths...) are no-ops
                # for text extraction
            except (TypeError, ValueError):
                pass
            stack.clear()

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
        # (both the C lexer and the Python fallback consume it the same
        # way; fixed-point formatting because the content-stream number
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
        # emission order, so self.last_y (the anchor tracker) needs no
        # special handling: a form that emits nothing leaves it alone,
        # one that does advances it to its last item's anchor. After the
        # form, the page's own closure resumes with its pre-Do glyph
        # state (prevTransform/twoLastChars persist across next()).
        # pdf.js recurses with a FRESH getTextContent closure: the form
        # gets its own prevTransform (glyph_y/last_end_x/glyph_mat),
        # twoLastChars ring (last_char + pending run memory) and
        # textContentItem staleness (item_size/item_hsize/scale_flush);
        # only the SINK (pieces/last_y/line_open) is shared. Save the
        # page closure, run the form from closure-init state, restore —
        # verified vs live node: a form's glyphs must not roll the
        # page's ring (a post-form tracking-space decision reads the
        # pre-Do glyphs) nor leave its stale item scale behind.
        prev_gy, prev_x = self.glyph_y, self.last_end_x
        prev_mat = self.glyph_mat
        prev_pending = self.pending_space
        prev_multi = self.pending_multi
        prev_lc = self.last_char
        prev_isz = self.item_size
        prev_ihs = self.item_hsize
        prev_sf = self.scale_flush
        self.force_flush = True
        self.glyph_y = None
        self.last_end_x = None
        self.glyph_mat = None
        self.pending_space = False
        self.pending_multi = False
        self.last_char = ""
        self.item_size = 0.0
        self.item_hsize = 0.0
        self.scale_flush = False
        try:
            self.run(
                body,
                xo.dict.get("Resources", parent_res),
                depth + 1,
                seen | ({key} if key is not None else set()),
                lm_seed=lm_seed,
            )
        except _PageStop:
            # the form frame's OWN ignoreErrors catch resolves with its
            # partial text (pdf.worker.js:37129-37140) — the outer page
            # continues after the Do (the force_flush below closes the
            # form's open item at the next boundary, the same flush the
            # normal form-end path takes). _JsCoerce/_CDefer propagate:
            # those restart the WHOLE page in another tier.
            pass
        finally:
            self._inh_fm = inh_prev
        self.glyph_y, self.last_end_x = prev_gy, prev_x
        self.glyph_mat = prev_mat
        self.pending_space = prev_pending
        self.pending_multi = prev_multi
        self.last_char = prev_lc
        self.item_size = prev_isz
        self.item_hsize = prev_ihs
        self.scale_flush = prev_sf
        self.force_flush = True  # form stream end flush (getTextContent tail)


def _page_view_box(doc: Document, page: dict) -> list[float]:
    """The page's visible box in PDF units — pdf.js ``Page.view``:
    CropBox intersected with MediaBox, MediaBox alone when CropBox is
    absent/degenerate, LETTER when both are missing. Both keys are
    INHERITABLE, so walk /Parent links. A page with NEITHER key inherits
    the box fully from its parent chain — cached per parent object so a
    20k-page sibling run resolves the chain once, not once per page."""
    if "MediaBox" not in page and "CropBox" not in page:
        par = page.get("Parent")
        if isinstance(par, Ref):
            vb = doc.viewbox_cache.get(par.num)
            if vb is None:
                parent = doc.resolve(par)
                vb = _page_view_box(
                    doc, parent if isinstance(parent, dict) else {}
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
    string keys shown on pages < P. The fast tiers neither consult nor
    populate the cache (plain-string pages are cache-transparent —
    lookup and store return the same glyphs charsToGlyphs would build),
    so on the FIRST jsvm deferral the PRECEDING pages replay through
    the jsvm tier population-only (text discarded, cache accrued in
    the reference's sequential page order). Page-range (chunked) parses
    populate from page 0 as well, so any range that defers at least
    once reproduces the DEFAULT sequential engine's output exactly.
    The one range-mode residual: a chunk with NO jsvm deferral of its
    own never learns about prefix poison (a bare '5 Tj' on an earlier
    page muting this chunk's plain '(5) Tj') — which is precisely the
    reference's OWN child-strategy semantics (each pdf-child re-opens
    the document and accrues caches only from the pages it renders,
    lib/pdf-child.js:56-97), pinned in
    test_chunked_poison_matches_reference_child_semantics.

    Poisoned keys (a .length-less junk show stored [] under its
    stringified key) MUTE later plain shows of the equal string on the
    same font — including on LATER PAGES that the fast tiers would
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
                    interp = _TextInterp(
                        self.doc, viewbox=_page_view_box(self.doc, pg)
                    )
                    vm = jsvm.JsVM(interp, chars_caches=self.caches)
                    vm.run_page(data, res)  # JsStop truncates accrual
            except Exception:
                pass  # population is best-effort; render already done
        self.pop_upto = max(self.pop_upto, idx)


def _page_text(doc: Document, page: dict, resources,
               jsctx: "_JsCtx | None" = None, page_idx: int = 0) -> str:
    data = _page_data(doc, page)
    if not data:
        return ""
    if jsctx is not None and jsctx.poisoned:
        # an earlier jsvm page poisoned a charsCache key: plain shows
        # of the equal string on that font must be MUTED — only the
        # cache-consulting jsvm tier can render this page exactly
        return _js_page_text(doc, page, data, resources, jsctx, page_idx)
    interp = _TextInterp(doc, viewbox=_page_view_box(doc, page))
    try:
        interp.run(data, resources)
    except _CDefer:
        # the C replay flagged a width-register-sensitive construct:
        # re-run the whole page through the exact Python model (the
        # interp is per-page, so discarding it is a clean rollback)
        interp = _TextInterp(doc, viewbox=_page_view_box(doc, page))
        interp.no_c = True
        try:
            interp.run(data, resources)
        except _PageStop:
            pass
        except _JsCoerce:
            return _js_page_text(doc, page, data, resources,
                                 jsctx, page_idx)
    except _PageStop:
        # pdf.js getTextContent caught a FormatError with ignoreErrors:
        # the page's PARTIAL text (everything emitted before the bad
        # construct) is the result — not an error row
        pass
    except _JsCoerce:
        return _js_page_text(doc, page, data, resources, jsctx, page_idx)
    return interp.text()


def _js_page_text(doc: Document, page: dict, data: bytes, resources,
                  jsctx: "_JsCtx | None" = None, page_idx: int = 0) -> str:
    """Page restart through the faithful JS-semantics interpreter
    (kernels/jsvm.py) — a non-numeric operand reached a numeric
    text-state slot, which the float pipeline cannot model (raw-store +
    use-site coercion + NaN position cascades + charsCache hits)."""
    from . import jsvm

    caches = None
    if jsctx is not None:
        jsctx.populate_to(page_idx)  # prior pages' charsCache accrual
        jsctx.refresh_poisoned()  # prefix junk demotes LATER range pages
        caches = jsctx.caches
    interp = _TextInterp(doc, viewbox=_page_view_box(doc, page))
    vm = jsvm.JsVM(interp, chars_caches=caches)
    vm.run_page(data, resources)
    if jsctx is not None:
        jsctx.pop_upto = max(jsctx.pop_upto, page_idx + 1)
        jsctx.refresh_poisoned()
    return vm.text()


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
                if total > 0 and len(sl) == max(0, min(hi, total) - lo):
                    sel = sl
                    first_page = lo
                    n_pages_total = total
        except Exception:
            sel = None
    if sel is None:
        pages: list = []
        try:
            root = doc.resolve(doc.trailer.get("Root"))
            if isinstance(root, dict):
                _walk_pages(doc, root.get("Pages"), pages, set(), None)
        except Exception:
            pages = []
        tree_ok = bool(pages)
        if not pages:
            # no catalog / broken tree: fall back to every /Type /Page object
            for num in sorted(doc.index):
                try:
                    o = doc.get_object(num)
                except Exception:
                    continue
                if isinstance(o, dict) and str(o.get("Type", "")) == "Page":
                    pages.append((o, o.get("Resources")))
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
    def _all_pages() -> list:
        # full page list for _JsCtx's charsCache accrual: the chunk
        # fast path materializes only its range, but cache population
        # is pinned to the reference's sequential page order from page
        # 0 (output must be partition-independent)
        root_ = doc.resolve(doc.trailer.get("Root"))
        full: list = []
        if isinstance(root_, dict):
            _walk_pages(doc, root_.get("Pages"), full, set(), None)
        if not full:
            for num_ in sorted(doc.index):
                try:
                    o_ = doc.get_object(num_)
                except Exception:
                    continue
                if isinstance(o_, dict) and str(o_.get("Type", "")) == "Page":
                    full.append((o_, o_.get("Resources")))
        return full

    jsctx = _JsCtx(doc, _all_pages)
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
