"""ctypes loader for the C content-stream lexer (``_ctext.c``).

The C source ships with the package; it is compiled ONCE per machine with
the system C compiler into a content-hash-keyed shared object under the
temp dir (override with ``PDF_PARSE_CTEXT_CACHE``), then loaded via
ctypes. Concurrent executors race safely: each compiles to a private temp
file and ``os.replace``s it into place (atomic on POSIX).

When no compiler is available — or ``PDF_PARSE_DISABLE_CTEXT=1`` —
``AVAILABLE`` is False and callers fall back to the pure-Python
interpreter, which remains the reference implementation. At cluster scale
the .c file rides in the same ``--py-files`` archive as the package and
each executor pays one ~0.2 s compile at first use.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_SRC = os.path.join(os.path.dirname(__file__), "_ctext.c")

# mirrors struct Ev in _ctext.c (48 bytes)
EV_DTYPE = np.dtype(
    [
        ("kind", "<i4"), ("flag", "<i4"),
        ("a", "<i8"), ("b", "<i8"),
        ("f0", "<f8"), ("f1", "<f8"), ("f2", "<f8"), ("f3", "<f8"),
    ]
)

K_ANCHOR, K_FONT, K_STATE, K_STR = 1, 2, 3, 4
K_TJSTART, K_TJSTR, K_TJNUM, K_TJEND, K_XOBJ, K_SETY = 5, 6, 7, 8, 9, 10
# K_CM = 11 is consumed C-side only; K_ROT marks a rotated/skewed matrix
# (the flattened events drop the 2x2 — callers re-run the stream through
# the full-matrix Python interpreter)
K_ROT = 12
# K_INH precedes every K_XOBJ: f0 = leading, f1 = RAW rise — the text
# state a Form XObject inherits that is otherwise lexer-internal
# (leading) or matrix-pre-scaled in K_STATE (rise)
K_INH = 13
# q/Q snapshot the whole TextState (pdf.js StateManager). The lexer
# restores its own half (cm/tm/leading/seen_tf) silently; consumers
# push/pop theirs (pen, scales, tc/tw/tz, scaled rise, font, size,
# line origin) at these payload-free markers, flushing on Q only when
# the font or size changed (pdf.worker.js:37112).
K_QSAVE = 14
K_QRESTORE = 15
# BMC/BDC/EMC: getTextContent flushes the open item unconditionally
# (pdf.worker.js:37075,37085,37100)
K_MCFLUSH = 16

_lib = None
AVAILABLE = False


def _build() -> ctypes.CDLL:
    with open(_SRC, "rb") as f:
        src = f.read()
    h = hashlib.sha1(src).hexdigest()[:16]
    cache = os.environ.get("PDF_PARSE_CTEXT_CACHE", tempfile.gettempdir())
    so = os.path.join(cache, f"pdf_parse_ctext_{h}.so")
    if not os.path.exists(so):
        tmp = f"{so}.tmp.{os.getpid()}"
        subprocess.run(
            ["cc", "-O2", "-shared", "-fPIC", "-o", tmp, _SRC],
            check=True, capture_output=True, timeout=120,
        )
        os.replace(tmp, so)
    lib = ctypes.CDLL(so)
    lib.pdftext_interpret.restype = ctypes.c_long
    lib.pdftext_interpret.argtypes = [
        ctypes.c_char_p, ctypes.c_long, ctypes.c_void_p, ctypes.c_long,
        ctypes.c_void_p,  # lmseed: NULL or double[2] (cloned lm e/f)
    ]
    lib.pdftext_replay.restype = ctypes.c_long
    lib.pdftext_replay.argtypes = [
        ctypes.c_char_p, ctypes.c_long,              # data, n
        ctypes.c_void_p, ctypes.c_long, ctypes.c_long,  # ev, nev, start
        ctypes.c_void_p,                             # font_idx int32[nev]
        ctypes.c_char_p, ctypes.c_void_p,            # tbytes, toff int32
        ctypes.c_void_p,                             # widths double
        ctypes.c_void_p,                             # state double[32]
        ctypes.c_void_p, ctypes.c_long,              # out, ocap
        ctypes.c_void_p,                             # out_len long*
        ctypes.c_char_p,                             # TJ scratch blob
        ctypes.c_void_p,                             # q/Q stack double[1+64*12]
        ctypes.c_void_p,                             # glyph cats uint8[256*nfonts]
    ]
    lib.pdftext_coalesce_tj.restype = ctypes.c_long
    lib.pdftext_coalesce_tj.argtypes = [
        ctypes.c_char_p, ctypes.c_long,              # data, n
        ctypes.c_void_p, ctypes.c_long,              # ev, nev
        ctypes.c_void_p,                             # out Ev[nev]
        ctypes.c_void_p, ctypes.c_long,              # scratch, scap
        ctypes.POINTER(ctypes.c_long),               # scratch_len out
    ]
    lib.pdfs_tokenize.restype = ctypes.c_long
    lib.pdfs_tokenize.argtypes = [
        ctypes.c_char_p, ctypes.c_long,              # data, n
        ctypes.c_void_p, ctypes.c_long,              # blob, bcap
        ctypes.POINTER(ctypes.c_long),               # blen out
        ctypes.c_void_p,                             # offs int64[icap]
        ctypes.c_void_p, ctypes.c_void_p,            # ys, scales
        ctypes.c_long,                               # icap
        ctypes.c_double,                             # -TJ_SPACE_THRESHOLD
    ]
    return lib


if os.environ.get("PDF_PARSE_DISABLE_CTEXT", "") != "1":
    try:
        _lib = _build()
        AVAILABLE = True
    except Exception:
        AVAILABLE = False


class PreprocessorEngaged(Exception):
    """The C lexer hit a stream where pdf.js's EvaluatorPreprocessor
    machinery engages (operand over/underflow stash, the 34-operand
    FormatError — pdf.worker.js:38608-38672): the event stream cannot
    be built by the exact-count fast path, so the caller re-runs the
    stream through the Python interpreter, which implements the full
    stash semantics."""


def interpret(data: bytes, lm_seed: tuple | None = None) -> np.ndarray:
    """Run the C lexer/state machine; returns the event record array.
    ``lm_seed`` carries a Form XObject's cloned line-matrix e/f (pdf.js
    clones textLineMatrix separately from textMatrix; the synthetic Tm
    prelude can only set both) — one-shot, consumed by the stream's
    first Td/TD/T*/'/" before any full Tm/BT.

    Raises :class:`PreprocessorEngaged` when the stream needs pdf.js's
    nonProcessedArgs stash (malformed operand counts)."""
    seed_ptr = None
    if lm_seed is not None:
        seed_arr = np.array(
            [float(lm_seed[0]), float(lm_seed[1])], np.float64
        )
        seed_ptr = seed_arr.ctypes.data
    cap = max(256, len(data) // 2 + 64)
    while True:
        buf = np.empty(cap, dtype=EV_DTYPE)
        n = _lib.pdftext_interpret(
            data, len(data), buf.ctypes.data, cap, seed_ptr
        )
        if n >= 0:
            return buf[:n]
        if n == -2:
            raise PreprocessorEngaged()
        cap *= 2


def replay(
    data: bytes,
    ev: np.ndarray,
    start: int,
    font_idx: np.ndarray,
    tbytes: bytes,
    toff: np.ndarray,
    widths: np.ndarray,
    state: np.ndarray,
    out: np.ndarray,
    scratch: bytes = b"",
    qstate: np.ndarray | None = None,
    cats: np.ndarray | None = None,
) -> tuple[int, int]:
    """One replay segment. Returns (next_event_index, out_len); the index
    is len(ev) when the stream is done, the K_XOBJ event index when the
    caller must recurse, or -1 when ``out`` was too small (state and
    qstate are untouched — grow and retry). ``qstate`` is the q/Q
    TextState stack (float64[1 + 64*12], [0] = depth), round-tripped
    across segments like ``state``."""
    if qstate is None:
        qstate = np.zeros(1 + 64 * 12, np.float64)
    if cats is None:
        # glyph categories per font slot (0 normal, 2 = Cf/invisible);
        # sized for the widths table passed in
        cats = np.zeros(len(widths) // 256 * 256 or 256, np.uint8)
    out_len = ctypes.c_long(0)
    ret = _lib.pdftext_replay(
        data, len(data),
        ev.ctypes.data, len(ev), start,
        font_idx.ctypes.data,
        tbytes, toff.ctypes.data, widths.ctypes.data,
        state.ctypes.data,
        out.ctypes.data, len(out),
        ctypes.byref(out_len),
        scratch,
        qstate.ctypes.data,
        cats.ctypes.data,
    )
    return int(ret), out_len.value


def coalesce_tj(data: bytes, ev: np.ndarray):
    """C twin of ``_TextInterp._coalesce_tj_events`` — returns the
    rewritten ``(events, scratch_blob)`` or None when the C pass bails
    (scratch overflow; cannot happen at cap >= len(data), kept as a
    defensive fallback trigger). The Python implementation in pdfb.py
    stays the reference; (events, scratch) identity is pinned in
    test_ctext.py."""
    out = np.empty(max(1, len(ev)), dtype=EV_DTYPE)
    scratch = np.empty(len(data) + 16, np.uint8)
    slen = ctypes.c_long(0)
    cnt = _lib.pdftext_coalesce_tj(
        data, len(data), ev.ctypes.data, len(ev),
        out.ctypes.data, scratch.ctypes.data, len(scratch),
        ctypes.byref(slen),
    )
    if cnt < 0:
        return None
    return out[:cnt], scratch[: slen.value].tobytes()


# reused scratch for pdfs_tokenize (grow-on-demand): Spark Python
# workers are single-threaded processes, and the caller consumes the
# returned VIEWS before its next call (documented contract below)
_TK_BLOB = np.empty(1 << 16, np.uint8)
_TK_OFFS = np.empty(1 << 12, np.int64)
_TK_YS = np.empty(1 << 12, np.float64)
_TK_SC = np.empty(1 << 12, np.float64)


def pdfs_tokenize(data: bytes, neg_thresh: float):
    """C twin of the synthetic-dialect clause tokenizer
    (``pdfk._tokenize``). Returns ``(blob_bytes, end_offsets, ys,
    scales)`` — the caller slices/decodes items and applies bidi — or
    None when the C scan bails (non-ASCII at operator level, a
    malformed TJ array, or a capacity miss): the Python tokenizer is
    the reference and the fallback; item-level identity is pinned in
    test_kernels.py.

    The three numeric returns are VIEWS into module-level scratch —
    valid only until the next call (the sole caller copies them out
    immediately)."""
    global _TK_BLOB, _TK_OFFS, _TK_YS, _TK_SC
    n = len(data)
    if n + 16 > len(_TK_BLOB):
        _TK_BLOB = np.empty(n + 16, np.uint8)
    icap = n // 4 + 8
    if icap > len(_TK_OFFS):
        _TK_OFFS = np.empty(icap, np.int64)
        _TK_YS = np.empty(icap, np.float64)
        _TK_SC = np.empty(icap, np.float64)
    blen = ctypes.c_long(0)
    ret = _lib.pdfs_tokenize(
        data, n, _TK_BLOB.ctypes.data, len(_TK_BLOB), ctypes.byref(blen),
        _TK_OFFS.ctypes.data, _TK_YS.ctypes.data, _TK_SC.ctypes.data,
        len(_TK_OFFS),
        ctypes.c_double(neg_thresh),
    )
    if ret < 0:
        return None
    return (
        _TK_BLOB[: blen.value].tobytes(),
        _TK_OFFS[:ret],
        _TK_YS[:ret],
        _TK_SC[:ret],
    )
