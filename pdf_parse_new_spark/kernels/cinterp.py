"""ctypes loader for the C content-stream lexer (``_ctext.c``).

The C source ships with the package; :func:`cbuild.build` compiles it
once per machine into a content-hash-keyed shared object, loaded here via
ctypes. When no compiler is available ``AVAILABLE`` is False and every
page runs through the Python tier, ``kernels/jsvm.py``.
"""

from __future__ import annotations

import ctypes
import os

import numpy as np

from pdf_parse_new_spark.kernels import cbuild

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
K_TJSTART, K_TJSTR, K_TJNUM, K_TJEND, K_XOBJ = 5, 6, 7, 8, 9
# K_CM = 11 is consumed C-side only
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


def _load() -> ctypes.CDLL:
    lib = ctypes.CDLL(cbuild.build(_SRC, "ctext"))
    lib.pdftext_interpret.restype = ctypes.c_long
    lib.pdftext_interpret.argtypes = [
        ctypes.c_char_p, ctypes.c_long, ctypes.c_void_p, ctypes.c_long,
        ctypes.c_void_p,  # lmseed: NULL or double[2] (cloned lm e/f)
        ctypes.c_void_p, ctypes.c_long,  # TJ scratch blob, its capacity
        ctypes.POINTER(ctypes.c_long),   # scratch_len out
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


try:
    _lib = _load()
    AVAILABLE = True
except Exception:
    AVAILABLE = False


class PreprocessorEngaged(Exception):
    """The C lexer hit a stream it cannot turn into events: pdf.js's
    EvaluatorPreprocessor machinery engages (operand over/underflow
    stash, the 34-operand FormatError — pdf.worker.js:38608-38672), or
    the text x CTM matrix picks up rotation, skew or a mirror (a
    rotated/skewed Tm or cm, a negative Tz) that the flattened
    translate+scale events cannot carry. The caller re-runs the page
    through kernels/jsvm.py, which implements the full stash semantics
    and the full-matrix compare."""


def interpret(
    data: bytes, lm_seed: tuple | None = None
) -> tuple[np.ndarray, bytes]:
    """Run the C lexer/state machine; returns ``(events, scratch)``:
    the event record array :func:`replay` consumes and the blob its
    flag-3 K_TJSTR rows (a TJ array's joined strings) index into.
    ``lm_seed`` carries a Form XObject's cloned line-matrix e/f (pdf.js
    clones textLineMatrix separately from textMatrix; the synthetic Tm
    prelude can only set both) — one-shot, consumed by the stream's
    first Td/TD/T*/'/" before any full Tm/BT.

    Raises :class:`PreprocessorEngaged` when the page must run through
    jsvm instead."""
    seed_ptr = None
    if lm_seed is not None:
        seed_arr = np.array(
            [float(lm_seed[0]), float(lm_seed[1])], np.float64
        )
        seed_ptr = seed_arr.ctypes.data
    cap = max(256, len(data) // 2 + 64)
    # a decode never grows its source span, so the joined strings fit
    scratch = np.empty(len(data) + 16, np.uint8)
    slen = ctypes.c_long(0)
    while True:
        buf = np.empty(cap, dtype=EV_DTYPE)
        n = _lib.pdftext_interpret(
            data, len(data), buf.ctypes.data, cap, seed_ptr,
            scratch.ctypes.data, len(scratch), ctypes.byref(slen),
        )
        if n >= 0:
            return buf[:n], scratch[: slen.value].tobytes()
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
