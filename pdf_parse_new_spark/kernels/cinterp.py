"""ctypes loader for the C content-stream lexer (``_ctext.c``).

The C source ships with the package; :func:`cbuild.build` compiles it
once per machine into a content-hash-keyed shared object, loaded here via
ctypes. When no compiler is available ``AVAILABLE`` is False and every
binary-PDF page runs through the Python tier, ``kernels/jsvm.py``; the
synthetic dialect has no Python tokenizer, so :func:`pdfs_tokenize` then
raises with the build failure.
"""

from __future__ import annotations

import ctypes

import numpy as np

from pdf_parse_new_spark.kernels import cbuild

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
_BUILD_ERROR: Exception | None = None
AVAILABLE = False


def _load() -> ctypes.CDLL:
    lib = ctypes.CDLL(cbuild.build("_ctext.c", "ctext"))
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
        ctypes.c_void_p,                             # offs int64[icap]
        ctypes.c_void_p, ctypes.c_void_p,            # ys, scales
        ctypes.c_long,                               # icap
        ctypes.c_void_p,                             # memo int64[n + 1]
        ctypes.c_double,                             # -TJ_SPACE_THRESHOLD
        ctypes.POINTER(ctypes.c_long),               # blen out
    ]
    return lib


try:
    _lib = _load()
    AVAILABLE = True
except Exception as exc:
    _BUILD_ERROR = exc


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
    the event record array :class:`Replay` consumes and the blob its
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
    sargs = (scratch.ctypes.data, len(scratch), ctypes.byref(slen))
    while True:
        buf = np.empty(cap, dtype=EV_DTYPE)
        n = _lib.pdftext_interpret(
            data, len(data), buf.ctypes.data, cap, seed_ptr, *sargs
        )
        if n >= 0:
            return buf[:n], scratch[: slen.value].tobytes()
        if n == -2:
            raise PreprocessorEngaged()
        cap *= 2


class Tables:
    """A replay plan's font tables: the concatenated UTF-8 translate
    blob ``tbytes`` and, per font slot, offsets int32[257], widths
    float64[256] and glyph categories uint8[256] (0 normal, 2 = Cf,
    3 = zero-width non-space). Addresses are read here, once per plan:
    each ``ndarray.ctypes.data`` read costs microseconds."""

    __slots__ = ("arrays", "args", "cats")

    def __init__(self, tbytes: bytes, toff: np.ndarray, widths: np.ndarray,
                 cats: np.ndarray) -> None:
        self.arrays = (toff, widths, cats)  # alive as long as the addresses
        self.args = (tbytes, toff.ctypes.data, widths.ctypes.data)
        self.cats = cats.ctypes.data


class Replay:
    """``pdftext_replay`` over one stream's events, one segment per
    :meth:`segment` call. Each array's address is read once per stream;
    only ``out`` is read again, when it grows. ``state`` is the page's
    state vector (double[32]); the q/Q TextState stack
    (float64[1 + 64*12], [0] = depth) is the stream's own and carries
    across its segments like ``state``."""

    __slots__ = ("_keep", "_olen", "_head", "_mid", "_tail", "_out", "_oargs")

    def __init__(self, data: bytes, ev: np.ndarray, font_idx: np.ndarray,
                 tables: Tables, state: np.ndarray,
                 scratch: bytes = b"") -> None:
        qstate = np.zeros(1 + 64 * 12, np.float64)
        self._keep = (ev, font_idx, tables, state, qstate)
        self._olen = ctypes.c_long(0)
        self._head = (data, len(data), ev.ctypes.data, len(ev))
        self._mid = (font_idx.ctypes.data, *tables.args, state.ctypes.data)
        self._tail = (ctypes.byref(self._olen), scratch, qstate.ctypes.data,
                      tables.cats)
        self._grow(max(1024, 4 * len(data)))

    def _grow(self, cap: int) -> None:
        self._out = np.empty(cap, np.uint8)
        self._oargs = (self._out.ctypes.data, cap)

    def segment(self, start: int) -> tuple[int, bytes]:
        """Replay from event ``start``. Returns ``(next, text)``: ``next``
        is len(ev) when the stream is done, the K_XOBJ event index when
        the caller must recurse, or -3 when a width-register-sensitive
        construct needs the page to run through jsvm; ``text`` is the
        segment's UTF-8 output."""
        while True:
            ret = _lib.pdftext_replay(
                *self._head, start, *self._mid, *self._oargs, *self._tail
            )
            if ret != -1:
                return ret, self._out[: self._olen.value].tobytes()
            # out was too small; state and qstate are untouched
            self._grow(2 * len(self._out))


# reused scratch for pdfs_tokenize, grown on demand: Spark Python
# workers are single-threaded processes, and the caller consumes the
# returned VIEWS before its next call (documented contract below).
# (input bytes it fits, arrays, their addresses and capacities)
_TK: tuple = (-1, (), ())


def pdfs_tokenize(data: bytes, neg_thresh: float):
    """The synthetic-dialect tokenizer behind ``pdfk._tokenize``: one
    linear scan that finds the clauses Python's ``re`` would find for
    the grammar in the ``_ctext.c`` header. Returns ``(blob_bytes,
    end_offsets, ys, scales)``; the caller slices/decodes items and
    applies bidi. Raises RuntimeError naming the build failure when
    ``_ctext.c`` did not compile; ``AVAILABLE``, pdfb's jsvm-only
    switch, does not apply here.

    The three numeric returns are VIEWS into module-level scratch —
    valid only until the next call (the sole caller copies them out
    immediately)."""
    global _TK
    if _lib is None:
        raise RuntimeError(
            "pdfstream extraction needs the compiled kernels/_ctext.c, "
            f"which failed to build: {_BUILD_ERROR!r}"
        ) from _BUILD_ERROR
    n = len(data)
    if n > _TK[0]:
        # the capacities _ctext.c states: blob n, items n/4 + 1, memo n + 1
        cap = max(n, 1 << 16)
        items = cap // 4 + 8
        blob, offs, ys, scales, memo = arrs = (
            np.empty(cap + 16, np.uint8), np.empty(items, np.int64),
            np.empty(items, np.float64), np.empty(items, np.float64),
            np.empty(cap + 16, np.int64),
        )
        _TK = (cap, arrs, (
            blob.ctypes.data, len(blob), offs.ctypes.data, ys.ctypes.data,
            scales.ctypes.data, items, memo.ctypes.data,
        ))
    blob, offs, ys, scales, _ = _TK[1]
    blen = ctypes.c_long(0)
    ret = _lib.pdfs_tokenize(data, n, *_TK[2], neg_thresh, ctypes.byref(blen))
    if ret < 0:
        raise AssertionError("pdfs_tokenize outgrew the capacities it states")
    return blob[: blen.value].tobytes(), offs[:ret], ys[:ret], scales[:ret]
