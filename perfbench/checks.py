"""Output checks. Each returns the keys of the items that failed, so the
caller can add them to ``failed`` against the items it attempted.

Expected values come from outside the code under test: the pure-Python
``oracle`` and the generator's own conversation list for transcripts, and
a direct ``parse_pdf_bytes`` call for PDF files.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterable

from pdf_parse_new_spark import oracle, spec

SPEC_ERRORS = frozenset(
    v for k, v in vars(spec).items() if k.startswith("ERR_")
)


def oracle_turns(rows: Iterable[tuple]) -> dict[tuple[str, int], tuple]:
    """(conv_id, turn_idx) -> (text, error) for ``fixtures.turn_row``
    rows."""
    out = {}
    for cid, t, _role, payload, _tool, _ts in rows:
        ex = oracle.extract(payload)
        out[(cid, t)] = (ex.text, ex.error)
    return out


def oracle_convs(turns: dict[tuple[str, int], tuple]) -> dict[str, tuple]:
    """conv_id -> (n_turns, n_extracted, full_text, n_errors), the default
    ``pipeline.Options`` fold (parallel join, all turns)."""
    by_conv: dict[str, list] = {}
    for (cid, t), val in turns.items():
        by_conv.setdefault(cid, []).append((t, val))
    out = {}
    for cid, items in by_conv.items():
        items.sort()
        text, n, kept = oracle.concat_conversation([v[0] for _, v in items])
        out[cid] = (n, kept, text, sum(v[1] is not None for _, v in items))
    return out


def keyed_failures(expected: dict, got: Iterable[tuple]) -> set:
    """``got`` holds (key, value) pairs. The expected keys that are missing
    or differ, plus the keys that were not expected or came twice."""
    seen: dict = {}
    bad = set()
    for key, val in got:
        if key in seen or key not in expected:
            bad.add(key)
            continue
        seen[key] = val
    for key, want in expected.items():
        if seen.get(key, object()) != want:
            bad.add(key)
    return bad


def mismatched(expected: dict, observed: dict) -> list[str]:
    """Names of the expected figures the observation does not match."""
    return [k for k, v in expected.items() if observed.get(k) != v]


def text_digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


LONE_SURROGATE = re.compile("[\ud800-\udfff]")


def pdf_reference(raw: bytes) -> tuple[tuple, bool]:
    """(text digest, n_pages, error) of one direct ``parse_pdf_bytes``
    pass over the whole document, and whether its text is valid UTF-8.

    Lone surrogates are not, and Arrow cannot carry them; the expected
    text has each replaced by U+FFFD, as any UTF-8 output of the text
    would."""
    from pdf_parse_new_spark.kernels import pdfb

    r = pdfb.parse_pdf_bytes(raw)
    text, n_bad = LONE_SURROGATE.subn("\ufffd", r["text"])
    return (text_digest(text), r["n_pages"], r["error"]), n_bad == 0


def pdf_failures(reference: dict[str, tuple], got: Iterable[tuple]) -> set:
    """``got`` holds (name, text, n_pages, error) rows of the operator's
    output; an error code outside ``spec.py`` fails its document too."""
    rows = []
    for name, text, n_pages, error in got:
        if error is not None and error not in SPEC_ERRORS:
            rows.append((name, None))  # never equals a reference value
        else:
            rows.append((name, (text_digest(text or ""), n_pages, error)))
    return keyed_failures(reference, rows)
