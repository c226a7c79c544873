"""Transcript extraction kernels — pure Python per payload, no Spark imports.

``extract_batch`` is the batch body run inside ``mapInPandas`` (Arrow
transfer, one call per record batch). It sends each payload once to
``extract_one``, which picks the family and runs that family's
per-document function. Each implements the ``spec.py`` contract that
``oracle.py`` also implements, as an independent code path:

- plain text: CRLF -> LF and NFKC (reference bundled pdf.js
  ``normalizeUnicode``, pdf.worker.js:5303-5309), one whole-payload span;
- HTML: ``htmlk.extract_one`` (boilerplate strip);
- PDF: ``pdfk.parse_one`` (structural slicing with regex + zlib, content
  streams tokenized in C).
"""

from __future__ import annotations

import unicodedata

import pandas as pd

from pdf_parse_new_spark import spec
from pdf_parse_new_spark.kernels import htmlk, pdfk

OUT_COLS = ["family", "extracted_text", "spans", "error", "n_pages", "info"]


def extract_one(raw: str) -> tuple:
    """One payload -> its OUT_COLS values."""
    if "\x00" in raw:
        return spec.FAM_CORRUPT, "", [], spec.ERR_BINARY, 0, None
    if raw.startswith("%PDF-"):
        return (spec.FAM_PDF, *pdfk.parse_one(raw))
    if raw.lstrip()[:16].lower().startswith(("<!doctype", "<html")):
        return htmlk.extract_one(raw)
    text = unicodedata.normalize("NFKC", raw.replace("\r\n", "\n"))
    span = {"start": 0, "end": len(raw), "kind": "text"}
    return spec.FAM_PLAIN, text, [span], None, 1, None


def extract_batch(texts: pd.Series) -> pd.DataFrame:
    """A batch of raw payloads (NULL reads as "") -> a frame aligned to
    ``texts.index`` with columns OUT_COLS."""
    out = pd.DataFrame(
        [extract_one(raw) for raw in texts.fillna("")],
        index=texts.index, columns=OUT_COLS, dtype=object,
    )
    out["n_pages"] = out["n_pages"].astype("int32")
    return out
