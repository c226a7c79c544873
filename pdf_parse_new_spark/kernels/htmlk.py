"""HTML boilerplate-strip kernel (north-rule axis B), one document at a time.

``extract_one`` collects the leaf ``<p>``/``<div>``/... blocks of a payload
(recursing into containers), cleans each (tag strip, entity unescape,
whitespace collapse) and keeps it by visible-text length, tag density and
link-text ratio.

Spec (spec.py): keep a paragraph iff ``len(text) >= HTML_MIN_TEXT_LEN``,
``count("<") <= HTML_MAX_TAG_DENSITY * words`` and
``link_len <= HTML_MAX_LINK_RATIO * max(1, len(text))``; kept texts join with
"\\n"; NFKC at the end.
"""

from __future__ import annotations

import re
import unicodedata

from pdf_parse_new_spark import spec

_BLOCK = re.compile(r"<(p|div|article|li|section|main|blockquote)\b[^>]*>(.*?)</\1>", re.S | re.I)
_LINK = re.compile(r"<a\b[^>]*>(.*?)</a>", re.S | re.I)
_TAG_ONLY = re.compile(r"<[^>]+>")
_ENT_ONLY = re.compile(r"&(?:[a-zA-Z]+|#\d{1,7}|#[xX][0-9A-Fa-f]{1,6});")
_WS_RUN = re.compile(r"\s+")


def _entity_sub(m: re.Match) -> str:
    tok = m.group(0)
    known = spec.HTML_ENTITIES.get(tok)
    if known is not None:
        return known
    if tok[1] == "#":
        cp = int(tok[3:-1], 16) if tok[2] in "xX" else int(tok[2:-1])
        # WHATWG charref rules (html.unescape parity): NUL, out-of-range and
        # surrogate codepoints decode to U+FFFD — a lone surrogate would be
        # un-UTF-8-encodable and fail the Arrow task
        if cp == 0 or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            return "�"
        return chr(cp)
    return tok  # unknown named entity: keep literal


def _clean_one(s: str) -> str:
    # tags first via a PLAIN C-level replace (97% of matches — no
    # per-match Python), then the entity callback over the few "&...;"
    # tokens. A tag becomes a space (never empty), so removals cannot
    # splice new entities together, and entities decode AFTER tag
    # stripping, so a decoded "<" (&lt;) is never re-stripped. The "&"
    # gate skips the callable-replacement pass for the (majority)
    # entity-free blocks.
    t = _TAG_ONLY.sub(" ", s)
    if "&" in t:
        t = _ENT_ONLY.sub(_entity_sub, t)
    return _WS_RUN.sub(" ", t).strip()


def _collect_blocks(raw: str, base: int, out: list, depth: int = 0) -> None:
    """Leaf candidate blocks, recursing into containers (oracle
    _candidate_blocks twin — same depth cap and same-tag-nesting caveat)."""
    for m in _BLOCK.finditer(raw):
        inner = m.group(2)
        tag0 = m.group(1)[0]
        # p/li are always leaves in this dialect; the rest
        # (div/article/section/main/blockquote) may contain nested blocks
        if depth < 4 and (tag0 not in "pPlL") and _BLOCK.search(inner):
            _collect_blocks(inner, base + m.start(2), out, depth + 1)
        else:
            out.append(
                (base + m.start(), base + m.end(), m.group(1).lower(), inner)
            )


def _link_len(inner: str) -> int:
    # "<a" gate: most blocks carry no anchors at all — findall over
    # every block was ~15% of the kernel
    if "<a" not in inner and "<A" not in inner:
        return 0
    joined = "".join(_LINK.findall(inner))
    return len(_TAG_ONLY.sub("", joined).strip())


def extract_one(raw: str) -> tuple:
    """One HTML payload -> its ``kernels.OUT_COLS`` values."""
    blocks: list = []
    _collect_blocks(raw, 0, blocks)
    kept: list[str] = []
    spans: list[dict] = []
    for start, end, tag, inner in blocks:
        text = _clean_one(inner)
        tlen = len(text)
        # cheapest test first; the word count is len(text.split(" ")),
        # which equals text.count(" ") + 1 without building the list
        if (
            tlen >= spec.HTML_MIN_TEXT_LEN
            and inner.count("<") <= spec.HTML_MAX_TAG_DENSITY * (text.count(" ") + 1)
            and _link_len(inner) <= spec.HTML_MAX_LINK_RATIO * max(1, tlen)
        ):
            kept.append(text)
            spans.append({"start": start, "end": end, "kind": tag})
    text = unicodedata.normalize("NFKC", "\n".join(kept))
    return spec.FAM_HTML, text, spans, None, 1, None
