"""F-HTML: deterministic HTML -> text extraction (frozen spec v1).

North-rule invariant (BASELINE.json input_hint): byte-identical extracted text
per url. Reference analog: imposm2's parse stage (imposm.parser XML/PBF decode)
— here the "parse" is HTML to text, run over whole Arrow batches
(extract_text_batch) inside plans.pipeline's one enrich crossing.

FROZEN SPEC v1 — do not change without regolding tests/test_textx.py:
  1. Decode input bytes as UTF-8 (errors='replace').
  2. Walk the HTML with html.parser (stdlib, convert_charrefs=True so entities
     and character references decode to text).
  3. Collect all text nodes EXCEPT inside <script> and <style> elements.
     Note html.parser treats script/style as raw-text (CDATA) elements: their
     content ends at the FIRST matching close tag (HTML5 behavior), so a
     literal "<script>" inside script text does not nest.
  4. Join collected chunks with a single ASCII space, then canonicalize
     whitespace: split on any Unicode whitespace run, join with a single
     ASCII space, strip ends.

Properties (tested): deterministic, independent of Arrow batch size and row
order, stable under re-extraction of its own output wrapped in <p>.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

import numpy as np
import pyarrow as pa

from ..kernels.texthash import value_buffer

SPEC_VERSION = 1

_SKIP_ELEMENTS = frozenset({"script", "style"})


class _TextCollector(HTMLParser):
    __slots__ = ("_chunks", "_skip_depth")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_ELEMENTS:
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_ELEMENTS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0:
            self._chunks.append(data)

    def text(self) -> str:
        return " ".join(" ".join(self._chunks).split())


# ---------------------------------------------------------------------------
# Fast path: a regex tokenizer for the common well-formed-page shape, gated so
# anything html.parser treats non-trivially (comments, doctype, processing
# instructions, bare '<', malformed tags) falls back to the reference
# implementation above. Output is byte-identical to the html.parser path on
# every input the gate admits (differential-tested in tests/test_textx_geotag
# against adversarial + randomized documents). html.parser runs ~20k docs/s
# per core — the spine's hottest stage — while this path tokenizes with three
# compiled regexes.
# ---------------------------------------------------------------------------
_RISKY = re.compile(r"<(?![a-zA-Z]|/[a-zA-Z])")  # <!, <?, <3, </>, <<, bare <
# STRICT start-tag grammar: well-formed name + `name[=value]` attributes with
# properly quoted or bare values, optional XHTML self-close. This is a strict
# SUBSET of html.parser's tolerant grammar — on any tag both accept, the
# tolerant machinery finds the same extent, the same tag name, and ends with
# the same '>' / '/>' classification (bare values eat a trailing '/', exactly
# like attrfind_tolerant's `(?!['"])[^>\s]*`). Tags only the tolerant grammar
# accepts (junk attrs, '==', '>' in unquoted values, ...) fail this regex and
# send the whole document to the reference parser.
_TAG_STRICT = re.compile(
    r"""<([a-zA-Z][^\t\n\r\f />\x00]*)"""
    r"""((?:\s+[^\s/>=]+(?:\s*=\s*(?:"[^"]*"|'[^']*'|[^\s>"'`]+))?)*)\s*(/?)>"""
)
# html.parser's own end-tag pattern (anything else -> tolerant path -> fallback)
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# html.parser raw-text close: set_cdata_mode scans for the FULL close tag
# (r'</\s*script\s*>'), so `</script x>` or `</scriptx>` never end raw text —
# they stay (discarded) data and scanning continues.
_CDATA_CLOSE = {
    e: re.compile(r"</\s*%s\s*>" % e, re.IGNORECASE) for e in _SKIP_ELEMENTS
}


def _find_cdata_close(s: str, pos: int, elem: str) -> int | None:
    """Position just past the raw-text close tag (None: unclosed to EOF —
    the rest of the document is raw data, discarded like html.parser does)."""
    m = _CDATA_CLOSE[elem].search(s, pos)
    return m.end() if m else None


def _fast_extract(s: str) -> str | None:
    """Frozen-spec extraction for gate-admitted documents; None = fall back."""
    if _RISKY.search(s):
        return None
    chunks: list[str] = []
    pos = 0
    while True:
        lt = s.find("<", pos)
        if lt == -1:
            chunks.append(s[pos:])
            break
        if lt > pos:
            chunks.append(s[pos:lt])
        if s.startswith("</", lt):
            em = _ENDTAGFIND.match(s, lt)
            if not em:
                return None  # tolerant bogus-end-tag handling: full parser
            pos = em.end()
            continue
        m = _TAG_STRICT.match(s, lt)
        if not m:
            return None  # tolerant-only / malformed tag: full parser
        pos = m.end()
        if m.group(3):  # XHTML self-close: handle_startendtag, no cdata mode
            continue
        name = m.group(1).lower()
        if name in _SKIP_ELEMENTS:
            end = _find_cdata_close(s, pos, name)
            if end is None:
                break  # unclosed raw text: rest of document discarded
            pos = end
    text = " ".join(unescape(c) if "&" in c else c for c in chunks)
    return " ".join(text.split())


def extract_text_bytes(html: bytes | None) -> str | None:
    """Frozen extractor v1 for one document. None stays None."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    fast = _fast_extract(s)
    if fast is not None:
        return fast
    p = _TextCollector()
    p.feed(s)
    p.close()
    return p.text()


# ---------------------------------------------------------------------------
# Whole-batch path: extract_text_bytes of every row of a binary Arrow batch at
# batch cost. The rows that can take it are the ones _fast_extract admits
# whose text is also plain ASCII without NUL, '&' (no unescape) or a
# script/style tag (no raw text): there, extraction is "replace every tag by
# a space, then canonicalize the whitespace", so the batch joins those rows
# with NUL separators, decodes once, strips every tag with one sub of the
# fast path's tag grammar and canonicalizes the whitespace with NumPy. A tag
# match cannot see past its own row without consuming the separator after
# it, so the separator count proves every match stayed inside one row.
# ---------------------------------------------------------------------------
_TAGS = re.compile(f"{_ENDTAGFIND.pattern}|{_TAG_STRICT.pattern}")
# a `<` _RISKY rejects, or a raw-text element's start tag (any case; a longer
# name such as <scripts> is sent to the row path too)
_ROW_TAGS = re.compile(_RISKY.pattern.encode() + rb"|<(?i:script|style)")
# NUL (the separator), '&' and non-ASCII bytes
_ROW_BYTES = np.zeros(256, dtype=bool)
_ROW_BYTES[[0, ord("&"), *range(0x80, 0x100)]] = True
# the characters str.split() splits on below 0x80, mapped to a space
_ASCII_WS = bytes(c for c in range(0x80) if chr(c).isspace())
_WS_TO_SPACE = bytes.maketrans(_ASCII_WS, b" " * len(_ASCII_WS))
_SPACE, _LT = ord(" "), ord("<")


def _strip_joined(data: np.ndarray, lens: np.ndarray) -> tuple[pa.Array, np.ndarray] | None:
    """(texts, has_lt) of the rows data holds back to back (row k has
    lens[k] bytes; ASCII, no NUL): each row's tags replaced by spaces and
    its whitespace canonicalized. has_lt marks rows where a `<` survived (not
    a tag _fast_extract accepts). None when a tag match crossed a row end."""
    m = len(lens)
    starts = np.cumsum(lens)[:-1]
    joined = np.insert(data, starts, 0).tobytes().decode("ascii")
    out = _TAGS.sub(" ", joined).encode("ascii").translate(_WS_TO_SPACE)
    b = np.frombuffer(out, dtype=np.uint8)
    sep = b == 0
    if np.count_nonzero(sep) != m - 1:
        return None
    # drop a space that opens a row or follows a space, then one that ends a row
    gap = b == _SPACE
    after = np.empty_like(gap)
    after[:1] = True
    after[1:] = gap[:-1] | sep[:-1]
    b = b[~(gap & after)]
    gap = b == _SPACE
    before = np.empty_like(gap)
    before[-1:] = True
    before[:-1] = b[1:] == 0
    b = b[~(gap & before)]
    seps = np.flatnonzero(b == 0)
    offsets = np.empty(m + 1, dtype=np.int32)
    offsets[0], offsets[-1] = 0, len(b) - len(seps)
    offsets[1:-1] = seps - np.arange(len(seps))
    texts = pa.Array.from_buffers(
        pa.string(), m, [None, pa.py_buffer(offsets), pa.py_buffer(b[b != 0])]
    )
    lt = np.flatnonzero(b == _LT)
    has_lt = np.zeros(m, dtype=bool)
    has_lt[np.searchsorted(seps, lt)] = True
    return texts, has_lt


def extract_text_batch(html: pa.Array) -> pa.Array:
    """extract_text_bytes of every row of a binary Arrow array, as a string
    array (NULL for NULL), at batch cost: see the whole-batch path above.
    Every other row runs extract_text_bytes, and so does the whole batch
    when a tag crossed a row end."""
    data, bounds, valid = value_buffer(html)
    lens = np.diff(bounds)
    raw = data.tobytes()
    slow = ~valid
    if not raw.isascii() or b"\x00" in raw or b"&" in raw:
        bad = np.flatnonzero(_ROW_BYTES[data])
        slow[np.searchsorted(bounds, bad, side="right") - 1] = True
    tags = [m.start() for m in _ROW_TAGS.finditer(raw)]
    if tags:
        slow[np.searchsorted(bounds, tags, side="right") - 1] = True
    fast = np.flatnonzero(~slow)
    texts = pa.array([], pa.string())
    if len(fast):
        kept = data[np.repeat(~slow, lens)] if len(fast) < len(html) else data
        stripped = _strip_joined(kept, lens[fast])
        if stripped is None:
            fast = fast[:0]
        else:
            texts, has_lt = stripped
            if has_lt.any():
                texts = texts.filter(pa.array(~has_lt))
                fast = fast[~has_lt]
    if len(fast) == len(html):
        return texts
    rest = np.setdiff1d(np.arange(len(html)), fast, assume_unique=True)
    rest_texts = pa.array(
        [extract_text_bytes(h) for h in html.take(pa.array(rest)).to_pylist()], pa.string()
    )
    order = np.argsort(np.concatenate([fast, rest]), kind="stable")
    return pa.concat_arrays([texts, rest_texts]).take(pa.array(order))


def extract_text_bytes_reference(html: bytes | None) -> str | None:
    """The html.parser reference path, unconditionally (differential tests)."""
    if html is None:
        return None
    p = _TextCollector()
    p.feed(html.decode("utf-8", errors="replace"))
    p.close()
    return p.text()
