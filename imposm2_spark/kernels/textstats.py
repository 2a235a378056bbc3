"""Vectorized NumPy twin of the quality/lang/token-count expression chain.

r6 optimization (guide §4.2: hand whole Arrow batches to vectorized native
code instead of interpreted expression trees). The scoring scan in
plans/curate.py and plans/registry::text_stats_family evaluates, per row,
~8 references to the `\\s+` tokenizer plus four interpreted stopword
filters and two regexp_replace passes — the dominant cost of the curate
headline. Everything the scan derives reduces to INTEGER counts over the
codepoint stream; this kernel computes exactly those integers and leaves
every float division, weighted blend, 6dp rounding and the lang argmax to
the SAME Spark expressions as before (the repetition_metrics discipline:
no float crosses the Arrow boundary, so bit parity is by construction).

Pinned semantics (differential-tested in tests/test_textstats.py against
the Catalyst chain on adversarial inputs):

  * ws_tokens: Spark's F.trim strips ASCII space (0x20) only, at both
    ends (not Java trim(), which strips every codepoint <= U+0020); the
    `\\s+` split separates on exactly {space, \\t, \\n, \\x0B, \\f, \\r}
    (Java \\s is ASCII-only) and keeps a leading/trailing empty token when
    the trimmed text starts/ends with one of the other five (see doc_stats).
    Control chars inside the trimmed span that are not one of those six
    stay INSIDE tokens.
  * NULL text: any non-str value is a NULL row.
  * the batch kernel reads units, one per codepoint (texthash.text_units):
    the UTF-8 bytes of an all-ASCII batch, else the UTF-32 decode. Every
    class test, stopword pack and fingerprint term reads a unit's value,
    which is the codepoint either way.
  * stopword membership compares lower(token) against pure-ASCII stopword
    sets. ASCII-only lowering (A-Z -> a-z) is exact for that comparison:
    the only non-ASCII codepoint Java/Python lowercase into ASCII is the
    Kelvin sign (U+212A -> 'k'), and no stopword contains 'k', so a token
    with any non-ASCII codepoint can never match either way.
  * alpha = [A-Za-z], digit = [0-9], punct = anything else that is not one
    of the six \\s chars (the ASCII caveat documented in
    functions/text_analysis.py applies to both engines equally).
  * n_bpe = count of [A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s] matches = alpha runs
    + digit runs + punct chars (the alternation is disjoint by class).
  * fp = rolling 31-polynomial over ALL codepoints mod CHAR_MOD
    (functions.text_analysis.char_hash; empty text -> 0 because Spark
    folds over [ascii('')] == [0]).
"""

from __future__ import annotations

import numpy as np

from .texthash import _MAX_FAST_TOKEN as _MAX_FAST
from .texthash import _POW31, CHAR_MOD, text_units

# tiny built-in stopword sets for the n-gram/stopword language heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "that", "for", "it"),
    "de": ("der", "die", "und", "das", "ist", "von", "zu", "mit", "den", "ein"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est", "du", "que"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un", "una", "es"),
}
LANG_ORDER = ("en", "de", "fr", "es")  # deterministic argmax tiebreak

_POW31_CHUNK = int(pow(31, _MAX_FAST, CHAR_MOD))  # 31^4096 mod P


def _pack_word(w: str) -> int:
    """7-bit-per-char packing of an ASCII word of length <= 4 (left-aligned,
    zero-padded) — the comparable form _token_packs produces."""
    v = 0
    for j in range(4):
        v = (v << 7) | (ord(w[j]) if j < len(w) else 0)
    return v


_STOP_PACKED = {
    lang: np.asarray(sorted(_pack_word(w) for w in LANG_STOPWORDS[lang]),
                     dtype=np.int64)
    for lang in LANG_ORDER
}
assert all(len(w) <= 4 and w.isascii() for ws in LANG_STOPWORDS.values() for w in ws)

STAT_COLS = (
    "n_chars", "n_tokens", "alpha_chars", "punct_chars",
    "h_en", "h_de", "h_fr", "h_es", "n_ws", "n_bpe", "fp",
)


# unit class codes (ASCII; every unit >= 128 is punct): the six \s chars
# split into space and the five others, which alone can open or close a
# trimmed text with an empty token
_PUNCT, _ALPHA, _DIGIT, _SPACE, _WS5 = range(5)
_CLASS = np.full(256, _PUNCT, dtype=np.uint8)
_CLASS[ord("A"):ord("Z") + 1] = _CLASS[ord("a"):ord("z") + 1] = _ALPHA
_CLASS[ord("0"):ord("9") + 1] = _DIGIT
_CLASS[9:14] = _WS5
_CLASS[32] = _SPACE

# every stopword's pack, ascending, with a bit per language that holds it
_STOP_KEYS = np.unique(np.concatenate(list(_STOP_PACKED.values())))
_STOP_BITS = sum(np.isin(_STOP_KEYS, _STOP_PACKED[lang]).astype(np.int64) << li
                 for li, lang in enumerate(LANG_ORDER))


def batch_stats(texts) -> tuple[np.ndarray, dict]:
    """STAT_COLS of a whole batch (anything texthash.text_units takes: an
    Arrow string array, a list holding None / NaN for NULL, or Units) in
    one set of NumPy passes over its unit stream — one classification, then
    per-document reductions (np.add.reduceat over the non-empty documents).
    Returns (null_mask, {col: int64 array}) where rows with null_mask keep
    garbage values (callers mask to NULL). Semantics identical to doc_stats
    (differential-tested)."""
    units, bounds, valid = text_units(texts)
    nd = len(bounds) - 1
    out = {c: np.zeros(nd, dtype=np.int64) for c in STAT_COLS}
    lens = np.diff(bounds)
    ne = np.flatnonzero(lens > 0)
    if not len(ne):
        return ~valid, out
    seg = bounds[ne]  # the non-empty documents tile the stream from here
    last = bounds[ne + 1] - 1

    def seg_sum(mask):
        return np.add.reduceat(mask, seg, dtype=np.int64)

    def run_starts(mask):
        # a run opens where the class starts, or at a document's first unit
        rs = mask.copy()
        rs[1:] &= ~mask[:-1]
        rs[seg] = mask[seg]
        return rs

    cls = _CLASS[units if units.dtype == np.uint8 else np.minimum(units, 255)]
    alpha, digit = cls == _ALPHA, cls == _DIGIT
    tok = cls < _SPACE
    n_alpha, n_digit = seg_sum(alpha), seg_sum(digit)
    n_punct = lens[ne] - n_alpha - n_digit - seg_sum(~tok)
    n_bpe = seg_sum(run_starts(alpha)) + seg_sum(run_starts(digit)) + n_punct

    # ws tokens (see doc_stats for the trim/empty-token semantics): the
    # count of non-ws6 runs is trim-invariant, so only the lead/trail empty
    # tokens need the trim bounds — the first/last NON-SPACE unit per doc,
    # which is the first/last unit unless that one is a space
    rs_tok = run_starts(tok)
    first_ns, last_ns = seg.copy(), last.copy()
    has_ns = np.ones(len(ne), dtype=bool)
    padded = np.flatnonzero((cls[seg] == _SPACE) | (cls[last] == _SPACE))
    if len(padded):
        ns = np.flatnonzero(cls != _SPACE)
        lo = np.searchsorted(ns, seg[padded])
        hi = np.searchsorted(ns, last[padded], "right")
        has_ns[padded] = hi > lo
        some = padded[hi > lo]
        first_ns[some] = ns[lo[hi > lo]]
        last_ns[some] = ns[hi[hi > lo] - 1]
    edges = (cls[first_ns] == _WS5).astype(np.int64) + (cls[last_ns] == _WS5)
    n_tokens = np.where(has_ns, seg_sum(rs_tok) + edges, 0)

    # stopword hits: candidate tokens are ASCII-only, length <= 4.
    # Token ends: a token unit whose next unit is non-token or opens a doc.
    tok_end = tok.copy()
    tok_end[:-1] &= ~tok[1:]
    tok_end[last] = tok[last]
    t_starts = np.flatnonzero(rs_tok)
    t_lens = np.flatnonzero(tok_end) + 1 - t_starts
    cand = np.flatnonzero(t_lens <= 4)
    if len(cand):
        s4 = t_starts[cand]
        l4 = t_lens[cand]
        packs = np.zeros(len(cand), dtype=np.int64)
        ok = np.ones(len(cand), dtype=bool)
        for j in range(4):
            c = np.where(l4 > j, units[np.minimum(s4 + j, len(units) - 1)], 0).astype(np.int64)
            ok &= c < 128
            c += 32 * ((c >= 65) & (c <= 90))  # ASCII lower
            packs = (packs << 7) | c
        at = np.minimum(np.searchsorted(_STOP_KEYS, packs), len(_STOP_KEYS) - 1)
        bits = np.where(ok & (_STOP_KEYS[at] == packs), _STOP_BITS[at], 0)
        doc_of = np.searchsorted(bounds, s4, side="right") - 1
        for li, lang in enumerate(LANG_ORDER):
            out[f"h_{lang}"] = np.bincount(doc_of[(bits >> li) & 1 > 0], minlength=nd)

    # fingerprint: per-doc Horner via positional powers + one reduceat over
    # nonempty docs (partial sums bounded: len <= _MAX_FAST units fast path)
    exp = np.repeat(bounds[1:] - 1, lens)
    exp -= np.arange(len(units))
    np.minimum(exp, _MAX_FAST - 1, out=exp)
    contrib = _POW31[exp]
    contrib *= units
    slow = np.flatnonzero(lens[ne] > _MAX_FAST)
    for k in slow:  # oversized docs: masked here, exact chunked fold below
        contrib[seg[k] : last[k] + 1] = 0
    fp = np.add.reduceat(contrib, seg) % CHAR_MOD
    for k in slow:
        fp[k] = _fold_chunked(units[seg[k] : last[k] + 1].astype(np.int64))

    out["n_chars"] = lens.astype(np.int64)
    for col, v in (("n_tokens", n_tokens), ("alpha_chars", n_alpha), ("punct_chars", n_punct),
                   ("n_ws", n_tokens), ("n_bpe", n_bpe), ("fp", fp)):
        out[col][ne] = v
    return ~valid, out


def _fold_chunked(cps: np.ndarray) -> int:
    """Rolling 31-polynomial of int64 codepoints mod CHAR_MOD, in chunks of
    _MAX_FAST so the int64 partial sums stay bounded."""
    h = 0
    for st in range(0, len(cps), _MAX_FAST):
        chunk = cps[st:st + _MAX_FAST]
        m = len(chunk)
        csum = int((chunk * _POW31[m - 1::-1]).sum() % CHAR_MOD)
        h = (h * (_POW31_CHUNK if m == _MAX_FAST else int(_POW31[m])) + csum) % CHAR_MOD
    return h


def doc_stats(text: str | None) -> tuple | None:
    """Integer feature tuple for ONE document, ordered as STAT_COLS
    (n_ws == n_tokens, kept as a distinct column so consumers mirror the
    expression chain's independent token_count_ws reference). None -> None
    (the Catalyst chain yields NULL for every derived column)."""
    if text is None:
        return None
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = len(cps)
    if n == 0:
        # ws_tokens guards empty-after-trim text to an EMPTY array (unlike
        # the raw single-space split in kernels/texthash.py)
        return (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    alpha = ((cps >= 65) & (cps <= 90)) | ((cps >= 97) & (cps <= 122))
    digit = (cps >= 48) & (cps <= 57)
    ws6 = (cps == 32) | ((cps >= 9) & (cps <= 13))
    n_alpha = int(alpha.sum())
    n_digit = int(digit.sum())
    n_ws6 = int(ws6.sum())
    n_punct = n - n_alpha - n_digit - n_ws6
    # BPE-ish token count: runs of alpha + runs of digit + punct chars
    pad_a = np.empty(n + 1, dtype=bool)
    pad_a[0] = False
    pad_a[1:] = alpha
    runs_a = int((pad_a[1:] & ~pad_a[:-1]).sum())
    pad_a[1:] = digit
    runs_d = int((pad_a[1:] & ~pad_a[:-1]).sum())
    n_bpe = runs_a + runs_d + n_punct
    # fingerprint: Horner fold over all codepoints mod P, chunked so the
    # int64 partial sums stay bounded (see kernels/texthash.py overflow note)
    fp = _fold_chunked(cps)
    # ws tokens of the TRIMMED text. Spark's trim() strips ASCII SPACE
    # (0x20) ONLY — not the other \s chars — and Java split with limit -1
    # keeps a leading/trailing EMPTY token when the trimmed string starts/
    # ends with one of the remaining five \s chars ("\ta".split -> ["","a"]).
    # Empty tokens count into n_tokens but can never match a stopword.
    nsp = np.flatnonzero(cps != 32)
    if len(nsp) == 0:
        # all spaces (or empty): length(trim(text)) == 0 -> empty token array
        return (n, 0, n_alpha, n_punct, 0, 0, 0, 0, 0, n_bpe, fp)
    lo, hi = int(nsp[0]), int(nsp[-1]) + 1
    seg = ~ws6[lo:hi]  # token chars within the trimmed span
    padded = np.empty(len(seg) + 2, dtype=bool)
    padded[0] = padded[-1] = False
    padded[1:-1] = seg
    starts = np.flatnonzero(padded[1:-1] & ~padded[:-2])
    ends = np.flatnonzero(padded[1:-1] & ~padded[2:]) + 1
    n_tokens = len(starts) + int(not seg[0]) + int(not seg[-1])
    lens = ends - starts
    # stopword hits: only tokens of length <= 4 whose chars are all ASCII
    # can match (see module docstring)
    cand = np.flatnonzero(lens <= 4)
    hits = [0, 0, 0, 0]
    if len(cand):
        tcps = cps[lo:hi]
        s4 = starts[cand]
        l4 = lens[cand]
        packs = np.zeros(len(cand), dtype=np.int64)
        ok = np.ones(len(cand), dtype=bool)
        for j in range(4):
            have = l4 > j
            c = np.where(have, tcps[np.minimum(s4 + j, len(tcps) - 1)], 0)
            c = np.where(have, c, 0)
            ok &= c < 128
            # ASCII lower
            c = c + 32 * ((c >= 65) & (c <= 90))
            packs = (packs << 7) | c
        packs = packs[ok]
        if len(packs):
            for li, lang in enumerate(LANG_ORDER):
                hits[li] = int(np.isin(packs, _STOP_PACKED[lang]).sum())
    return (n, n_tokens, n_alpha, n_punct,
            hits[0], hits[1], hits[2], hits[3], n_tokens, n_bpe, fp)
