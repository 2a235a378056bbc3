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
  * NULL text: any non-str value (None, or NaN where pandas surfaces a
    missing string that way) is a NULL row.
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

from ..functions.text_analysis import CHAR_MOD, LANG_ORDER, LANG_STOPWORDS

_MAX_FAST = 4096
_POW31 = np.empty(_MAX_FAST, dtype=np.int64)
_POW31[0] = 1
for _k in range(1, _MAX_FAST):
    _POW31[_k] = (_POW31[_k - 1] * 31) % CHAR_MOD

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


def _seg_sum(mask: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Per-document sums of a 0/1 (or small-int) mask via one cumsum —
    robust to empty documents (reduceat's i==j echo rule never applies)."""
    cs = np.empty(len(mask) + 1, dtype=np.int64)
    cs[0] = 0
    np.cumsum(mask, out=cs[1:])
    return cs[ends] - cs[starts]


def _run_starts(cls: np.ndarray, doc_starts_mask: np.ndarray) -> np.ndarray:
    """Run-start mask for a char-class over the concatenated batch, with
    runs broken at document boundaries."""
    prev = np.empty(len(cls), dtype=bool)
    if len(cls):
        prev[0] = False
        prev[1:] = cls[:-1]
        prev[doc_starts_mask] = False
    return cls & ~prev


def batch_stats(texts) -> tuple[np.ndarray, dict]:
    """Vectorized STAT_COLS for a whole Arrow batch in ONE set of NumPy
    passes over the concatenated codepoint stream (the per-doc form pays
    ~30 small-array allocations per row — measured slower than the HOF
    chain on short docs; this form is one classification + a handful of
    segment reductions per BATCH). Returns (null_mask, {col: int64 array})
    where rows with null_mask keep garbage values (callers mask to NULL).
    Semantics identical to doc_stats (differential-tested)."""
    nulls = np.fromiter((not isinstance(t, str) for t in texts), dtype=bool,
                        count=len(texts))
    idx_nn = np.flatnonzero(~nulls)
    nd = len(texts)
    out = {c: np.zeros(nd, dtype=np.int64) for c in STAT_COLS}
    if len(idx_nn) == 0:
        return nulls, out
    nn_texts = [texts[i] for i in idx_nn]
    joined = "".join(nn_texts)
    cps = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    lens = np.fromiter(map(len, nn_texts), dtype=np.int64, count=len(nn_texts))
    ends = np.cumsum(lens)
    starts = ends - lens
    n = len(cps)
    doc_starts_mask = np.zeros(n, dtype=bool)
    doc_starts_mask[starts[lens > 0]] = True

    upper = (cps >= 65) & (cps <= 90)
    alpha = upper | ((cps >= 97) & (cps <= 122))
    digit = (cps >= 48) & (cps <= 57)
    ws6 = (cps == 32) | ((cps >= 9) & (cps <= 13))
    n_alpha = _seg_sum(alpha, starts, ends)
    n_digit = _seg_sum(digit, starts, ends)
    n_ws6 = _seg_sum(ws6, starts, ends)
    n_punct = lens - n_alpha - n_digit - n_ws6
    runs_a = _seg_sum(_run_starts(alpha, doc_starts_mask), starts, ends)
    runs_d = _seg_sum(_run_starts(digit, doc_starts_mask), starts, ends)
    n_bpe = runs_a + runs_d + n_punct

    # ws tokens (see doc_stats for the trim/empty-token semantics): the
    # count of non-ws6 runs is trim-invariant, so only the lead/trail empty
    # tokens need the trim bounds — the first/last NON-SPACE char per doc.
    tok = ~ws6
    rs_tok = _run_starts(tok, doc_starts_mask)
    runs_tok = _seg_sum(rs_tok, starts, ends)
    nonspace = cps != 32
    n_nonspace = _seg_sum(nonspace, starts, ends)
    cs_ns = np.empty(n + 1, dtype=np.int64)
    cs_ns[0] = 0
    np.cumsum(nonspace, out=cs_ns[1:])
    rank = cs_ns[1:] - np.repeat(cs_ns[starts], lens)  # nonspace rank in doc
    first_ns = nonspace & (rank == 1)
    total_rep = np.repeat(n_nonspace, lens)
    last_ns = nonspace & (rank == total_rep)
    lead = _seg_sum(first_ns & ws6, starts, ends)
    trail = _seg_sum(last_ns & ws6, starts, ends)
    n_tokens = np.where(n_nonspace > 0, runs_tok + lead + trail, 0)

    # stopword hits: candidate tokens are ASCII-only, length <= 4.
    # Token ends: a token char whose NEXT char is non-token or opens a doc.
    nxt = np.empty(n, dtype=bool)
    if n:
        nxt[-1] = False
        nxt[:-1] = tok[1:]
        nxt[np.roll(doc_starts_mask, -1)] = False  # next char opens a new doc
    tok_end_mask = tok & ~nxt
    t_starts = np.flatnonzero(rs_tok)
    t_ends = np.flatnonzero(tok_end_mask) + 1
    t_lens = t_ends - t_starts
    cand = np.flatnonzero(t_lens <= 4)
    if len(cand):
        s4 = t_starts[cand]
        l4 = t_lens[cand]
        packs = np.zeros(len(cand), dtype=np.int64)
        ok = np.ones(len(cand), dtype=bool)
        for j in range(4):
            have = l4 > j
            c = np.where(have, cps[np.minimum(s4 + j, n - 1)], 0)
            c = np.where(have, c, 0)
            ok &= c < 128
            c = c + 32 * ((c >= 65) & (c <= 90))
            packs = (packs << 7) | c
        doc_of = np.searchsorted(ends, s4, side="right")
        for lang in LANG_ORDER:
            m = ok & np.isin(packs, _STOP_PACKED[lang])
            hits = np.bincount(doc_of[m], minlength=len(idx_nn))
            out[f"h_{lang}"][idx_nn] = hits
    # fingerprint: per-doc Horner via positional powers + one reduceat over
    # nonempty docs (partial sums bounded: len <= _MAX_FAST chars fast path)
    fp = np.zeros(len(idx_nn), dtype=np.int64)
    fast = lens <= _MAX_FAST
    nonempty_fast = fast & (lens > 0)
    if nonempty_fast.any():
        exp = np.repeat(ends, lens) - 1 - np.arange(n)
        exp = np.minimum(exp, _MAX_FAST - 1)
        contrib = cps * _POW31[exp]
        # reduceat sums run to the NEXT boundary or array end; empty docs
        # contribute no boundary (no duplicate indices) and slow-doc chars
        # are masked to 0 so they never pollute a preceding fast segment
        for k in np.flatnonzero(~fast):
            contrib[starts[k]:ends[k]] = 0
        fp[nonempty_fast] = np.add.reduceat(contrib, starts[nonempty_fast]) % CHAR_MOD
    for k in np.flatnonzero(~fast):  # rare oversized docs: exact chunked redo
        t = nn_texts[k]
        h = 0
        for st in range(0, len(t), _MAX_FAST):
            chunk = cps[starts[k] + st: starts[k] + min(st + _MAX_FAST, len(t))]
            m = len(chunk)
            csum = int((chunk * _POW31[m - 1::-1]).sum() % CHAR_MOD)
            h = (h * (_POW31_CHUNK if m == _MAX_FAST else int(_POW31[m])) + csum) % CHAR_MOD
        fp[k] = h

    out["n_chars"][idx_nn] = lens
    out["n_tokens"][idx_nn] = n_tokens
    out["alpha_chars"][idx_nn] = n_alpha
    out["punct_chars"][idx_nn] = n_punct
    out["n_ws"][idx_nn] = n_tokens
    out["n_bpe"][idx_nn] = n_bpe
    out["fp"][idx_nn] = fp
    return nulls, out


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
    fp = 0
    for st in range(0, n, _MAX_FAST):
        chunk = cps[st:st + _MAX_FAST]
        m = len(chunk)
        csum = int((chunk * _POW31[m - 1::-1]).sum() % CHAR_MOD)
        fp = (fp * (_POW31_CHUNK if m == _MAX_FAST else int(_POW31[m]))
              + csum) % CHAR_MOD
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
