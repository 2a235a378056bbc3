"""Vectorized NumPy twins of the integer text-hash expression chain.

r6 optimization (guide §4.2: hand whole Arrow batches to vectorized native
code instead of interpreted expression trees). The token-hash -> shingle ->
MinHash -> band chain, the SimHash fold and the decontamination n-grams are
pure integer arithmetic, so a NumPy kernel can reproduce them BIT-IDENTICALLY
— these functions are the exact twins of the higher-order-function (HOF)
expressions the DuckDB oracles mirror:

    operators/dedup.py   token_hashes()   = transform(split(text, ' '), char_hash)
                         shingle_hashes() = word-3-gram rolling combine
    tests/hof_twins.py   minhash_signature() / band_keys()
                         simhash_from_hashes()
                         ngram_hashes()

The library operators run only these kernels; the HOF forms in
tests/hof_twins.py are kept as test references. Every function here is
differential-tested against those Catalyst expressions
(tests/test_texthash.py) on the driver corpus plus adversarial inputs
(empties, runs of spaces, long tokens, non-ASCII). Semantics notes, pinned
by those tests:

  * split on a single literal space keeps empty tokens (Java split limit -1
    == Python str.split(' ')).
  * char_hash('') == 0 (Spark folds over [ascii('')] == [0]).
  * ascii(c) is the Unicode CODEPOINT of the character (Python ord) — the
    module-level ASCII caveat in functions/text_analysis.py applies to both
    engines equally.

Overflow safety: per-char contributions are codepoint * 31^k mod P with
P ~ 1e9, so a partial int64 sum over L chars is bounded by L * 1.1e15;
tokens longer than _MAX_FAST_TOKEN chars (where that bound nears 2^63) are
re-hashed with the exact per-char Python fold instead.
"""

from __future__ import annotations

import numpy as np

from ..functions.text_analysis import CHAR_MOD
from ..operators.dedup import _COMBINE, MINHASH_P, N_BANDS, PERMS, SHINGLE_N

_MAX_FAST_TOKEN = 4096
# 31^k mod CHAR_MOD for k < _MAX_FAST_TOKEN
_POW31 = np.empty(_MAX_FAST_TOKEN, dtype=np.int64)
_POW31[0] = 1
for _k in range(1, _MAX_FAST_TOKEN):
    _POW31[_k] = (_POW31[_k - 1] * 31) % CHAR_MOD

_SPACE = 32


def char_hash_py(s: str) -> int:
    """Exact per-char fold twin of functions.text_analysis.char_hash."""
    h = 0
    for ch in s:
        h = (h * 31 + ord(ch)) % CHAR_MOD
    return h


def token_hashes_doc(text: str | None) -> np.ndarray:
    """int64 token-hash array for ONE document (twin of token_hashes).

    None (or any non-str, e.g. a pandas NaN) -> empty array (the Catalyst
    chain yields NULL, and every consumer filters/guards those rows;
    callers mask None docs separately)."""
    if not isinstance(text, str):
        return np.empty(0, dtype=np.int64)
    if not text:
        return np.zeros(1, dtype=np.int64)  # split('') -> [''] -> hash 0
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = len(cps)
    is_sep = cps == _SPACE
    # token k spans [starts[k], ends[k]) between separator positions
    sep_idx = np.flatnonzero(is_sep)
    starts = np.concatenate(([0], sep_idx + 1))
    ends = np.concatenate((sep_idx, [n]))
    lengths = ends - starts
    out = np.zeros(len(starts), dtype=np.int64)
    nonempty = lengths > 0
    if nonempty.any():
        # per-char exponent = chars-to-token-end - 1; contributions are
        # codepoint * 31^exp summed per token (congruent to the fold mod P)
        tok_of_char = np.repeat(np.arange(len(starts)), lengths)
        char_idx = np.flatnonzero(~is_sep)
        exp = ends[tok_of_char] - 1 - char_idx
        exp_safe = np.minimum(exp, _MAX_FAST_TOKEN - 1)  # long tokens redone below
        contrib = cps[char_idx] * _POW31[exp_safe]
        # reduceat over nonzero-length segments only (an empty segment would
        # echo a stray element under reduceat's i==j rule)
        boundaries = np.zeros(len(starts), dtype=np.int64)
        np.cumsum(lengths[:-1], out=boundaries[1:])
        out[nonempty] = np.add.reduceat(contrib, boundaries[nonempty]) % CHAR_MOD
    long_toks = np.flatnonzero(lengths > _MAX_FAST_TOKEN)
    if len(long_toks):  # exact per-char redo for oversized tokens (rare)
        toks = text.split(" ")
        for t in long_toks:
            out[t] = char_hash_py(toks[t])
    return out


def shingle_hashes_from_tokens(th: np.ndarray) -> np.ndarray:
    """Word-3-gram rolling combine, twin of shingle_hashes: <3 tokens -> []."""
    if len(th) < SHINGLE_N:
        return np.empty(0, dtype=np.int64)
    a = (th[:-2] * _COMBINE + th[1:-1]) % CHAR_MOD
    return (a * _COMBINE + th[2:]) % CHAR_MOD


_PERM_A = np.asarray([a for a, _ in PERMS], dtype=np.int64)
_PERM_B = np.asarray([b for _, b in PERMS], dtype=np.int64)
_BAND_ROWS = len(PERMS) // N_BANDS


def minhash_sig_from_shingles(shs: np.ndarray) -> np.ndarray:
    """(16,) signature mins, twin of hof_twins.minhash_signature (empty ->
    all -1 sentinel never used: callers drop <3-token docs first)."""
    if not len(shs):
        return np.full(len(PERMS), -1, dtype=np.int64)
    # (16, n) permuted hashes; a*s < 2^31 * 2^31 fits int64
    vals = (shs[None, :] * _PERM_A[:, None] + _PERM_B[:, None]) % MINHASH_P
    return vals.min(axis=1)


def band_keys_from_sig(sig: np.ndarray) -> np.ndarray:
    """(4,) band keys, twin of hof_twins.band_keys()."""
    out = np.empty(N_BANDS, dtype=np.int64)
    for b in range(N_BANDS):
        key = sig[_BAND_ROWS * b]
        for r in range(1, _BAND_ROWS):
            key = (key * _COMBINE + sig[_BAND_ROWS * b + r]) % MINHASH_P
        out[b] = key
    return out


def simhash_from_tokens(th: np.ndarray) -> int:
    """32-bit majority-vote fingerprint, twin of hof_twins.simhash_from_hashes."""
    n = len(th)
    if n == 0:
        return 0
    bits = (th[:, None] >> np.arange(32)[None, :]) & 1  # (n, 32)
    counts = bits.sum(axis=0)
    fp = 0
    for b in range(32):
        fp = fp * 2 + (1 if 2 * counts[b] > n else 0)
    return fp


def ngram_hashes_from_tokens(th: np.ndarray, n: int) -> np.ndarray:
    """Word-n-gram rolling hashes, twin of hof_twins.ngram_hashes: gram_i is
    seeded with h_i and folds (acc*COMBINE + h_{i+j}) % MOD for j=1..n-1;
    fewer than n tokens -> empty (generalizes shingle_hashes_from_tokens,
    which is the n=3 case)."""
    m = len(th) - (n - 1)
    if m <= 0:
        return np.empty(0, dtype=np.int64)
    acc = th[:m].copy()
    for j in range(1, n):
        acc = (acc * _COMBINE + th[j : j + m]) % CHAR_MOD
    return acc
