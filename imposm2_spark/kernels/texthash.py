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

Whole-batch kernels: batch_shingles / batch_signatures / batch_band_sets
run the same chain over an entire Arrow string batch at once, on one stream
of units with document bounds (text_units: the UTF-8 bytes themselves when
the batch is all ASCII, else its UTF-32 codepoints; no per-document loop),
and are tested equal to the per-document functions above on both views;
bucket_pairs is the grouped LSH pair kernel of
operators/dedup.py::minhash_lsh_pairs (enumerate each bucket's pairs, verify
them by a sorted merge of their packed distinct-shingle sets).

Overflow safety: per-char contributions are codepoint * 31^k mod P with
P ~ 1e9, so a partial int64 sum over L chars is bounded by L * 1.1e15;
tokens longer than _MAX_FAST_TOKEN chars (where that bound nears 2^63) are
re-hashed with the exact per-char Python fold instead.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

# The text-hash constants live here, with the kernels that use them, so
# the kernels import without pyspark; functions.text_analysis and
# operators.dedup (the expression forms) and the oracle SQL import them.
CHAR_MOD = 1_000_000_007  # rolling-hash modulus of char_hash

# fixed MinHash permutation constants: h_j(x) = (a_j * x + b_j) mod P
# (random.Random(421), a forced odd; frozen here as literals — regenerating
# them would silently re-key every stored signature)
MINHASH_P = 2_147_483_647
PERMS: tuple[tuple[int, int], ...] = (
    (1405398811, 1318097825), (1312766851, 546384608), (1859270843, 1895728960),
    (1060783121, 1428938888), (1048979941, 600572080), (696670829, 1132840846),
    (1829894313, 1769179632), (963949843, 875721043), (1283395939, 532166178),
    (809769487, 1147694537), (267364855, 607944294), (2020876781, 1552976924),
    (56309789, 683420184), (1672092085, 1060610687), (1347391875, 398850620),
    (1705409389, 1066788577),
)
N_BANDS, BAND_ROWS = 4, 4
assert N_BANDS * BAND_ROWS == len(PERMS)

SHINGLE_N = 3
_COMBINE = 8191  # token-hash combiner multiplier (shared with oracle SQL)

_MAX_FAST_TOKEN = 4096
# 31^k mod CHAR_MOD for k < _MAX_FAST_TOKEN
_POW31 = np.empty(_MAX_FAST_TOKEN, dtype=np.int64)
_POW31[0] = 1
for _k in range(1, _MAX_FAST_TOKEN):
    _POW31[_k] = (_POW31[_k - 1] * 31) % CHAR_MOD

_SPACE = 32


def char_hash_py(s: str) -> int:
    """Exact per-char fold twin of functions.text_analysis.char_hash."""
    return _fold(map(ord, s))


def _fold(codepoints) -> int:
    """char_hash over an iterable of codepoints, folded exactly in Python."""
    h = 0
    for c in codepoints:
        h = (h * 31 + c) % CHAR_MOD
    return h


def _token_hashes(units: np.ndarray, bounds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(hashes, n_tok): int64 token hashes of every document of one unit
    stream (see Units), and each document's token count.

    Document d spans units[bounds[d]:bounds[d+1]]. Each document splits on
    single spaces into (its spaces + 1) tokens, so document d's tokens start
    at token index d + (spaces before bounds[d]), in document then position
    order."""
    n_docs = len(bounds) - 1
    is_sep = units == _SPACE
    sp = np.flatnonzero(is_sep)
    sp_doc = np.searchsorted(bounds, sp, "right") - 1
    first_tok = np.arange(n_docs) + np.searchsorted(sp, bounds[:-1])
    n_tok = n_docs + len(sp)
    # token k spans [starts[k], ends[k]): a document bound or a separator
    # closes the token before it and opens the one after it
    k = np.arange(len(sp))
    starts = np.empty(n_tok, dtype=np.int64)
    ends = np.empty(n_tok, dtype=np.int64)
    starts[first_tok] = bounds[:-1]
    starts[sp_doc + k + 1] = sp + 1
    ends[sp_doc + k] = sp
    n_doc_tok = np.diff(np.append(first_tok, n_tok))
    ends[first_tok + n_doc_tok - 1] = bounds[1:]
    out = np.zeros(n_tok, dtype=np.int64)
    # token k plus the separator after it spans [starts[k], starts[k+1]):
    # these spans tile the stream, so one reduceat over the non-empty spans
    # sums each token's contributions codepoint * 31^(chars to token end - 1)
    # (congruent to the fold mod P); a separator contributes 0
    span = np.diff(np.append(starts, len(units)))
    nonempty = span > 0
    if nonempty.any():
        exp = np.repeat(ends - 1, span)
        exp -= np.arange(len(units))
        np.clip(exp, 0, _MAX_FAST_TOKEN - 1, out=exp)  # long tokens redone below
        contrib = _POW31[exp]
        contrib *= units
        contrib[is_sep] = 0
        out[nonempty] = np.add.reduceat(contrib, starts[nonempty]) % CHAR_MOD
    for t in np.flatnonzero(ends - starts > _MAX_FAST_TOKEN):
        out[t] = _fold(units[starts[t] : ends[t]].tolist())  # exact redo (rare)
    return out, n_doc_tok


def token_hashes_doc(text: str | None) -> np.ndarray:
    """int64 token-hash array for ONE document (twin of token_hashes).

    None (or any non-str) -> empty array (the Catalyst
    chain yields NULL, and every consumer filters/guards those rows;
    callers mask None docs separately)."""
    if not isinstance(text, str):
        return np.empty(0, dtype=np.int64)
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    return _token_hashes(cps, np.array([0, len(cps)]))[0]


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
    """(4,) band keys of a (16,) signature, or (4, n) of (16, n) signatures;
    twin of hof_twins.band_keys()."""
    out = np.empty((N_BANDS, *sig.shape[1:]), dtype=np.int64)
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


# ---------------------------------------------------------------------------
# whole-batch kernels: one pass over an Arrow batch, no per-document loop
# ---------------------------------------------------------------------------

# shingle hashes are < CHAR_MOD <= 2^30, so (row << 30) | hash sorts a set of
# per-row shingle arrays row by row in one int64 array
_HASH_BITS = 30
assert CHAR_MOD <= 1 << _HASH_BITS


class Units(NamedTuple):
    """A string batch as one stream of units, one unit per codepoint.

    `units` is the batch's UTF-8 data buffer itself (uint8) when every
    document is ASCII, else its UTF-32 decode (uint32). Document d spans
    units[bounds[d]:bounds[d+1]]; `valid` marks the non-NULL documents."""

    units: np.ndarray
    bounds: np.ndarray
    valid: np.ndarray


def value_buffer(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data, bounds, valid) of a string or binary Arrow array, read in
    place: row d's bytes are data[bounds[d]:bounds[d+1]] (uint8, int64
    bounds; offset != 0 slices included) and `valid` marks non-NULL rows."""
    valid = ~arr.is_null().to_numpy(zero_copy_only=False)
    _, off_buf, data_buf = arr.buffers()
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    offs = np.frombuffer(off_buf, dtype=np.int64 if large else np.int32)
    offs = offs[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(data_buf or b"", dtype=np.uint8)[offs[0] : offs[-1]]
    return data, (offs - offs[0]).astype(np.int64), valid


def text_units(texts) -> Units:
    """The Units of a string batch: an Arrow string array, or a sequence
    whose non-str items are NULL. Units pass through.

    An all-ASCII batch is read in place, with no decode; otherwise the UTF-8
    buffer decodes once, and a document's codepoint bound is the number of
    UTF-8 lead (non-continuation) bytes before its byte offset."""
    if isinstance(texts, Units):
        return texts
    if isinstance(texts, pa.ChunkedArray):
        arr = texts.combine_chunks()
    elif isinstance(texts, pa.Array):
        arr = texts
    else:
        arr = pa.array([t if isinstance(t, str) else None for t in texts], pa.string())
    data, bounds, valid = value_buffer(arr)
    if not len(data) or data.max() < 0x80:
        return Units(data, bounds, valid)
    cps = np.frombuffer(str(data, "utf-8").encode("utf-32-le"), dtype=np.uint32)
    lead_before = np.zeros(len(data) + 1, dtype=np.int64)
    np.cumsum((data & 0xC0) != 0x80, out=lead_before[1:])
    return Units(cps, lead_before[bounds], valid)


def batch_shingles(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(rows, offsets, shs) for a batch of texts (anything text_units
    takes): the word-3-gram shingle hashes of every document with
    >= SHINGLE_N tokens, in one pass over the batch's unit stream.

    rows: int64 input positions of the kept documents (NULL and
    <SHINGLE_N-token documents dropped); kept document k's shingles are
    shs[offsets[k]:offsets[k+1]] in shingle order — bit-identical to
    shingle_hashes_from_tokens(token_hashes_doc(text)) per document."""
    units, bounds, valid = text_units(texts)
    n_docs = len(bounds) - 1
    th, n_tok = _token_hashes(units, bounds)
    keep = valid & (n_tok >= SHINGLE_N)
    rows = np.flatnonzero(keep)
    offsets = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(n_tok[rows] - (SHINGLE_N - 1), out=offsets[1:])
    if not len(rows):
        return rows, offsets, np.empty(0, np.int64)
    # a shingle starting at token t is kept when tokens t..t+2 share a kept doc
    tok_doc = np.repeat(np.arange(n_docs), n_tok)
    same_doc = tok_doc[SHINGLE_N - 1 :] == tok_doc[: 1 - SHINGLE_N]
    return rows, offsets, shingle_hashes_from_tokens(th)[same_doc & keep[tok_doc[: 1 - SHINGLE_N]]]


def batch_signatures(texts) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(rows, offsets, shs, sig, bands): batch_shingles plus each kept
    document's MinHash signature sig[j] (16, n_kept) and LSH band keys
    bands[b] (4, n_kept) — bit-identical to minhash_sig_from_shingles and
    band_keys_from_sig per document."""
    rows, offsets, shs = batch_shingles(texts)
    sig = np.empty((len(PERMS), len(rows)), dtype=np.int64)
    if len(rows):  # every kept document holds >= 1 shingle
        for j in range(len(PERMS)):
            sig[j] = np.minimum.reduceat((shs * _PERM_A[j] + _PERM_B[j]) % MINHASH_P, offsets[:-1])
    return rows, offsets, shs, sig, band_keys_from_sig(sig)


def batch_band_sets(texts) -> list[pa.Array]:
    """Columns band0..band3 and shs of a batch, one row per document: its
    LSH band keys (batch_signatures) and its set of distinct shingles,
    ascending, packed as native-order int32s into one binary value — the
    form bucket_pairs verifies. NULL and <SHINGLE_N-token documents are
    NULL in every column. Sorting here sorts each document once, not once
    per band."""
    units = text_units(texts)
    rows, offsets, shs, _, bands = batch_signatures(units)
    n = len(units.bounds) - 1
    key = (np.repeat(np.arange(len(rows), dtype=np.int64), np.diff(offsets)) << _HASH_BITS) | shs
    key.sort()
    key = key[np.append(True, key[1:] != key[:-1])] if len(key) else key
    size = np.zeros(n, dtype=np.int32)
    size[rows] = np.diff(np.searchsorted(key >> _HASH_BITS, np.arange(len(rows) + 1)))
    off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(size * 4, out=off[1:])
    kept = np.zeros(n, dtype=bool)
    kept[rows] = True
    sets = pa.Array.from_buffers(pa.binary(), n, [
        pa.py_buffer(np.packbits(kept, bitorder="little")), pa.py_buffer(off),
        pa.py_buffer((key & ((1 << _HASH_BITS) - 1)).astype(np.int32))])
    keys = np.zeros((N_BANDS, n), dtype=np.int64)
    keys[:, rows] = bands
    return [*(pa.array(k, mask=~kept) for k in keys), sets]


def _packed_sets(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(off, vals) of a batch_band_sets column: row i's distinct sorted
    shingles are vals[off[i]:off[i+1]]."""
    _, off_buf, data_buf = col.buffers()
    off_type = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    off = np.frombuffer(off_buf, dtype=off_type)[col.offset : col.offset + len(col) + 1] // 4
    vals = np.frombuffer(data_buf or b"", dtype=np.int32, count=int(off[-1]))
    return off.astype(np.int64), vals


# pair verify step size: bucket_pairs materializes at most this many pairs'
# shingle sets at once, so memory stays flat however large a bucket is
_PAIR_CHUNK = 4096
_PAIR_SCHEMA = pa.schema([(c, pa.int64()) for c in ("doc_a", "doc_b", "n_inter", "n_union")])


def _segments(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenated ranges [starts[i], starts[i] + lengths[i])."""
    before = np.cumsum(lengths) - lengths
    return np.repeat(starts - before, lengths) + np.arange(lengths.sum())


def _keys(rb: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    return rb.column("band_idx").to_numpy(), rb.column("band_key").to_numpy()


def bucket_pairs(batches, max_bucket: int | None):
    """Verified candidate pairs of every LSH bucket, one pass over batches
    of (id, band_idx, band_key, shs) rows sorted by (band_idx, band_key),
    where shs is a document's packed shingle set (batch_band_sets).

    A bucket is a run of rows with one (band_idx, band_key); a run that
    reaches the end of a batch carries into the next. Runs larger than
    `max_bucket` are skipped (None: no cap). Every other run of n rows
    yields its n(n-1)/2 pairs as (doc_a < doc_b, n_inter, n_union), where
    n_inter / n_union count the DISTINCT shingles the two documents share /
    hold together. A pair colliding in several uncapped bands is yielded
    once per band: a bucket cannot see whether another band's bucket of the
    same pair was capped, so the caller de-duplicates the yielded pairs."""
    carry = None  # the last run seen, which the next batch may extend
    skip = None  # (band_idx, band_key) of a run already over max_bucket
    for rb in batches:
        if skip is not None and rb.num_rows:
            bidx, bkey = _keys(rb)
            same = (bidx == skip[0]) & (bkey == skip[1])
            rb = rb.slice(rb.num_rows if same.all() else int(np.argmin(same)))
            if rb.num_rows:
                skip = None
        if not rb.num_rows:
            continue
        if carry is not None:
            rb = pa.Table.from_batches([carry, rb]).combine_chunks().to_batches()[0]
        bidx, bkey = _keys(rb)
        starts = np.flatnonzero(np.append(True, (bidx[1:] != bidx[:-1]) | (bkey[1:] != bkey[:-1])))
        carry = rb.slice(starts[-1])
        if max_bucket is not None and carry.num_rows > max_bucket:
            skip, carry = (bidx[-1], bkey[-1]), None
        yield from _run_pairs(rb, starts[:-1], starts[-1], max_bucket)
    if carry is not None:
        yield from _run_pairs(carry, np.zeros(1, np.int64), carry.num_rows, max_bucket)


def _run_pairs(rb: pa.RecordBatch, starts: np.ndarray, end: int, max_bucket: int | None):
    """bucket_pairs over the complete runs of `rb` beginning at `starts`,
    the last ending at row `end`."""
    sizes = np.diff(np.append(starts, end))
    keep = sizes >= 2
    if max_bucket is not None:
        keep &= sizes <= max_bucket
    if not keep.any():
        return
    size = sizes[keep]
    r = _segments(starts[keep], size)  # rows of the kept runs, run by run
    pos = np.arange(len(r)) - np.repeat(np.cumsum(size) - size, size)
    # row i of a run pairs with the rows after it: pair p belongs to the
    # last row whose first pair index is <= p
    n_after = np.repeat(size, size) - 1 - pos
    first = np.cumsum(n_after) - n_after
    ids = rb.column("id").to_numpy()
    off, vals = _packed_sets(rb.column("shs"))
    n_pairs = int(first[-1] + n_after[-1])
    for p0 in range(0, n_pairs, _PAIR_CHUNK):
        p = np.arange(p0, min(p0 + _PAIR_CHUNK, n_pairs))
        a = np.searchsorted(first, p, "right") - 1
        a, b = r[a], r[a + 1 + (p - first[a])]
        n_inter, n_union = _intersect(vals, off, a, b)
        lo, hi = np.minimum(ids[a], ids[b]), np.maximum(ids[a], ids[b])
        ok = lo != hi
        yield pa.RecordBatch.from_arrays(
            [pa.array(x[ok]) for x in (lo, hi, n_inter, n_union)], schema=_PAIR_SCHEMA)


def _intersect(vals, off, a, b) -> tuple[np.ndarray, np.ndarray]:
    """(|A & B|, |A | B|) of the packed shingle sets of row pairs
    (a[i], b[i]): both sides pair-keyed into one ascending array each, then
    one sorted merge (searchsorted) finds the shared keys."""
    la, lb = off[a + 1] - off[a], off[b + 1] - off[b]
    pair = np.arange(len(a), dtype=np.int64)
    ka = (np.repeat(pair, la) << _HASH_BITS) | vals[_segments(off[a], la)]
    pb = np.repeat(pair, lb)
    kb = (pb << _HASH_BITS) | vals[_segments(off[b], lb)]
    at = np.minimum(np.searchsorted(ka, kb), len(ka) - 1)
    hit = ka[at] == kb if len(ka) else np.zeros(len(kb), bool)
    n_inter = np.bincount(pb[hit], minlength=len(a)).astype(np.int64)
    return n_inter, la + lb - n_inter
