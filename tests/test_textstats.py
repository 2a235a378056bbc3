"""Differential tests: kernels/textstats.py vs the Catalyst expression chain.

The stats kernel must be BIT-IDENTICAL to the HOF/regex formulation for every
derived column (it feeds the curate scoring scan and text_stats_family whose
oracles pin the expression semantics). Adversarial inputs cover the split /
trim / ASCII-class edges the kernel reimplements."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hof_twins import token_count_bpe
from imposm2_spark.functions import text_analysis as ta
from imposm2_spark.kernels import textstats as ts

ADVERSARIAL = [
    "",
    " ",
    "   \t\n  ",
    "a",
    "the",
    "THE AND of TO",
    "der die und das ist",
    "le la et les des",
    "el la de que y",
    "a  b",            # double space -> \s+ collapses
    "  lead trail  ",
    "tab\tsep\nnewline\x0bvt\x0cff\rcr",
    "ctrl\x01inside",  # \x01 is not \s: stays inside a token
    "\x01edge\x02",    # controls at the edges: trimmed
    "punct!@# 123 abc",
    "123 456",
    "...",
    "ümlaut Über straße",
    "ñandú que está",
    "Kelvin K",   # Kelvin sign lowers to ASCII 'k'
    "İstanbul IT it İT",
    " nbsp x",    # U+00A0 is not Java \s and not <= 0x20
    "emoji \U0001f600 tail",
    "mixed　ideographic space",
    "the the the the the",
    "x" * 5000,             # beyond the fast-fingerprint chunk size
    ("word " * 1200).strip(),
    "a b c " + "İ" * 3 + " d",
    "0",
    "for it is in to a",
    "une est du que le",
]


@pytest.fixture(scope="module")
def stats_frames(spark):
    rows = [(i, t) for i, t in enumerate(ADVERSARIAL)] + [(10_000, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    feats = ta.quality_features(F.col("text"))
    hof = docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(ta.quality_score(F.col("text")), 6).alias("score"),
        ta.lang_id(F.col("text")).alias("lang_pred"),
        ta.token_count_ws(F.col("text")).alias("n_ws"),
        token_count_bpe(F.col("text")).alias("n_bpe"),
        ta.fingerprint(F.col("text")).alias("fp"),
    )
    stats = ta.doc_stats_udf()
    base = docs.select("doc_id", stats(F.col("text")).alias("_s"))
    f = ta.stats_ratio_features(F.col("_s"))
    kern = base.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        F.round(f["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        F.round(f["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(ta.stats_quality(F.col("_s")), 6).alias("score"),
        ta.stats_lang(F.col("_s")).alias("lang_pred"),
        F.col("_s.n_ws").alias("n_ws"),
        F.col("_s.n_bpe").alias("n_bpe"),
        F.col("_s.fp").alias("fp"),
    )
    return hof, kern


def test_stats_kernel_matches_hof_chain(stats_frames):
    hof, kern = stats_frames
    a = {r["doc_id"]: r.asDict() for r in hof.collect()}
    b = {r["doc_id"]: r.asDict() for r in kern.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k], f"doc_id={k}: hof={a[k]} kern={b[k]}"


def test_stats_kernel_null_text_propagates(stats_frames):
    _, kern = stats_frames
    row = {r["doc_id"]: r for r in kern.collect()}[10_000]
    assert row["n_chars"] is None and row["fp"] is None
    # lang argmax coalesces NULL hits to 'und', as the HOF chain does
    assert row["lang_pred"] == "und"


def test_doc_stats_fingerprint_matches_python_fold():
    from imposm2_spark.kernels.texthash import char_hash_py

    for t in ADVERSARIAL:
        assert ts.doc_stats(t)[-1] == char_hash_py(t), repr(t[:40])


def test_batch_stats_matches_doc_stats():
    """The batch-vectorized form must equal the scalar reference per doc,
    including None interleaving and empty/whitespace-only docs."""
    import numpy as np

    texts = list(ADVERSARIAL) + [None, "", None, "x", None]
    nulls, cols = ts.batch_stats(texts)
    for i, t in enumerate(texts):
        ref = ts.doc_stats(t)
        if t is None:
            assert nulls[i]
            continue
        assert not nulls[i]
        got = tuple(int(cols[c][i]) for c in ts.STAT_COLS)
        assert got == ref, f"{i}: {t[:40]!r} got={got} ref={ref}"


def test_batch_stats_random_fuzz():
    import random

    rng = random.Random(4242)
    alphabet = "ab THEthe  \t\nde der le el 0123!@ü\x01  und es la "
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(500)
    ]
    nulls, cols = ts.batch_stats(texts)
    for i, t in enumerate(texts):
        ref = ts.doc_stats(t)
        got = tuple(int(cols[c][i]) for c in ts.STAT_COLS)
        assert got == ref, f"{i}: {t[:60]!r} got={got} ref={ref}"


# edges of the unit view: NULL, empty and whitespace-only text, leading and
# trailing \t / \x0b (empty tokens after trim), a token past _MAX_FAST
UNIT_EDGES = [
    None, "", " ", "   ", "\t", "\x0b", "\tlead", "trail\x0b", " \ta b\x0b ",
    "\x0b the a\t", "the  a b", "THE x 12!", "x" * 5000 + " the", None,
]


def _unit_batches(texts):
    """(batch, expected unit dtype) pairs holding `texts` first: a list,
    sliced Arrow arrays (offset != 0), and both again with one non-ASCII
    document appended, which moves the batch onto the UTF-32 view."""
    import numpy as np
    import pyarrow as pa

    padded = pa.array(["pad", *texts, "ü x"])
    return [
        (texts, np.uint8),
        (padded[1:-1], np.uint8),
        ([*texts, float("nan")], np.uint8),
        ([*texts, "ü x"], np.uint32),
        (padded[1:], np.uint32),
    ]


def test_batch_stats_same_on_byte_and_codepoint_views():
    """The byte view of an all-ASCII batch and the UTF-32 view of a batch
    that also holds one non-ASCII document give the same stats for the
    documents they share, equal to the scalar reference."""
    from imposm2_spark.kernels.texthash import text_units

    want = [ts.doc_stats(t) for t in UNIT_EDGES]
    for batch, dtype in _unit_batches(UNIT_EDGES):
        assert text_units(batch).units.dtype == dtype
        nulls, cols = ts.batch_stats(batch)
        for i, ref in enumerate(want):
            assert nulls[i] == (ref is None), i
            if ref is not None:
                got = tuple(int(cols[c][i]) for c in ts.STAT_COLS)
                assert got == ref, f"{i}: {UNIT_EDGES[i][:40]!r} got={got} ref={ref}"


def test_batch_stats_nan_in_batch():
    """A list batch's non-str item (NaN here) is a NULL row and must not
    fail the rest of the batch."""
    texts = ["a b c", float("nan"), None, "the der"]
    nulls, cols = ts.batch_stats(texts)
    assert nulls.tolist() == [False, True, True, False]
    ref_n, ref_cols = ts.batch_stats(["a b c", None, None, "the der"])
    assert nulls.tolist() == ref_n.tolist()
    for c in ts.STAT_COLS:
        assert cols[c][[0, 3]].tolist() == ref_cols[c][[0, 3]].tolist(), c


def test_arrow_text_kernels_null_in_batch(spark, monkeypatch):
    """Every mapInArrow text kernel reads a NULL text in a batch without
    disturbing its neighbours: capture each kernel's batch function and feed
    it a batch holding NULL and real text side by side. The NULL row yields
    no row, or (simhash) the fingerprint 0 of an empty token list; the other
    rows are what the batch without it yields."""
    import pyarrow as pa

    from imposm2_spark.operators import curation, dedup

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    frame_cls = type(docs)
    captured = []
    real = frame_cls.mapInArrow

    def capture(self, func, schema, *args, **kwargs):
        captured.append(func)
        return real(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInArrow", capture)
    dedup.minhash_signatures(docs)
    dedup.shingle_frame(docs)
    dedup.simhash_clusters(docs)
    curation._ngram_rows_kernel(docs, 3, "doc_id", "text")
    assert len(captured) == 4

    def run(gen, ids, texts):
        rb = pa.RecordBatch.from_arrays(
            [pa.array(ids, pa.int64()), pa.array(texts, pa.string())], names=["doc_id", "text"]
        )
        return [row for out in gen(iter([rb])) for row in out.to_pylist()]

    for gen in captured:
        rows = run(gen, [1, 2, 3], ["one two three four", None, "x y z w"])
        kept = [r for r in rows if r["doc_id"] != 2]
        assert kept and kept == run(gen, [1, 3], ["one two three four", "x y z w"])
        assert all(r == {"doc_id": 2, "simhash": 0} for r in rows if r["doc_id"] == 2)
