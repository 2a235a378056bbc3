"""Differential tests: kernels.texthash NumPy twins vs the Catalyst chain.

The kernel's claim is BIT-IDENTITY with the interpreted HOF expressions
(operators/dedup.py token/shingle hashes, the rest in tests/hof_twins.py —
the oracle SQL's textual twins) on arbitrary input: each operator must equal
its HOF composition row for row. Adversarial cases cover the
split/ascii edge semantics: empty strings, runs of spaces, leading/trailing
separators, non-ASCII codepoints, and tokens past the fast-path length cap.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from hof_twins import (
    band_keys,
    contamination_hits_hof,
    minhash_signature,
    minhash_signatures_hof,
    shingle_frame_hof,
    simhash_clusters_hof,
    simhash_from_hashes,
)
from imposm2_spark.kernels import texthash as tx
from imposm2_spark.operators.dedup import shingle_hashes, token_hashes

pytestmark = pytest.mark.spark

ADVERSARIAL = [
    "", "a", "a b", "a  b", " x", "x ", "  ", "é ü", "中文 test",
    "emoji \U0001F600 ok", "tab\tnot split", "T1 T1 data spark tile",
    "x" * 5001 + " tail tok", "a-b c.d e_f", "ümlaut strasse 42",
    " ", "one", "one two", "one two three four five six",
]


def _frame(spark, extra_rows=()):
    rows = [(i, t) for i, t in enumerate(list(ADVERSARIAL) + list(extra_rows))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_kernels_import_without_pyspark():
    """The text kernels and their constants load with numpy and pyarrow
    only; the expression modules import the constants from them. Run in a
    subprocess: this process has pyspark loaded already."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, imposm2_spark.kernels.texthash, "
         "imposm2_spark.kernels.textstats; "
         "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))"],
        capture_output=True, text=True, timeout=120, check=True, cwd=repo,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert out.stdout.strip() == "[]"


def test_token_hashes_bit_identical(spark):
    df = _frame(spark)
    got = df.select("doc_id", "text", token_hashes(F.col("text")).alias("th")).collect()
    for r in got:
        assert list(tx.token_hashes_doc(r["text"])) == list(r["th"]), repr(r["text"])


def test_full_chain_bit_identical_on_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.select("doc_id", "text").unionByName(_frame(spark, ()))
    rows = df.select(
        "doc_id",
        "text",
        token_hashes(F.col("text")).alias("th"),
        F.element_at(
            F.transform(F.array(token_hashes(F.col("text"))), lambda t: shingle_hashes(t)), 1
        ).alias("shs"),
        simhash_from_hashes(token_hashes(F.col("text"))).alias("fp"),
    ).collect()
    for r in rows:
        th = tx.token_hashes_doc(r["text"])
        assert list(th) == list(r["th"])
        assert list(tx.shingle_hashes_from_tokens(th)) == list(r["shs"])
        assert tx.simhash_from_tokens(th) == r["fp"]


def test_minhash_and_bands_bit_identical(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = docs.select(
        "doc_id",
        F.element_at(
            F.transform(F.array(token_hashes(F.col("text"))), lambda t: shingle_hashes(t)), 1
        ).alias("shs"),
    ).where(F.size("shs") > 0)
    sig = sh.select("doc_id", "shs", *minhash_signature(F.col("shs")))
    rows = sig.select("doc_id", "shs", *[f"m{j}" for j in range(16)], *band_keys()).collect()
    for r in rows:
        s = tx.minhash_sig_from_shingles(np.asarray(r["shs"], dtype=np.int64))
        assert list(s) == [r[f"m{j}"] for j in range(16)]
        b = tx.band_keys_from_sig(s)
        assert list(b) == [r[f"band{j}"] for j in range(4)]


def test_long_token_fallback_path():
    """Tokens past _MAX_FAST_TOKEN take the exact per-char redo."""
    t = "x" * (tx._MAX_FAST_TOKEN + 37) + " yy"
    got = tx.token_hashes_doc(t)
    toks = t.split(" ")
    assert list(got) == [tx.char_hash_py(x) for x in toks]


def test_minhash_signatures_engines_identical(spark):
    """The signature kernel must equal the HOF/oracle twin row-for-row on the
    driver corpus + adversarial docs (incl. NULL text, <3 tokens)."""
    from imposm2_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(
        spark.createDataFrame(
            [(10_001, None), (10_002, ""), (10_003, "one two"),
             (10_004, "one two three"), (10_005, "  ")],
            "doc_id long, text string",
        )
    )
    def canon(df):
        return sorted(
            (r["doc_id"], tuple(r["shs"]), *[r[f"m{j}"] for j in range(16)],
             *[r[f"band{b}"] for b in range(4)])
            for r in df.collect()
        )
    assert canon(minhash_signatures(docs)) == canon(minhash_signatures_hof(docs))


def test_contamination_hits_engines_identical(spark):
    """The decontamination kernel equals the HOF/oracle twin."""
    from imposm2_spark.operators.curation import DECONTAM_N, contamination_hits
    from pyspark.sql import functions as F2

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    test = docs.where(F2.col("doc_id") % 37 == 0)
    train = docs.where(F2.col("doc_id") % 37 != 0).unionByName(
        test.select((F2.col("doc_id") + F2.lit(1_000_000_000)).alias("doc_id"), "text")
    )
    a = sorted((r["doc_id"], r["n_hits"]) for r in contamination_hits(train, test).collect())
    b = sorted(
        (r["doc_id"], r["n_hits"])
        for r in contamination_hits_hof(train, test, DECONTAM_N).collect()
    )
    assert a == b and len(a) > 0


def test_shingle_frame_engines_identical(spark):
    from imposm2_spark.operators.dedup import shingle_frame

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(
        spark.createDataFrame(
            [(20_001, None), (20_002, ""), (20_003, "a b"), (20_004, "a b c")],
            "doc_id long, text string",
        )
    )
    canon = lambda df: sorted((r["doc_id"], tuple(r["shs"])) for r in df.collect())
    assert canon(shingle_frame(docs)) == canon(shingle_frame_hof(docs))


def test_simhash_clusters_engines_agree(spark):
    """simhash_clusters' kernel must match the HOF chain row-for-row,
    including NULL-text docs (NULL fingerprints group together on both)."""
    from imposm2_spark.operators.dedup import simhash_clusters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [(900001, None), (900002, None), (900003, "a b c"), (900004, "a b c")],
        "doc_id long, text string",
    )
    df = docs.select("doc_id", "text").unionByName(extra)
    hof = {
        (r["simhash"], r["n_docs"], r["keeper_id"])
        for r in simhash_clusters_hof(df).collect()
    }
    arrow = {
        (r["simhash"], r["n_docs"], r["keeper_id"])
        for r in simhash_clusters(df).collect()
    }
    assert hof == arrow and len(hof) > 0


def test_batch_signatures_match_per_document_twins():
    """The whole-batch kernel equals the per-document kernels on every
    adversarial text (NULL, "", runs of spaces, non-ASCII, the 5001-char
    token), as a list and as a sliced Arrow array."""
    import pyarrow as pa

    texts = [None] + ADVERSARIAL + [None, "  a b c  ", "中 文 字 符"]
    for batch in (texts, pa.array(["pad"] + texts)[1:]):
        rows, offsets, shs, sig, bands = tx.batch_signatures(batch)
        want = [(i, tx.token_hashes_doc(t)) for i, t in enumerate(texts)
                if isinstance(t, str)]
        want = [(i, th) for i, th in want if len(th) >= 3]
        assert rows.tolist() == [i for i, _ in want]
        for k, (_, th) in enumerate(want):
            s = tx.shingle_hashes_from_tokens(th)
            assert shs[offsets[k] : offsets[k + 1]].tolist() == s.tolist()
            m = tx.minhash_sig_from_shingles(s)
            assert sig[:, k].tolist() == m.tolist()
            assert bands[:, k].tolist() == tx.band_keys_from_sig(m).tolist()
    assert [len(x) for x in tx.batch_signatures([])] == [0, 1, 0, 16, 4]


def test_batch_signatures_same_on_byte_and_codepoint_views():
    """A batch gives the same kept rows, shingles, signatures, band keys and
    packed sets for its documents whether it is all ASCII (byte view) or
    also holds one non-ASCII document (UTF-32 view); lists and sliced Arrow
    arrays alike."""
    from test_textstats import UNIT_EDGES, _unit_batches

    n = len(UNIT_EDGES)

    def shared(batch):
        rows, offsets, shs, sig, bands = tx.batch_signatures(batch)
        k = int(np.searchsorted(rows, n))
        columns = [c[:n].to_pylist() for c in tx.batch_band_sets(batch)]
        return (rows[:k].tolist(), shs[: offsets[k]].tolist(), sig[:, :k].tolist(),
                bands[:, :k].tolist(), columns)

    runs = _unit_batches(UNIT_EDGES)
    want = shared(runs[0][0])
    kept = [i for i, t in enumerate(UNIT_EDGES) if isinstance(t, str) and len(t.split(" ")) >= 3]
    assert want[0] == kept
    for batch, dtype in runs:
        assert tx.text_units(batch).units.dtype == dtype
        assert shared(batch) == want
    # the band columns hold the kept documents' keys, NULL elsewhere, and a
    # packed set holds the document's distinct shingles, ascending
    _, offsets, shs, _, bands = tx.batch_signatures(UNIT_EDGES)
    *band_cols, sets = want[4]
    for b, col in enumerate(band_cols):
        assert [col[i] for i in kept] == bands[b].tolist()
        assert all(col[i] is None for i in range(n) if i not in kept)
    assert all(sets[i] is None for i in range(n) if i not in kept)
    for k, i in enumerate(kept):
        distinct = np.unique(shs[offsets[k] : offsets[k + 1]]).astype(np.int32)
        assert sets[i] == distinct.tobytes()


def _band_batch(rows):
    """Arrow batch of (id, band_idx, band_key, shs) rows, sorted as the
    operator's bucket shuffle sorts them, each shingle list packed as the
    signature scan packs it (distinct, ascending int32s)."""
    import pyarrow as pa

    rows = sorted(rows, key=lambda r: (r[1], r[2]))
    return pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.int64()),
         pa.array([r[1] for r in rows], pa.int32()),
         pa.array([r[2] for r in rows], pa.int64()),
         pa.array([np.unique(np.asarray(r[3], np.int32)).tobytes() for r in rows],
                  pa.binary())],
        names=["id", "band_idx", "band_key", "shs"],
    )


def test_bucket_pairs_capped_lower_band_keeps_pair():
    """Docs 1 and 2 share a band-0 bucket that also holds doc 3 (capped at
    max_bucket=2) and an uncapped band-1 bucket: the pair comes out exactly
    once. Emitting a pair only from its lowest colliding band would lose it."""
    sa, sb, sc = [5, 6, 7, 7], [6, 7, 8], [1, 2, 3]
    rows = [
        (1, 0, 100, sa), (2, 0, 100, sb), (3, 0, 100, sc),
        (1, 1, 200, sa), (2, 1, 200, sb), (3, 1, 300, sc),
    ]
    out = [r for rb in tx.bucket_pairs(iter([_band_batch(rows)]), 2) for r in rb.to_pylist()]
    assert out == [{"doc_a": 1, "doc_b": 2, "n_inter": 2, "n_union": 4}]
    # uncapped, band 0 adds its three pairs (the pair twice overall)
    out = [r for rb in tx.bucket_pairs(iter([_band_batch(rows)]), None) for r in rb.to_pylist()]
    assert sorted((r["doc_a"], r["doc_b"]) for r in out) == [(1, 2), (1, 2), (1, 3), (2, 3)]


def test_bucket_pairs_memory_flat_at_1000_doc_bucket():
    """One 1000-doc bucket yields all 499,500 pairs while the verify holds
    _PAIR_CHUNK pairs at a time. Verifying every pair at once would
    allocate the pair-keyed shingle arrays, 2 x 499,500 x 16 x 8 bytes
    (128 MB), alone."""
    import tracemalloc

    n = 1000
    rows = [(i, 0, 7, [(i * 16 + j) % 40 for j in range(16)]) for i in range(n)]
    batch = _band_batch(rows)
    tracemalloc.start()
    try:
        n_pairs = 0
        for rb in tx.bucket_pairs(iter([batch]), None):
            n_pairs += rb.num_rows
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert n_pairs == n * (n - 1) // 2
    assert peak < 16 * 2**20, peak
