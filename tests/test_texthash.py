"""Differential tests: kernels.texthash NumPy twins vs the Catalyst chain.

The kernel's claim is BIT-IDENTITY with the interpreted HOF expressions
(operators/dedup.py token/shingle hashes, the rest in tests/hof_twins.py —
the oracle SQL's textual twins) on arbitrary input: each operator must equal
its HOF composition row for row. Adversarial cases cover the
split/ascii edge semantics: empty strings, runs of spaces, leading/trailing
separators, non-ASCII codepoints, and tokens past the fast-path length cap.
"""

from __future__ import annotations

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
