"""T30 BM25 ranked retrieval (operators/ranking.py).

Hand-computed fixture scores, empty-query behavior, per-document
lengths, no-match documents excluded, and partitioning invariance of the
decimal-exact score.
"""

import math

import pytest

from imposm2_spark.operators import ranking
from imposm2_spark.operators.ranking import bm25_rank, doc_lengths

pytestmark = pytest.mark.spark


def _docs(spark):
    rows = [
        (1, "spark joins spark rows spark"),   # dl=5, tf(spark)=3, tf(rows)=1
        (2, "spark rows"),                     # dl=2, tf(spark)=1, tf(rows)=1
        (3, "tile tile tile tile"),            # dl=4, no query term
        (4, ""),                               # dl=0 (still counts in N)
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _qterms(spark, *terms):
    return spark.createDataFrame([(t,) for t in terms], "term string")


def _bm25(tf, dl, df, n, avgdl, k1=1.2, b=0.75):
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    w = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1 - b + b * dl / avgdl))
    return round(w, 9)


def test_bm25_hand_computed(spark):
    out = bm25_rank(_docs(spark), _qterms(spark, "spark", "rows"), top_k=10)
    got = {r["doc_id"]: r for r in out.collect()}
    # N=4 docs, sum_dl=11, avgdl=11/4
    avgdl = 11 / 4
    exp1 = round(_bm25(3, 5, 2, 4, avgdl) + _bm25(1, 5, 2, 4, avgdl), 6)
    exp2 = round(_bm25(1, 2, 2, 4, avgdl) + _bm25(1, 2, 2, 4, avgdl), 6)
    assert set(got) == {1, 2}  # doc 3 and empty doc 4 never emitted
    assert got[1]["n_terms"] == 2 and got[1]["score"] == pytest.approx(exp1, abs=2e-6)
    assert got[2]["n_terms"] == 2 and got[2]["score"] == pytest.approx(exp2, abs=2e-6)
    ordered = sorted(got.values(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in ordered] == sorted(
        got, key=lambda d: (-got[d]["score"], d)
    )


def test_bm25_empty_query_and_no_match(spark):
    docs = _docs(spark)
    assert bm25_rank(docs, _qterms(spark), top_k=5).count() == 0
    assert bm25_rank(docs, _qterms(spark, "zzz"), top_k=5).count() == 0


def test_bm25_precomputed_dl_identical(spark):
    docs = _docs(spark)
    dl = doc_lengths(docs)
    assert dl.where("doc_id = 1").collect()[0]["dl"] == 5


def test_bm25_partition_invariance(spark):
    # decimal-exact per-doc sum: score identical regardless of layout
    docs = _docs(spark)
    q = _qterms(spark, "spark", "rows")
    a = sorted(map(tuple, bm25_rank(docs.repartition(1), q).collect()))
    b = sorted(map(tuple, bm25_rank(docs.repartition(7, "doc_id"), q).collect()))
    assert a == b and len(a) == 2


def test_bm25_top_k_truncates_with_deterministic_ties(spark):
    # 6 identical docs -> identical scores; top_k=3 must keep lowest ids
    rows = [(i, "spark spark") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = bm25_rank(docs, _qterms(spark, "spark"), top_k=3).collect()
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] == [0, 1, 2]


def test_bm25_plan_topk_and_broadcast(spark, monkeypatch):
    # JOIN-path plan locks (MAX_INLINE_TERMS=0 forces it): global top-k must
    # be TakeOrderedAndProject (per-partition heaps), never a global Sort;
    # the query-term restriction reaches the postings via broadcast BELOW
    # the (doc, term) hash agg, so the big agg only sees matching tokens.
    # The postings ⋈ dl join on the doc key is ALLOWED to be a shuffle
    # join — that is the designed 100 TB shape for large term sets.
    docs = _docs(spark)
    monkeypatch.setattr(ranking, "MAX_INLINE_TERMS", 0)
    out = bm25_rank(docs, _qterms(spark, "spark"), top_k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    agg_pos = plan.index("HashAggregate(keys=[doc_id")
    bhj_pos = plan.rindex("BroadcastHashJoin [term")
    assert bhj_pos > agg_pos  # restriction sits under the agg in the tree


def test_bm25_inline_plan_zero_corpus_shuffle(spark):
    # INLINE-path plan locks (the small-query default): no explode at all
    # (no Generate), no (doc, term) hash exchange — the only exchanges are
    # the 1-row stats agg and the top-k heap merge
    docs = _docs(spark)
    out = bm25_rank(docs, _qterms(spark, "spark", "rows"), top_k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_bm25_inline_matches_join_path(spark, monkeypatch):
    # a NULL-text doc has no tokens but still counts in N on both paths
    # (the inline fold used to NPE on it)
    docs = _docs(spark).unionByName(
        spark.createDataFrame([(5, None)], "doc_id int, text string")
    )
    q = _qterms(spark, "spark", "rows", "tile", "zzz")
    inline = sorted(map(tuple, bm25_rank(docs, q).collect()))
    # empty term set falls through to the join plan's canonical empty schema
    e1 = bm25_rank(docs, _qterms(spark))
    monkeypatch.setattr(ranking, "MAX_INLINE_TERMS", 0)
    joined = sorted(map(tuple, bm25_rank(docs, q).collect()))
    assert inline == joined and len(inline) == 3
    e2 = bm25_rank(docs, _qterms(spark))
    assert e1.count() == 0 and e1.dtypes == e2.dtypes


def test_bm25_doc_stats_engines_agree(spark):
    """The inline path's (dl, tfs) fold must match a plain-Python count:
    dl = tokens of the trimmed text split on Java \\s runs (the six ASCII
    separators), tf = occurrences of each term. Covers empty text,
    tab/space edge tokenization, a control char inside a token, and NULL
    text (dl 0, every tf 0 — the doc still counts in N)."""
    import re

    from pyspark.sql import functions as F

    from imposm2_spark.operators.ranking import _doc_stats_expr

    rows = [
        (1, "spark fast spark  fast\tspark"),
        (2, ""),
        (4, "  fast  "),
        (5, "\tfast\n"),
        (6, "nomatch only here"),
        (7, "fast" * 3),
        (8, "a\x01b fast"),
        (9, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["fast", "spark", "a\x01b"]
    got = {
        r["doc_id"]: (r["s"]["dl"], tuple(r["s"]["tfs"]))
        for r in docs.select(
            "doc_id", _doc_stats_expr(F.col("text"), terms).alias("s")
        ).collect()
    }

    def count(text):
        toks = [t for t in re.split("[ \t\n\x0b\x0c\r]+", text or "") if t]
        return len(toks), tuple(toks.count(t) for t in terms)

    assert got == {i: count(t) for i, t in rows}
    assert got[9] == (0, (0, 0, 0))
