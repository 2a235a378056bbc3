"""T32 Bloom membership: no false negatives, bounded false positives,
filter-size bound, plan shape, and guard rails."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from imposm2_spark.operators.bloom import (
    bloom_build,
    bloom_positions,
    bloom_probe,
)


def _texts(spark, rows, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def _corpus(n, tag):
    return [f"{tag} document number {i} with body {i * 37 % 101}" for i in range(n)]


def test_no_false_negatives_and_definitive_negatives(spark):
    hist_rows = _corpus(300, "hist")
    hist = _texts(spark, hist_rows)
    bloom = bloom_build(hist)
    # probe = exact copies of history (must ALL flag) + fresh docs + a
    # null text (kept, scored a definitive non-member)
    copies = _texts(spark, hist_rows, start=10_000)
    fresh = _texts(spark, _corpus(300, "fresh"), start=20_000)
    null = spark.createDataFrame([(30_000, None)], "doc_id long, text string")
    cand = copies.unionByName(fresh).unionByName(null)
    got = {r.doc_id: r.maybe_member for r in bloom_probe(cand, bloom).collect()}
    assert len(got) == 601 and got[30_000] is False
    assert all(got[10_000 + i] for i in range(300))  # zero false negatives
    # false positives among fresh docs stay under 3x the classic bound
    n, m, k = 300, 1 << 17, 3
    bound = (1 - math.exp(-k * n / m)) ** k
    fp = sum(1 for i in range(300) if got[20_000 + i]) / 300
    assert fp <= max(3 * bound, 0.02)


def test_filter_size_bounded_by_n_bits(spark):
    hist = _texts(spark, _corpus(500, "h"))
    n_bits = 1 << 12
    bloom = bloom_build(hist, n_bits=n_bits).collect()
    assert len(bloom) <= n_bits // 32
    assert all(0 <= r.word < n_bits // 32 for r in bloom)


def test_build_deterministic(spark):
    hist = _texts(spark, _corpus(100, "h"))
    a = sorted((r.word, r.bits) for r in bloom_build(hist).collect())
    b = sorted((r.word, r.bits) for r in bloom_build(hist).collect())
    assert a == b


def test_positions_in_range_and_k_guard(spark):
    df = _texts(spark, ["alpha", "", "beta gamma"])
    rows = df.select(bloom_positions(F.col("text"), 1 << 10, 3).alias("p")).collect()
    for r in rows:
        assert len(r.p) == 3 and all(0 <= p < (1 << 10) for p in r.p)
    with pytest.raises(ValueError, match="k must be"):
        bloom_positions(F.col("text"), k=9)


def test_probe_plan_broadcasts_filter_combines_map_side(spark):
    hist = _texts(spark, _corpus(50, "h"))
    probe = _texts(spark, _corpus(50, "p"), start=1000)
    df = bloom_probe(probe, bloom_build(hist))
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in p  # the filter frame, never a shuffle join
    assert "partial_" in p  # per-doc hit count combines map-side
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_empty_history_probe_all_negative(spark):
    bloom = bloom_build(_texts(spark, []))
    probe = _texts(spark, _corpus(10, "p"))
    got = bloom_probe(probe, bloom).collect()
    assert len(got) == 10 and not any(r.maybe_member for r in got)


def test_duplicate_candidate_ids_stay_positive(spark):
    """ADVICE r5: a candidate frame carrying the SAME doc_id twice (recrawl
    batches) must still flag an exact history copy — the old sum(_hit) == k
    aggregation saw 2k hits per id and reported a false negative."""
    hist_rows = _corpus(50, "hist")
    hist = _texts(spark, hist_rows)
    bloom = bloom_build(hist)
    copies = _texts(spark, hist_rows, start=10_000)
    dup = copies.unionByName(copies)  # every id appears twice
    got = {r.doc_id: r.maybe_member for r in bloom_probe(dup, bloom).collect()}
    assert len(got) == 50
    assert all(got.values())  # no false negatives, duplicate ids included
