"""T31 quality-classifier scoring: hand-computed logits, the dict-weights
kernel == the DataFrame-weights join plan (differential-fuzzed, non-ASCII
and non-space whitespace included), and both plans' locks."""

from __future__ import annotations

from pyspark.sql import functions as F

from imposm2_spark.functions.classify import grams_expr, score_quality

W = {"the": 100, "fast": 200, "slow": -300, "the_fast": 50, "dup_dup": -400}

DOCS = [
    (1, "The fast fox"),          # the+fast+the_fast = 350
    (2, "slow DUP dup dup"),      # slow + 2x dup_dup = -1100
    (3, ""),                      # empty -> bias only
    (4, "nothing matches here"),  # zero-match -> bias only
    (5, "the the"),               # repeated unigram counts twice = 200
]
SCHEMA = "doc_id long, text string"


def _docs(spark):
    return spark.createDataFrame(DOCS, SCHEMA)


def _rows(df):
    return sorted(
        (r.doc_id, r.n_grams, r.logit_milli, r.keep) for r in df.collect()
    )


def test_hand_computed_logits(spark):
    got = _rows(score_quality(_docs(spark), W, bias_milli=-50))
    assert got == [
        (1, 5, 300, True),    # 3 toks + 2 bigrams; 350 - 50
        (2, 7, -1150, False),
        (3, 0, -50, False),
        (4, 5, -50, False),
        (5, 3, 150, True),    # the,the,the_the -> 100+100+0 - 50
    ]


def _wdf(spark, weights=W):
    """The same weights as a DataFrame: selects the broadcast-join plan."""
    return spark.createDataFrame(
        sorted(weights.items()), "gram string, weight_milli long"
    )


def test_weights_dataframe_input(spark):
    docs = _docs(spark)
    assert _rows(score_quality(docs, _wdf(spark), bias_milli=-50)) == _rows(
        score_quality(docs, W, bias_milli=-50)
    )


def test_empty_weights(spark):
    got = _rows(score_quality(_docs(spark), {}, bias_milli=7))
    assert all(logit == 7 and keep for _, _, logit, keep in got)


def test_threshold_boundary(spark):
    # logit == threshold keeps (>=)
    got = {
        r.doc_id: r.keep
        for r in score_quality(
            _docs(spark), W, bias_milli=0, threshold_milli=350
        ).collect()
    }
    assert got[1] is True and got[5] is False


def test_dict_plan_is_one_map_in_arrow_no_exchange(spark):
    df = score_quality(_docs(spark), W)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("MapInArrow") == 1, p
    assert "Exchange" not in p


def test_join_plan_broadcasts_weights_no_corpus_shuffle(spark):
    df = score_quality(_docs(spark), _wdf(spark))
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p  # per-doc weight sum combines map-side


def test_grams_expr_shapes(spark):
    got = (
        spark.createDataFrame([("a b c",), ("",), ("x",)], "text string")
        .select(grams_expr(F.col("text")).alias("g"))
        .collect()
    )
    assert [r.g for r in got] == [["a", "b", "c", "a_b", "b_c"], [], ["x"]]


def test_null_text_scores_bias_only(spark):
    docs = spark.createDataFrame([(9, None)], "doc_id long, text string")
    r = score_quality(docs, W, bias_milli=-5).collect()[0]
    assert (r.n_grams, r.logit_milli, r.keep) == (0, -5, False)


def test_arrow_engine_fuzz_corpus_and_random(spark):
    import random

    rng = random.Random(7)
    vocab = list(W) + ["zz", "q q", "the fast", "x", "Straße", "İstanbul", "ΟΔΟΣ"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30))))
        for i in range(200)
    ] + [(900, None), (901, ""), (902, "  \t the   fast \n dup dup ")]
    # Spark's trim strips only ' ': no-break space, em space and the
    # \x1c-\x1f separators stay part of the edge token
    rows += [
        (910 + i, t)
        for i, t in enumerate([
            "\xa0the fast", "the fast\xa0", "\u2003the fast", "\x1cthe fast",
            "the fast\x1f", " \xa0 the fast \xa0 ", "Straße İstanbul ΟΔΟΣ",
        ])
    ]
    # Python and Java both lowercase İ to i + U+0307 and final Σ to ς
    weights = {
        **W, "straße": 30, "i\u0307stanbul": 60, "οδος": 70,
        "straße_i\u0307stanbul": 5,
    }
    docs = spark.createDataFrame(rows, SCHEMA)
    a = _rows(score_quality(docs, weights, bias_milli=3, threshold_milli=100))
    b = _rows(
        score_quality(docs, _wdf(spark, weights), bias_milli=3, threshold_milli=100)
    )
    assert a == b
    # and on the real sf corpus
    from imposm2_spark.sources.testdata import load

    corpus = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    assert _rows(score_quality(corpus, W)) == _rows(
        score_quality(corpus, _wdf(spark))
    )
