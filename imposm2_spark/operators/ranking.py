"""T30: BM25 ranked retrieval over the document corpus.

Webtext pipelines rank documents against a term set constantly — test-set
decontamination triage, topical subcorpus extraction ("pull the top-k docs
for these seed terms"), and relevance-weighted sampling all reduce to a
sparse BM25 scan. The engine already has the unranked half (T18 TF-IDF
top-terms per doc, T19 n-gram decontamination); BM25 adds the
corpus-ranked half: score every document against a SMALL query-term set
and return the global top-k.

No reference analog: imposm2 has no text ranking (SURVEY.md §2.11 graft
addition; Robertson & Zaragoza 2009 BM25, Lucene idf variant).

100 TB shape (the whole point — candidate work is proportional to the
MATCHING postings, never to the corpus):

  * tokenize ONCE per scan: explode -> (doc, term) rows;
  * the query-term table is small BY CONTRACT and is broadcast; tokens are
    broadcast-semi-joined against it BEFORE the (doc, term) hash
    aggregation, so the big agg only ever sees matching tokens (the
    "postings" for the query), a tiny fraction of the corpus;
  * document length (dl) is the one full-corpus statistic BM25 needs. The
    join plan computes it with `doc_lengths()`, a single map-side-combinable
    `groupBy(doc).count()`; the in-row plan folds it into its one scan;
  * N and avgdl: a 1-row agg, broadcast. avgdl is derived as ONE IEEE
    division `sum_dl / n_docs` from the exact BIGINT sum — never a
    float-accumulated AVG, whose summation order differs between engines
    and runs;
  * per-(doc, term) scores are doubles rounded at `term_dp` and cast to
    DECIMAL before the per-doc sum, so the final score is an EXACT,
    order-independent decimal sum — bit-identical across partitionings,
    core counts, and vs the DuckDB oracle (same discipline as the T29
    integer PageRank: never let a float SUM's association order into the
    result);
  * global top-k is `orderBy(...).limit(k)` — Spark plans it as
    TakeOrderedAndProject (per-partition heaps + a k-row driver merge),
    NOT a single-partition window sort. Ranks are stamped AFTER the limit,
    on k rows. Ties break (score DESC, doc_id ASC), fully deterministic.

Scoring (engine spec, frozen — the DuckDB oracle in plans.registry mirrors
the expression shape token-for-token so the IEEE op sequence is identical):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))        # Lucene BM25
    w(d, t)    = idf(t) * (tf * (k1+1)) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(d)   = sum over query terms t of round(w(d, t), term_dp)
    output score = round(score(d), score_dp)

ln() may differ in the last ulp between libm implementations; `term_dp=9`
rounding absorbs that (same guard as T18 TF-IDF's round-at-9).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..session import cache_scope

K1 = 1.2
B = 0.75

# Inline-path cap: the query-term DataFrame is pulled to the driver with
# limit(cap+1) in ONE action (pip_join's bounded-collect contract); at or
# under the cap the zero-shuffle in-row plan runs, above it the operator
# falls back to the postings-join plan — never an error, never an unbounded
# driver pull. Read at call time; 0 forces the join plan.
MAX_INLINE_TERMS = 64

# DECIMAL(28,9): 19 integral digits of headroom — a doc matching 10^4 query
# terms at the idf*(k1+1) ceiling stays far inside it, so the exact sum
# cannot overflow at any realistic query size.
_SUM_DEC = "decimal(28,9)"

def doc_lengths(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token count `(id_col, dl)` — the query-independent
    corpus statistic. One scan, one map-side-combinable hash agg; the
    postings-join plan of `bm25_rank` joins it onto the postings."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    return toks.groupBy(id_col).agg(F.count("*").alias("dl"))


def _doc_stats_expr(text_col: F.Column, terms: list[str]) -> F.Column:
    """Per-row struct(dl, tfs[k]) in ONE pass over the token array.

    The token array is bound once as a lambda variable (aggregate over a
    1-element array — the HOF re-evaluation guard); the inner fold zip_withs
    a k-counter state against the literal term array, so the row cost is
    O(tokens · k) with no explode and no shuffle. NULL text folds as the
    empty string: dl 0, every tf 0 — the join path's answer, where the doc
    has no tokens yet still counts in N (a NULL token array NPEs the fold)."""
    k = len(terms)
    text = F.coalesce(text_col, F.lit(""))
    toks = F.filter(F.split(F.trim(text), r"\s+"), lambda x: x != "")
    term_lits = F.array(*[F.lit(t) for t in terms])
    zero = F.struct(
        F.lit(0).cast("long").alias("dl"),
        F.array_repeat(F.lit(0).cast("long"), k).alias("tfs"),
    )
    one, nil = F.lit(1).cast("long"), F.lit(0).cast("long")
    return F.aggregate(
        F.array(toks),
        zero,
        lambda _acc, tk: F.struct(
            F.size(tk).cast("long").alias("dl"),
            F.aggregate(
                tk,
                F.array_repeat(nil, k),
                lambda a, x: F.zip_with(
                    a, term_lits,
                    lambda c, t: c + F.when(x == t, one).otherwise(nil),
                ),
            ).alias("tfs"),
        ),
    )


def _bm25_inline(
    docs: DataFrame, terms: list[str], *, id_col: str, text_col: str,
    k1: float, b: float, top_k: int, term_dp: int, score_dp: int,
) -> DataFrame:
    """Zero-shuffle BM25 for a driver-known term list: per-doc (dl, tfs)
    in-row, ALL corpus statistics (N, sum_dl, per-term df) in ONE
    map-side-combined 1-row aggregate broadcast back, score as the same
    round-then-DECIMAL sum as the join path (term order fixed by the
    expression, so the decimal result is identical). The only exchanges in
    the plan are the 1-row stats agg and the top-k."""
    k = len(terms)
    # persist: the corpus-stats aggregate and the scoring projection both
    # consume this frame — unpersisted, the interpreted O(tokens x k) fold
    # ran twice over the corpus (r6, guide §5 caching; rows are id + one
    # small struct, so the cache is corpus-row-count bounded, never text)
    hold = cache_scope("bm25_inline")
    base = hold(docs.select(
        F.col(id_col), _doc_stats_expr(F.col(text_col), terms).alias("s")
    ))
    stats = F.broadcast(
        base.agg(
            F.count("*").alias("n_docs"),
            F.sum("s.dl").alias("sum_dl"),
            *[
                F.sum((F.element_at("s.tfs", i + 1) > 0).cast("long")).alias(f"df_{i}")
                for i in range(k)
            ],
        )
    )
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    dld = F.col("s.dl").cast("double")

    def w_dec(i: int) -> F.Column:
        dfc = F.col(f"df_{i}")
        tfd = F.element_at("s.tfs", i + 1).cast("double")
        idf = F.log(F.lit(1.0) + (n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
        w = (
            idf
            * (tfd * F.lit(k1 + 1.0))
            / (tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dld / avgdl))
        )
        # unmatched terms contribute an exact decimal 0 (tf=0 -> w=0.0)
        return F.round(w, term_dp).cast(_SUM_DEC)

    score_dec = reduce(lambda a, c: a + c, [w_dec(i) for i in range(k)])
    n_terms = reduce(
        lambda a, c: a + c,
        [(F.element_at("s.tfs", i + 1) > 0).cast("long") for i in range(k)],
    )
    per_doc = (
        base.join(stats)
        .select(
            F.col(id_col),
            n_terms.alias("n_terms"),
            F.round(score_dec.cast("double"), score_dp).alias("score"),
        )
        .where(F.col("n_terms") > 0)
    )
    topk = per_doc.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(top_k)
    rw = W.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return topk.select(
        id_col, "n_terms", "score", F.row_number().over(rw).alias("rank")
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    top_k: int = 10,
    term_dp: int = 9,
    score_dp: int = 6,
) -> DataFrame:
    """Global BM25 top-k of `docs` against `query_terms` (a 1-column
    DataFrame of distinct terms, small BY CONTRACT — it is broadcast).

    Returns (id_col, n_terms, score, rank): matched-term count, the rounded
    decimal-exact score, and the 1-based dense position under the
    deterministic (score DESC, id ASC) order. Documents matching no query
    term never appear (BM25 gives them score 0; emitting 10^12 zero rows
    would be the anti-pattern).

    Execution: when the term set fits MAX_INLINE_TERMS (pulled with a
    bounded limit(cap+1) collect), the ZERO-SHUFFLE in-row plan runs —
    per-doc (dl, tf...) folded in one bound HOF pass, corpus stats in one
    1-row agg, no explode, no (doc, term) exchange; measured 2.0x over the
    postings join at 8M docs (BENCH_XL_r05 bm25_xl, from
    `git show 1d3b96c:scripts/bench_bm25_xl.py` — and that corpus is the
    postings path's BEST case: a ~30-word vocabulary where 5 query terms
    match ~1/6 of all tokens; with realistically rare terms the join path's
    shuffle shrinks but the inline path's cost is unchanged — already
    scan-bound). Larger term sets fall
    back to the postings-join plan below. Results are identical: same
    frozen arithmetic, same round-then-DECIMAL sum (term order fixed).
    MAX_INLINE_TERMS=0 forces the join plan (plan tests monkeypatch it).

    The join plan derives dl with `doc_lengths()` in a second scan of
    `docs`. N (corpus size) always counts ALL of `docs` — zero-token
    documents still dilute idf, matching the oracle. (The inline path needs
    no external dl: the same scan that scores computes it in-row.)
    """
    if MAX_INLINE_TERMS > 0:
        tcol = query_terms.columns[0]
        pulled = (
            query_terms.select(F.col(tcol).alias("term"))
            .distinct()
            .limit(MAX_INLINE_TERMS + 1)
            .collect()
        )
        if len(pulled) <= MAX_INLINE_TERMS:
            terms = sorted(r["term"] for r in pulled if r["term"] is not None)
            if terms:  # 0 terms: fall through — the join plan's schema is
                # the canonical empty result (same dtypes as non-empty runs)
                return _bm25_inline(
                    docs, terms, id_col=id_col, text_col=text_col, k1=k1,
                    b=b, top_k=top_k, term_dp=term_dp, score_dp=score_dp,
                )
    q = F.broadcast(query_terms.select(F.col(query_terms.columns[0]).alias("term")).distinct())

    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    ).where(F.col("term") != "")

    # postings: broadcast-semi restriction BEFORE the hash agg — the big
    # shuffle only carries tokens that match the query
    tf = (
        toks.join(q, "term")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = doc_lengths(docs, id_col=id_col, text_col=text_col)

    # 1-row corpus stats; avgdl = ONE division over the exact BIGINT sum
    stats = F.broadcast(
        docs.agg(F.count("*").alias("n_docs")).crossJoin(
            dl.agg(F.sum("dl").alias("sum_dl"))
        )
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    idf = F.log(
        F.lit(1.0) + (n - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    w = (
        idf
        * (tfd * F.lit(k1 + 1.0))
        / (tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dld / avgdl))
    )

    scored = (
        tf.join(dl, id_col)  # postings ⋈ dl: equi-join on the doc key
        .join(F.broadcast(dfreq), "term")  # df is |query|-sized: broadcast
        .join(stats)
        .select(
            F.col(id_col),
            F.round(w, term_dp).cast(_SUM_DEC).alias("w_dec"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_terms"),
        F.round(F.sum("w_dec").cast("double"), score_dp).alias("score"),
    )
    topk = per_doc.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(top_k)
    # rank stamped on k rows only — the window sees the already-reduced set
    rw = W.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return topk.select(
        id_col, "n_terms", "score", F.row_number().over(rw).alias("rank")
    )
