"""End-to-end training-corpus curation: the training-data ops composed.

The showcase pipeline a 100 TB corpus run would execute (each stage is an
operator proven individually against its DuckDB oracle; the composition is
oracle-checked as a whole in plans.registry::curate_corpus):

  1. quality gate   — quality_score >= min_quality (functions.text_analysis)
  2. language gate  — heuristic lang_id in `langs`
  3. exact dedup    — keep min doc_id per md5(text)
  4. near-dup gate  — connected components over the verified MinHash-LSH
                      pair graph (operators.dedup.dedup_connected_components);
                      keep the smallest doc id of every cluster — exact
                      transitive clustering, not the greedy pair-drop
  5. stats          — per-language kept counts + token totals

Scale shape: stages 1-2 are one scoring scan — a single Arrow-batched stats
UDF (kernels/textstats.py) feeding codegen'd filters, no shuffle; stage 3 is
one hash aggregation; stage 4 reuses the grouped banded-LSH pair kernel
(bounded buckets) plus a bounded label-propagation loop over dup nodes only; stage 5
one aggregation. Nothing quadratic, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import doc_stats_udf, stats_lang, stats_quality
from ..operators.dedup import dedup_connected_components, minhash_lsh_pairs
from ..session import cache_scope


def curate(
    docs: DataFrame,
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    neardup_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Returns the kept documents: (doc_id, text, lang_pred, quality, n_tokens).

    The scoring scan evaluates ONE Arrow-batched stats UDF
    (kernels/textstats.py) per row instead of ~8 interpreted references to
    the `\\s+` tokenizer plus four stopword filters and two regex passes;
    the float blend / rounding / lang argmax stay in the SAME shared Spark
    expressions (functions.text_analysis stats_quality/stats_lang), so
    outputs are bit-identical to the expression chain (differential-tested
    in tests/test_textstats.py; the curate oracle pins the whole
    composition)."""
    stats = doc_stats_udf()
    scored = docs.select(
        F.col(id_col),
        F.col(text_col),
        stats(F.col(text_col)).alias("_s"),
    ).select(
        F.col(id_col),
        F.col(text_col),
        stats_lang(F.col("_s")).alias("lang_pred"),
        F.round(stats_quality(F.col("_s")), 6).alias("quality"),
        F.col("_s.n_ws").alias("n_tokens"),
    )
    gated = scored.where(
        (F.col("quality") >= min_quality) & F.col("lang_pred").isin(*langs)
    )
    # persist GATED, not just the deduped frame (r6, guide §1.2): `exact`
    # consumes `gated` on two branches (keepers agg + semi-join left side),
    # so persisting only `exact` still ran the regexp-heavy scoring chain
    # twice to materialize it. With `gated` cached the scoring scan executes
    # exactly once; `exact` is additionally cached because the LSH chain and
    # the final anti-join consume it on several branches, and rebuilding it
    # per branch would repeat the keepers hash-agg + semi-join (cheap next
    # to scoring, but free to avoid). Footprint stays bounded at one live
    # invocation: the next call releases both (session.cache_scope).
    hold = cache_scope("curate")
    gated = hold(gated)
    # exact dedup: keep the lowest id per content hash
    keepers = gated.groupBy(F.md5(text_col).alias("_h")).agg(
        F.min(id_col).alias(id_col)
    )
    exact = hold(gated.join(keepers, id_col, "left_semi"))
    # near-dup: exact transitive clustering — keep the smallest id per
    # connected component of the verified pair graph
    pairs = minhash_lsh_pairs(exact, id_col=id_col, text_col=text_col,
                              threshold=neardup_threshold)
    cc = dedup_connected_components(pairs)
    drops = cc.where(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return exact.join(drops, id_col, "left_anti")


def curate_stats(kept: DataFrame) -> DataFrame:
    """Per-language corpus stats over the kept set."""
    # mean via exact DECIMAL sum (quality is pre-rounded to 6 dp, so the sum
    # is exact) — a double avg() would sit on a partial-sum-order boundary.
    return kept.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            4,
        ).alias("mean_quality"),
    )
