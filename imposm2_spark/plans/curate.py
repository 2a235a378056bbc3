"""End-to-end training-corpus curation: the training-data ops composed.

The showcase pipeline a 100 TB corpus run would execute (each stage is an
operator proven individually against its DuckDB oracle; the composition is
oracle-checked as a whole in plans.registry::curate_corpus):

  1. exact dedup    — keep min doc_id per md5(text)
  2. quality gate   — quality_score >= min_quality (functions.text_analysis)
  3. language gate  — heuristic lang_id in `langs`
  4. near-dup gate  — connected components over the verified MinHash-LSH
                      pair graph (operators.dedup.dedup_connected_components);
                      keep the smallest doc id of every cluster — exact
                      transitive clustering, not the greedy pair-drop
  5. stats          — per-language kept counts + token totals

Both gates are functions of the text alone, so deduplicating first keeps
the same documents as gating first, and every later stage reads each
distinct text once.

Scale shape: stage 1 is one hash aggregation; stages 2-3 and the shingling
of stage 4 are ONE Arrow crossing over the distinct texts (a mapInArrow
that runs kernels/textstats.py and kernels/texthash.py on one unit view of
each batch) feeding codegen'd filters; its gated output is the one cached
frame. Stage 4 then shuffles the packed shingle sets into LSH buckets for
the grouped pair kernel (bounded buckets) and labels the pair graph's
components; stage 5 is one aggregation. Nothing quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import stats_lang, stats_quality
from ..kernels.textstats import STAT_COLS
from ..operators.dedup import N_BANDS, _verified_pairs, dedup_connected_components
from ..session import cache_scope

_BANDS = tuple(f"band{b}" for b in range(N_BANDS))


def curate(
    docs: DataFrame,
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    neardup_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Returns the kept documents: (doc_id, text, lang_pred, quality, n_tokens).

    Exact dedup runs first, as one aggregate keyed by md5(text). Gating
    first would keep the same rows, because both gates read only the text.
    The two orders can differ only if a text the gates keep and one they
    drop share an md5.

    The one crossing (_scan) returns, per distinct text, the integer
    STAT_COLS of kernels/textstats.py, the LSH band keys and the packed
    shingle set of kernels/texthash.py::batch_band_sets. The float blend,
    rounding and lang argmax stay in the SAME shared Spark expressions
    (functions.text_analysis stats_quality/stats_lang), so outputs are
    bit-identical to the expression chain (differential-tested in
    tests/test_textstats.py; the curate oracle pins the whole
    composition). The gated frame is cached once, under
    cache_scope("curate"): the next call releases it."""
    distinct = docs.groupBy(F.md5(F.col(text_col)).alias("_h")).agg(
        F.min(id_col).alias(id_col), F.min_by(text_col, id_col).alias(text_col)
    )
    s = F.struct(*STAT_COLS)
    scored = _scan(distinct, id_col, text_col).select(
        F.col(id_col),
        F.col(text_col),
        stats_lang(s).alias("lang_pred"),
        F.round(stats_quality(s), 6).alias("quality"),
        F.col("n_ws").alias("n_tokens"),
        *_BANDS,
        "shs",
    )
    gated = cache_scope("curate")(scored.where(
        (F.col("quality") >= min_quality) & F.col("lang_pred").isin(*langs)
    ))
    # near-dup: exact transitive clustering — keep the smallest id per
    # connected component of the verified pair graph
    pairs = _verified_pairs(gated, id_col, neardup_threshold, max_bucket=10_000)
    cc = dedup_connected_components(pairs)
    drops = cc.where(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    kept = gated.select(id_col, text_col, "lang_pred", "quality", "n_tokens")
    return kept.join(drops, id_col, "left_anti")


def _scan(distinct: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text, STAT_COLS..., band0..band3, shs) per row of `distinct`:
    one mapInArrow pass that builds each batch's unit view once and runs
    textstats.batch_stats and texthash.batch_band_sets on it. NULL text
    gives NULL stats; NULL or <3-token text gives NULL bands and shs."""
    import pyarrow as pa

    from ..kernels import texthash as tx
    from ..kernels import textstats as ts

    id_type = distinct.schema[id_col].dataType.simpleString()
    longs = [*STAT_COLS, *_BANDS]
    schema = (f"{id_col} {id_type}, {text_col} string, "
              + ", ".join(f"{c} long" for c in longs) + ", shs binary")

    def gen(batches):
        for rb in batches:
            units = tx.text_units(rb.column(1))
            nulls, stats = ts.batch_stats(units)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1),
                 *(pa.array(stats[c], mask=nulls) for c in STAT_COLS),
                 *tx.batch_band_sets(units)],
                names=[id_col, text_col, *longs, "shs"],
            )

    return distinct.select(id_col, text_col).mapInArrow(gen, schema)


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
