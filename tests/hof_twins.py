"""Reference formulations the differential tests compare the library against.

* Catalyst higher-order-function (HOF) forms of the text-hash chain. The
  library computes signatures, SimHash fingerprints and decontamination
  n-grams with the batched NumPy kernels in imposm2_spark/kernels/texthash.py;
  these expression forms are the textual twins of the DuckDB oracle SQL in
  plans.registry. The token and shingle hashes they start from
  (operators.dedup.token_hashes / shingle_hashes) stay in the library:
  ngram_jaccard_pairs uses them.
* token_count_bpe and repetition_metrics_hof: the expression forms of the
  textstats kernel's n_bpe and of curation.repetition_metrics' Arrow kernel.
* staged_enrich: the spine's enrich as two separate row-loop pandas UDF
  projections over extract_text_bytes then geotag_pair, the reference for
  the one whole-batch crossing of plans.pipeline.
* cosine_topk_brute_hof / cosine_topk_ivf_indexed_hof: exact and
  persisted-IVF cosine top-k as broadcast joins scored by the sequential
  zip_with/aggregate fold (bit-identical to the DuckDB oracle's
  list_reduce), the reference for operators.ann's matmul kernel.

A kernel or fused path is correct when it matches these row for row. They
are not library code — no operator calls them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imposm2_spark.functions.geotag import geotag_pair
from imposm2_spark.functions.text_analysis import BPE_TOKEN_RE
from imposm2_spark.functions.textx import extract_text_bytes
from imposm2_spark.kernels.texthash import (
    _COMBINE,
    BAND_ROWS,
    CHAR_MOD,
    MINHASH_P,
    N_BANDS,
    PERMS,
    SHINGLE_N,
)
from imposm2_spark.operators.ann import (
    N_PROBE,
    _as_double,
    _load_centroids,
    _make_probe_udf,
    _norm2,
    _rank_topk,
    _sim_col,
)
from imposm2_spark.operators.curation import (
    DUP_TOKEN_CHAR_FRAC_MAX,
    DUP_TOKEN_FRAC_MAX,
    TOP_BIGRAM_CHAR_FRAC_MAX,
)
from imposm2_spark.operators.dedup import (
    jaccard,
    minhash_signatures,
    shingle_hashes,
    token_hashes,
)

SIMHASH_BITS = 32


def minhash_signature(shs: F.Column) -> list[F.Column]:
    """16 MinHash components (duplicate shingles are harmless under min)."""
    return [
        F.array_min(F.transform(shs, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P)).alias(
            f"m{j}"
        )
        for j, (a, b) in enumerate(PERMS)
    ]


def band_keys() -> list[F.Column]:
    """Collapse each band of BAND_ROWS signature components into one key."""
    out = []
    for b in range(N_BANDS):
        key = F.col(f"m{BAND_ROWS * b}")
        for r in range(1, BAND_ROWS):
            key = (key * _COMBINE + F.col(f"m{BAND_ROWS * b + r}")) % MINHASH_P
        out.append(key.alias(f"band{b}"))
    return out


def _bit_masks() -> F.Column:
    """One literal mask per bit: a constant array, built once per plan.
    Constructed lazily — F.lit requires an active SparkContext, so a
    module-level constant would break import before session start."""
    return F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])


def simhash_from_hashes(th: F.Column) -> F.Column:
    """SimHash from a PRECOMPUTED token-hash array column, in ONE array pass.

    The oracle extracts bit b as floor(h / 2^b) % 2 (DuckDB lambdas lack
    bitwise shift-by-column); this form uses literal bit MASKS + bitwiseAND —
    identical values because token hashes are nonnegative (< CHAR_MOD < 2^30).
    The token array is folded ONCE, zip_with-ing a 32-counter array state
    against the masks; the counts array is then bound once as a lambda
    variable (aggregate over a 1-element array) before the 32 element_at
    references — an unbound expression would re-run the whole fold per
    reference (HOF lambdas have no common-subexpression elimination)."""
    n = F.size(th)
    counts = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            _bit_masks(),
            lambda c, m: c
            + F.when(h.cast("long").bitwiseAND(m) != 0, 1).otherwise(0),
        ),
    )
    return F.aggregate(
        F.array(counts),  # binds the counts fold ONCE as a lambda variable
        F.lit(0).cast("long"),
        lambda _zero, cs: F.aggregate(
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2
            + F.when(F.element_at(cs, b.cast("int") + 1) * 2 > n, 1).otherwise(0),
        ),
    )


def simhash(text: F.Column) -> F.Column:
    """Single-column convenience form of simhash_from_hashes."""
    return simhash_from_hashes(token_hashes(text))


def ngram_hashes(th: F.Column, n: int) -> F.Column:
    """Word-n-gram rolling hashes from token hashes (generalizes the fixed
    3-gram shingle_hashes): gram_i = fold_{j=1..n-1} (acc*C + h_{i+j}) % M
    seeded with h_i. Fewer than n tokens -> empty array.

    `th` MUST be a cheap reference (a bound column or lambda variable), not a
    compound expression: every element_at(th, ...) re-evaluates th inside the
    interpreted lambdas."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(th) - (n - 1)),
        lambda i: F.aggregate(
            F.sequence(F.lit(1), F.lit(n - 1)),
            F.element_at(th, i),
            lambda acc, j: (acc * _COMBINE + F.element_at(th, i + j)) % CHAR_MOD,
        ),
    )
    return F.when(F.size(th) >= n, grams).otherwise(F.array().cast("array<long>"))


def text_ngram_hashes(text: F.Column, n: int) -> F.Column:
    """n-gram hashes straight from text, with the token-hash array bound ONCE
    as a lambda variable (transform over a single-element array wrapper)."""
    return F.element_at(
        F.transform(F.array(token_hashes(text)), lambda th: ngram_hashes(th, n)), 1
    )


def token_count_bpe(text: F.Column) -> F.Column:
    """Count of BPE-ish regex tokens (letters/digits/punct runs): the
    expression form of the textstats kernel's n_bpe."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)).cast("long")


# --- operator compositions: what each operator computes, as HOF expressions


def minhash_signatures_hof(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shs, m0..m15, band0..band3) — dedup.minhash_signatures' rows."""
    th = docs.select(
        F.col(id_col), token_hashes(F.col(text_col)).alias("_th")
    ).where(F.size("_th") >= SHINGLE_N)
    sh = th.select(id_col, shingle_hashes(F.col("_th")).alias("shs"))
    sig = sh.select(id_col, "shs", *minhash_signature(F.col("shs")))
    return sig.select(
        id_col, "shs", *[F.col(f"m{j}") for j in range(len(PERMS))], *band_keys()
    )


def shingle_frame_hof(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shs) — dedup.shingle_frame's rows."""
    return (
        docs.select(id_col, token_hashes(F.col(text_col)).alias("_th"))
        .where(F.size("_th") >= SHINGLE_N)
        .select(id_col, shingle_hashes(F.col("_th")).alias("shs"))
    )


def minhash_lsh_pairs_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — dedup.minhash_lsh_pairs' rows, as the flat
    join composition: explode the band keys, semi-join a bucket-count gate,
    self-join on (band_idx, band_key), drop duplicate pairs, join each
    side's shingles back by id and verify with the JVM array expressions."""
    sig = minhash_signatures(docs, id_col, text_col)
    bands = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])).alias(
            "band_idx", "band_key"
        ),
    )
    if max_bucket is not None:
        counts = bands.groupBy("band_idx", "band_key").count()
        keep = counts.where(F.col("count") <= max_bucket).drop("count")
        bands = bands.join(keep, ["band_idx", "band_key"], "left_semi")
    a = bands.select(F.col(id_col).alias("doc_a"), "band_idx", "band_key")
    b = bands.select(F.col(id_col).alias("doc_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b")
    )
    sh = sig.select(id_col, "shs")
    return (
        cand.join(sh.select(F.col(id_col).alias("doc_a"), F.col("shs").alias("sa")), "doc_a")
        .join(sh.select(F.col(id_col).alias("doc_b"), F.col("shs").alias("sb")), "doc_b")
        .select("doc_a", "doc_b", jaccard(F.col("sa"), F.col("sb")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_clusters_hof(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(simhash, n_docs, keeper_id) — dedup.simhash_clusters' rows."""
    th = docs.select(F.col(id_col), token_hashes(F.col(text_col)).alias("_th"))
    fp = th.select(F.col(id_col), simhash_from_hashes(F.col("_th")).alias("simhash"))
    return (
        fp.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_docs") > 1)
    )


def contamination_hits_hof(
    train: DataFrame,
    test: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_hits) — curation.contamination_hits' rows."""
    tr = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(text_ngram_hashes(F.col(text_col), n))).alias("_g"),
    )
    te = test.select(F.explode(text_ngram_hashes(F.col(text_col), n)).alias("_g")).distinct()
    return (
        tr.join(F.broadcast(te), "_g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def repetition_metrics_hof(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """curation.repetition_metrics' rows as Catalyst HOF expressions.

    Shape: EVERYTHING is in-row — zero shuffles, no join, no
    aggregation. The r4-initial shape exploded grams through
    two hash aggregations and an equi-join back; correct but the 50x gram
    blow-up transited two exchanges. Duplicate accounting needs no scan at
    all: dup slot chars = (total slot chars) - (distinct token chars),
    and total slot chars = n_chars - (n_tokens - 1) exactly, because
    split-on-single-space consumes exactly n_tokens-1 one-char separators
    for ANY input. The top bigram is the longest run in the SORTED gram
    array: run starts = positions whose gram differs from its predecessor
    (one filter over an index sequence), run lengths = successive-start
    deltas, winner = array_max over (cnt, gram) structs — struct ordering
    ties break on the lexicographically greatest gram, matching the
    oracle's `ORDER BY cnt DESC, gram DESC`. All HOF lambdas here are
    single simple expressions (no struct-accumulator folds — an earlier
    fold formulation was 2x SLOWER than the explode shape at 1M docs);
    arrays are bound ONCE as lambda variables (transform over a 1-element
    array — HOF lambdas have no CSE)."""
    toks = docs.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("_toks"),
        F.length(F.col(text_col)).alias("_n_chars"),
    )

    zero = F.lit(0).cast("long")

    # (distinct count, distinct chars) off the deduped token array, bound once
    stats = F.element_at(
        F.transform(
            F.array(F.array_distinct(F.col("_toks"))),
            lambda d: F.struct(
                F.size(d).cast("long").alias("distinct"),
                F.aggregate(
                    d, zero, lambda acc, x: acc + F.length(x)
                ).alias("dchars"),
            ),
        ),
        1,
    )

    def _best_run(gs: F.Column) -> F.Column:
        """(cnt, gram) of the modal gram from a BOUND sorted gram array."""
        n = F.size(gs)
        starts = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == F.lit(1))
            | (F.element_at(gs, i) != F.element_at(gs, i - 1)),
        )
        return F.element_at(
            F.transform(
                F.array(starts),
                lambda st: F.array_max(
                    F.transform(
                        F.sequence(F.lit(1), F.size(st)),
                        lambda j: F.struct(
                            (
                                F.when(
                                    j < F.size(st), F.element_at(st, j + 1)
                                ).otherwise(n + 1)
                                - F.element_at(st, j)
                            ).cast("long").alias("cnt"),
                            F.element_at(
                                gs, F.element_at(st, j)
                            ).alias("gram"),
                        ),
                    )
                ),
            ),
            1,
        )

    gram_arr = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 1),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("_toks"), i),
            F.element_at(F.col("_toks"), i + 1),
        ),
    )
    top = F.when(
        F.size("_toks") >= 2,
        F.element_at(
            F.transform(
                F.array(F.array_sort(gram_arr)), lambda gs: _best_run(gs)
            ),
            1,
        ),
    ).otherwise(F.struct(zero.alias("cnt"), F.lit("").alias("gram")))

    mid = toks.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.col("_n_chars"),
        stats.alias("_s"),
        top.alias("_t"),
    )
    dup_frac = F.round(
        F.lit(1.0) - F.col("_s.distinct") / F.col("n_tokens"), 6
    )
    dup_char_frac = F.round(
        (F.col("_n_chars") - F.col("n_tokens") + 1 - F.col("_s.dchars"))
        / F.greatest("_n_chars", F.lit(1)),
        6,
    )
    top_frac = F.round(
        F.least(
            F.lit(1.0),
            F.col("_t.cnt")
            * F.length(F.col("_t.gram"))
            / F.greatest("_n_chars", F.lit(1)),
        ),
        6,
    )
    return mid.select(
        F.col(id_col),
        "n_tokens",
        dup_frac.alias("dup_token_frac"),
        dup_char_frac.alias("dup_token_char_frac"),
        top_frac.alias("top_bigram_char_frac"),
        (
            (dup_frac <= DUP_TOKEN_FRAC_MAX)
            & (dup_char_frac <= DUP_TOKEN_CHAR_FRAC_MAX)
            & (top_frac <= TOP_BIGRAM_CHAR_FRAC_MAX)
        ).alias("keep"),
    )


@F.pandas_udf(T.StringType())
def _extract_text_rows(html: pd.Series) -> pd.Series:
    return html.map(extract_text_bytes)


@F.pandas_udf(
    T.StructType([T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())])
)
def _geotag_rows(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    pairs = np.array([geotag_pair(u, h) for u, h in zip(url, html)], dtype=np.float64)
    return pd.DataFrame(pairs.reshape(len(url), 2), columns=["lon", "lat"])


def staged_enrich(docs: DataFrame) -> DataFrame:
    """docs + (text_extracted, lon, lat): the spine's enrich as two row-loop
    UDF projections, extract_text_bytes(html) then geotag_pair(url, html).
    The one crossing of plans.pipeline must reproduce its rows."""
    return (
        docs.withColumn("text_extracted", _extract_text_rows("html"))
        .withColumn("_geo", _geotag_rows("url", "html"))
        .select("*", F.col("_geo.lon").alias("lon"), F.col("_geo.lat").alias("lat"))
        .drop("_geo")
    )


def cosine_topk_brute_hof(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """(qid, vec_id, rank): the queries broadcast-joined to every other
    corpus row, norms precomputed per side, the sim folded in array order."""
    c = corpus.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_nn", _norm2(F.col("_v")))
    q = queries.select(
        F.col(id_col).alias(query_id), _as_double(F.col(vec_col)).alias("_q")
    ).withColumn("_qn", _norm2(F.col("_q")))
    cand = c.join(F.broadcast(q), F.col(id_col) != F.col(query_id)).withColumn(
        "_sim", _sim_col()
    )
    return _rank_topk(cand, k, id_col, query_id)


def cosine_topk_ivf_indexed_hof(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """(qid, vec_id, rank) over a persisted IVF index: each query equi-joins
    the rows of its nprobe probe lists, read through the same pruned scan."""
    probe = _make_probe_udf(_load_centroids(spark, path), nprobe)
    q = (
        queries.select(
            F.col(id_col).alias(query_id),
            _as_double(F.col(vec_col)).alias("_q"),
            probe(F.col(vec_col)).alias("_probes"),
        )
        .withColumn("_qn", _norm2(F.col("_q")))
        .select(query_id, "_q", "_qn", F.explode("_probes").alias("_list"))
    )
    rows = q.collect()
    c = (
        spark.read.parquet(path)
        .where(F.col("_list").isin(sorted({r["_list"] for r in rows})))
        .select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"), "_list")
        .withColumn("_nn", _norm2(F.col("_v")))
    )
    cand = (
        c.join(F.broadcast(spark.createDataFrame(rows, q.schema)), "_list")
        .where(F.col(id_col) != F.col(query_id))
        .withColumn("_sim", _sim_col())
    )
    return _rank_topk(cand, k, id_col, query_id)
