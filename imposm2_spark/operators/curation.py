"""Training-data curation operators beyond dedup: decontamination, stratified
sampling, sequence packing.

Graft additions (no imposm2 analog; SURVEY.md training-data ops group — the
three standard corpus-preparation steps between "curated documents" and
"training batches"):

  * contamination_hits / decontaminate — benchmark decontamination: a train
    document is contaminated iff it shares at least one word-n-gram (default
    n=13, the publicly standard choice from the GPT-3/PaLM eval protocols)
    with the test set. Candidate generation is an equi-join on the n-gram
    rolling hash: the (small) test side's distinct gram set broadcasts, so at
    10^12 train docs the plan is one linear explode + broadcast-hash
    semi-style join — never an all-pairs text comparison.
  * stratified_sample — deterministic per-stratum downsampling (the "data
    mixing weights" step): keep iff an integer LCG hash of the id falls below
    the stratum's rate threshold. No runtime randomness (resume/lineage §2.9:
    re-running yields the same sample), no shuffle — a pure codegen filter.
  * pack_sequences — greedy first-fit-in-order packing of documents into
    fixed token-budget training sequences. Sequential by construction, so it
    parallelizes BY SHARD: rows are hash-sharded, each shard packs
    independently inside one applyInArrow group (a tight NumPy loop over the
    group — batch-level work). seq ids are (shard, seq_in_shard) pairs, which
    is exactly how a 1000-executor run would emit them.

All hashing is integer (rolling 31-polynomial mod 1e9+7 + the shared _COMBINE
fold), bit-identical to the DuckDB oracle twins in plans.registry.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import token_count_ws

DECONTAM_N = 13  # word-n-gram order for benchmark-overlap checks

# sampling LCG (fits BIGINT: (P-1)*A < 2^63)
SAMPLE_P = 2_147_483_647
SAMPLE_A = 1_103_515_245
SAMPLE_B = 12_345


def _ngram_rows_kernel(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """Exploded (id, _g) rows of per-doc DISTINCT n-gram hashes via the
    NumPy texthash kernel — bit-identical to the oracle's interpreted
    n-gram fold (tests/test_texthash.py) at a fraction of its cost."""
    from ..kernels import texthash as tx

    def gen(batches):
        for rb in batches:
            ids, grams = [], []
            for i, t in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                if t is None:
                    continue
                g = np.unique(
                    tx.ngram_hashes_from_tokens(tx.token_hashes_doc(t), n)
                )
                if len(g):
                    ids.append(np.full(len(g), i, dtype=np.int64))
                    grams.append(g)
            if ids:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate(ids)), pa.array(np.concatenate(grams))],
                    names=[id_col, "_g"],
                )

    return df.select(id_col, text_col).mapInArrow(gen, f"{id_col} long, _g long")


def contamination_hits(
    train: DataFrame,
    test: DataFrame,
    n: int = DECONTAM_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_hits): count of DISTINCT train-doc n-grams that appear anywhere
    in the test set. Only contaminated docs appear (n_hits >= 1).

    The n-gram hashes come from the batched NumPy kernel (values identical
    to the oracle's interpreted 12-step fold per gram, which was the scan's
    dominant cost; differential-tested in tests/test_texthash.py)."""
    tr = _ngram_rows_kernel(train, n, id_col, text_col)
    te = _ngram_rows_kernel(test, n, id_col, text_col).select("_g").distinct()
    return (
        tr.join(F.broadcast(te), "_g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = DECONTAM_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train rows with every test-overlapping document removed (anti-join on
    the contamination hits)."""
    hits = contamination_hits(train, test, n, id_col, text_col)
    return train.join(hits.select(id_col), id_col, "left_anti")


def sample_hash(id_col: str = "doc_id") -> F.Column:
    """Deterministic LCG hash of an integer id into [0, SAMPLE_P).

    pmod, not %: Spark's % preserves the dividend's sign, so a negative id
    would hash negative and ALWAYS pass the `< threshold` keep rule, silently
    breaking the sampling rate (ADVICE r3). pmod keeps the inner residue in
    [0, P) for any id sign; for nonnegative ids the value is unchanged, so
    the frozen oracle rows still match."""
    return (F.pmod(F.col(id_col), F.lit(SAMPLE_P)) * SAMPLE_A + SAMPLE_B) % SAMPLE_P


def stratified_sample(
    df: DataFrame, rate: F.Column, id_col: str = "doc_id"
) -> DataFrame:
    """Keep a deterministic `rate` fraction per row (rate may be any Column
    expression, typically derived from a stratum column): keep iff
    lcg(id) < floor(rate * P). Pure codegen filter — no shuffle, no RNG."""
    thr = F.floor(rate * F.lit(SAMPLE_P)).cast("long")
    return df.where(sample_hash(id_col) < thr)


_PACK_SCHEMA = "shard int, doc_id long, n_tok long, seq_id long"


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy in-order sequence packing: within each shard (id hash), docs are
    taken in ascending id order; a doc joins the current sequence unless that
    would exceed `budget` whitespace tokens, in which case it starts the next
    one. A single doc larger than the budget gets its own sequence (never
    dropped or split). Returns (shard, doc_id, n_tok, seq_id) with seq_id
    counted per shard.

    The greedy scan is inherently sequential, so parallelism comes from
    sharding — each applyInArrow group runs one tight NumPy loop. At 10^12
    docs, n_shards is sized to executor count; group size stays bounded at
    |corpus|/n_shards rows of (id, n_tok) only — no text shuffles."""
    toks = docs.select(
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        F.col(id_col).cast("long").alias("doc_id"),
        # NULL text has no tokens, like empty text
        F.coalesce(token_count_ws(F.col(text_col)), F.lit(0).cast("long")).alias("n_tok"),
    )

    def _pack(table: pa.Table) -> pa.Table:
        table = table.sort_by("doc_id")
        n_tok = table.column("n_tok").to_numpy()
        seq = np.empty(table.num_rows, dtype=np.int64)
        acc = 0
        cur = -1
        for i, t in enumerate(n_tok):
            if cur < 0 or acc + t > budget:
                cur += 1
                acc = int(t)
            else:
                acc += int(t)
            seq[i] = cur
        return table.append_column("seq_id", pa.array(seq))

    return toks.groupBy("shard").applyInArrow(_pack, _PACK_SCHEMA)


# Gopher-style repetition thresholds (public spec: Rae et al. 2021, "Scaling
# Language Models: Methods, Analysis & Insights from Training Gopher",
# Table A1 repetition filters; RefinedWeb, Penedo et al. 2023, reuses them).
# The corpus here is single-line space-joined tokens, so the duplicate-LINE
# metrics specialize to duplicate-TOKEN metrics at the same thresholds.
DUP_TOKEN_FRAC_MAX = 0.30
DUP_TOKEN_CHAR_FRAC_MAX = 0.20
TOP_BIGRAM_CHAR_FRAC_MAX = 0.20


def repetition_metrics(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition metrics + keep flag (Gopher Table A1 shape).

    Per doc: (id, n_tokens, dup_token_frac, dup_token_char_frac,
    top_bigram_char_frac, keep) where
      * dup_token_frac       = 1 - distinct_tokens / n_tokens
      * dup_token_char_frac  = chars of token slots AFTER their first
                               occurrence / length(text)
      * top_bigram_char_frac = occurrences-of-most-frequent-word-bigram x
                               its length / length(text), clamped to 1.0
                               (overlapping occurrences can exceed the text);
                               ties broken by lexicographically greatest gram
      * keep                 = all three under the module thresholds
                               (evaluated on the 6dp-rounded values so the
                               DuckDB oracle agrees bit-for-bit)
    Tokens are split on single spaces. A pure-HOF formulation of the same
    rows is the differential twin in tests/hof_twins.py.

    Scale shape: one mapInArrow over (id, text) — still ZERO
    shuffles/joins/aggregations (plan-locked). The r4 HOF shape was already
    exchange-free but its per-doc constant (array_sort over the gram array +
    interpreted higher-order folds) held the heaviest curation scan to
    ~125k docs/s at XL; the batched kernel replaces the O(n log n) sorted-run
    scan with one Counter pass per doc and moves the winner pick
    (count desc, gram string desc — Python str compare == UTF8 binary ==
    Spark/DuckDB collation) into C-backed dict machinery. Fractions,
    6dp rounding, and the keep flag still evaluate in Spark expressions,
    BIT-IDENTICAL to before (HALF_UP BigDecimal rounding — the kernel only
    emits exact integer components, so no float crosses the Arrow boundary).
    """
    raw = (
        f"{id_col} long, n_tokens long, _distinct long, _dchars long,"
        " _top_cnt long, _top_len long, _n_chars long"
    )

    def _kernel(batches):
        from collections import Counter
        from itertools import islice

        for rb in batches:
            n = rb.num_rows
            n_tok = np.empty(n, dtype=np.int64)
            dist = np.empty(n, dtype=np.int64)
            dchars = np.empty(n, dtype=np.int64)
            top_cnt = np.zeros(n, dtype=np.int64)
            top_len = np.zeros(n, dtype=np.int64)
            n_chars = np.empty(n, dtype=np.int64)
            for i, text in enumerate(rb.column(1).to_pylist()):
                text = text or ""
                toks = text.split(" ")  # == F.split(text, ' '): keeps empties
                n_chars[i] = len(text)
                n_tok[i] = len(toks)
                seen = set(toks)
                dist[i] = len(seen)
                dchars[i] = sum(map(len, seen))
                if len(toks) >= 2:
                    # Counter(zip(...)) counts pairs in C; gram STRINGS are
                    # built only for count-ties, because the winner's
                    # tie-break is lexicographic on the JOINED gram (byte
                    # order of 'a bc' vs 'ab c' differs from tuple order —
                    # that string is what the oracle sorts on)
                    c = Counter(zip(toks, islice(toks, 1, None)))
                    bc = max(c.values())
                    bg = max(
                        a + " " + b for (a, b), v in c.items() if v == bc
                    )
                    top_cnt[i] = bc
                    top_len[i] = len(bg)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).cast(pa.int64()),
                 *map(pa.array, (n_tok, dist, dchars, top_cnt, top_len, n_chars))],
                names=[id_col, "n_tokens", "_distinct", "_dchars", "_top_cnt",
                       "_top_len", "_n_chars"],
            )

    mid = docs.select(id_col, text_col).mapInArrow(_kernel, raw)
    dup_frac = F.round(
        F.lit(1.0) - F.col("_distinct") / F.col("n_tokens"), 6
    )
    dup_char_frac = F.round(
        (F.col("_n_chars") - F.col("n_tokens") + 1 - F.col("_dchars"))
        / F.greatest("_n_chars", F.lit(1)),
        6,
    )
    top_frac = F.round(
        F.least(
            F.lit(1.0),
            F.col("_top_cnt") * F.col("_top_len")
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


def source_mix_rates(
    docs: DataFrame,
    weights: dict,
    token_budget: int,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(source, total_tokens, rate): the deterministic per-source sampling
    rate that hits `token_budget` split by `weights` (domain-mixing step,
    publicly standard from The Pile / LLaMA data recipes): rate_s =
    min(1.0, budget * w_s / sum(w) / tokens_s). Sources absent from
    `weights` get no row (weight zero -> dropped).

    The rate arithmetic is written as one left-associative double chain so
    the DuckDB oracle twin (same literal order) produces bit-identical
    IEEE doubles — the LCG keep rule in stratified_sample then agrees
    exactly on both engines."""
    spark = docs.sparkSession
    wsum = float(sum(weights.values()))
    wdf = spark.createDataFrame(
        # float(w): DoubleType strictly rejects Python ints, and integer mix
        # weights ({'web': 3, 'code': 1}) are the natural way to write these
        sorted((s, float(w)) for s, w in weights.items()),
        f"{source_col} string, _w double",
    )
    totals = docs.groupBy(source_col).agg(
        F.sum(token_count_ws(F.col(text_col))).alias("_toks")
    )
    return totals.join(F.broadcast(wdf), source_col).select(
        source_col,
        F.col("_toks").alias("total_tokens"),
        F.least(
            F.lit(1.0),
            F.lit(float(token_budget))
            * F.col("_w")
            / F.lit(wsum)
            / F.col("_toks").cast("double"),
        ).alias("rate"),
    )


def mix_sources(
    docs: DataFrame,
    weights: dict,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Docs downsampled per source to hit `token_budget` at the `weights`
    mix: the source_mix_rates table (tiny — one row per corpus domain)
    broadcasts onto the corpus and the deterministic LCG keep rule of
    stratified_sample applies per row. Output = the kept docs' columns +
    their source's `rate`.

    Scale shape: one map-side-combined aggregation for the per-source token
    totals, then a broadcast join + codegen filter over the corpus — no
    corpus shuffle, rerun-identical (resume/lineage §2.9)."""
    rates = source_mix_rates(docs, weights, token_budget, text_col, source_col)
    joined = docs.join(
        F.broadcast(rates.select(source_col, "rate")), source_col, "inner"
    )
    return stratified_sample(joined, F.col("rate"), id_col)
