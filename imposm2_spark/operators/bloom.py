"""T32: Bloom-filter membership — dedup probes against a historical corpus
WITHOUT joining the corpus.

The incremental-crawl problem: each new batch must drop documents already in
a 10^12-doc history. An exact anti-join re-shuffles (a digest of) the whole
history every batch; the standard production answer (Dolma's dedupe tool,
CCNet's per-shard hashes) is a Bloom filter built ONCE over the history and
broadcast to the scoring pass — no false negatives, tunable false-positive
rate, and the filter is a few GB for 10^9 keys where the history is TBs.

Engine shape (everything is integer arithmetic shared with the DuckDB
oracle — the filter is DETERMINISTIC, so even the "approximate" answer is
value-hash checkable, the T28 discipline):

  * build: one codegen projection computes k = 3 bit positions per doc from
    the rolling char hash (`functions.text_analysis.char_hash`, the
    engine's oracle-shared string hash) via independent LCG mixes, then ONE
    map-side-combined `bit_or` hash-agg over (word, mask) — the shuffle
    carries at most `n_bits/32` rows TOTAL (the filter size), never the
    corpus. Masks use 32-bit sub-words inside BIGINT so no engine ever
    shifts by >=63 (DuckDB raises on BIGINT << overflow; Java wraps —
    sub-words keep both exact).
  * probe: k (word, mask) rows per candidate -> broadcast equi-join against
    the tiny filter frame -> per-doc ALL-bits-set flag in one
    map-side-combined agg. The candidate batch never shuffles its payload;
    the history is not read at all.

Guarantee: no false negatives (a planted exact copy always flags); false
positives are deterministic and bounded by the classic (1-e^{-kn/m})^k —
pytest pins both. Callers route `maybe_member=true` docs to the exact
verifier (T1 hash-agg over the flagged subset only) when exactness matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import CHAR_MOD, char_hash

__all__ = ["bloom_build", "bloom_probe", "bloom_positions"]

# independent LCG mixes of the base hash -> k bit positions. Small
# multipliers keep h*A well under 2^63 (h < CHAR_MOD ~ 1e9) in BOTH engines.
BLOOM_A = (31, 37, 41)
BLOOM_B = (7, 11, 13)
DEFAULT_N_BITS = 1 << 17


def bloom_positions(text_col: Column, n_bits: int = DEFAULT_N_BITS, k: int = 3) -> Column:
    """array<long> of k bit positions in [0, n_bits) for a text value.

    The base hash is bound once as a lambda variable (HOF re-evaluation
    guard) — char_hash is itself a per-character fold, so referencing it k
    times would k-uple the row cost.
    """
    if not 1 <= k <= len(BLOOM_A):
        raise ValueError(f"k must be in 1..{len(BLOOM_A)}, got {k}")
    return F.aggregate(
        F.array(char_hash(text_col)),
        F.array().cast("array<long>"),
        lambda _acc, h: F.array(
            *[
                ((h * F.lit(BLOOM_A[i]) + F.lit(BLOOM_B[i])) % CHAR_MOD) % n_bits
                for i in range(k)
            ]
        ),
    )


def _word_mask(pos: Column) -> tuple[Column, Column]:
    word = (pos / 32).cast("long")
    # pyspark's F.shiftleft only takes a literal shift distance; the shift
    # by a column goes through the SQL function. pos % 32 <= 31, so the
    # mask fits a 32-bit sub-word — no engine ever shifts by >= 63
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
    return word, mask


def bloom_build(
    history: DataFrame,
    *,
    text_col: str = "text",
    n_bits: int = DEFAULT_N_BITS,
    k: int = 3,
) -> DataFrame:
    """Build the filter: (word long, bits long), at most ceil(n_bits/32) rows."""
    pos = F.explode(bloom_positions(F.col(text_col), n_bits, k)).alias("pos")
    posed = history.select(pos)
    word, mask = _word_mask(F.col("pos"))
    return (
        posed.select(word.alias("word"), mask.alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    candidates: DataFrame,
    bloom: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = DEFAULT_N_BITS,
    k: int = 3,
) -> DataFrame:
    """(id, maybe_member): true iff ALL k bits are set in the filter.

    `n_bits`/`k` MUST match the build call — positions are recomputed on
    the candidate side. maybe_member=false is definitive (no false
    negatives); true needs the exact verifier when exactness matters.
    """
    # explode_OUTER: a null text yields a null position array; plain explode
    # would drop the document from the verdict entirely instead of scoring
    # it maybe_member=false (row preservation pytest-pinned)
    pos = F.explode_outer(bloom_positions(F.col(text_col), n_bits, k)).alias("pos")
    posed = candidates.select(F.col(id_col), pos)
    word, mask = _word_mask(F.col("pos"))
    probe = posed.select(id_col, word.alias("word"), mask.alias("mask"))
    hit = F.when(
        F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
        1,
    ).otherwise(0)
    # min(_hit) == 1, NOT sum(_hit) == k (ADVICE r5, confirmed): duplicate
    # doc_id rows in the candidate frame (plausible in incremental-crawl
    # batches) make the per-id group hold 2k hit rows, so sum == 2k != k
    # reported maybe_member=false for an exact history copy — a false
    # negative violating the operator's core guarantee. min over the hit
    # flags is duplicate-count-invariant and identical on unique ids.
    return (
        probe.join(F.broadcast(bloom), "word", "left")
        .select(id_col, hit.alias("_hit"))
        .groupBy(id_col)
        .agg((F.min("_hit") == F.lit(1)).alias("maybe_member"))
    )

