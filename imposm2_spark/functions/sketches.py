"""T28: mergeable sketch-based corpus profiling (theta distinct / KLL quantiles).

Graft addition (SURVEY.md §2 training-data ops) — no reference analog;
imposm2's only corpus statistics are exact import counters (A5). A 100 TB
curation pipeline needs corpus-shape numbers — docs per source, distinct
hosts/langs/texts, length quantiles — continuously and per shard, and exact
DISTINCT/quantile passes are a full extra shuffle of the corpus each time.
The industry shape is mergeable sketches (Apache DataSketches, built into
Spark 4 as `theta_sketch_agg` / `hll_sketch_agg` / `kll_sketch_agg_*`):

  * one linear scan, map-side-combined hash-agg — the sketch IS the partial
    aggregate, so a 10^12-doc profile shuffles only (group, sketch) rows,
    bytes bounded by k per group, never the corpus;
  * sketches merge associatively: per-day / per-shard profiles roll up into
    corpus totals WITHOUT rescanning (pytest-gated here via `hll_union_agg`
    and `kll_sketch_merge_double` round-trips);
  * in the small-cardinality regime they are EXACT by construction — a theta
    sketch below its nominal-entries threshold retains every hash (theta=1),
    and a KLL sketch below its first compaction retains every value — which
    is what lets the driver row `corpus_sketch_profile` sit under a hard
    DuckDB value-hash oracle (exact COUNT(DISTINCT) + explicit order
    statistics) at sf0.01 while the SAME plan degrades gracefully to
    ±rel-err estimates at 10^12 rows (error bound pytest-gated in the
    approximate regime).

Quantile convention (frozen): DataSketches KLL `get_quantile(q)` uses
INCLUSIVE ranks — the smallest retained value v with |{x : x <= v}| / n >= q,
i.e. (while exact) the order statistic at 1-based rank max(1, ceil(q*n)).
The DuckDB oracle twin computes exactly that via
`(list_sort(list(x)))[CAST(GREATEST(1, CEIL(q*COUNT(x))) AS INT)]` rather
than trusting any engine's quantile_disc rank convention.

Group rollup: `profile` emits one row per group PLUS one 'ALL' corpus row in
the same single pass via `DataFrame.rollup` (Expand + one hash-agg — still
exactly one exchange, plan-gated in tests/test_sketches.py). A genuinely
NULL group value stays NULL (distinguished from the rollup total by
`grouping()`), mirroring GROUP BY ROLLUP semantics on the oracle side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "theta_distinct",
    "kll_quantile",
    "profile_aggs",
    "sketch_profile",
    "THETA_LGK",
    "KLL_K",
]

# Frozen sketch sizes shared with the registry oracle, read at call time.
# theta lgk=14 retains up to 2^14 = 16384 hashes before sampling starts
# (exact below that); KLL k=8192 holds 8192 values before its first
# compaction. Both cover sf0.1 (5000 docs) with >3x headroom — verified
# bit-exact vs DuckDB at sf0.001/0.01/0.1.
THETA_LGK = 14
KLL_K = 8192


def theta_distinct(col: str) -> Column:
    """Distinct-count estimate via a theta sketch (long). EXACT while the
    group's distinct count stays below 2^THETA_LGK; nulls are ignored,
    matching COUNT(DISTINCT col). Takes a column NAME: PySpark 4.1 exposes
    theta_sketch_agg only through SQL expr, so a computed column must be
    projected and aliased first."""
    if not isinstance(col, str):
        raise TypeError(
            "theta_distinct requires a column NAME (PySpark 4.1 exposes "
            "theta_sketch_agg only through SQL expr)"
        )
    return F.expr(f"theta_sketch_estimate(theta_sketch_agg(`{col}`, {int(THETA_LGK)}))")


def kll_quantile(col: str, q: float) -> Column:
    """Inclusive-rank quantile of a double column via a KLL sketch. EXACT
    (the max(1, ceil(q*n))-th order statistic) while the group holds fewer
    than KLL_K non-null values; nulls are ignored."""
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile must be in [0, 1], got {q!r}")
    return F.expr(
        f"kll_sketch_get_quantile_double("
        f"kll_sketch_agg_double(CAST(`{col}` AS DOUBLE), {int(KLL_K)}), {float(q)})"
    )


def profile_aggs(
    docs: DataFrame,
    group_col: str,
    distinct_cols: tuple[str, ...],
    quantile_col: str,
    quantiles: tuple[float, ...],
) -> list[Column]:
    """The per-group aggregates of both profiles (this module's
    sketch_profile and streaming.profile.stream_profile): `n_docs`, one
    `distinct_<col>` theta estimate per entry of `distinct_cols` and one
    `p<q*100>_<quantile_col>` KLL quantile per entry of `quantiles`.
    Raises ValueError on a column missing from `docs` or a quantile
    outside [0, 1]."""
    for c in (group_col, quantile_col, *distinct_cols):
        if c not in docs.columns:
            raise ValueError(f"profile: column {c!r} missing from input")
    return [
        F.count(F.lit(1)).alias("n_docs"),
        *(theta_distinct(c).alias(f"distinct_{c}") for c in distinct_cols),
        *(
            kll_quantile(quantile_col, q).alias(f"p{int(round(q * 100))}_{quantile_col}")
            for q in quantiles
        ),
    ]


def sketch_profile(
    docs: DataFrame,
    group_col: str = "source",
    distinct_cols: tuple[str, ...] = ("lang", "text"),
    quantile_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """One-pass sketch profile: per-`group_col` rows plus an 'ALL' total row.

    Output columns: `group_key` (the group value; literal 'ALL' on the
    rollup total row — a genuinely NULL group value stays NULL), then the
    `profile_aggs` columns: `n_docs`, one `distinct_<col>` long per entry of
    `distinct_cols`, and one `p<q*100>_<quantile_col>` double per entry of
    `quantiles`.

    Scale shape: Expand(2x) + one map-side-combined hash-agg + ONE exchange
    of (group, sketch) rows — sketch bytes bounded by k regardless of group
    size, so the shuffle is ~n_groups * k, never the corpus. Hot groups
    cannot straggle: partial sketches combine associatively on the map side.
    """
    aggs = profile_aggs(docs, group_col, distinct_cols, quantile_col, quantiles)
    if "group_key" in (set(docs.columns) - {group_col}):
        raise ValueError("sketch_profile: column name 'group_key' is reserved")
    # grouping() reads the Expand's internal grouping-id column, so it is
    # only resolvable INSIDE the rollup's agg list — evaluating it in a later
    # select raises UNSUPPORTED_GROUPING_EXPRESSION.
    rolled = docs.rollup(group_col).agg(*aggs, F.grouping(group_col).alias("__gflag"))
    group = F.when(F.col("__gflag") == 1, F.lit("ALL")).otherwise(
        F.col(group_col)
    )
    return rolled.select(group.alias("group_key"), *rolled.columns[1:-1])
