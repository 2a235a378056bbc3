"""T28 streaming face: continuous corpus profiling over the document stream.

A 100 TB curation pipeline wants its corpus-shape numbers (docs per source,
distinct texts/langs, length quantiles) CONTINUOUSLY as crawl batches land,
not as a nightly rescan. The batch operator (functions/sketches.py::
sketch_profile) already aggregates through mergeable DataSketches state —
and Spark's streaming aggregation carries exactly that state across
micro-batches: partial sketches live in the state store, each batch folds
its rows in map-side, and the output rows re-estimate from the merged
state. No custom stateful operator is needed; the profile is a plain
`groupBy(group).agg(sketches)` under outputMode complete/update, which
also means it survives query restarts via the streaming checkpoint
(pytest-gated: batch/stream parity AND resume-with-more-data).

The per-group aggregates come from the batch operator's own list
(`sketches.profile_aggs`), so the streamed rows and the batch profile's
per-group rows are computed by the same expressions. Two deliberate
differences from the batch profile:

  * no 'ALL' rollup row — streaming supports one aggregation per query and
    no Expand-based grouping sets. Instead every group row carries the raw
    mergeable sketch binaries (`sketch_<col>` HLL per distinct column,
    `sketch_<quantile_col>_kll`), so a downstream consumer reconstructs
    corpus totals by UNIONING the latest per-group sketches
    (`hll_union_agg` / `kll_sketch_merge_double`) — the mergeable-sketch
    contract, without rescanning anything (pytest: the reconstructed ALL
    distinct equals the batch operator's ALL row).
  * HLL instead of theta for the attached distinct sketches: Spark exposes
    a union AGGREGATE only for HLL (`hll_union_agg`), which is what the
    downstream rollup needs. The per-group ESTIMATE columns still come from
    theta (exact below 2^THETA_LGK, same as batch) so the streamed estimates
    and the batch profile agree cell-for-cell in the exact regime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sketches

__all__ = ["stream_profile"]


def stream_profile(
    docs: DataFrame,
    group_col: str = "source",
    distinct_cols: tuple[str, ...] = ("lang", "text"),
    quantile_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Continuous per-group sketch profile of a streaming documents frame.

    Returns an aggregated streaming DataFrame: one row per group, with the
    batch `sketch_profile`'s columns (minus its 'ALL' row) followed by the
    raw mergeable sketch binaries. Attach a writeStream with outputMode
    'complete' (small group cardinality) or 'update' (emit only changed
    groups). Works identically on a BATCH frame — the parity tests exploit
    that.
    """
    aggs = sketches.profile_aggs(docs, group_col, distinct_cols, quantile_col, quantiles)
    aggs += [
        F.expr(f"hll_sketch_agg(`{c}`, {int(sketches.THETA_LGK)})").alias(f"sketch_{c}")
        for c in distinct_cols
    ]
    aggs.append(
        F.expr(
            f"kll_sketch_agg_double(CAST(`{quantile_col}` AS DOUBLE), {int(sketches.KLL_K)})"
        ).alias(f"sketch_{quantile_col}_kll")
    )
    return docs.groupBy(F.col(group_col).alias("group_key")).agg(*aggs)
