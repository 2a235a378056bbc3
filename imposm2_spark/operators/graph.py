"""T29: host-graph link analysis — deterministic integer PageRank.

Webtext curation pipelines weight documents by *domain authority*: CCNet /
RefinedWeb-style corpora score hosts with PageRank or harmonic centrality
over the hyperlink host graph, then carry the host score onto every page as
a quality prior. The graph side is tiny next to the corpus (10^8..10^9
hosts for 10^12 pages), so the right 100 TB shape is:

  * ONE corpus-sized scan extracting (src_host, dst_host) edges (the caller
    does this — typically `urlx.url_host` over the page url + outlink urls),
  * then an iterative loop over the HOST frame only: per round one
    equi-join (ranks onto the static degree-annotated edge list) + one
    map-side-combinable hash aggregation. Nothing corpus-sized ever enters
    the loop, and the loop is a bounded driver-side *plan* loop — data
    never reaches the driver (same discipline as
    `dedup.dedup_connected_components` and `knn.knn_join`).

No reference analog: imposm2 has no graph operator (SURVEY.md §2.11 graft
addition). Exactness is the point of this formulation: ALL rank arithmetic
is BIGINT with floor division, so results are bit-identical regardless of
partitioning, core count, or aggregation order — a property float PageRank
cannot give (IEEE addition is not associative, so a plain SUM(double) can
differ between runs, between Spark and an oracle, and between cluster
sizes). Ranks are integer "nano-ranks" in units of 1/SCALE:
rank_n = SCALE means rank 1.0 in the classic uniform-start formulation
(total initial mass = n_nodes * SCALE).

Update rule (engine spec, frozen — the DuckDB oracle in plans.registry
mirrors it operator-for-operator):

    r0(v)   = SCALE
    base    = (SCALE * (DAMPING_DEN - DAMPING_NUM)) div DAMPING_DEN
    contrib(u) = (r(u) * DAMPING_NUM) div (DAMPING_DEN * outdeg(u))
    r+1(v)  = base + sum over in-edges (u,v) of contrib(u)

with `div` = floor division on BIGINT (operands are non-negative, so
Spark's truncating `div` and DuckDB's flooring `//` agree). Dangling nodes
(no outlinks) contribute nothing — their mass decays into the base term,
the standard "no dangling redistribution" variant; document-level quality
weighting only needs the relative ordering, which this preserves.

Overflow bound: every rank is bounded by the total mass
n_nodes * SCALE, so contributions fit int64 while
n_nodes * SCALE * DAMPING_NUM < 2^63 — at SCALE=10^9 and damping 17/20
that allows ~5*10^8 nodes (hosts, not pages; the web is ~10^8 registrable
domains). Larger host graphs need SCALE=10^6 (~5*10^11 nodes) — precision
stays ample because ranks are relative — and a new oracle row, since the
DuckDB twin freezes these three constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The frozen update rule's constants (module docstring); read at call time.
DAMPING_NUM = 17
DAMPING_DEN = 20
SCALE = 10**9


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Integer PageRank over a directed edge list → (node, rank_n).

    Node ids are OPAQUE — any equi-joinable type (host strings ride
    through without a global id-assignment pass, which would need exactly
    the kind of global sort/zipWithIndex this engine avoids at 10^9
    nodes). Duplicate edges and self-loops are removed here (each
    distinct link counts once — the host-graph convention: a million
    same-page links are one edge). Returns one row per node appearing in
    the graph with its nano-rank after `iterations` rounds. Deterministic
    and partition-invariant by construction (integer rank math only;
    pytest-gated).

    Plan shape per round: broadcast-or-shuffle equi-join of the (node,
    rank) frame onto the degree-annotated edge list + one hash agg keyed
    by dst (partial_sum combines map-side), then a left join back onto
    the node universe for the base term. The edge list is joined on `src`
    every round, so it is persisted once; per-round lineage is truncated
    with localCheckpoint exactly like the CC loop (an un-truncated
    iteration-N plan is exponentially wide and stalls Catalyst long
    before data volume matters).
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # static side of every round's join: (src, dst, outdeg), computed once
    edges_deg = e.join(outdeg, "src").persist()
    edges_deg.count()  # materialize before the loop so rounds reuse, not recompute

    base = (SCALE * (DAMPING_DEN - DAMPING_NUM)) // DAMPING_DEN
    ranks = nodes.select("node", F.lit(SCALE).cast("long").alias("rank_n"))

    from .dedup import _release_local_checkpoint

    prev_ck = None
    try:
        for _ in range(iterations):
            contrib = (
                edges_deg.join(ranks, edges_deg["src"] == ranks["node"])
                .select(
                    "dst",
                    F.expr(
                        f"(rank_n * CAST({DAMPING_NUM} AS BIGINT))"
                        f" div (CAST({DAMPING_DEN} AS BIGINT) * outdeg)"
                    ).alias("contrib"),
                )
                .groupBy("dst")
                .agg(F.sum("contrib").alias("inflow"))
            )
            ranks = (
                nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
                .select(
                    "node",
                    (
                        F.lit(int(base)).cast("long")
                        + F.coalesce(F.col("inflow"), F.lit(0).cast("long"))
                    ).alias("rank_n"),
                )
                .localCheckpoint(eager=True)
            )
            # free the SUPERSEDED round's checkpoint blocks (the CC loop's
            # storage discipline); the final round's frame backs the
            # returned DataFrame and is kept
            if prev_ck is not None:
                _release_local_checkpoint(prev_ck)
            prev_ck = ranks
        return ranks
    finally:
        edges_deg.unpersist()
        nodes.unpersist()
