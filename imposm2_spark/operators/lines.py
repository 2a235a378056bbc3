"""J11: attribute-group linestring merge (generalized-roads stitching).

Reference parity: imposm2 writes road layers one row PER WAY; merged
"generalized" line tables (one row per contiguous street, `ST_LineMerge`
over an attribute group) are the companion generalization step its
rendering stack runs in PostGIS (and imposm3/osm2pgsql later built in).
SURVEY.md §2 row J11. The merge rule is ST_LineMerge's: two segments stitch
at a shared endpoint iff EXACTLY two segment-ends land on that point within
the attribute group — a junction vertex (degree >= 3) breaks the chain, and
a degree-1 end terminates it. Loops (a chain whose two ends meet) merge
fine; the stitched geometry closes into a ring.

Why not groupBy(name) + stitch-in-Python: a single attribute value ("Main
Street", highway=residential) can cover millions of disconnected segments
corpus-wide, so the group is NOT the unit of connectivity — the connected
component of the endpoint-sharing graph is. The plan therefore never
collects an attribute group anywhere:

  1. endpoint frame: 2 rows per segment (group keys, quantized endpoint,
     seg id) — pure codegen projection, linear;
  2. one hash agg per (group, endpoint): count + min/max seg id. Degree==2
     rows with distinct ids ARE the stitch pairs (no collect_list — the two
     ids of a degree-2 endpoint are exactly (min, max));
  3. pointer-doubling connected components over those pairs
     (operators.dedup.dedup_connected_components — O(log diameter) rounds,
     label frame is 2 longs per PAIRED segment only, not the corpus);
  4. one rollup agg per component (count, min id, exact DECIMAL length sum),
     or — geometry variant — one applyInArrow per component stitching
     coords with the associative kernels.rings.merge_fragments.

At 10^12 segments every stage is an equi-shuffle on bounded keys; the pair
graph is degree-<=2 by construction, so components are simple paths/cycles
and the CC loop converges in O(log longest-chain) rounds.

Per-segment length is a sequential left-to-right fold over the vertex array
(interpreted HOF, but bounded by the way-size cap — same contract as the
geometry kernels), making the IEEE addition order reproducible so the
DuckDB oracle's explicit left-assoc sum is bit-identical; component sums
round to 9 decimals and aggregate as DECIMAL(28,9) (order-independent).

Driver row `merge_lines_roads` pins components + rollups against a DuckDB
recursive-CTE transitive-closure oracle on the deterministic street fixture
(sources.testdata.derived_segments); the stitched geometry itself is
pytest-golden (order/direction-invariance, junction break, loop closure) in
tests/test_lines.py.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernels import geom as kgeom
from ..kernels import rings as krings
from ..kernels.wkb import coords_rows
from .dedup import dedup_connected_components

__all__ = ["merge_lines", "merge_line_geometries", "stitch_pairs"]

# endpoint quantum: coordinates are keyed on round(coord / quantum) so float
# jitter below quantum/2 still connects; OSM shares node coords exactly, so
# this is a safety net, not a snap — default 1e-7 deg ≈ 1 cm.
DEFAULT_QUANTUM = 1e-7


def _seg_length(xs, ys):
    """Sequential fold of per-edge euclidean lengths (see module docstring)."""
    # greatest(.., 0): an EMPTY coords array would pass slice a -1 length,
    # which raises; empty/1-point segments fold to length 0 instead
    n = F.greatest(F.size(xs) - 1, F.lit(0))
    dxs = F.zip_with(F.slice(xs, 2, n), F.slice(xs, 1, n), lambda a, b: a - b)
    dys = F.zip_with(F.slice(ys, 2, n), F.slice(ys, 1, n), lambda a, b: a - b)
    dists = F.zip_with(dxs, dys, lambda dx, dy: F.sqrt(dx * dx + dy * dy))
    return F.aggregate(dists, F.lit(0.0), lambda acc, d: acc + d)


def stitch_pairs(
    segments: DataFrame,
    *,
    id_col: str = "seg_id",
    group_cols: tuple[str, ...] = ("name",),
    xs_col: str = "xs",
    ys_col: str = "ys",
    quantum: float = DEFAULT_QUANTUM,
) -> DataFrame:
    """(a, b) segment-id pairs that stitch under the degree-2 endpoint rule.

    a < b always (min/max of the two ends sharing the endpoint); distinct —
    two segments sharing BOTH endpoints (a two-segment loop) emit one pair.
    """
    inv = 1.0 / quantum
    gcols = [F.col(c) for c in group_cols]

    def _ends(pos: int) -> DataFrame:
        # try_element_at: ANSI mode makes plain element_at THROW on an
        # empty coords array; null keys never form pairs (a==b or deg!=2)
        return segments.select(
            *gcols,
            F.col(id_col).alias("_seg"),
            F.round(F.try_element_at(F.col(xs_col), F.lit(pos)) * inv)
            .cast("long")
            .alias("kx"),
            F.round(F.try_element_at(F.col(ys_col), F.lit(pos)) * inv)
            .cast("long")
            .alias("ky"),
        )

    ends = _ends(1).unionByName(_ends(-1))
    deg = ends.groupBy(*group_cols, "kx", "ky").agg(
        F.count("*").alias("_deg"),
        F.min("_seg").alias("a"),
        F.max("_seg").alias("b"),
    )
    return (
        deg.where((F.col("_deg") == 2) & (F.col("a") != F.col("b")))
        .select("a", "b")
        .distinct()
    )


def _component_labels(segments: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """(seg id, component id) for EVERY segment: CC label where paired,
    own id where isolated. Component id = min segment id in the component
    (dedup_connected_components contract)."""
    labels = dedup_connected_components(pairs, "a", "b")
    return (
        segments.select(F.col(id_col).alias("_seg"))
        .join(labels, F.col("_seg") == labels["doc_id"], "left")
        .select(
            F.col("_seg"),
            F.coalesce(labels["cluster_id"], F.col("_seg")).alias("_comp"),
        )
    )


def merge_lines(
    segments: DataFrame,
    *,
    id_col: str = "seg_id",
    group_cols: tuple[str, ...] = ("name",),
    xs_col: str = "xs",
    ys_col: str = "ys",
    quantum: float = DEFAULT_QUANTUM,
) -> DataFrame:
    """Merged-line rollup: one row per stitched component.

    Returns (group cols..., merged_id = min member seg id, n_segments,
    total_len = round(sum(round(len_i, 9)), 4) — DECIMAL-summed, so the
    value is independent of partitioning and member order).

    Execution contract (same as the kNN ring loop): the connected-component
    label loop runs AT CALL TIME (a bounded driver-side plan loop whose
    per-round state is checkpointed; data never reaches the driver). The
    returned frame is lazy downstream of the checkpointed labels and owns
    no caches — safe to materialize any number of times.
    """
    pairs = stitch_pairs(
        segments,
        id_col=id_col,
        group_cols=group_cols,
        xs_col=xs_col,
        ys_col=ys_col,
        quantum=quantum,
    )
    comp = _component_labels(segments, pairs, id_col)
    seg_len = segments.select(
        *[F.col(c) for c in group_cols],
        F.col(id_col).alias("_seg"),
        _seg_length(F.col(xs_col), F.col(ys_col)).alias("_len"),
    )
    return (
        seg_len.join(comp, "_seg")
        .groupBy(*group_cols, F.col("_comp").alias("merged_id"))
        .agg(
            F.count("*").alias("n_segments"),
            F.round(
                F.sum(F.round(F.col("_len"), 9).cast("decimal(28,9)")).cast("double"),
                4,
            ).alias("total_len"),
        )
    )


# geometry-variant group cap: components are simple paths/cycles (degree <= 2),
# so size is bounded by the longest monotone chain in one attribute group —
# but a pathological 10^6-segment chain is the same executor-memory hazard as
# a mega-relation (operators/assemble.py O10b). Fail loudly rather than OOM;
# merge_fragments is associative, so a hierarchical chunked stitch (the O10b
# pattern) is the documented escape hatch if real data ever trips this.
# Read at call time.
MAX_COMPONENT_SEGMENTS = 100_000


def merge_line_geometries(
    segments: DataFrame,
    *,
    id_col: str = "seg_id",
    group_cols: tuple[str, ...] = ("name",),
    xs_col: str = "xs",
    ys_col: str = "ys",
    quantum: float = DEFAULT_QUANTUM,
) -> DataFrame:
    """Stitched geometry per component: (group cols..., merged_id,
    n_segments, closed, xs, ys) with the merged coordinate chain.

    Canonical under member order AND direction: open chains are emitted from
    their lexicographically smaller endpoint; closed rings through
    kernels.geom.canonical_ring (smallest vertex first, CCW) — so shuffling
    or reversing input segments yields byte-identical output (pytest-pinned).
    """
    pairs = stitch_pairs(
        segments,
        id_col=id_col,
        group_cols=group_cols,
        xs_col=xs_col,
        ys_col=ys_col,
        quantum=quantum,
    )
    comp = _component_labels(segments, pairs, id_col)
    with_comp = segments.join(
        comp, segments[id_col] == comp["_seg"], "inner"
    ).select(
        *[F.col(c) for c in group_cols],
        F.col("_comp").alias("merged_id"),
        F.col(id_col).alias("_seg"),
        F.zip_with(xs_col, ys_col, lambda x, y: F.array(x, y)).alias("_pts"),
    )

    gcols = list(group_cols)
    coord_list = T.ArrayType(T.DoubleType())
    out_schema = T.StructType(
        [with_comp.schema[c] for c in gcols]
        + [
            T.StructField("merged_id", T.LongType()),
            T.StructField("n_segments", T.LongType()),
            T.StructField("closed", T.BooleanType()),
            T.StructField("xs", coord_list),
            T.StructField("ys", coord_list),
        ]
    )
    arrow_schema = to_arrow_schema(out_schema)
    max_component_segments = MAX_COMPONENT_SEGMENTS

    def _stitch(key, table):
        key = tuple(k.as_py() for k in key)
        if len(table) > max_component_segments:
            raise ValueError(
                f"merged-line component {key} has {len(table)} segments, over "
                f"MAX_COMPONENT_SEGMENTS={max_component_segments}; chunk the "
                "stitch hierarchically (merge_fragments is associative)"
            )
        closed, chains, dropped = krings.merge_fragments(coords_rows(table["_pts"]))
        pieces = len(closed) + len(chains)
        if pieces == 0 and dropped:
            # every fragment degenerate (<2 distinct points): no valid
            # linestring to emit (G2 semantics). The ROLLUP path still
            # counts such components — geometry is geometry, rollups are
            # bookkeeping (tests pin both behaviors)
            return arrow_schema.empty_table()
        # degree-2 components stitch to exactly one piece; quantum-level
        # float jitter (keys matched, raw coords differ) could leave more —
        # surface that loudly instead of emitting a broken geometry
        if pieces != 1:
            raise ValueError(
                f"component {key} stitched to {pieces} pieces (expected 1): "
                "endpoint keys matched at quantum resolution but raw "
                "coordinates differ; snap inputs or coarsen quantum"
            )
        if closed:
            ring = kgeom.canonical_ring(closed[0], ccw=True)
            arr, is_closed = ring, True
        else:
            chain = chains[0]
            fwd = (chain[0, 0], chain[0, 1]) <= (chain[-1, 0], chain[-1, 1])
            arr, is_closed = (chain if fwd else chain[::-1]), False
        row = {c: table[c].slice(0, 1) for c in gcols + ["merged_id"]}
        row.update(
            n_segments=[len(table)],
            closed=[is_closed],
            xs=[arr[:, 0].tolist()],
            ys=[arr[:, 1].tolist()],
        )
        return pa.Table.from_pydict(row, schema=arrow_schema)

    return with_comp.groupBy(*gcols, "merged_id").applyInArrow(_stitch, out_schema)
