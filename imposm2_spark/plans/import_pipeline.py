"""The full import pipeline: OSM-model elements -> mapped geometry tables.

Reference analog: imposm --write (imposm/writer.py::ImposmWriter, SURVEY.md
§3.2). The reference's CRITICAL ORDER (relations before ways so member ways get
marked) becomes a plain dataflow dependency: the relation output's inserted_ways
feeds the way pass's anti-join — no sequencing code.

Scale shape:
  * relations are prefiltered to interesting types before any join (S3 spirit);
  * J1 coord-resolve runs ONLY for ways that either match a spec or are members
    of an interesting relation (left_semi prune) — at planet scale most ways are
    untagged interior geometry, so this prunes the workhorse shuffle's left side;
  * per-table outputs stay lazy; materialization goes through sources.catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import mapping as M
from ..operators.assemble import (
    assemble_relations,
    assemble_ways,
    suppress_inserted_ways,
    way_linestrings,
    way_polygons,
    with_point_wkb,
)
from ..session import cache_scope

INTERESTING_RELATION_TYPES = ("multipolygon", "boundary")


def import_tables(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    specs: list[M.TableSpec],
) -> dict[str, DataFrame]:
    """-> {table_name: DataFrame with id, mapped field columns, geometry cols}.

    Tags whose keys no spec references are map_filter'ed away at the head of
    the pipeline (S3, imposm2's parse-time tag_filter) — full tag maps never
    shuffle through J1/J2, and P4 suppression sees exactly the tags the
    configured mapping would keep (a way whose only distinct tag is unmapped
    IS suppressed, as in the reference). Relations nest with the `contains`
    builder (the reference default) and self-intersecting way rings are
    dropped; the operators keep the `union` builder
    (assemble_relations(relation_builder=)) and ring repair
    (way_polygons(repair=))."""
    # the intra-pipeline caches feed the returned LAZY table frames, so they
    # outlive this call: the next call releases them (session.cache_scope)
    hold = cache_scope("import_tables")

    keys = M.spec_tag_keys(specs)
    nodes = M.prune_tags(nodes, keys)
    ways = M.prune_tags(ways, keys)
    relations = M.prune_tags(relations, keys)

    point_specs = [s for s in specs if s.geom_type == M.GEOM_POINT]
    line_specs = [s for s in specs if s.geom_type == M.GEOM_LINESTRING]
    poly_specs = [s for s in specs if s.geom_type == M.GEOM_POLYGON]

    out: dict[str, DataFrame] = {}

    # ---- node pass (points) ----
    if point_specs:
        # route FIRST, derive WKB after: route() carries lon/lat through, so
        # the Arrow stage sees only the routed subset (at planet scale ~10^8
        # of 10^11 nodes) and the id-join disappears entirely. Running
        # node_points over `nodes` up front would put a Python stage on the
        # full table — Catalyst cannot push the routing through mapInArrow.
        routed_nodes = M.route(nodes, point_specs, spark)
        # cache below the per-table fan-out: every point spec consumes this
        # frame, and without the cache each table's branch re-runs the Arrow
        # stage (same rationale as aw/rel_out; with the lines/polys caches
        # the 16-table fixture import went 13.6s -> 9.3s)
        routed_pts = hold(with_point_wkb(routed_nodes))
        for s in point_specs:
            out[s.name] = M.apply_fields(routed_pts, s)

    # ---- shared way assembly, pruned to needed ways ----
    routed_ways = hold(M.route(ways, line_specs + poly_specs, spark))
    interesting_rels = relations.where(
        F.element_at("tags", "type").isin(*INTERESTING_RELATION_TYPES)
    )
    member_way_ids = interesting_rels.select(
        F.explode("members").alias("m")
    ).where(F.col("m.type") == "way").select(F.col("m.ref").alias("id")).distinct()
    needed = routed_ways.select("id").distinct().unionByName(member_way_ids).distinct()
    pruned_ways = ways.join(needed, "id", "left_semi")
    aw = hold(assemble_ways(pruned_ways, nodes.select("id", "lon", "lat")))

    # ---- relation pass (before way pass, by dependency) ----
    rel_out = hold(assemble_relations(interesting_rels, aw))
    if poly_specs:
        rel_elements = rel_out.select(
            F.col("rel_id").alias("id"), "tags", "polygons", "area", "wkb"
        )
        # cache (r6): every poly spec's table branch — and, through the
        # way-pass union below, every downstream consumer of those tables —
        # re-executed route()'s explode + broadcast join + min_by agg over
        # the relation output; with 5 polygon specs that chain ran ~10x per
        # import. Same rationale as the routed_pts/lines/polys caches.
        routed_rels = hold(M.route(rel_elements, poly_specs, spark))
        for s in poly_specs:
            out[s.name] = M.apply_fields(routed_rels, s)

    # ---- way pass with P4 suppression ----
    surviving = suppress_inserted_ways(aw, rel_out)
    if line_specs:
        # shared by every line spec — cache so the Arrow stage runs once
        lines = hold(way_linestrings(surviving).select("id", "coords", "wkb"))
        routed_lines = routed_ways.join(lines, "id")
        for s in line_specs:
            out[s.name] = M.apply_fields(routed_lines, s)
    if poly_specs:
        # shared by every polygon spec — cache so the Arrow stage runs once
        polys = hold(way_polygons(surviving).select(
            "id", "rings", "area", "wkb"
        ))
        routed_polys = routed_ways.join(polys, "id")
        for s in poly_specs:
            way_tbl = M.apply_fields(routed_polys, s)
            rel_tbl = out[s.name]
            # relation rows carry `polygons` (multi), way rows `rings` (single) —
            # unify to the table schema: polygons + area + wkb
            rel_cols = rel_tbl.columns
            way_unified = way_tbl.withColumn(
                "polygons", F.array(F.col("rings"))
            ).drop("rings")
            out[s.name] = rel_tbl.unionByName(
                way_unified.select(*rel_cols), allowMissingColumns=False
            )
    return out
