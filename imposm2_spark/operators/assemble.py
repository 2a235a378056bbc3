"""J1/J2 + A1-A4 + G2/G3: way & relation geometry assembly.

Reference analogs:
  J1  way->coord resolve: imposm/cache get_coords + dbimporter.py::WayProcess —
      an index-nested-loop against the coord B-tree; here posexplode(refs) ->
      shuffle equi-join on node id -> sort_array(collect_list) (A1).
  J2  relation->member resolve: dbimporter.py::RelationProcess — explode the
      member list, join assembled ways.
  A2-A4/G4 ring merge + multipolygon build + tag inheritance:
      imposm/multipolygon.py::{merge_rings, ContainsRelationBuilder,
      RelationBuilderBase.handle_tags} — per-relation NumPy kernel inside
      groupBy(rel_id).applyInArrow (kernels.rings).
  P4  inserted-way suppression: member ways whose tags the relation subsumes
      are emitted as an id list and anti-joined from the way pass.
  G2/G3 linestring/polygon-from-way: kernels.geom validity rules.

Geometry crosses into Python as Arrow batches (mapInArrow, applyInArrow):
kernels.wkb.coords_rows reads a coordinate column as (N,2) float64 views, and
rings and chains come back as nested Arrow lists.

Scale notes (SURVEY.md O10b): AQE cannot split a single applyInArrow group; a
mega-relation (10^5 members) is pre-split in assemble_relations: members are
hash-chunked at `MAX_MEMBERS_PER_GROUP`, each chunk partially merged
(kernels.rings.merge_fragments), and a second narrow applyInArrow stitches the
cross-chunk chains — ring merge is associative because stitching only depends
on endpoint connectivity. Mega-ways in J1 are handled by the shuffle join
itself (AQE skew).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernels import geom, rings as kr
from ..kernels.wkb import (
    coords_rows,
    linestring_wkb,
    multipolygon_wkb,
    point_wkb,
    polygon_wkb,
)

_TAGS = pa.map_(pa.string(), pa.string())
_RINGS = pa.list_(pa.list_(pa.list_(pa.float64())))


# --------------------------------------------------------------------------
# J1 + A1: resolve way refs to ordered coordinate lists
# --------------------------------------------------------------------------
def assemble_ways(ways: DataFrame, coords: DataFrame) -> DataFrame:
    """(id, refs, tags) x (id, lon, lat) -> (id, tags, coords ARRAY<ARRAY<DOUBLE>>).

    coords order is restored by sorting on ref position; ways with missing
    refs keep the resolved subset (imposm2 skips missing coords the same way).
    """
    exploded = ways.select(
        F.col("id").alias("way_id"), "tags", F.posexplode("refs").alias("pos", "ref")
    )
    joined = exploded.join(
        coords.select(F.col("id").alias("ref"), "lon", "lat"), "ref", "inner"
    )
    return (
        joined.groupBy("way_id")
        .agg(
            F.first("tags").alias("tags"),
            F.sort_array(
                F.collect_list(F.struct("pos", F.array("lon", "lat").alias("pt")))
            ).alias("_sorted"),
        )
        .select(
            F.col("way_id").alias("id"),
            "tags",
            F.col("_sorted.pt").alias("coords"),
        )
    )


# --------------------------------------------------------------------------
# G2/G3: way geometries (linestrings; polygons from closed ways)
# --------------------------------------------------------------------------
_LINESTRING_SCHEMA = (
    "id long, tags map<string,string>, coords array<array<double>>, wkb binary"
)


def way_linestrings(assembled: DataFrame) -> DataFrame:
    """G2: >=2 points; WKB at the materialization boundary."""
    valid = assembled.where(F.size("coords") >= 2).select("id", "tags", "coords")

    def _batch(it):
        for b in it:
            wkb = [linestring_wkb(c) for c in coords_rows(b.column("coords"))]
            yield b.append_column("wkb", pa.array(wkb, pa.binary()))

    return valid.mapInArrow(_batch, schema=_LINESTRING_SCHEMA)


_POLYGON_SCHEMA = (
    "id long, tags map<string,string>, rings array<array<array<double>>>, "
    "area double, wkb binary"
)


def way_polygons(assembled: DataFrame, repair: bool = False) -> DataFrame:
    """G3: closed (first==last), >=4 points, nonzero area; orientation-normalized
    single-ring polygons. Validity rule = kernels.geom.ring_is_valid (P5).

    repair=True enables the G5 buffer(0)-equivalent path (reference analog:
    imposm/geom.py validate; semantics = PostGIS ST_MakeValid linework): a
    self-intersecting ring is rebuilt from its arrangement under the even-odd
    rule (kernels.overlay.repair_ring) instead of dropped — a bowtie becomes
    two shells, emitted as one multipolygon row. Default False preserves the
    frozen detect-and-drop goldens."""
    closed = assembled.where(
        (F.size("coords") >= 4)
        & (F.element_at("coords", 1) == F.element_at("coords", -1))
    )

    def _batch(it):
        for b in it:
            keep, rings, areas, wkbs = [], [], [], []
            for i, coords in enumerate(coords_rows(b.column("coords"))):
                parts = _polygon_parts(coords, repair)
                if parts is None:
                    continue
                rings_out, area, wkb = parts
                keep.append(i)
                rings.append([r.tolist() for r in rings_out])
                areas.append(area)
                wkbs.append(wkb)
            keep = pa.array(keep, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("id").take(keep),
                    b.column("tags").take(keep),
                    pa.array(rings, _RINGS),
                    pa.array(areas, pa.float64()),
                    pa.array(wkbs, pa.binary()),
                ],
                names=["id", "tags", "rings", "area", "wkb"],
            )

    return closed.mapInArrow(_batch, schema=_POLYGON_SCHEMA)


def _polygon_parts(coords, repair: bool):
    """Per-ring G3/G5 decision, factored out of the worker closure so the
    repair fallback contract is unit-testable driver-side. Returns
    (rings_out, area, wkb) or None (row dropped)."""
    from ..kernels import overlay

    ring = geom.dedup_consecutive(np.asarray(coords, dtype=np.float64))
    valid = geom.ring_is_valid(ring)
    plain = valid and (
        not repair or overlay.ring_is_simple(geom.ensure_closed(ring))
    )
    polys: list = []
    if not plain and repair and len(ring) >= 3:
        try:
            polys = overlay.repair_ring(geom.ensure_closed(ring))
        except ValueError:
            polys = []  # too degenerate to trace
        if not polys and valid:
            # Opting into repair must never LOSE rows relative to
            # repair=False (ADVICE r3): a valid-but-unrepairable ring falls
            # back to the unrepaired single-ring emit, parity with
            # repair=False. Only already-invalid rings stay dropped.
            plain = True
    if plain:
        ring = geom.ensure_orientation(geom.ensure_closed(ring), ccw=True)
        return [ring], abs(geom.ring_signed_area(ring)), polygon_wkb([ring])
    if repair and polys:
        rings_out = [r for p in polys for r in p]
        area = geom.polygons_area(polys)
        wkb = multipolygon_wkb(polys) if len(polys) > 1 else polygon_wkb(polys[0])
        return rings_out, area, wkb
    return None


def with_point_wkb(df: DataFrame) -> DataFrame:
    """G1: append a point-WKB column derived from lon/lat, preserving every
    input column. Callers must route/filter FIRST: Catalyst cannot push a
    semi-join or filter through mapInArrow, so whatever reaches this stage
    pays the Python/Arrow boundary row-for-row. A NULL lon/lat reads as NaN."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    out_schema = StructType(df.schema.fields + [StructField("wkb", BinaryType())])

    def _batch(it):
        for b in it:
            lon, lat = (
                b.column(c).to_numpy(zero_copy_only=False).tolist() for c in ("lon", "lat")
            )
            wkb = [point_wkb(x, y) for x, y in zip(lon, lat)]
            yield b.append_column("wkb", pa.array(wkb, pa.binary()))

    return df.mapInArrow(_batch, schema=out_schema)


def node_points(nodes: DataFrame) -> DataFrame:
    """G1 standalone form: (id, tags, lon, lat, wkb) for a node table."""
    return with_point_wkb(nodes.select("id", "tags", "lon", "lat"))


# --------------------------------------------------------------------------
# J2 + A2-A4: relation multipolygon assembly
# --------------------------------------------------------------------------
_REL_OUT = pa.schema(
    [
        ("rel_id", pa.int64()), ("tags", _TAGS), ("polygons", pa.list_(_RINGS)),
        ("area", pa.float64()), ("wkb", pa.binary()), ("n_rings", pa.int32()),
        ("dropped_unclosed", pa.int32()), ("dropped_invalid", pa.int32()),
        ("inserted_ways", pa.list_(pa.int64())),
    ]
)


def _finalize_relation(
    rel_id: int,
    rel_tags: dict,
    merge: kr.MergeResult,
    ways_meta: list[tuple[int, dict, float | None, bytes | None]],
    builder: str = "contains",
) -> pa.Table:
    """Shared tail of both assembly paths: nest rings, inherit tags (A4),
    decide way suppression (P4), emit the output row (none when nothing
    was built).

    ways_meta: (way_id, way_tags, outer_area, ring_key) — area/key are the
    way's own shoelace area and canonical-ring bytes if it is a closed
    >=4-point ring, else None.
    builder: A3 strategy — 'contains' (nesting, the reference default) or
    'union' (arrangement overlay, tolerant of overlapping/crossing rings).

    A4 candidacy is decided against the BUILT multipolygon: a closed member
    way is an outer candidate iff its canonical ring is one of the result
    SHELLS. The earlier "any closed way" rule misfired when the outer
    boundary was stitched from open fragments: the only closed way was the
    hole (e.g. a tagged lake), the relation inherited the HOLE's tags, and
    P4 then suppressed the lake way — the polygon turned into water and the
    lake vanished as a feature. Shells merged/reshaped by the union builder
    simply yield no candidate (no inheritance), never a wrong one.
    """
    if builder == "union":
        mp = kr.build_multipolygon_union(merge)
    else:
        mp = kr.build_multipolygon(merge)
    if not mp.polygons:
        return _REL_OUT.empty_table()

    shell_keys = {
        geom.canonical_ring(poly[0], ccw=True).tobytes() for poly in mp.polygons
    }
    outer_candidates = [
        (a, t) for _, t, a, k in ways_meta if a is not None and k in shell_keys
    ]
    final_tags = kr.inherit_tags(rel_tags, outer_candidates)
    inserted = [wid for wid, wtags, _, _ in ways_meta
                if kr.way_tags_subsumed(wtags, final_tags)]
    n_rings = sum(len(p) for p in mp.polygons)
    return pa.Table.from_pylist(
        [
            {
                "rel_id": rel_id,
                "tags": final_tags,
                "polygons": [[r.tolist() for r in poly] for poly in mp.polygons],
                "area": mp.area,
                "wkb": multipolygon_wkb(mp.polygons),
                "n_rings": n_rings,
                "dropped_unclosed": mp.dropped_unclosed,
                "dropped_invalid": mp.dropped_invalid,
                "inserted_ways": inserted,
            }
        ],
        schema=_REL_OUT,
    )


def _way_meta(
    way_id, way_tags, coords: np.ndarray
) -> tuple[int, dict, float | None, bytes | None]:
    """(way_id, tags, own-ring area, canonical-ring key) — area and key are
    None for open fragments. The key (canonical_ring bytes — shared form
    with the nesting/overlay kernels) lets _finalize_relation decide outer
    candidacy from the BUILT shells instead of "any closed way"."""
    outer_area = None
    ring_key = None
    # dedup consecutive vertices FIRST so the key form is byte-identical to
    # the shell side (merge_rings canonicalizes after dedup_consecutive,
    # kernels/rings.py): a closed member way carrying a repeated vertex —
    # common in raw OSM — must still match its own built shell, else tag
    # inheritance (A4) and way suppression (P4) silently skip it
    ring = geom.dedup_consecutive(coords)
    if len(ring) >= 4 and np.array_equal(ring[0], ring[-1]):
        outer_area = abs(geom.ring_signed_area(ring))
        ring_key = geom.canonical_ring(ring, ccw=True).tobytes()
    return (int(way_id), dict(way_tags or {}), outer_area, ring_key)


def _group_relation(table: pa.Table) -> tuple[int, dict]:
    """(rel_id, rel_tags) of a relation group's first row."""
    return table["rel_id"][0].as_py(), dict(table["rel_tags"][0].as_py() or ())


def _member_ways(table: pa.Table):
    """The group's member ways sorted by way id: their coords as (N,2)
    arrays, and their _way_meta tuples."""
    table = table.sort_by("way_id")
    coords_list = coords_rows(table["coords"])
    ways_meta = [
        _way_meta(wid, wtags, c)
        for wid, wtags, c in zip(
            table["way_id"].to_pylist(), table["way_tags"].to_pylist(), coords_list
        )
    ]
    return coords_list, ways_meta


def _assemble_relation_group(table: pa.Table, builder: str) -> pa.Table:
    """Kernel for one relation group (rows = resolved member ways)."""
    rel_id, rel_tags = _group_relation(table)
    coords_list, ways_meta = _member_ways(table)
    merge = kr.merge_rings(coords_list)
    return _finalize_relation(rel_id, rel_tags, merge, ways_meta, builder)


# O10b: AQE cannot split a single applyInArrow group, so a mega-relation
# (10^5+ members) must be pre-split upstream. Groups wider than this are
# hash-chunked on way_id, partially merged per chunk (kernels.rings.
# merge_fragments — associative: a stitched chain is itself a valid input
# way for the next level), then finalized in a second, narrow applyInArrow
# whose rows are chunk summaries + per-way metadata (no coords), bounding
# executor memory by MAX_MEMBERS_PER_GROUP x way size instead of relation
# size. Read at call time.
MAX_MEMBERS_PER_GROUP = 4096

# one 'geom' row per chunk (closed rings, open chains, invalid count) and
# one 'meta' row per member way; the other kind's columns are NULL
_PARTIAL = pa.schema(
    [
        ("rel_id", pa.int64()), ("rel_tags", _TAGS), ("chunk", pa.int32()),
        ("kind", pa.string()), ("rings", _RINGS), ("chains", _RINGS),
        ("dropped_invalid", pa.int32()), ("way_id", pa.int64()),
        ("way_tags", _TAGS), ("outer_area", pa.float64()), ("ring_key", pa.binary()),
    ]
)


def _partial_merge_group(table: pa.Table) -> pa.Table:
    """Stage-A kernel for one (rel_id, chunk): emits ONE 'geom' row (closed
    rings + open chains + invalid count) and one 'meta' row per member way
    (tags + own closed area — what A4/P4 need, without the coords)."""
    rel_id, rel_tags = _group_relation(table)
    head = {"rel_id": rel_id, "rel_tags": rel_tags, "chunk": table["_chunk"][0].as_py()}
    coords_list, ways_meta = _member_ways(table)
    closed, chains, dropped_invalid = kr.merge_fragments(coords_list)
    rows = [
        {
            **head, "kind": "geom",
            "rings": [r.tolist() for r in closed],
            "chains": [c.tolist() for c in chains],
            "dropped_invalid": dropped_invalid,
        }
    ]
    for mid, mtags, marea, mkey in ways_meta:
        rows.append(
            {
                **head, "kind": "meta", "way_id": mid, "way_tags": mtags,
                "outer_area": marea, "ring_key": mkey,
            }
        )
    return pa.Table.from_pylist(rows, schema=_PARTIAL)


def _finalize_chunked_group(table: pa.Table, builder: str) -> pa.Table:
    """Stage-B kernel: stitch cross-chunk chains, validity-filter, nest, and
    emit the same row the single-stage kernel would."""
    rel_id, rel_tags = _group_relation(table)

    geoms = table.filter(pc.equal(table["kind"], "geom")).sort_by("chunk")
    ways_input: list[np.ndarray] = []
    for rings, chains in zip(coords_rows(geoms["rings"]), coords_rows(geoms["chains"])):
        ways_input += rings + chains

    merge = kr.merge_rings(ways_input)
    merge.dropped_invalid += sum(geoms["dropped_invalid"].to_pylist())

    meta = table.filter(pc.equal(table["kind"], "meta")).sort_by("way_id")
    ways_meta = [
        (wid, dict(wtags or ()), area, key)
        for wid, wtags, area, key in zip(
            *(meta[c].to_pylist() for c in ("way_id", "way_tags", "outer_area", "ring_key"))
        )
    ]
    return _finalize_relation(rel_id, rel_tags, merge, ways_meta, builder)


def assemble_relations(
    relations: DataFrame,
    assembled_ways: DataFrame,
    relation_builder: str = "contains",
) -> DataFrame:
    """J2 + A2-A4: -> one row per buildable relation (see _REL_OUT).

    relations: (id, tags, members ARRAY<STRUCT<ref, type, role>>)
    assembled_ways: output of assemble_ways.

    Relations with more than MAX_MEMBERS_PER_GROUP resolved way members take
    the chunked two-stage path (O10b, see the constant above); output is
    identical to the single-stage path (tests/test_assemble.py proves it on a
    synthetic 10^4-member relation).

    relation_builder: 'contains' (default, reference default) or 'union'
    (imposm --relation-builder=union analog, kernels.overlay) — affects only
    the per-group nesting kernel, not the plan shape.
    """
    # Size routing is decided BEFORE the fat resolve join, from the members
    # array itself: `_n` = way-member count, stamped per exploded row for free
    # (no count aggregate, no action, no broadcast). The two paths filter on
    # complementary `_n` predicates that Catalyst pushes below the join, so
    # each member row flows through the J2 shuffle join exactly ONCE across
    # the union (previous shape executed the joined frame 3x: once for a
    # routing aggregate, once per path). `_n` is the pre-resolve count, so a
    # relation whose unresolved refs straddle the threshold may route to the
    # chunked path slightly early — routing is perf-only; both paths are
    # output-identical (tests/test_assemble.py identity test).
    members = relations.select(
        F.col("id").alias("rel_id"),
        F.col("tags").alias("rel_tags"),
        F.size(
            F.filter("members", lambda m: m["type"] == F.lit("way"))
        ).alias("_n"),
        F.explode("members").alias("m"),
    ).where(F.col("m.type") == "way")

    resolved = members.join(
        assembled_ways.select(
            F.col("id").alias("way_id"),
            F.col("tags").alias("way_tags"),
            "coords",
        ),
        members["m.ref"] == F.col("way_id"),
        "inner",
    ).select("rel_id", "rel_tags", "_n", "way_id", "way_tags", "coords")

    out_schema = from_arrow_schema(_REL_OUT)
    small_out = (
        resolved.where(F.col("_n") <= MAX_MEMBERS_PER_GROUP)
        .drop("_n")
        .groupBy("rel_id")
        .applyInArrow(
            lambda t: _assemble_relation_group(t, relation_builder), schema=out_schema
        )
    )

    chunked = resolved.where(F.col("_n") > MAX_MEMBERS_PER_GROUP).withColumn(
        "_chunk",
        # hash the way id before the modulo (review r5): raw pmod collapses
        # stride/residue-aligned id sequences (bulk imports, way splitters)
        # into few chunks, defeating the O10b per-group memory bound this
        # pre-split exists for. Output-identical for any chunking (the
        # partial merge is associative; pinned by the chunked-path identity
        # test) — same pattern as knn/pip salting.
        F.pmod(
            F.xxhash64(F.col("way_id")),
            F.ceil(F.col("_n") / F.lit(MAX_MEMBERS_PER_GROUP)),
        ).cast("int"),
    )
    partial = chunked.groupBy("rel_id", "_chunk").applyInArrow(
        _partial_merge_group, schema=from_arrow_schema(_PARTIAL)
    )
    big_out = partial.groupBy("rel_id").applyInArrow(
        lambda t: _finalize_chunked_group(t, relation_builder), schema=out_schema
    )
    return small_out.unionByName(big_out)


def suppress_inserted_ways(
    assembled_ways: DataFrame, relation_output: DataFrame
) -> DataFrame:
    """P4: drop ways already materialized as part of a relation (anti-join);
    the tag-subsumption exception was decided in the kernel, so `inserted_ways`
    already excludes ways with own distinct tags (MP-08)."""
    inserted = relation_output.select(
        F.explode("inserted_ways").alias("id")
    ).distinct()
    return assembled_ways.join(inserted, "id", "left_anti")
