"""Reference-parity assembly tests through the FULL DataFrame path (SURVEY §5.2
item 2): nodes/ways/relations fixtures -> J1 join -> A1 collect -> A2-A4 kernel
-> P4 suppression. MP-01..09 semantics asserted end-to-end, plus partition- and
batch-invariance (item 5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from imposm2_spark.kernels import geom, wkb
from imposm2_spark.operators import assemble
from imposm2_spark.operators.assemble import (
    assemble_relations,
    assemble_ways,
    node_points,
    suppress_inserted_ways,
    way_linestrings,
    way_polygons,
)
from imposm2_spark.sources import fixtures

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def assembled(spark):
    nodes, ways, relations = fixtures.osm_dfs(spark)
    coords = nodes.select("id", "lon", "lat")
    aw = assemble_ways(ways, coords)
    rels = assemble_relations(relations, aw).cache()
    return nodes, ways, aw, rels


def _rel(rels, rid):
    rows = rels.where(F.col("rel_id") == rid).collect()
    return rows[0] if rows else None


def test_mp01_hole_area_subtracted(assembled):
    *_, rels = assembled
    r = _rel(rels, 1)
    assert len(r.polygons) == 1 and len(r.polygons[0]) == 2
    assert r.area == pytest.approx(100.0 - 4.0)
    assert r.tags["landuse"] == "park"
    t, polys = wkb.parse_wkb(bytes(r.wkb))
    assert t == wkb.WKB_MULTIPOLYGON and len(polys) == 1 and len(polys[0]) == 2


def test_mp02_split_reversed_unordered(assembled):
    *_, rels = assembled
    r = _rel(rels, 2)
    assert len(r.polygons) == 1 and len(r.polygons[0]) == 1
    assert r.area == pytest.approx(100.0)
    assert r.dropped_unclosed == 0


def test_mp03_two_shells_one_hole(assembled):
    *_, rels = assembled
    r = _rel(rels, 3)
    assert len(r.polygons) == 2
    assert sorted(len(p) for p in r.polygons) == [1, 2]
    assert r.area == pytest.approx((100.0 - 4.0) + 64.0)


def test_mp04_touching_inner_is_hole(assembled):
    *_, rels = assembled
    r = _rel(rels, 4)
    assert len(r.polygons) == 1 and len(r.polygons[0]) == 2


def test_mp05_unclosed_dropped_counted(assembled):
    *_, rels = assembled
    r = _rel(rels, 5)
    assert len(r.polygons) == 1
    assert r.dropped_unclosed == 1
    assert r.area == pytest.approx(100.0)


def test_mp06_tag_inheritance(assembled):
    *_, rels = assembled
    r = _rel(rels, 6)
    assert r.tags["landuse"] == "forest"
    assert r.tags["type"] == "multipolygon"
    assert 61 in r.inserted_ways


def test_mp07_identical_way_suppressed(assembled):
    *_, rels = assembled
    assert 71 in _rel(rels, 7).inserted_ways


def test_mp08_distinct_tagged_way_not_suppressed(assembled):
    *_, rels = assembled
    assert 81 not in _rel(rels, 8).inserted_ways


def test_mp09_degenerate_relation_empty(assembled):
    *_, rels = assembled
    assert _rel(rels, 9) is None  # no buildable polygon -> no output row


def test_p4_suppression_anti_join(assembled, spark):
    _, _, aw, rels = assembled
    kept = suppress_inserted_ways(aw, rels)
    kept_ids = {r.id for r in kept.select("id").collect()}
    assert 61 not in kept_ids and 71 not in kept_ids  # suppressed
    assert 81 in kept_ids  # MP-08 exception
    assert 100_000 in kept_ids  # grid ways untouched


def test_way_assembly_order_and_polygons(assembled):
    _, _, aw, _ = assembled
    rows = {r.id: r.coords for r in aw.collect()}
    # street 0: 10 grid nodes in ref order
    street = rows[100_000]
    assert len(street) == 10
    assert street[0] == [20.0, 20.0]
    assert street[-1] == [pytest.approx(20.09), 20.0]
    polys = way_polygons(aw.where(F.col("id") == 100_010))
    p = polys.collect()[0]
    assert p.area == pytest.approx(0.0001)
    t, rings = wkb.parse_wkb(bytes(p.wkb))
    assert t == wkb.WKB_POLYGON and geom.ring_is_ccw(np.asarray(rings[0]))


def test_way_linestrings_validity(assembled, spark):
    _, _, aw, _ = assembled
    ls = way_linestrings(aw)
    n_streets = ls.where(F.col("id") < 100_010).where(F.col("id") >= 100_000).count()
    assert n_streets == 10
    one = ls.where(F.col("id") == 100_003).collect()[0]
    t, arr = wkb.parse_wkb(bytes(one.wkb))
    assert t == wkb.WKB_LINESTRING and len(arr) == 10


def test_node_points_wkb(assembled, spark):
    nodes, *_ = assembled
    pts = node_points(nodes.where(F.col("id") == 100_000)).collect()
    t, (x, y) = wkb.parse_wkb(bytes(pts[0].wkb))
    assert (t, x, y) == (wkb.WKB_POINT, 20.0, 20.0)


def test_mega_relation_chunked_path_identical(spark, monkeypatch):
    """O10b: a synthetic 4k-member relation (one giant outer ring split into
    2-point segments + a segmented hole + one separate closed shell) produces
    byte-identical output through the chunked two-stage path (a 256-member
    MAX_MEMBERS_PER_GROUP forces ~16 chunks) and the single-stage path. So does a relation of
    closed member rings only, whose chunks carry no open chain (chains = [])
    and sit alone in one-row Arrow batches."""
    n = 4000
    theta = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    outer = np.c_[10.0 * np.cos(theta), 10.0 * np.sin(theta)]
    rows = []
    rng = np.random.RandomState(11)
    order = rng.permutation(n)
    for i in order.tolist():
        seg = [outer[i].tolist(), outer[(i + 1) % n].tolist()]
        if i % 3 == 0:  # direction-invariance: reverse a third of the segments
            seg = seg[::-1]
        rows.append((int(1000 + i), {"source": "synthetic"}, seg))
    # hole: a square split into 4 open segments
    sq = [[-2.0, -2.0], [2.0, -2.0], [2.0, 2.0], [-2.0, 2.0], [-2.0, -2.0]]
    for j in range(4):
        rows.append((int(9000 + j), {}, [sq[j], sq[j + 1]]))
    # separate small closed shell far away
    shell = [[50.0, 50.0], [51.0, 50.0], [51.0, 51.0], [50.0, 51.0], [50.0, 50.0]]
    rows.append((9100, {"landuse": "forest"}, shell))

    aw = spark.createDataFrame(
        rows, schema="id long, tags map<string,string>, coords array<array<double>>"
    )
    members = [{"ref": int(r[0]), "type": "way", "role": ""} for r in rows]
    rels = spark.createDataFrame(
        [(77, {"type": "multipolygon", "landuse": "meadow"}, members)],
        schema=(
            "id long, tags map<string,string>, "
            "members array<struct<ref:long,type:string,role:string>>"
        ),
    )

    def run(max_members, rels=rels, aw=aw):
        monkeypatch.setattr(assemble, "MAX_MEMBERS_PER_GROUP", max_members)
        out = assemble_relations(rels, aw).collect()
        assert len(out) == 1
        r = out[0]
        return (
            r.rel_id, r.area, r.n_rings, r.dropped_unclosed, r.dropped_invalid,
            str(r.polygons), bytes(r.wkb), tuple(sorted(r.inserted_ways)),
        )

    single = run(10**9)
    chunked = run(256)
    assert single == chunked
    # sanity on the geometry itself: outer shell minus hole plus small shell
    assert single[2] == 3  # n_rings
    expected_area = 0.5 * n * 100.0 * np.sin(2 * np.pi / n) - 16.0 + 1.0
    assert abs(single[1] - expected_area) < 1e-6
    assert single[3] == 0 and single[4] == 0  # nothing dropped

    # four shells with a hole each, every member way closed; distinct sizes
    # keep the area-sorted nesting free of ties
    def square(x0, y0, side):
        return [[x0, y0], [x0 + side, y0], [x0 + side, y0 + side],
                [x0, y0 + side], [x0, y0]]

    closed_rows = []
    for k in range(4):
        x0 = 100.0 + 20.0 * k
        closed_rows.append((20000 + 2 * k, {}, square(x0, 0.0, 8.0 + k)))
        closed_rows.append((20001 + 2 * k, {}, square(x0 + 2.0, 2.0, 2.0 + 0.5 * k)))
    aw2 = spark.createDataFrame(
        closed_rows, schema="id long, tags map<string,string>, coords array<array<double>>"
    )
    rels2 = spark.createDataFrame(
        [(78, {"type": "multipolygon", "landuse": "meadow"},
          [{"ref": r[0], "type": "way", "role": ""} for r in closed_rows])],
        schema=rels.schema,
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        single2 = run(10**9, rels2, aw2)
        chunked2 = run(2, rels2, aw2)
    finally:
        spark.conf.set(key, orig)
    assert single2 == chunked2
    assert single2[2] == 8 and single2[3] == 0 and single2[4] == 0


def test_equal_area_shells_chunked_path_identical(spark, monkeypatch):
    """Eight disjoint shells of EQUAL area: the nesting sort cannot order
    them by area, so the tie-break (smallest vertex) must make the chunked
    path (rings in chunk order) emit the same polygon order and WKB as the
    single-stage path (rings in way-id order)."""
    def square(x0):
        return [[x0, 0.0], [x0 + 8.0, 0.0], [x0 + 8.0, 8.0], [x0, 8.0], [x0, 0.0]]

    rows = [(30000 + k, {}, square(100.0 + 20.0 * k)) for k in range(8)]
    aw = spark.createDataFrame(
        rows, schema="id long, tags map<string,string>, coords array<array<double>>"
    )
    rels = spark.createDataFrame(
        [(79, {"type": "multipolygon", "landuse": "meadow"},
          [{"ref": r[0], "type": "way", "role": ""} for r in rows])],
        schema="id long, tags map<string,string>, "
        "members array<struct<ref:long,type:string,role:string>>",
    )

    def run(max_members):
        monkeypatch.setattr(assemble, "MAX_MEMBERS_PER_GROUP", max_members)
        (r,) = assemble_relations(rels, aw).collect()
        return r.n_rings, str(r.polygons), bytes(r.wkb)

    single, chunked = run(10**9), run(2)
    assert single == chunked
    assert single[0] == 8


def test_assembly_partition_invariance(spark):
    """Identical relation output under different shuffle partitioning and
    input row order (FIXTURES invariance requirement)."""
    nodes, ways, relations = fixtures.osm_dfs(spark)
    coords = nodes.select("id", "lon", "lat")

    def run(ways_df, nparts):
        aw = assemble_ways(ways_df.repartition(nparts), coords)
        rels = assemble_relations(relations, aw)
        return {
            (r.rel_id, r.area, str(r.polygons), tuple(sorted(r.inserted_ways)))
            for r in rels.collect()
        }

    a = run(ways, 2)
    b = run(ways.orderBy(F.rand(seed=7)), 16)
    assert a == b


def test_repair_fallback_never_drops_valid_rings(monkeypatch):
    """ADVICE r3 (medium): a ring that is VALID (nonzero shoelace) but not
    simple routes to repair under repair=True; if the repair kernel raises or
    returns nothing, the row must fall back to the unrepaired single-ring emit
    (parity with repair=False) — opting into repair never loses rows. Only
    already-invalid rings stay dropped. Driver-side unit test of
    _polygon_parts with the kernel forced to fail."""
    from imposm2_spark.kernels import overlay
    from imposm2_spark.operators.assemble import _polygon_parts

    hourglass = [
        [0.0, 0.0], [6.0, 6.0], [6.0, 0.0], [0.0, 8.0], [0.0, 0.0]
    ]  # nonzero-shoelace, non-simple (repair_self_intersections fixture id=3)

    no_repair = _polygon_parts(hourglass, repair=False)
    assert no_repair is not None

    def _boom(ring):
        raise ValueError("trace failed")

    monkeypatch.setattr(overlay, "repair_ring", _boom)
    with_repair = _polygon_parts(hourglass, repair=True)
    assert with_repair is not None
    assert with_repair[1] == no_repair[1]  # same area
    assert with_repair[2] == no_repair[2]  # same WKB bytes

    monkeypatch.setattr(overlay, "repair_ring", lambda r: [])
    assert _polygon_parts(hourglass, repair=True) is not None  # empty, same deal

    # zero-shoelace bowtie is invalid to begin with: stays dropped when the
    # kernel can't rebuild it
    bowtie = [[0.0, 0.0], [4.0, 4.0], [4.0, 0.0], [0.0, 4.0], [0.0, 0.0]]
    assert _polygon_parts(bowtie, repair=False) is None
    assert _polygon_parts(bowtie, repair=True) is None


def _relation_group(rel_id, way_ids, way_tags, coords):
    """One relation group as the assembly kernel receives it from applyInArrow."""
    import pyarrow as pa

    tags = pa.map_(pa.string(), pa.string())
    n = len(way_ids)
    return pa.table(
        {
            "rel_id": pa.array([rel_id] * n, pa.int64()),
            "rel_tags": pa.array([{"type": "multipolygon"}] * n, tags),
            "way_id": pa.array(way_ids, pa.int64()),
            "way_tags": pa.array(way_tags, tags),
            "coords": pa.array(coords, pa.list_(pa.list_(pa.float64()))),
        }
    )


def test_a4_fragmented_outer_does_not_inherit_hole_tags():
    """A4 candidacy is decided against the BUILT shells: with the outer
    boundary stitched from open fragments, the only closed member way is the
    tagged lake (a hole) — the relation must NOT inherit the hole's tags,
    and P4 must NOT suppress the lake way (pre-fix: the polygon turned into
    water and the lake vanished)."""
    from imposm2_spark.operators.assemble import _assemble_relation_group

    group = _relation_group(
        9001,
        [901, 902, 903],
        [{"landuse": "forest"}, {"landuse": "forest"}, {"natural": "water"}],
        [
            [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]],          # open fragment
            [[10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],           # open fragment
            [[2.0, 2.0], [4.0, 2.0], [4.0, 4.0], [2.0, 4.0], [2.0, 2.0]],
        ],
    )
    out = _assemble_relation_group(group, "contains").to_pylist()
    assert len(out) == 1
    row = out[0]
    assert dict(row["tags"]).get("natural") != "water", row["tags"]
    assert 903 not in list(row["inserted_ways"])
    assert row["n_rings"] == 2  # shell + hole still assembled


def test_a4_closed_outer_still_inherits():
    """Positive control for the shell-aware candidacy: a closed tagged outer
    ring (a shell of the result) still donates its tags (MP-06 semantics)."""
    from imposm2_spark.operators.assemble import _assemble_relation_group

    group = _relation_group(
        9002,
        [911, 912],
        [{"landuse": "forest"}, {"natural": "water"}],
        [
            [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]],
            [[2.0, 2.0], [4.0, 2.0], [4.0, 4.0], [2.0, 4.0], [2.0, 2.0]],
        ],
    )
    row = _assemble_relation_group(group, "contains").to_pylist()[0]
    assert dict(row["tags"])["landuse"] == "forest"
    assert 911 in list(row["inserted_ways"])      # subsumed by inherited tags
    assert 912 not in list(row["inserted_ways"])  # distinct water tag survives


def test_a4_closed_outer_with_duplicate_vertex_inherits():
    """ADVICE r4: _way_meta keyed the raw coords, but built shells are
    canonicalized AFTER geom.dedup_consecutive — a closed member way with a
    repeated consecutive vertex (common in raw OSM) never matched its own
    shell, silently skipping A4 tag inheritance and P4 suppression."""
    from imposm2_spark.operators.assemble import _assemble_relation_group

    group = _relation_group(
        9003,
        [921],
        [{"landuse": "forest"}],
        [
            # duplicate vertex at positions 1-2
            [[0.0, 0.0], [10.0, 0.0], [10.0, 0.0], [10.0, 10.0],
             [0.0, 10.0], [0.0, 0.0]],
        ],
    )
    out = _assemble_relation_group(group, "contains").to_pylist()
    assert len(out) == 1
    row = out[0]
    assert dict(row["tags"]).get("landuse") == "forest", row["tags"]
    assert 921 in list(row["inserted_ways"])
