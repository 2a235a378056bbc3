"""kernels.overlay: planar-arrangement union (A3 `union` builder) + G5 repair.

Oracle strategy: every overlay result is checked against a dense deterministic
grid sample — a point is in the RESULT (even-odd over its rings) iff the keep
rule says so on the ORIGINAL rings. That is an independent re-statement of the
spec (ray-casting only, no arrangement code), so it catches tracing/nesting
bugs without golden rows.
"""

from __future__ import annotations

import numpy as np
import pytest

from imposm2_spark.kernels import geom, overlay, rings as kr


def sq(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64
    )


def poly_area(polys):
    return sum(
        abs(geom.ring_signed_area(p[0]))
        - sum(abs(geom.ring_signed_area(h)) for h in p[1:])
        for p in polys
    )


def grid_check(polys, rings, keep_fn, lo=(-2.0, -2.0), hi=(20.0, 20.0), n=89):
    """Dense-sample oracle: result containment == keep rule on input rings."""
    xs = np.linspace(lo[0], hi[0], n) + 0.003731
    ys = np.linspace(lo[1], hi[1], n) + 0.004177
    X, Y = np.meshgrid(xs, ys)
    px, py = X.ravel(), Y.ravel()
    flat = [r for p in polys for r in p]
    got = geom.points_in_rings(px, py, flat) if flat else np.zeros(len(px), bool)
    inside = np.zeros((len(rings), len(px)), dtype=bool)
    for k, r in enumerate(rings):
        inside[k] = geom.crossings(px, py, r) % 2 == 1
    want = keep_fn(inside)
    assert np.array_equal(got, want), f"{int((got != want).sum())} grid mismatches"


def union_rule(roles):
    w = np.asarray(roles)[:, None]
    return lambda inside: (w * inside).sum(axis=0) > 0


def even_odd_rule(inside):
    return inside.sum(axis=0) % 2 == 1


# ---------------------------------------------------------------- union (A3)
class TestUnionRings:
    def test_valid_square_roundtrip(self):
        polys = overlay.union_rings([sq(0, 0, 10, 10)])
        assert len(polys) == 1 and len(polys[0]) == 1
        assert poly_area(polys) == pytest.approx(100.0)

    def test_nested_equals_contains(self):
        rings = [sq(0, 0, 10, 10), sq(2, 2, 4, 4)]
        polys = overlay.union_rings(rings)
        assert len(polys) == 1 and len(polys[0]) == 2
        assert poly_area(polys) == pytest.approx(96.0)
        grid_check(polys, rings, union_rule(overlay.ring_roles(rings)))

    def test_overlapping_outers_merge(self):
        rings = [sq(0, 0, 10, 10), sq(5, 5, 15, 15)]
        polys = overlay.union_rings(rings)
        assert len(polys) == 1 and len(polys[0]) == 1
        assert poly_area(polys) == pytest.approx(175.0)
        grid_check(polys, rings, union_rule([1, 1]))

    def test_overlapping_inners_clip(self):
        rings = [sq(0, 0, 10, 10), sq(2, 2, 5, 5), sq(4, 4, 7, 7)]
        assert overlay.ring_roles(rings) == [1, -1, -1]
        polys = overlay.union_rings(rings)
        # holes union = 9 + 9 - 1 = 17
        assert poly_area(polys) == pytest.approx(83.0)
        assert sum(len(p) for p in polys) == 2
        grid_check(polys, rings, union_rule([1, -1, -1]))

    def test_island_in_hole(self):
        rings = [sq(0, 0, 10, 10), sq(2, 2, 8, 8), sq(4, 4, 6, 6)]
        assert overlay.ring_roles(rings) == [1, -1, 1]
        polys = overlay.union_rings(rings)
        assert len(polys) == 2 and sum(len(p) for p in polys) == 3
        assert poly_area(polys) == pytest.approx(100 - 36 + 4)
        grid_check(polys, rings, union_rule([1, -1, 1]))

    def test_disjoint_and_corner_touch(self):
        for rings, n_polys in (
            ([sq(0, 0, 2, 2), sq(5, 5, 7, 7)], 2),
            ([sq(0, 0, 2, 2), sq(2, 2, 4, 4)], 2),
        ):
            polys = overlay.union_rings(rings)
            assert len(polys) == n_polys
            assert poly_area(polys) == pytest.approx(8.0)
            grid_check(polys, rings, union_rule([1, 1]))

    def test_shared_edge_merges(self):
        rings = [sq(0, 0, 2, 2), sq(2, 0, 4, 2)]
        polys = overlay.union_rings(rings)
        assert len(polys) == 1
        assert poly_area(polys) == pytest.approx(8.0)
        grid_check(polys, rings, union_rule([1, 1]))

    def test_duplicate_rings_collapse_to_one(self):
        """Set semantics: the same outer way twice (malformed-OSM duplicate)
        must yield the square, not an empty result from mutual containment."""
        a = sq(0, 0, 4, 4)
        rot = np.vstack([np.roll(a[:-1], 2, axis=0), np.roll(a[:-1], 2, axis=0)[:1]])
        for dup in (a.copy(), rot[::-1]):  # identical + rotated/reversed copy
            polys = overlay.union_rings([a, dup])
            assert len(polys) == 1 and len(polys[0]) == 1
            assert poly_area(polys) == pytest.approx(16.0)
        # duplicate hole inside a shell still subtracts once
        polys = overlay.union_rings([sq(0, 0, 10, 10), sq(2, 2, 4, 4), sq(2, 2, 4, 4)])
        assert poly_area(polys) == pytest.approx(96.0)
        assert sum(len(p) for p in polys) == 2

    def test_sub_snap_gap_rings_still_split(self):
        """Ring bboxes separated by less than the snap grid must not be
        pruned out of the pairwise split (regression: unpadded raw-coordinate
        bbox test broke the boundary trace)."""
        rings = [sq(0, 0, 1 - 4e-10, 2), sq(1 + 4e-10, 1, 2, 3)]
        polys = overlay.union_rings(rings)
        assert len(polys) == 1
        assert poly_area(polys) == pytest.approx(4.0)

    def test_near_duplicate_rings_below_tolerance_collapse(self):
        """Near-duplicates within the snap grid must dedupe like exact
        duplicates (regression: byte-exact key missed them and the pair
        mutually classified inner, emptying the result)."""
        rings = [sq(0, 0, 4, 4), sq(1e-12, 1e-12, 4 + 1e-12, 4 + 1e-12)]
        polys = overlay.union_rings(rings)
        assert len(polys) == 1
        assert poly_area(polys) == pytest.approx(16.0)

    def test_ring_crossing_shell_engine_defined(self):
        # a ring crossing its would-be shell has no GEOS-defined nesting; the
        # engine classifies it from its first boundary-clear canonical
        # interior sample -> outer here (SURVEY App. B divergence note)
        rings = [sq(0, 0, 10, 10), sq(8, 2, 12, 4)]
        roles = overlay.ring_roles(rings)
        assert roles == [1, 1]
        polys = overlay.union_rings(rings)
        assert poly_area(polys) == pytest.approx(104.0)
        grid_check(polys, rings, union_rule(roles))

    def test_input_order_and_direction_invariance(self):
        base = [sq(0, 0, 10, 10), sq(2, 2, 5, 5), sq(4, 4, 7, 7)]
        a = overlay.union_rings(base)
        rot = np.vstack([np.roll(base[0][:-1], 3, axis=0), np.roll(base[0][:-1], 3, axis=0)[:1]])
        b = overlay.union_rings([base[2][::-1], rot, base[1]])
        ka = sorted((r.tolist() for p in a for r in p))
        kb = sorted((r.tolist() for p in b for r in p))
        # canonicalize via the builder for comparison
        mpa = kr.build_multipolygon_union(kr.MergeResult(base))
        mpb = kr.build_multipolygon_union(kr.MergeResult([base[2][::-1], rot, base[1]]))
        assert [[r.tolist() for r in p] for p in mpa.polygons] == [
            [r.tolist() for r in p] for p in mpb.polygons
        ]
        assert mpa.area == pytest.approx(mpb.area)
        assert len(ka) == len(kb)

    def test_union_matches_contains_on_nested_fixtures(self):
        """For every properly-nested MP fixture case, the union builder must be
        row-identical to the contains builder (the reference's own invariant
        between its two --relation-builder strategies)."""
        cases = [
            [sq(0, 0, 10, 10)],
            [sq(0, 0, 10, 10), sq(2, 2, 4, 4)],
            [sq(0, 0, 10, 10), sq(2, 2, 8, 8), sq(4, 4, 6, 6)],
            [sq(0, 0, 10, 10), sq(1, 1, 3, 3), sq(6, 6, 9, 9)],
            [sq(0, 0, 4, 4), sq(6, 0, 10, 4), sq(7, 1, 9, 3)],
        ]
        for rings in cases:
            merge = kr.MergeResult(list(rings))
            mc = kr.build_multipolygon(kr.MergeResult([kr._canonical_ring(r) for r in rings]))
            mu = kr.build_multipolygon_union(merge)
            assert mu.area == pytest.approx(mc.area), rings
            assert sorted(len(p) for p in mu.polygons) == sorted(
                len(p) for p in mc.polygons
            )
            got = sorted(r.tolist() for p in mu.polygons for r in p)
            want = sorted(
                kr._canonical_ring(r, ccw=geom.ring_is_ccw(r)).tolist()
                for p in mc.polygons
                for r in p
            )
            assert got == want


# ---------------------------------------------------------------- repair (G5)
class TestRepairRing:
    def test_valid_ring_roundtrips(self):
        polys = overlay.repair_ring(sq(0, 0, 10, 10))
        assert len(polys) == 1 and len(polys[0]) == 1
        assert poly_area(polys) == pytest.approx(100.0)

    def test_bowtie_two_lobes(self):
        bow = np.array([[0, 0], [4, 4], [4, 0], [0, 4], [0, 0]], dtype=np.float64)
        polys = overlay.repair_ring(bow)
        assert len(polys) == 2
        assert poly_area(polys) == pytest.approx(8.0)
        grid_check(polys, [bow], even_odd_rule, lo=(-1, -1), hi=(5, 5))

    def test_star_five_lobes(self):
        star = np.array(
            [[0, 0], [10, 0], [0, 7], [5, -3], [10, 7], [0, 0]], dtype=np.float64
        )
        polys = overlay.repair_ring(star)
        assert len(polys) == 5
        grid_check(polys, [star], even_odd_rule, lo=(-3, -5), hi=(12, 9))

    def test_simplicity_detector(self):
        assert overlay.ring_is_simple(sq(0, 0, 10, 10))
        bow = np.array([[0, 0], [4, 4], [4, 0], [0, 4], [0, 0]], dtype=np.float64)
        assert not overlay.ring_is_simple(bow)
        star = np.array(
            [[0, 0], [10, 0], [0, 7], [5, -3], [10, 7], [0, 0]], dtype=np.float64
        )
        assert not overlay.ring_is_simple(star)
        concave = np.array(
            [[0, 0], [4, 0], [4, 4], [2, 2], [0, 4], [0, 0]], dtype=np.float64
        )
        assert overlay.ring_is_simple(concave)

    def test_nonzero_area_self_intersection(self):
        # unequal-lobe hourglass: shoelace is nonzero so P5 alone passes it;
        # repair must still split it
        hour = np.array([[0, 0], [6, 6], [6, 0], [0, 8], [0, 0]], dtype=np.float64)
        assert not overlay.ring_is_simple(hour)
        polys = overlay.repair_ring(hour)
        assert len(polys) == 2
        grid_check(polys, [hour], even_odd_rule, lo=(-1, -1), hi=(7, 9))


# --------------------------------------------------- hypothesis stress tests
# (run at 300 examples during development with zero failures; capped here for
# suite runtime — the grid oracle is the independent spec re-statement)
from hypothesis import given, settings
from hypothesis import strategies as hst

_RECT = hst.tuples(
    hst.integers(0, 12), hst.integers(0, 12), hst.integers(1, 6), hst.integers(1, 6)
).map(lambda t: sq(t[0], t[1], t[0] + t[2], t[1] + t[3]))


class TestOverlayHypothesis:
    @settings(max_examples=60, deadline=None)
    @given(hst.lists(_RECT, min_size=1, max_size=5))
    def test_union_random_rects_grid_oracle(self, rs):
        polys = overlay.union_rings(rs)
        seen: dict = {}
        uniq = []
        for r in rs:
            k = overlay._canonicalize(r).tobytes()
            if k not in seen:
                seen[k] = None
                uniq.append(r)
        grid_check(
            polys, uniq, union_rule(overlay.ring_roles(uniq)),
            lo=(-1, -1), hi=(20, 20), n=85,
        )

    @settings(max_examples=60, deadline=None)
    @given(hst.lists(hst.tuples(hst.integers(0, 10), hst.integers(0, 10)),
                     min_size=3, max_size=8, unique=True))
    def test_repair_random_rings_grid_oracle(self, pts):
        ring = geom.dedup_consecutive(np.array(list(pts) + [pts[0]], dtype=np.float64))
        if len(ring) < 4:
            return
        polys = overlay.repair_ring(ring)
        grid_check(polys, [ring], even_odd_rule, lo=(-1, -1), hi=(11, 11), n=97)


# ------------------------------------------------------- builder in assemble
class TestUnionBuilderSpark:
    def test_assemble_relations_union_vs_contains(self, spark):
        """Nested fixture through the real Spark operator under both builder
        strategies: identical rows (the strategies agree on valid input)."""
        from imposm2_spark.operators.assemble import assemble_relations, assemble_ways

        nodes = [(i, lon, lat) for i, (lon, lat) in enumerate(
            [(0, 0), (10, 0), (10, 10), (0, 10), (2, 2), (4, 2), (4, 4), (2, 4)]
        )]
        nodes_df = spark.createDataFrame(
            [(i, {}, float(lon), float(lat)) for i, lon, lat in nodes],
            "id long, tags map<string,string>, lon double, lat double",
        )
        ways_df = spark.createDataFrame(
            [
                (100, {"natural": "water"}, [0, 1, 2, 3, 0]),
                (101, {}, [4, 5, 6, 7, 4]),
            ],
            "id long, tags map<string,string>, refs array<long>",
        )
        rels_df = spark.createDataFrame(
            [
                (
                    1,
                    {"type": "multipolygon", "landuse": "forest"},
                    [(100, "way", "outer"), (101, "way", "inner")],
                )
            ],
            "id long, tags map<string,string>, "
            "members array<struct<ref:long,type:string,role:string>>",
        )
        aw = assemble_ways(ways_df, nodes_df.select("id", "lon", "lat"))
        cols = ["rel_id", "area", "n_rings", "dropped_unclosed", "dropped_invalid"]
        contains = (
            assemble_relations(rels_df, aw, relation_builder="contains")
            .select(*cols).collect()
        )
        union = (
            assemble_relations(rels_df, aw, relation_builder="union")
            .select(*cols).collect()
        )
        assert [tuple(r) for r in contains] == [tuple(r) for r in union]
        assert contains[0]["area"] == pytest.approx(96.0)

    def test_union_builder_chunked_path_identity(self, spark, monkeypatch):
        """O10b x A3-union composition: forcing the two-stage chunked path
        (MAX_MEMBERS_PER_GROUP=1) must produce byte-identical rows to the single-stage
        path under the union builder, on the fixture that exercises overlap
        and ring merging (UR-1..4)."""
        from imposm2_spark.operators import assemble
        from imposm2_spark.operators.assemble import assemble_relations, assemble_ways
        from imposm2_spark.sources import fixtures

        nodes, ways, relations = fixtures.union_osm_dfs(spark)
        aw = assemble_ways(ways, nodes.select("id", "lon", "lat"))
        cols = ["rel_id", "area", "n_rings", "dropped_unclosed", "dropped_invalid", "wkb"]
        single = sorted(
            tuple(r) for r in assemble_relations(
                relations, aw, relation_builder="union"
            ).select(*cols).collect()
        )
        monkeypatch.setattr(assemble, "MAX_MEMBERS_PER_GROUP", 1)
        chunked = sorted(
            tuple(r) for r in assemble_relations(
                relations, aw, relation_builder="union"
            ).select(*cols).collect()
        )
        assert single == chunked and len(single) == 4

    def test_union_builder_identical_on_mp_fixture(self, spark):
        """The MP fixture is properly nested, so flipping the relation
        builder must not move a relation's area (the union builder may
        merge a hole that touches its shell into the shell ring, MP-04)."""
        from imposm2_spark.operators.assemble import assemble_relations, assemble_ways
        from imposm2_spark.sources import fixtures

        nodes, ways, relations = fixtures.osm_dfs(spark)
        aw = assemble_ways(ways, nodes.select("id", "lon", "lat"))
        cols = ["rel_id", "area", "dropped_unclosed", "dropped_invalid"]
        ra, rb = (
            sorted(tuple(r) for r in assemble_relations(
                relations, aw, relation_builder=builder
            ).select(*cols).collect())
            for builder in ("contains", "union")
        )
        assert ra == rb and len(ra) > 0

    def test_way_polygons_repair(self, spark):
        from imposm2_spark.operators.assemble import way_polygons

        rows = [
            (1, {}, [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]),
            (2, {}, [[0.0, 0.0], [4.0, 4.0], [4.0, 0.0], [0.0, 4.0], [0.0, 0.0]]),
            (3, {}, [[0.0, 0.0], [6.0, 6.0], [6.0, 0.0], [0.0, 8.0], [0.0, 0.0]]),
        ]
        df = spark.createDataFrame(
            rows, "id long, tags map<string,string>, coords array<array<double>>"
        )
        plain = {r["id"]: r for r in way_polygons(df).collect()}
        repaired = {r["id"]: r for r in way_polygons(df, repair=True).collect()}
        # default: bowtie (zero shoelace) dropped, hourglass passes unsplit
        assert set(plain) == {1, 3}
        assert len(plain[3]["rings"]) == 1
        # repair: bowtie -> 2 lobes area 8; hourglass split too; square unchanged
        assert set(repaired) == {1, 2, 3}
        assert len(repaired[2]["rings"]) == 2
        assert repaired[2]["area"] == pytest.approx(8.0)
        assert len(repaired[3]["rings"]) == 2
        assert repaired[1]["wkb"] == plain[1]["wkb"]


def test_union_dedups_negative_zero_duplicate():
    """Coincident rings straddling 0 must collapse in the dedup exactly as
    the arrangement's _snap sees them: np.round alone preserves -0.0 whose
    byte pattern differs from +0.0, so pre-fix both rings survived, saw each
    other as containers, turned inner, and the union silently emptied."""
    import numpy as np

    from imposm2_spark.kernels.overlay import union_rings

    sq = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    near = sq.copy()
    near[0, 0] = -1e-12
    near[4, 0] = -1e-12
    polys = union_rings([sq, near])
    assert len(polys) == 1 and len(polys[0]) == 1
