"""J6c vector-tile geometry cut (kernels/clip.py + tiles.clip_polygons_to_tiles).

Kernel identities on axis-aligned fixtures, hole semantics, the area-
conservation property (sum of per-tile cut areas == projected polygon
area — algorithm-independent, catches both dropped and doubled regions),
boundary snapping, and operator-level partition invariance.
"""

import numpy as np
import pytest

from imposm2_spark.kernels import clip as kclip
from imposm2_spark.kernels import geom


def _sq(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64
    )


def test_clip_ring_fully_inside_identity():
    r = _sq(10.2, 20.2, 10.8, 20.8)
    c = kclip.clip_ring_to_rect(r, 10, 20, 11, 21)
    assert abs(abs(geom.ring_signed_area(c)) - 0.36) < 1e-12
    assert sorted(map(tuple, c)) == sorted(map(tuple, r))


def test_clip_ring_spanning_two_tiles_splits_area():
    r = _sq(10.5, 20.25, 11.5, 20.75)  # area 0.5 split evenly across x=11
    left = kclip.clip_ring_to_rect(r, 10, 20, 11, 21)
    right = kclip.clip_ring_to_rect(r, 11, 20, 12, 21)
    assert abs(abs(geom.ring_signed_area(left)) - 0.25) < 1e-12
    assert abs(abs(geom.ring_signed_area(right)) - 0.25) < 1e-12
    # intersection points sit EXACTLY on the clip line
    assert set(left[:, 0].tolist()) <= {10.5, 11.0}
    assert 11.0 in left[:, 0]


def test_clip_subject_containing_tile_yields_tile_square():
    r = _sq(0, 0, 100, 100)
    c = kclip.clip_ring_to_rect(r, 40, 40, 41, 41)
    assert abs(abs(geom.ring_signed_area(c)) - 1.0) < 1e-12
    assert sorted(map(tuple, c)) == [(40.0, 40.0), (40.0, 41.0), (41.0, 40.0), (41.0, 41.0)]


def test_clip_disjoint_returns_empty():
    r = _sq(0, 0, 1, 1)
    assert len(kclip.clip_ring_to_rect(r, 5, 5, 6, 6)) == 0


def test_tile_inside_hole_nets_zero():
    outer = _sq(0, 0, 10, 10)                       # CCW
    hole = _sq(2.5, 2.5, 7.5, 7.5)[::-1].copy()     # CW
    # tile (4,4) = [4,5]^2 is entirely inside the hole -> exact zero
    _, area = kclip.clip_rings_to_tile([outer, hole], 4, 4)
    assert area == pytest.approx(0.0, abs=1e-12)
    # tile (1,1) = [1,2]^2 is inside the outer, outside the hole -> full tile
    _, area_full = kclip.clip_rings_to_tile([outer, hole], 1, 1)
    assert area_full == pytest.approx(1.0, abs=1e-12)
    # tile (2,2) = [2,3]^2 overlaps the hole corner [2.5,3]^2 -> 1 - 0.25
    local, area_part = kclip.clip_rings_to_tile([outer, hole], 2, 2)
    assert area_part == pytest.approx(0.75, abs=1e-12)
    assert len(local) == 2  # outer square + clipped hole corner, both local
    for r in local:
        assert (r >= -1e-12).all() and (r <= 1 + 1e-12).all()


def test_area_conservation_over_tile_grid():
    # concave polygon (L-shape) + holed polygon in projected space
    rng = np.random.default_rng(7)
    lshape = np.array(
        [[3.1, 3.2], [9.7, 3.2], [9.7, 6.4], [6.3, 6.4], [6.3, 9.8], [3.1, 9.8]]
    )
    outer = _sq(2.2, 2.3, 11.6, 11.7)
    hole = _sq(4.4, 4.5, 7.7, 7.6)[::-1].copy()
    for rings in ([lshape], [outer, hole]):
        total = sum(geom.ring_signed_area(r) for r in rings)
        covered = 0.0
        for x in range(0, 13):
            for y in range(0, 13):
                _, a = kclip.clip_rings_to_tile(rings, x, y)
                covered += a
        assert covered == pytest.approx(abs(total), rel=1e-12)


def test_projection_matches_cells_formula():
    from imposm2_spark.kernels import cells as kcells

    lon = np.array([-180.0, -12.34, 0.0, 56.78, 179.999])
    lat = np.array([-85.0, -45.0, 0.0, 52.5, 84.9])
    p = kclip.project_ring(np.column_stack([lon, lat]), 8)
    x, y = kcells.lonlat_to_xy(lon, lat, 8)
    assert (np.floor(p[:, 0]).astype(np.int64) == np.minimum(x, 255)).all()
    assert (np.floor(p[:, 1]).astype(np.int64) == y).all()


pytestmark_spark = pytest.mark.spark


@pytest.mark.spark
def test_clip_operator_conserves_area_and_subsets_cover(spark):
    from imposm2_spark.operators.tiles import (
        assign_polygon_tiles, clip_polygons_to_tiles,
    )
    from imposm2_spark.sources import fixtures

    polys = fixtures.polygons_admin_df(spark)
    out = clip_polygons_to_tiles(polys, 8).collect()
    cover = {
        (r["polygon_id"], r["x"], r["y"])
        for r in assign_polygon_tiles(polys, [8], refine="exact").collect()
    }
    # every cut tile is an exact covering tile (never invents tiles)
    assert {(r["polygon_id"], r["x"], r["y"]) for r in out} <= cover
    # per-polygon area conservation vs the projected ring area
    got = {}
    for r in out:
        got[r["polygon_id"]] = got.get(r["polygon_id"], 0.0) + r["area"]
        assert r["n_pts"] == sum(r["ring_sizes"])
        assert len(r["rings_flat"]) == 2 * r["n_pts"]
        flat = np.asarray(r["rings_flat"])
        assert (flat >= -1e-9).all() and (flat <= 1 + 1e-9).all()  # tile-local
    pdf = fixtures.make_polygons_admin(12)
    for _, row in pdf.iterrows():
        proj = [kclip.project_ring(np.asarray(rr), 8) for rr in row["rings"]]
        want = abs(sum(geom.ring_signed_area(p) for p in proj))
        assert got[row["polygon_id"]] == pytest.approx(want, rel=1e-9), row[
            "polygon_id"
        ]


@pytest.mark.spark
def test_clip_operator_partition_invariance(spark):
    from imposm2_spark.operators.tiles import clip_polygons_to_tiles
    from imposm2_spark.sources import fixtures

    polys = fixtures.polygons_admin_df(spark)
    a = clip_polygons_to_tiles(polys.repartition(1), 8)
    b = clip_polygons_to_tiles(polys.repartition(5, "polygon_id"), 8)
    ka = sorted((r["polygon_id"], r["x"], r["y"], r["n_pts"], round(r["area"], 12))
                for r in a.collect())
    kb = sorted((r["polygon_id"], r["x"], r["y"], r["n_pts"], round(r["area"], 12))
                for r in b.collect())
    assert ka == kb


def test_clip_polyline_splits_and_conserves_length():
    line = np.array([[0.5, 0.5], [2.5, 2.5]])
    full = kclip.polyline_length(line)
    covered = 0.0
    for x in range(3):
        for y in range(3):
            runs, ln = kclip.clip_polyline_to_tile(line, x, y)
            covered += ln
            for r in runs:
                assert (r >= -1e-12).all() and (r <= 1 + 1e-12).all()
    assert covered == pytest.approx(full, rel=1e-12)


def test_clip_polyline_reentry_starts_new_run():
    # V shape leaving tile (0,0) through x=1 and coming back
    v = np.array([[0.2, 0.2], [1.5, 0.2], [0.3, 0.9]])
    runs, _ = kclip.clip_polyline_to_tile(v, 0, 0)
    assert len(runs) == 2
    # boundary crossings snapped exactly to x=1 (tile-local 1.0)
    assert runs[0][-1][0] == 1.0 and runs[1][0][0] == 1.0


def test_clip_polyline_inside_identity_and_outside_empty():
    line = np.array([[3.2, 4.1], [3.8, 4.9], [3.3, 4.4]])
    runs, ln = kclip.clip_polyline_to_tile(line, 3, 4)
    assert len(runs) == 1 and len(runs[0]) == 3
    assert ln == pytest.approx(kclip.polyline_length(line), rel=1e-12)
    runs2, ln2 = kclip.clip_polyline_to_tile(line, 9, 9)
    assert runs2 == [] and ln2 == 0.0


def test_fixture_lines_conserve_length_over_grid():
    from imposm2_spark.sources.fixtures import make_lines_roads

    for _, row in make_lines_roads(8).iterrows():
        proj = kclip.project_ring(np.asarray(row["pts"]), 8)
        full = kclip.polyline_length(proj)
        gx0, gx1 = int(np.floor(proj[:, 0].min())), int(np.floor(proj[:, 0].max()))
        gy0, gy1 = int(np.floor(proj[:, 1].min())), int(np.floor(proj[:, 1].max()))
        covered = sum(
            kclip.clip_polyline_to_tile(proj, x, y)[1]
            for x in range(gx0, gx1 + 1)
            for y in range(gy0, gy1 + 1)
        )
        assert covered == pytest.approx(full, rel=1e-9), row["line_id"]


@pytest.mark.spark
def test_clip_lines_operator(spark):
    from imposm2_spark.operators.tiles import clip_lines_to_tiles
    from imposm2_spark.sources import fixtures

    lines = fixtures.lines_roads_df(spark)
    out = clip_lines_to_tiles(lines, 8).collect()
    assert len(out) > 30  # every line crosses at least one tile
    got = {}
    for r in out:
        got[r["line_id"]] = got.get(r["line_id"], 0.0) + r["length"]
        assert r["n_pts"] == sum(r["run_sizes"])
        assert len(r["runs_flat"]) == 2 * r["n_pts"]
    for _, row in fixtures.make_lines_roads().iterrows():
        proj = kclip.project_ring(np.asarray(row["pts"]), 8)
        assert got[row["line_id"]] == pytest.approx(
            kclip.polyline_length(proj), rel=1e-9
        )


@pytest.mark.spark
def test_expire_tiles_unions_all_feature_kinds(spark):
    from imposm2_spark.operators.tiles import (
        assign_polygon_tiles, clip_lines_to_tiles, expire_tiles,
    )
    from imposm2_spark.sources import fixtures

    pts = spark.createDataFrame(
        [(1, 0.6, 0.6), (2, 0.6, 0.6), (3, 9.1, 9.1)],  # two share a tile
        "doc_id long, lon double, lat double",
    )
    polys = fixtures.polygons_admin_df(spark).where("polygon_id = 23")
    lines = fixtures.lines_roads_df(spark, 3)
    out = expire_tiles(8, points=pts, polygons=polys, lines=lines)
    rows = {(r["z"], r["x"], r["y"]) for r in out.collect()}
    assert out.count() == len(rows)  # distinct by construction
    # every constituent tile set is a subset of the expiry list
    from imposm2_spark.functions.spatial import tile_x, tile_y
    from pyspark.sql import functions as F

    pt_tiles = {
        (8, r["x"], r["y"])
        for r in pts.select(
            tile_x(F.col("lon"), 8).alias("x"), tile_y(F.col("lat"), 8).alias("y")
        ).collect()
    }
    poly_tiles = {
        (8, r["x"], r["y"])
        for r in assign_polygon_tiles(polys, [8], refine="exact").collect()
    }
    line_tiles = {
        (8, r["x"], r["y"]) for r in clip_lines_to_tiles(lines, 8).collect()
    }
    assert pt_tiles | poly_tiles | line_tiles == rows


@pytest.mark.spark
def test_expire_tiles_skips_null_and_non_finite_points(spark):
    """A changed point without a finite position expires no tile, as a NULL
    rings or pts row does not: (NULL, NULL) used to expire (255, 0) at z=8
    (least/greatest skip the NULL), (NaN, NaN) (0, 0) and lon=+inf (255, y)."""
    from imposm2_spark.operators.tiles import expire_tiles

    inf, nan = float("inf"), float("nan")
    pts = spark.createDataFrame(
        [(1, None, None), (2, nan, nan), (3, inf, 10.0), (4, 10.0, -inf),
         (5, None, 10.0), (6, 0.6, 0.6)],
        "doc_id long, lon double, lat double",
    )
    rows = {tuple(r) for r in expire_tiles(8, points=pts).collect()}
    assert rows == {(8, 128, 127)}


@pytest.mark.spark
def test_expire_tiles_requires_a_feature_frame(spark):
    from imposm2_spark.operators.tiles import expire_tiles

    with pytest.raises(ValueError, match="at least one"):
        expire_tiles(8)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    n=st.integers(min_value=3, max_value=12),
)
def test_clip_area_conservation_fuzz(data, n):
    # random simple-ish star polygons (radial construction guarantees a
    # non-self-intersecting ring): area over the covering grid must equal
    # the ring area regardless of shape, tile alignment, or concavity
    cx = data.draw(st.floats(min_value=1.0, max_value=9.0))
    cy = data.draw(st.floats(min_value=1.0, max_value=9.0))
    radii = np.array(
        [data.draw(st.floats(min_value=0.05, max_value=3.0)) for _ in range(n)]
    )
    # evenly spaced angles + bounded jitter keep the ring star-shaped about
    # (cx, cy) — hence SIMPLE, which the SH spec requires (vertices merely
    # sorted by angle about an arbitrary point can self-intersect when the
    # angular span leaves a gap > pi)
    jit = np.array(
        [data.draw(st.floats(min_value=-0.4, max_value=0.4)) for _ in range(n)]
    )
    angles = 2.0 * np.pi * np.arange(n) / n + jit * (np.pi / n)
    ring = np.column_stack(
        [cx + radii * np.cos(angles), cy + radii * np.sin(angles)]
    )
    want = abs(geom.ring_signed_area(ring))
    gx0, gx1 = int(np.floor(ring[:, 0].min())), int(np.floor(ring[:, 0].max()))
    gy0, gy1 = int(np.floor(ring[:, 1].min())), int(np.floor(ring[:, 1].max()))
    covered = sum(
        kclip.clip_rings_to_tile([ring], x, y)[1]
        for x in range(gx0, gx1 + 1)
        for y in range(gy0, gy1 + 1)
    )
    assert covered == pytest.approx(want, rel=1e-9, abs=1e-12)


@settings(max_examples=60, deadline=None)
@given(data=st.data(), n=st.integers(min_value=2, max_value=10))
def test_clip_polyline_length_conservation_fuzz(data, n):
    pts = np.array(
        [
            [data.draw(st.floats(min_value=0.2, max_value=9.8)),
             data.draw(st.floats(min_value=0.2, max_value=9.8))]
            for _ in range(n)
        ]
    )
    full = kclip.polyline_length(pts)
    gx0, gx1 = int(np.floor(pts[:, 0].min())), int(np.floor(pts[:, 0].max()))
    gy0, gy1 = int(np.floor(pts[:, 1].min())), int(np.floor(pts[:, 1].max()))
    covered = sum(
        kclip.clip_polyline_to_tile(pts, x, y)[1]
        for x in range(gx0, gx1 + 1)
        for y in range(gy0, gy1 + 1)
    )
    assert covered == pytest.approx(full, rel=1e-9, abs=1e-12)


@pytest.mark.spark
def test_null_and_empty_rings_emit_no_tiles(spark):
    """A polygon row with NULL rings and one with [] rings cover no tile and
    cut nothing: the batch they share with real polygons yields exactly the
    real polygons' rows instead of failing."""
    from imposm2_spark.operators.tiles import (
        assign_polygon_tiles, clip_polygons_to_tiles,
    )
    from imposm2_spark.sources import fixtures

    polys = fixtures.polygons_admin_df(spark)
    bad = spark.createDataFrame(
        [(98, "null_rings", 2, None, [1]), (99, "empty_rings", 2, [], [1])],
        schema=fixtures.POLYGONS_ADMIN_SCHEMA,
    )
    with_bad = polys.unionByName(bad).coalesce(1)
    for op in (
        lambda df: assign_polygon_tiles(df, [8]),
        lambda df: clip_polygons_to_tiles(df, 8),
    ):
        want = sorted(map(tuple, op(polys).collect()))
        assert sorted(map(tuple, op(with_bad).collect())) == want and want


@pytest.mark.spark
def test_ringless_polygons_alone_in_a_batch(spark):
    """At one row per Arrow batch, a NULL or [] rings row fills a batch on
    its own. The ring operators (tile cover, clip, the pip shuffle path's
    refine) read such a row as no ring, and the line cut reads a NULL or []
    polyline as no point, so the output equals the output without them."""
    from imposm2_spark.operators.pip import pip_join
    from imposm2_spark.operators.tiles import (
        assign_polygon_tiles, clip_lines_to_tiles, clip_polygons_to_tiles,
    )
    from imposm2_spark.sources import fixtures

    polys = fixtures.polygons_admin_df(spark).limit(1)
    cells = polys.first()["cells"]
    bad = spark.createDataFrame(
        [(98, "null_rings", 2, None, cells), (99, "empty_rings", 2, [], cells)],
        schema=fixtures.POLYGONS_ADMIN_SCHEMA,
    )
    with_bad = polys.unionByName(bad).coalesce(1)
    lines = fixtures.lines_roads_df(spark, 3)
    bad_lines = spark.createDataFrame(
        [(98, "null_pts", None), (99, "empty_pts", [])],
        schema=fixtures.LINES_ROADS_SCHEMA,
    )
    lines_with_bad = lines.unionByName(bad_lines).coalesce(1)
    ring = polys.first()["rings"][0]
    lon = sum(p[0] for p in ring[:-1]) / (len(ring) - 1)
    lat = sum(p[1] for p in ring[:-1]) / (len(ring) - 1)
    points = spark.createDataFrame([(1, lon, lat)], "pid long, lon double, lat double")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        for op, good, mixed in (
            (lambda df: assign_polygon_tiles(df, [8]), polys, with_bad),
            (lambda df: clip_polygons_to_tiles(df, 8), polys, with_bad),
            (lambda df: pip_join(points, df, keep_point_cols=["pid"],
                                 broadcast_polygons=False), polys, with_bad),
            (lambda df: clip_lines_to_tiles(df, 8), lines, lines_with_bad),
        ):
            want = sorted(map(tuple, op(good).collect()))
            assert sorted(map(tuple, op(mixed).collect())) == want and want
    finally:
        spark.conf.set(key, old)
