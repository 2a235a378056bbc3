"""Spark-side spatial ops: JVM column math == NumPy kernels; PIP join; tiles.

Also asserts the physical-plan properties SURVEY.md §4 demands: a broadcast
PIP path with one Python crossing and no join, no Python in the cell/tile
arithmetic, and a cell key whose generated code stays linear in size.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from imposm2_spark.functions import spatial
from imposm2_spark.kernels import cells as kcells
from imposm2_spark.kernels import geom
from imposm2_spark.operators import pip, tiles
from imposm2_spark.operators.pip import pip_join, pip_join_brute
from imposm2_spark.operators.tiles import assign_point_tiles, assign_polygon_tiles
from imposm2_spark.sources import fixtures

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.default_rng(42)
    n = 2000
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": np.round(rng.uniform(-180, 180, n), 6),
            "lat": np.round(rng.uniform(-85, 85, n), 6),
        }
    )
    # force some into polygons: grid area and berlin box
    pdf.loc[:499, "lon"] = np.round(rng.uniform(-10, 10, 500), 6)
    pdf.loc[:499, "lat"] = np.round(rng.uniform(-10, 10, 500), 6)
    pdf.loc[500:699, "lon"] = np.round(rng.uniform(13.0, 13.8, 200), 6)
    pdf.loc[500:699, "lat"] = np.round(rng.uniform(52.3, 52.7, 200), 6)
    return spark.createDataFrame(pdf), pdf


def test_cell_encode_col_matches_kernel(spark, points_df):
    df, pdf = points_df
    for level in (0, 5, 12, 16, 26):
        got = (
            df.select("pid", spatial.cell_encode_col(F.col("lon"), F.col("lat"), level).alias("c"))
            .orderBy("pid")
            .collect()
        )
        expected = kcells.cell_encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), level)
        assert [r.c for r in got] == expected.tolist(), f"level {level}"


def test_cell_encode_col_null_and_nan(spark):
    df = spark.createDataFrame(
        [(1, None, 10.0), (2, float("nan"), 10.0), (3, 10.0, None), (4, 13.4, 52.5)],
        "pid long, lon double, lat double",
    )
    rows = df.select("pid", spatial.cell_encode_col(F.col("lon"), F.col("lat"), 12).alias("c")).collect()
    by_id = {r.pid: r.c for r in rows}
    assert by_id[1] == -1 and by_id[2] == -1 and by_id[3] == -1
    assert by_id[4] == int(kcells.cell_encode(np.r_[13.4], np.r_[52.5], 12)[0])


def test_cell_encode_col_sentinel_rows_bit_identical(spark):
    """NULL, NaN, +-inf and beyond-mercator latitudes: the branch-free JVM
    key equals kernels.cells.cell_encode bit for bit (-1 on non-finite
    rows, the clamped top/bottom row for |lat| > 85.0511)."""
    inf, nan = float("inf"), float("nan")
    pairs = [
        (None, 10.0), (10.0, None), (None, None), (nan, 10.0), (10.0, nan),
        (inf, 10.0), (-inf, 10.0), (10.0, inf), (10.0, -inf), (inf, nan),
        (13.4, 85.06), (13.4, -85.06), (13.4, 89.99), (-179.9, -90.0),
        (180.0, 85.0511), (0.0, 0.0), (-180.0, 0.0),
    ]
    df = spark.createDataFrame(
        [(i, lo, la) for i, (lo, la) in enumerate(pairs)],
        "pid long, lon double, lat double",
    )
    lon = np.array([nan if lo is None else lo for lo, _ in pairs])
    lat = np.array([nan if la is None else la for _, la in pairs])
    for level in (0, 4, 12, 26):
        got = [
            r.c
            for r in df.select(
                "pid", spatial.cell_encode_col(F.col("lon"), F.col("lat"), level).alias("c")
            ).orderBy("pid").collect()
        ]
        assert got == kcells.cell_encode(lon, lat, level).tolist(), f"level {level}"


def test_cell_encode_col_generated_code_is_linear(spark):
    """The key's generated code evaluates the tile math once: the Morton
    spread references its input twice per step, which under a conditional
    branch (no subexpression elimination) expanded to 32 tan() calls."""
    df = spark.range(16).select(
        (F.col("id") * 7.5 - 60.0).alias("lon"), (F.col("id") * 5.0 - 40.0).alias("lat")
    )
    q = df.select(spatial.cell_encode_col(F.col("lon"), F.col("lat"), 12).alias("c"))
    jvm = spark.sparkContext._jvm
    code = jvm.org.apache.spark.sql.execution.debug.package.codegenString(
        q._jdf.queryExecution().executedPlan()
    )
    assert "WholeStageCodegen" in code or "GeneratedClass" in code
    assert code.count("java.lang.Math.tan(") <= 1


def test_cell_parent_col_matches_kernel(spark, points_df):
    df, pdf = points_df
    got = (
        df.select(
            "pid",
            spatial.cell_parent_col(
                spatial.cell_encode_col(F.col("lon"), F.col("lat"), 12), 12, 8
            ).alias("p"),
        )
        .orderBy("pid")
        .collect()
    )
    expected = kcells.cell_parent(
        kcells.cell_encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 12), 8
    )
    assert [r.p for r in got] == expected.tolist()


def test_tile_xy_matches_kernel(spark, points_df):
    df, pdf = points_df
    for z in (8, 12):
        got = (
            df.select("pid", spatial.tile_x(F.col("lon"), z).alias("x"), spatial.tile_y(F.col("lat"), z).alias("y"))
            .orderBy("pid")
            .collect()
        )
        ex, ey = kcells.lonlat_to_xy(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), z)
        assert [r.x for r in got] == ex.tolist(), f"z={z}"
        assert [r.y for r in got] == ey.tolist(), f"z={z}"


def test_cell_math_stays_jvm_side(spark, points_df):
    """The index arithmetic must not cross into Python (SURVEY O12)."""
    df, _ = points_df
    plan = (
        df.select(spatial.cell_encode_col(F.col("lon"), F.col("lat"), 12))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pip_join_matches_brute_force(spark, points_df):
    df, _ = points_df
    polys = fixtures.polygons_admin_df(spark)
    fast = pip_join(df, polys, keep_point_cols=["pid"]).collect()
    brute = pip_join_brute(df, polys).select("pid", "polygon_id").collect()
    fast_set = {(r.pid, r.polygon_id) for r in fast}
    brute_set = {(r.pid, r.polygon_id) for r in brute}
    assert fast_set == brute_set
    assert len(fast_set) > 400  # grid + berlin points actually land


def test_pip_join_broadcast_cap_falls_back_identically(spark, points_df, monkeypatch):
    """A polygon side over MAX_BROADCAST_POLYGONS must degrade to the shuffle
    path (no driver OOM from the eager rings pull) with identical results."""
    df, _ = points_df
    polys = fixtures.polygons_admin_df(spark)
    plain = {(r.pid, r.polygon_id) for r in pip_join(df, polys, keep_point_cols=["pid"]).collect()}
    monkeypatch.setattr(pip, "MAX_BROADCAST_POLYGONS", 2)
    capped = {
        (r.pid, r.polygon_id)
        for r in pip_join(df, polys, keep_point_cols=["pid"]).collect()
    }
    assert plain == capped


def test_pip_join_salted_identical(spark, points_df):
    df, _ = points_df
    polys = fixtures.polygons_admin_df(spark)
    plain = {(r.pid, r.polygon_id) for r in pip_join(df, polys, keep_point_cols=["pid"]).collect()}
    salted = {
        (r.pid, r.polygon_id)
        for r in pip_join(
            df, polys, keep_point_cols=["pid"], salt_factor=8, broadcast_polygons=False
        ).collect()
    }
    assert plain == salted


def test_pip_join_overlapping_polygons_emit_both(spark):
    pts = spark.createDataFrame([(1, 23.2, 23.2)], "pid long, lon double, lat double")
    polys = fixtures.polygons_admin_df(spark)
    got = sorted(r.polygon_id for r in pip_join(pts, polys, keep_point_cols=["pid"]).collect())
    assert got == [20, 21, 22]


def test_pip_join_hole_excluded(spark):
    pts = spark.createDataFrame(
        [(1, 32.0, 32.0), (2, 30.5, 30.5)], "pid long, lon double, lat double"
    )
    polys = fixtures.polygons_admin_df(spark)
    got = {(r.pid, r.polygon_id) for r in pip_join(pts, polys, keep_point_cols=["pid"]).collect()}
    assert got == {(2, 23)}  # point 1 is inside the hole


def test_pip_join_is_broadcast(spark, points_df):
    """The broadcast path is one Arrow crossing over (lon, lat) with the
    polygon index shipped as a broadcast variable: no join, no exchange."""
    df, _ = points_df
    polys = fixtures.polygons_admin_df(spark)
    plan = pip_join(df, polys)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_point_tiles_match_fixture_formula(spark, points_df):
    df, pdf = points_df
    out = assign_point_tiles(df.select("pid", "lon", "lat"), [8, 12]).collect()
    assert len(out) == 2 * len(pdf)
    lon = pdf.set_index("pid")["lon"]
    lat = pdf.set_index("pid")["lat"]
    for r in out:
        ex, ey = kcells.lonlat_to_xy(np.r_[lon[r.pid]], np.r_[lat[r.pid]], r.z)
        assert (r.x, r.y) == (int(ex[0]), int(ey[0]))


def test_polygon_covering_tiles(spark):
    polys = fixtures.polygons_admin_df(spark)
    out = assign_polygon_tiles(polys.where(F.col("polygon_id") == 24), [8, 12]).collect()
    by_z = {}
    for r in out:
        by_z.setdefault(r.z, set()).add((r.x, r.y))
    # berlin box [13.0,13.8]x[52.3,52.7] at z=8 spans tiles x in {137}, y in {83,84}
    ex0, ey0 = kcells.lonlat_to_xy(np.r_[13.0], np.r_[52.7], 8)
    ex1, ey1 = kcells.lonlat_to_xy(np.r_[13.8 - 1e-9], np.r_[52.3], 8)
    expected_z8 = {
        (x, y)
        for x in range(int(ex0[0]), int(ex1[0]) + 1)
        for y in range(int(ey0[0]), int(ey1[0]) + 1)
    }
    assert by_z[8] == expected_z8
    assert len(by_z[12]) > len(by_z[8])
    # every z12 tile's parent z8 tile is in the z8 cover
    for x, y in by_z[12]:
        assert (x >> 4, y >> 4) in by_z[8]


def test_pip_refine_centroid_vs_cells(spark):
    """Candidate cells are a superset: points in a polygon's bbox but outside
    the polygon must be dropped by refine."""
    tri = pd.DataFrame(
        [
            {
                "polygon_id": 99,
                "name": "tri",
                "admin_level": 2,
                "rings": [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 0.0]]],
                "cells": kcells.covering_cells_bbox(0, 0, 10, 10, 12).tolist(),
            }
        ]
    )
    polys = spark.createDataFrame(tri, schema=fixtures.POLYGONS_ADMIN_SCHEMA)
    pts = spark.createDataFrame(
        [(1, 9.0, 1.0), (2, 1.0, 9.0)], "pid long, lon double, lat double"
    )
    got = {r.pid for r in pip_join(pts, polys, keep_point_cols=["pid"]).collect()}
    assert got == {1}  # (1,9) is in bbox cover but outside the triangle


def test_pip_join_skew_salting_spreads_hot_cell(spark):
    """O10a skew fixture (SURVEY promise): a deliberately dense cell — 20k
    points in ONE level-12 cell — must (a) produce identical rows salted vs
    unsalted, and (b) actually spread over >= 4 shuffle partitions when
    salted while the unsalted hot cell lands in exactly one (AQE disabled
    for the histogram so the raw hash-partitioning is observable; bench.py's
    skew row measures the wall-clock effect with production AQE on)."""
    rng = np.random.default_rng(7)
    n = 20_000
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": np.round(rng.uniform(0.0, 0.02, n), 6),
            "lat": np.round(rng.uniform(0.0, 0.02, n), 6),
        }
    )
    df = spark.createDataFrame(pdf)
    polys = fixtures.polygons_admin_df(spark)
    # cell histogram drives the salt factor: one cell holds everything
    from imposm2_spark.functions.spatial import cell_encode_col

    hist = (
        df.groupBy(cell_encode_col(F.col("lon"), F.col("lat"), 12).alias("c"))
        .count()
        .collect()
    )
    assert max(r["count"] for r in hist) == n  # the fixture IS one dense cell

    plain = pip_join(df, polys, keep_point_cols=["pid"], broadcast_polygons=False)
    salted = pip_join(
        df, polys, keep_point_cols=["pid"], broadcast_polygons=False, salt_factor=8
    )
    a = {(r.pid, r.polygon_id) for r in plain.collect()}
    b = {(r.pid, r.polygon_id) for r in salted.collect()}
    assert a == b
    assert len(a) == n  # every point inside the admin grid polygon

    # histogram section: force the real shuffle (Catalyst auto-broadcasts the
    # tiny fixture polygon side regardless of broadcast_polygons=False, and
    # AQE re-coalesces) so the raw hash-partitioning is observable
    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    orig_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def _nonempty_partitions(d):
            rows = (
                d.withColumn("_p", F.spark_partition_id())
                .groupBy("_p").count().collect()
            )
            return len(rows)

        assert _nonempty_partitions(plain) == 1  # the hot cell: one partition
        assert _nonempty_partitions(salted) >= 4  # measured salt fan-out
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", orig_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_bc)


def test_covering_tiles_exact_refine_catches_slivers(spark):
    """r4 opt-in (SURVEY App. B #6 upgrade path): refine="exact" assigns
    tiles a ring edge crosses mid-tile. Oracle = dense boundary sampling in
    the engine's planar-lon/lat geometry; the frozen "center" default is
    untouched (polygon_covering_tiles_z8 golden still gates it)."""
    from imposm2_spark.kernels import cells as kc
    from imposm2_spark.operators.tiles import _covering_tiles_kernel

    z = 8
    tile_deg = 360.0 / 256
    sliver = [
        [0.1, 0.01],
        [0.1 + 5 * tile_deg, 0.012],
        [0.1, 0.011],
        [0.1, 0.01],
    ]

    def boundary_oracle(rings, n_samp=20000):
        tiles = set()
        for r in rings:
            r = np.asarray(r)
            for i in range(len(r) - 1):
                ts = np.linspace(0, 1, n_samp)
                px = r[i, 0] * (1 - ts) + r[i + 1, 0] * ts
                py = r[i, 1] * (1 - ts) + r[i + 1, 1] * ts
                xs, ys = kc.lonlat_to_xy(px, py, z)
                tiles |= set(zip(xs.tolist(), ys.tolist()))
        return tiles

    center = {(t["x"], t["y"]) for t in _covering_tiles_kernel([sliver], z, "center")}
    exact = {(t["x"], t["y"]) for t in _covering_tiles_kernel([sliver], z, "exact")}
    want = boundary_oracle([sliver])
    assert want <= exact  # every boundary-touched tile assigned
    assert exact == want | center  # and nothing beyond boundary + kept-center
    assert len(exact) == 6 and len(center) == 2  # the 4 sliver tiles recovered

    # superset property on the real fixture polygons through the Spark path;
    # default mode output unchanged (frozen golden’s shape)
    polys = fixtures.polygons_admin_df(spark)
    base = {
        (r.polygon_id, r.z, r.x, r.y)
        for r in assign_polygon_tiles(polys, [8]).collect()
    }
    exact_rows = {
        (r.polygon_id, r.z, r.x, r.y)
        for r in assign_polygon_tiles(polys, [8], refine="exact").collect()
    }
    assert base <= exact_rows


def test_raster_patch_join_catalog_cap(spark, monkeypatch):
    """r5 (r4 verdict ask #5): the patch-catalog pull is capped like
    pip_join's polygon broadcast — one limit(cap+1) action, and over-cap
    fails LOUDLY naming the cap instead of silently stalling the driver in
    the Python Morton-block loop. At/under cap still works."""
    import pytest as _pytest

    from imposm2_spark.operators.tiles import raster_patch_join

    pts = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, -170.0, -80.0)], "doc_id long, lon double, lat double"
    )
    patches = spark.range(5).select(
        F.col("id").alias("patch_id"),
        (F.col("id") * 10).alias("x0"), (F.col("id") * 10 + 3).alias("x1"),
        F.lit(0).alias("y0"), F.lit(3).alias("y1"),
    )
    monkeypatch.setattr(tiles, "MAX_PATCHES", 4)
    with _pytest.raises(ValueError, match="exceeds 4 patches"):
        raster_patch_join(pts, patches, zoom=6)
    monkeypatch.setattr(tiles, "MAX_PATCHES", 5)
    out = raster_patch_join(pts, patches, zoom=6)
    assert {c for c in out.columns} >= {"doc_id", "patch_id"}
    out.collect()


def test_covering_grid_cap_and_empty_zooms(spark):
    """Review r5: the polygon covering-grid kernel is bounded like its
    capped siblings (pip MAX_BROADCAST_POLYGONS, raster MAX_PATCHES) — one
    continent-scale polygon at a deep zoom fails LOUDLY at max_cells
    instead of densifying millions of cells inside a single UDF row; and
    an empty zooms list raises on BOTH tile assigners instead of the
    point side silently dropping every row."""
    import pytest

    from imposm2_spark.operators.tiles import _covering_tiles_kernel

    world = [[[-179.0, -80.0], [179.0, -80.0], [179.0, 80.0],
              [-179.0, 80.0], [-179.0, -80.0]]]
    with pytest.raises(ValueError, match="max_cells"):
        _covering_tiles_kernel(world, z=12, max_cells=1 << 20)
    # under the cap the kernel still works
    assert _covering_tiles_kernel(world, z=4, max_cells=1 << 20)

    polys = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]])],
        "polygon_id long, rings array<array<array<double>>>",
    )
    with pytest.raises(ValueError, match="zooms"):
        assign_polygon_tiles(polys, [])
    pts = spark.createDataFrame([(1, 0.5, 0.5)], ["id", "lon", "lat"])
    with pytest.raises(ValueError, match="zooms"):
        assign_point_tiles(pts, [])


def test_auto_salt_factor_gates_and_fires(spark):
    """r6 (VERDICT r5 ask #2): salting derives its fan-out from the observed
    cell histogram — uniform layouts gate OFF (None), the dense-cell skew
    fixture fires with a power-of-2 factor >= 8, and pip_join rows are
    identical under auto vs unsalted."""
    from imposm2_spark.functions.spatial import cell_encode_col
    from imposm2_spark.operators.pip import auto_salt_factor

    # uniform: spread far beyond any single cell -> gate off
    uni = spark.range(20_000).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 9973) % 3_600_000 / 1e4 - 180.0).alias("lon"),
        ((F.col("id") * 7919) % 1_700_000 / 1e4 - 85.0).alias("lat"),
    ).withColumn("_cell", cell_encode_col(F.col("lon"), F.col("lat"), 12))
    assert auto_salt_factor(uni, ["_cell"]) is None

    # dense: every point in one level-12 cell -> power-of-2 factor >= 8
    rng = np.random.default_rng(11)
    n = 20_000
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": np.round(rng.uniform(0.0, 0.02, n), 6),
            "lat": np.round(rng.uniform(0.0, 0.02, n), 6),
        }
    )
    dense = spark.createDataFrame(pdf).withColumn(
        "_cell", cell_encode_col(F.col("lon"), F.col("lat"), 12)
    )
    k = auto_salt_factor(dense, ["_cell"])
    # fan-out targets one ideal task share for the hot cell: with the test
    # session's local[4] parallelism that is 20000/4 -> k == 4; at the bench
    # session's 32 cores the same fixture derives >= 8
    assert k is not None and (k & (k - 1)) == 0
    par = spark.sparkContext.defaultParallelism
    assert k >= min(8, max(2, par))

    # end-to-end: auto rows == unsalted rows on the skew fixture
    df = spark.createDataFrame(pdf)
    polys = fixtures.polygons_admin_df(spark)
    plain = pip_join(df, polys, keep_point_cols=["pid"], broadcast_polygons=False)
    auto = pip_join(
        df, polys, keep_point_cols=["pid"], broadcast_polygons=False,
        salt_factor="auto",
    )
    assert {(r.pid, r.polygon_id) for r in plain.collect()} == {
        (r.pid, r.polygon_id) for r in auto.collect()
    }
    # bogus string rejected loudly
    with pytest.raises(ValueError, match="auto"):
        pip_join(df, polys, salt_factor="always", broadcast_polygons=False)


def test_knn_auto_salt_rows_identical(spark):
    """kNN twin of the auto gate: dense site cell -> auto salting on the
    shuffled site side produces exactly the brute rows."""
    from imposm2_spark.operators.knn import knn_join, knn_join_brute

    pts = spark.range(300).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 9973) % 40000 / 1e5).alias("lon"),
        ((F.col("id") * 7919) % 40000 / 1e5).alias("lat"),
    )
    side = 75
    sites = spark.range(5000).select(
        F.col("id").alias("site_id"),
        ((F.col("id") % side) / 1e5).alias("slon"),
        (F.floor(F.col("id") / side) / 1e5).alias("slat"),
    )
    brute = {(r.doc_id, r.site_id, r.rank) for r in knn_join_brute(pts, sites, k=3).collect()}
    auto = knn_join(
        pts, sites, k=3, level=6, broadcast_sites=False, salt_factor="auto"
    )
    got = {(r.doc_id, r.site_id, r.rank) for r in auto.collect()}
    auto.unpersist()
    assert got == brute
