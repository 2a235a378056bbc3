"""PolygonIndex.locate — the broadcast pip_join path and the spine's fused
crossing — differential against the brute-force cross join, plus the spine's
over-cap (shuffle-join) path against its broadcast path."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from imposm2_spark.kernels import cells as kcells
from imposm2_spark.operators import pip
from imposm2_spark.operators.pip import PolygonIndex, pip_join, pip_join_brute
from imposm2_spark.sources import fixtures

pytestmark = pytest.mark.spark

LEVEL = 12
POLAR_ID, NO_CELLS_ID, NULL_RINGS_ID = 90, 91, 92
BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _rect(x0, y0, x1, y1):
    return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]


def _polygons_pdf() -> pd.DataFrame:
    """The admin fixture (grid 0..19, overlapping 20..22, holed 23, Berlin
    24) plus a polar box reaching past the mercator clamp and a polygon
    over the grid whose covering-cell list is empty."""
    extra = pd.DataFrame(
        [
            {
                "polygon_id": POLAR_ID, "name": "polar", "admin_level": 2,
                "rings": [_rect(0.0, 80.0, 10.0, 89.9)],
                "cells": kcells.covering_cells_bbox(0.0, 80.0, 10.0, 89.9, LEVEL).tolist(),
            },
            {
                "polygon_id": NO_CELLS_ID, "name": "no_cells", "admin_level": 2,
                "rings": [_rect(-10.0, -10.0, 10.0, 10.0)], "cells": [],
            },
        ]
    )
    return pd.concat([fixtures.make_polygons_admin(LEVEL), extra], ignore_index=True)


def _points() -> list[tuple]:
    inf, nan = float("inf"), float("nan")
    edge = [
        # holed polygon 23: in the hole, in the ring, on the hole's edges
        (32.0, 32.0), (30.5, 30.5), (31.0, 32.0), (33.0, 32.0), (32.0, 31.0),
        # overlapping 20..22 and their shared corners/edges
        (23.2, 23.2), (22.0, 22.0), (24.0, 24.0), (23.0, 23.5), (23.5, 23.0),
        # grid edges: left/bottom inclusive, right/top exclusive
        (-10.0, -10.0), (-10.0, 0.0), (0.0, -10.0), (10.0, 0.0), (0.0, 10.0),
        (10.0, 10.0), (-5.0, -6.0), (0.0, -2.0), (5.0, 2.0), (0.0, 0.0),
        # non-finite coordinates
        (None, 1.0), (1.0, None), (None, None), (nan, 0.0), (0.0, nan),
        (inf, 0.0), (-inf, 0.0), (0.0, inf), (0.0, -inf),
        # latitudes past the mercator clamp (cell row clamped, ray cast not)
        (5.0, 85.06), (5.0, 88.0), (5.0, 89.95), (5.0, -88.0), (13.4, 85.0512),
    ]
    rng = np.random.default_rng(11)
    rand = list(zip(np.round(rng.uniform(-12, 36, 300), 4).tolist(),
                    np.round(rng.uniform(-12, 36, 300), 4).tolist()))
    return [(i, lo, la) for i, (lo, la) in enumerate(edge + rand)]


@pytest.fixture(scope="module")
def frames(spark):
    polys = spark.createDataFrame(_polygons_pdf(), schema=fixtures.POLYGONS_ADMIN_SCHEMA)
    pts = spark.createDataFrame(_points(), "pid long, lon double, lat double")
    brute = sorted(
        (r.pid, r.polygon_id)
        for r in pip_join_brute(pts, polys).select("pid", "polygon_id").collect()
    )
    return pts, polys, brute


def test_locate_matches_brute_force_across_batch_sizes(spark, frames):
    """Exact multiset equality with the cross join, at Arrow batches of 1
    and 10000 rows. The one designed difference: a polygon with no covering
    cells is never a candidate (the prefilter is the cell list)."""
    pts, polys, brute = frames
    assert any(p == NO_CELLS_ID for _, p in brute)  # the case is exercised
    assert any(p == POLAR_ID for _, p in brute)
    expected = [(i, p) for i, p in brute if p != NO_CELLS_ID]
    orig = spark.conf.get(BATCH_KEY)
    try:
        for batch in ("1", "10000"):
            spark.conf.set(BATCH_KEY, batch)
            got = sorted(
                (r.pid, r.polygon_id)
                for r in pip_join(pts, polys, keep_point_cols=["pid"]).collect()
            )
            assert got == expected, batch
    finally:
        spark.conf.set(BATCH_KEY, orig)


def test_locate_edge_cases_pinned(frames):
    """The pinned answers behind the differential: hole, overlaps, the
    half-open rule, non-finite coordinates and clamped latitudes."""
    _, _, brute = frames
    hits: dict[int, set] = {}
    for i, p in brute:
        if p != NO_CELLS_ID:
            hits.setdefault(i, set()).add(p)
    got = [hits.get(i, set()) for i in range(34)]
    # hole edges are half-open too: (31, 32) and (32, 31) lie in the hole
    assert got[0:5] == [set(), {23}, set(), {23}, set()]
    assert got[5:10] == [{20, 21, 22}, {20, 21}, {21}, {20, 21}, {20, 21}]
    assert got[10:20] == [{0}, {8}, {2}, set(), set(), set(), {5}, {10}, {15}, {10}]
    assert got[20:29] == [set()] * 9
    assert got[29:34] == [{POLAR_ID}, {POLAR_ID}, set(), set(), set()]


def test_locate_empty_batch_and_empty_index():
    index = PolygonIndex.from_table(pa.Table.from_pandas(_polygons_pdf()), LEVEL)
    row, pid = index.locate(np.empty(0), np.empty(0))
    assert len(row) == 0 and len(pid) == 0
    assert index.located_ids(np.empty(0), np.empty(0), pa.int64()).to_pylist() == []
    empty = PolygonIndex([], [], [], LEVEL)
    ids = empty.located_ids(np.r_[1.0, np.nan], np.r_[1.0, 2.0], pa.int64())
    assert ids.to_pylist() == [[], []]


def test_locate_returns_pairs_by_row():
    """locate's pairs are grouped by row, and located_ids regroups them
    into a ListArray (NULL coordinates, as an Arrow UDF hands them over,
    match nothing)."""
    index = PolygonIndex.from_table(pa.Table.from_pandas(_polygons_pdf()), LEVEL)
    lon = np.r_[23.2, 40.0, 30.5, np.nan]
    lat = np.r_[23.2, 40.0, 30.5, 0.0]
    row, pid = index.locate(lon, lat)
    assert row.tolist() == sorted(row.tolist())
    assert sorted(zip(row.tolist(), pid.tolist())) == [(0, 20), (0, 21), (0, 22), (2, 23)]
    ids = index.located_ids(lon, lat, pa.int32())
    assert ids.type == pa.list_(pa.int32())
    assert [sorted(x) for x in ids.to_pylist()] == [[20, 21, 22], [], [23], []]
    arrow = index.located_ids(pa.array([23.2, None, 30.5]), pa.array([23.2, 1.0, None]), pa.int64())
    assert [sorted(x) for x in arrow.to_pylist()] == [[20, 21, 22], [], []]


def test_pip_join_empty_points(spark, frames):
    _, polys, _ = frames
    none = spark.createDataFrame([], "pid long, lon double, lat double")
    assert pip_join(none, polys, keep_point_cols=["pid"]).collect() == []


def test_spine_over_cap_matches_broadcast_path(spark, monkeypatch):
    """Polygon side over the broadcast cap: the spine runs enrich, then
    pip_join's shuffle join — and returns the same tile rows."""
    from imposm2_spark.plans.pipeline import spine

    docs = fixtures.documents_web_df(spark, 400)
    polys = fixtures.world_octants_df(spark, cell_level=4).unionByName(
        fixtures.polygons_admin_df(spark, cell_level=4)
    )
    broadcast = spine(docs, polys, zooms=(2, 5), cell_level=4)
    monkeypatch.setattr(pip, "MAX_BROADCAST_POLYGONS", 3)
    over_cap = spine(docs, polys, zooms=(2, 5), cell_level=4)
    plan = over_cap._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan  # the shuffle path really ran
    a = sorted(map(tuple, broadcast.collect()))
    b = sorted(map(tuple, over_cap.collect()))
    assert a == b and len(a) > 0


def _null_rings_polygon(spark, cells):
    """A polygon row with NULL rings and a non-empty covering-cell list."""
    return spark.createDataFrame(
        [(NULL_RINGS_ID, "null_rings", 2, None, cells)],
        schema=fixtures.POLYGONS_ADMIN_SCHEMA,
    )


def test_null_rings_polygon_contains_nothing(spark, frames):
    """A NULL-rings polygon is a candidate for the points in its cells on
    both pip_join paths and contains none of them: the rows equal those
    without it."""
    pts, polys, _ = frames
    cells = kcells.covering_cells_bbox(-10.0, -10.0, 0.0, 0.0, LEVEL).tolist()
    with_null = polys.unionByName(_null_rings_polygon(spark, cells))
    for broadcast in (True, False):
        want, got = (
            sorted(map(tuple, pip_join(
                pts, p, broadcast_polygons=broadcast, keep_point_cols=["pid"]
            ).collect()))
            for p in (polys, with_null)
        )
        assert got == want and want, broadcast


def test_spine_ignores_null_rings_polygon(spark):
    """spine() pulls the polygon side into its index at plan time; a
    NULL-rings row over the octants' cells adds no tile row."""
    from imposm2_spark.plans.pipeline import spine

    docs = fixtures.documents_web_df(spark, 200)
    polys = fixtures.world_octants_df(spark, cell_level=4)
    cells = [c for r in polys.select("cells").collect() for c in r.cells]
    with_null = polys.unionByName(_null_rings_polygon(spark, cells))
    want = sorted(map(tuple, spine(docs, polys, zooms=(2,), cell_level=4).collect()))
    got = sorted(map(tuple, spine(docs, with_null, zooms=(2,), cell_level=4).collect()))
    assert got == want and want
