"""Kernel tests: Morton/quadkey cell index (SURVEY.md §5.2 item 1)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from imposm2_spark.kernels import cells


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """-> (lon_min, lat_min, lon_max, lat_max) of each cell (degrees): the
    inverse of cells.cell_encode the property tests check it against."""
    level, x, y = cells.cell_decode(cell)
    n = (np.int64(1) << level).astype(np.float64)
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0
    lat_max = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * y / n))))
    lat_min = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (y + 1) / n))))
    return lon_min, lat_min, lon_max, lat_max


def test_morton_roundtrip():
    x = np.arange(0, 1 << 16, 997, dtype=np.int64)
    y = (x * 31) % (1 << 16)
    m = cells.morton_encode(x, y)
    dx, dy = cells.morton_decode(m)
    assert np.array_equal(dx, x)
    assert np.array_equal(dy, y)


def test_tile_formula_matches_fixture_spec():
    # FIXTURES.md §4 golden formula at z=8
    lon, lat = np.asarray([13.4]), np.asarray([52.5])
    x, y = cells.lonlat_to_xy(lon, lat, 8)
    assert x[0] == int((13.4 + 180) / 360 * 256)
    import math

    assert y[0] == int((1 - math.asinh(math.tan(math.radians(52.5))) / math.pi) / 2 * 256)


def test_cell_encode_decode_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-85, 85, 1000)
    for level in (0, 1, 8, 12, 16, 26):
        c = cells.cell_encode(lon, lat, level)
        lv, x, y = cells.cell_decode(c)
        assert np.all(lv == level)
        ex, ey = cells.lonlat_to_xy(lon, lat, level)
        assert np.array_equal(x, ex)
        assert np.array_equal(y, ey)
        assert np.all(c >= 0)  # int64 sign-safe invariant
        if level > 0:
            assert np.all(c > 0)


def test_parent_is_prefix():
    lon = np.asarray([13.4, -73.98, 151.2])
    lat = np.asarray([52.5, 40.75, -33.87])
    c12 = cells.cell_encode(lon, lat, 12)
    c8 = cells.cell_parent(c12, 8)
    assert np.array_equal(c8, cells.cell_encode(lon, lat, 8))


def test_parent_containment_via_bounds():
    c = cells.cell_encode(np.asarray([13.4]), np.asarray([52.5]), 12)
    lon_min, lat_min, lon_max, lat_max = cell_bounds(c)
    p = cells.cell_parent(c, 8)
    plon_min, plat_min, plon_max, plat_max = cell_bounds(p)
    assert plon_min <= lon_min and plon_max >= lon_max
    assert plat_min <= lat_min and plat_max >= lat_max


def test_k_ring_cardinality_and_symmetry():
    c = int(cells.cell_encode(np.asarray([13.4]), np.asarray([52.5]), 12)[0])
    for r in (0, 1, 2, 3):
        ring = cells.k_ring(c, r)
        assert len(ring) == (2 * r + 1) ** 2  # interior cell, no clipping
        assert len(set(ring.tolist())) == len(ring)
        assert c in set(ring.tolist())
        # symmetry: every member's k_ring(r) contains c
        for m in ring.tolist():
            assert c in set(cells.k_ring(int(m), r).tolist())


def test_k_ring_wraps_antimeridian_and_clips_poles():
    west = int(cells.cell_encode(np.asarray([-179.99]), np.asarray([0.0]), 8)[0])
    ring = cells.k_ring(west, 1)
    assert len(ring) == 9  # x wraps, no loss
    _, xs, _ = cells.cell_decode(ring)
    assert (1 << 8) - 1 in xs.tolist()  # wrapped to far-east column
    north = int(cells.cell_encode(np.asarray([0.0]), np.asarray([85.0]), 8)[0])
    ring_n = cells.k_ring(north, 1)
    assert len(ring_n) == 6  # y clipped at pole row


def test_covering_cells_bbox():
    cover = cells.covering_cells_bbox(13.0, 52.3, 13.8, 52.7, 12)
    assert len(cover) > 1
    assert len(set(cover.tolist())) == len(cover)
    # every corner's cell is in the cover
    for lon, lat in [(13.0, 52.3), (13.8, 52.7), (13.0, 52.7), (13.8, 52.3)]:
        c = int(cells.cell_encode(np.asarray([lon]), np.asarray([lat]), 12)[0])
        assert c in set(cover.tolist())


@settings(max_examples=200, deadline=None)
@given(
    lon=st.floats(-180, 180, allow_nan=False),
    lat=st.floats(-89, 89, allow_nan=False),
    level=st.integers(0, 26),
)
def test_prop_point_inside_own_cell_bounds(lon, lat, level):
    c = cells.cell_encode(np.asarray([lon]), np.asarray([lat]), level)
    lon_min, lat_min, lon_max, lat_max = cell_bounds(c)
    assert lon_min[0] - 1e-9 <= lon <= lon_max[0] + 1e-9
    clat = min(max(lat, -cells.MERC_LAT_MAX), cells.MERC_LAT_MAX)
    assert lat_min[0] - 1e-6 <= clat <= lat_max[0] + 1e-6


def test_morton_blocks_tile_rect_exactly():
    """Quadtree decomposition covers the rect exactly, no gaps or spill."""
    import numpy as np

    from imposm2_spark.kernels.cells import cell_decode, morton_blocks

    def expand(blocks, level):
        tiles = set()
        for bl, cell in blocks:
            _, x, y = cell_decode(np.asarray([cell]))
            size = 1 << (level - bl)
            for dx in range(size):
                for dy in range(size):
                    tiles.add((int(x[0]) * size + dx, int(y[0]) * size + dy))
        return tiles

    for x0, x1, y0, y1 in [(3, 12, 5, 9), (0, 0, 0, 0), (1, 14, 1, 14), (0, 15, 0, 15), (7, 8, 7, 8)]:
        blocks = morton_blocks(x0, x1, y0, y1, 4)
        want = {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
        assert expand(blocks, 4) == want, (x0, x1, y0, y1)
        # maximality: aligned power-of-two rects decompose to one block
    assert len(morton_blocks(0, 15, 0, 15, 4)) == 1


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    level=st.integers(min_value=1, max_value=6),
    data=st.data(),
)
def test_prop_morton_blocks_exact_disjoint_cover(level, data):
    """Property (SURVEY §5.2.3): for any tile rect, the quadtree decomposition
    covers exactly the rect, blocks are pairwise disjoint, and each block is
    quadtree-aligned (x, y multiples of its size)."""
    import numpy as np

    from imposm2_spark.kernels.cells import cell_decode, morton_blocks

    n = 1 << level
    x0 = data.draw(st.integers(0, n - 1))
    x1 = data.draw(st.integers(x0, n - 1))
    y0 = data.draw(st.integers(0, n - 1))
    y1 = data.draw(st.integers(y0, n - 1))
    blocks = morton_blocks(x0, x1, y0, y1, level)
    seen = set()
    for bl, cell in blocks:
        lv, x, y = cell_decode(np.asarray([cell]))
        assert int(lv[0]) == bl
        size = 1 << (level - bl)
        bx, by = int(x[0]) * size, int(y[0]) * size
        for dx in range(size):
            for dy in range(size):
                t = (bx + dx, by + dy)
                assert t not in seen  # disjoint
                seen.add(t)
    want = {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
    assert seen == want  # exact cover


def test_cell_parent_propagates_invalid_sentinel():
    """Review r5: cell_encode emits INVALID_CELL (-1) for non-finite coords;
    one such row in a batch must propagate -1 (pre-fix the whole vectorized
    batch raised), and the JVM twin must agree instead of fabricating a
    valid-looking phantom parent."""
    import numpy as np

    from imposm2_spark.kernels.cells import INVALID_CELL, cell_encode, cell_parent

    cells = cell_encode(
        np.asarray([10.0, float("nan"), 20.0]),
        np.asarray([50.0, 1.0, float("inf")]),
        12,
    )
    assert cells[1] == INVALID_CELL and cells[2] == INVALID_CELL
    parents = cell_parent(cells, 6)
    assert parents[1] == INVALID_CELL and parents[2] == INVALID_CELL
    assert parents[0] == cell_parent(cells[:1], 6)[0] != INVALID_CELL


def test_cell_parent_col_matches_kernel_on_invalid(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from imposm2_spark.functions.spatial import cell_parent_col
    from imposm2_spark.kernels.cells import INVALID_CELL, cell_encode

    cells = [int(c) for c in cell_encode(
        np.asarray([10.0, float("nan")]), np.asarray([50.0, 1.0]), 12)]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    got = [r[0] for r in df.select(cell_parent_col(F.col("cell"), 12, 6)).collect()]
    assert got[1] == int(INVALID_CELL)
    assert got[0] != int(INVALID_CELL)


def test_k_ring_no_duplicates_when_ring_exceeds_grid():
    """Review r5: at a coarse level the modulo x-wrap revisits cells —
    duplicates would double-count kNN candidates through the ring join."""
    import numpy as np

    from imposm2_spark.kernels.cells import cell_from_xy, k_ring

    cell = int(cell_from_xy(np.asarray([0]), np.asarray([0]), 1)[0])  # 2x2 grid
    ring = k_ring(cell, 1)
    assert len(ring) == len(set(ring.tolist())) == 4
    # normal case unchanged: full (2r+1)^2 block interior to the grid
    cell6 = int(cell_from_xy(np.asarray([10]), np.asarray([10]), 6)[0])
    assert len(k_ring(cell6, 2)) == 25


def test_covering_cells_bbox_rejects_inverted_bbox():
    import pytest

    from imposm2_spark.kernels.cells import covering_cells_bbox

    with pytest.raises(ValueError, match="inverted"):
        covering_cells_bbox(170.0, 0.0, -170.0, 10.0, 4)
    with pytest.raises(ValueError, match="inverted"):
        covering_cells_bbox(0.0, 10.0, 10.0, 0.0, 4)
