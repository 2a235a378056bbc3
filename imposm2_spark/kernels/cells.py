"""Hierarchical Morton/quadkey cell index (H3/S2-style role) — SURVEY.md G8.

Public-knowledge basis: web-mercator tiling (slippy-map z/x/y math) and Morton
(Z-order) interleaving — both standard published techniques. No reference-code
analog: imposm2 delegated spatial indexing to PostGIS GiST (imposm/db/postgis.py
index DDL); this engine needs an executor-side pure-arithmetic index instead.

Cell id layout (int64, signed-safe):
    cell = (level << 57) | morton(x, y)
    level in [0, 26]  -> morton < 2^52, id < 2^62, always positive in int64.

Properties used by the spatial operators:
  * parent(cell, L') = prefix shift — containment check is integer math (J4 prefilter)
  * k_ring(cell, r)  = +-r neighborhood in (x, y) grid space (J5 kNN expansion)
  * level-z cell    == web-mercator tile z/x/y (J6 raster<->vector assignment)

All functions are vectorized over NumPy arrays.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 26
LEVEL_SHIFT = np.int64(57)
MORTON_MASK = np.int64((1 << 57) - 1)
MERC_LAT_MAX = 85.05112878  # web-mercator clamp

_U = np.uint64
_M16 = _U(0x0000FFFF0000FFFF)
_M8 = _U(0x00FF00FF00FF00FF)
_M4 = _U(0x0F0F0F0F0F0F0F0F)
_M2 = _U(0x3333333333333333)
_M1 = _U(0x5555555555555555)


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the lower 32 bits of each uint64 to even bit positions."""
    v = v.astype(np.uint64) & _U(0xFFFFFFFF)
    v = (v | (v << _U(16))) & _M16
    v = (v | (v << _U(8))) & _M8
    v = (v | (v << _U(4))) & _M4
    v = (v | (v << _U(2))) & _M2
    v = (v | (v << _U(1))) & _M1
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: gather even bits back to the low 32 bits."""
    v = v.astype(np.uint64) & _M1
    v = (v | (v >> _U(1))) & _M2
    v = (v | (v >> _U(2))) & _M4
    v = (v | (v >> _U(4))) & _M8
    v = (v | (v >> _U(8))) & _M16
    v = (v | (v >> _U(16))) & _U(0xFFFFFFFF)
    return v


def morton_encode(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (_part1by1(np.asarray(x)) | (_part1by1(np.asarray(y)) << _U(1))).astype(
        np.int64
    )


def morton_decode(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = np.asarray(m).astype(np.uint64)
    return _compact1by1(m).astype(np.int64), _compact1by1(m >> _U(1)).astype(np.int64)


def lonlat_to_xy(
    lon: np.ndarray, lat: np.ndarray, level: int
) -> tuple[np.ndarray, np.ndarray]:
    """Web-mercator tile/grid coordinates at `level` (slippy-map formula)."""
    n = np.int64(1) << np.int64(level)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERC_LAT_MAX, MERC_LAT_MAX)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_rad = np.radians(lat)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat_rad)) / np.pi) / 2.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


INVALID_CELL = np.int64(-1)  # sentinel for non-finite coordinates


def cell_encode(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    """Encode lon/lat to a level-`level` cell id; non-finite coords -> INVALID_CELL."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    if bad.any():
        lon = np.where(bad, 0.0, lon)
        lat = np.where(bad, 0.0, lat)
    x, y = lonlat_to_xy(lon, lat, level)
    out = (np.int64(level) << LEVEL_SHIFT) | morton_encode(x, y)
    if bad.any():
        out = np.where(bad, INVALID_CELL, out)
    return out


def cell_level(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> LEVEL_SHIFT).astype(np.int64)


def cell_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (level, x, y)."""
    cell = np.asarray(cell, dtype=np.int64)
    level = cell_level(cell)
    x, y = morton_decode(cell & MORTON_MASK)
    return level, x, y


def cell_from_xy(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    return (np.int64(level) << LEVEL_SHIFT) | morton_encode(x, y)


def cell_parent(cell: np.ndarray, parent_level: int) -> np.ndarray:
    """Ancestor cell at `parent_level` — pure prefix shift.

    INVALID_CELL propagates (review r5): cell_encode emits -1 for non-finite
    coordinates by design, so one such row in a batch must not raise for the
    whole batch — and the JVM twin (functions/spatial.py::cell_parent_col)
    guards identically, keeping the two paths bit-for-bit mirrors."""
    cell = np.asarray(cell, dtype=np.int64)
    invalid = cell == INVALID_CELL
    level = cell_level(cell)
    dl = np.where(invalid, 0, level - np.int64(parent_level))
    if np.any(dl < 0):
        raise ValueError("parent_level must be <= cell level")
    m = (cell & MORTON_MASK) >> (2 * dl)
    out = (np.int64(parent_level) << LEVEL_SHIFT) | m
    return np.where(invalid, INVALID_CELL, out)


def k_ring(cell: int, r: int) -> np.ndarray:
    """All cells within Chebyshev distance r of `cell` (incl. itself), same level.

    x wraps around the antimeridian; y is clipped at the poles.
    Deterministic order: row-major (dy, dx).
    """
    level, x, y = cell_decode(np.asarray([cell]))
    level, x, y = int(level[0]), int(x[0]), int(y[0])
    n = 1 << level
    dy, dx = np.mgrid[-r : r + 1, -r : r + 1]
    ys = y + dy.ravel()
    xs = (x + dx.ravel()) % n
    keep = (ys >= 0) & (ys < n)
    cells = cell_from_xy(xs[keep], ys[keep], level)
    if 2 * r + 1 > n:
        # the ring is wider than the grid: the modulo x-wrap revisits cells
        # (review r5: duplicates would double-count kNN candidates). Dedup
        # keeping FIRST occurrence so the documented row-major order holds.
        _, idx = np.unique(cells, return_index=True)
        cells = cells[np.sort(idx)]
    return cells


def covering_cells_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, level: int,
    max_cells: int | None = None,
) -> np.ndarray:
    """All level-`level` cells intersecting the bbox (polygon-cover prefilter, J4/J6).

    Conservative (bbox, not exact polygon cover) — false positives are removed by
    the exact ray-cast refine stage. `max_cells` (review r5) bounds the dense
    meshgrid BEFORE it materializes: a continent-scale bbox at a deep level
    (e.g. 360-degree-wide at z14 -> ~1.3e8 cells) would otherwise OOM the
    executor inside a single UDF row; the count check is O(1) from the tile
    ranges, and the failure is loud instead of a silent stall.
    """
    if lon_min > lon_max or lat_min > lat_max:
        # an inverted box (e.g. an antimeridian-crossing extent expressed as
        # lon_min > lon_max) would yield an EMPTY np.arange and a negative
        # nx*ny that passes the max_cells guard vacuously — the J4 prefilter
        # would then silently drop every match. Planar semantics here (same
        # as the kNN mercator grid): fail loudly; callers split the box.
        raise ValueError(
            f"covering_cells_bbox: inverted bbox ({lon_min}, {lat_min}, "
            f"{lon_max}, {lat_max}); antimeridian-crossing extents must be "
            "split into two boxes"
        )
    x0, y1 = lonlat_to_xy(np.asarray([lon_min]), np.asarray([lat_min]), level)
    x1, y0 = lonlat_to_xy(np.asarray([lon_max]), np.asarray([lat_max]), level)
    nx = int(x1[0]) - int(x0[0]) + 1
    ny = int(y1[0]) - int(y0[0]) + 1
    if max_cells is not None and nx * ny > max_cells:
        raise ValueError(
            f"covering_cells_bbox: bbox covers {nx * ny} level-{level} cells,"
            f" above max_cells={max_cells}; split the geometry or lower the"
            " level/zoom"
        )
    xs = np.arange(int(x0[0]), int(x1[0]) + 1, dtype=np.int64)
    ys = np.arange(int(y0[0]), int(y1[0]) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return cell_from_xy(gx.ravel(), gy.ravel(), level)


def morton_blocks(
    x0: int, x1: int, y0: int, y1: int, level: int
) -> list[tuple[int, int]]:
    """Decompose the inclusive tile rect [x0..x1]x[y0..y1] at `level` into
    maximal quadtree-aligned blocks; returns [(block_level, block_cell), ...].

    Each block is an ancestor cell whose full extent lies inside the rect —
    the Morton-range decomposition used by the raster-patch join (J6): a
    level-z cell is inside the rect iff one of its ancestors equals a block
    cell, turning a 2-D range predicate into per-level equi-joins.
    """
    out: list[tuple[int, int]] = []

    def rec(bl: int, bx: int, by: int) -> None:
        size = 1 << (level - bl)
        lo_x, lo_y = bx * size, by * size
        hi_x, hi_y = lo_x + size - 1, lo_y + size - 1
        if lo_x > x1 or hi_x < x0 or lo_y > y1 or hi_y < y0:
            return  # disjoint
        if lo_x >= x0 and hi_x <= x1 and lo_y >= y0 and hi_y <= y1:
            out.append((bl, int(cell_from_xy(np.asarray([bx]), np.asarray([by]), bl)[0])))
            return  # fully contained -> maximal block
        for dx in (0, 1):  # partial overlap -> split into quadrants
            for dy in (0, 1):
                rec(bl + 1, bx * 2 + dx, by * 2 + dy)

    rec(0, 0, 0)
    return out
