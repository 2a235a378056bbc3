"""Spark-facing spatial column expressions: cell ids, tiles, distance.

These mirror imposm2_spark.kernels.cells / geom bit-for-bit, but as pure
Column expressions so the hot path stays inside whole-stage codegen (no Python
boundary at all for the index math — SURVEY.md O12). Equality with the NumPy
kernels is asserted in tests/test_spatial_functions.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.cells import LEVEL_SHIFT, MAX_LEVEL, MERC_LAT_MAX

_SPREAD_STEPS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread_bits(v: Column) -> Column:
    """Morton _part1by1 as JVM long arithmetic (masks fit in signed int64)."""
    v = v.bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in _SPREAD_STEPS:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def tile_x(lon: Column, level: int) -> Column:
    n = 1 << level
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), x)).cast("long")


def tile_y(lat: Column, level: int) -> Column:
    n = 1 << level
    clamped = F.greatest(F.lit(-MERC_LAT_MAX), F.least(F.lit(MERC_LAT_MAX), lat))
    lat_rad = F.radians(clamped)
    y = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(lat_rad)) / F.lit(3.141592653589793))
        / F.lit(2.0)
        * F.lit(float(n))
    )
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), y)).cast("long")


def cell_from_xy_col(x: Column, y: Column, level: int) -> Column:
    return F.lit(level << int(LEVEL_SHIFT)).cast("long").bitwiseOR(
        _spread_bits(x).bitwiseOR(F.shiftleft(_spread_bits(y), 1))
    )


def finite_lonlat(lon: Column, lat: Column) -> Column:
    """True iff both coordinates are non-NULL and finite (no NaN, no inf)."""
    return (
        lon.isNotNull()
        & lat.isNotNull()
        & ~F.isnan(lon)
        & ~F.isnan(lat)
        & (F.abs(lon) != F.lit(float("inf")))
        & (F.abs(lat) != F.lit(float("inf")))
    )


def cell_encode_col(lon: Column, lat: Column, level: int) -> Column:
    """lon/lat -> Morton cell id at `level`; NULL/non-finite -> -1 (INVALID_CELL).

    The cell is computed unconditionally on sanitized inputs (non-finite ->
    0.0, as kernels.cells.cell_encode does) and the sentinel is OR-ed in
    without a branch. _spread_bits references its argument twice per step;
    outside a conditional branch, subexpression elimination evaluates each
    step once, while under `when(ok, cell)` the tree was expanded to 32
    copies of the tile math (32 Math.tan calls, ~350 KB of generated code)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}], got {level}")
    ok = finite_lonlat(lon, lat)
    safe_lon = F.when(ok, lon).otherwise(F.lit(0.0))
    safe_lat = F.when(ok, lat).otherwise(F.lit(0.0))
    cell = cell_from_xy_col(tile_x(safe_lon, level), tile_y(safe_lat, level), level)
    sentinel = F.when(ok, F.lit(0)).otherwise(F.lit(-1)).cast("long")
    return cell.bitwiseOR(sentinel)


def cell_parent_col(cell: Column, cell_level: int, parent_level: int) -> Column:
    """Prefix-shift ancestor (J4 containment prefilter) — pure long math.

    INVALID_CELL (-1, non-finite coords) propagates instead of shifting into
    a valid-looking phantom parent id — mirroring kernels.cells.cell_parent
    (review r5: the two paths must agree on the sentinel)."""
    dl = cell_level - parent_level
    if dl < 0:
        raise ValueError("parent_level must be <= cell_level")
    morton_mask = (1 << int(LEVEL_SHIFT)) - 1
    m = F.shiftrightunsigned(cell.bitwiseAND(F.lit(morton_mask)), 2 * dl)
    parent = F.lit(parent_level << int(LEVEL_SHIFT)).cast("long").bitwiseOR(m)
    return F.when(cell == F.lit(-1).cast("long"), F.lit(-1).cast("long")).otherwise(parent)


def haversine_m_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle meters, identical formula to kernels.geom.haversine_m."""
    r = F.lit(6_371_008.8)
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp, dl = p2 - p1, F.radians(lon2 - lon1)
    a = F.pow(F.sin(dp / 2), 2) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dl / 2), 2)
    return F.lit(2.0) * r * F.asin(F.sqrt(a))
