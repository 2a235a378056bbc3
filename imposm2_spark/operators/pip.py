"""J4: point-in-polygon spatial join — cell prefilter + exact ray-cast refine.

Graft addition (SURVEY.md J4); the reference's nearest analog is the prepared-
geometry containment testing in imposm/multipolygon.py::ContainsRelationBuilder,
which this reuses at the kernel level (kernels.geom ray cast, half-open rule).

Two phases, both paths:
  1. PREFILTER — a point is a candidate for a polygon when its level-
     `cell_level` cell is one of the polygon's covering cells. Candidate
     pairs are a small superset of the true result.
  2. REFINE — exact even-odd ray cast, vectorized per polygon over all of
     its candidate points in a batch, so each polygon's rings are decoded
     once.

Broadcast path (the common case: polygon count << point count). The polygon
side is pulled to the driver once, capped at MAX_BROADCAST_POLYGONS, and
built into a PolygonIndex: the sorted covering cells with their polygons,
and the rings by polygon. It ships once per executor as a Spark broadcast.
The physical plan is scan -> ONE ArrowEvalPython over (lon, lat) -> explode:
the Arrow UDF runs PolygonIndex.located_ids over the whole Arrow batch (cell
encode, searchsorted candidate lookup, per-polygon refine) and returns each
point's containing polygon ids as a ListArray. There is no join, no exchange
and no second Python crossing; plans.pipeline's enrich crossing builds the
same ListArray with the same method.

Shuffle path (polygon side over the cap, or broadcast_polygons=False): the
polygon side is exploded to one row per covering cell and equi-joined with
the points on the cell key (`functions.spatial.cell_encode_col`); rings
travel in-row, where the shuffle co-locates them, and an Arrow UDF refines
each candidate batch. A polygon with NULL or [] rings contains no point.

Skew (O10a): one dense cell can dominate the shuffle path. `salt_factor=k`
replicates each polygon cell-row k ways and buckets points by a hash —
spreading the hot cell over k shuffle partitions. The broadcast path has no
shuffle, so salting does not apply to it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.spatial import cell_encode_col
from ..kernels import geom
from ..kernels.cells import cell_encode
from ..kernels.wkb import coords_rows

DEFAULT_CELL_LEVEL = 12
# driver-side cap on the polygon pull of the broadcast path; over it, the
# join (and the spine) degrade to the shuffle path. Read at call time.
MAX_BROADCAST_POLYGONS = 100_000

# auto-salt gate: below this many rows in the hottest cell, salting is a
# no-op-to-harmful (fixed overhead, nothing to spread) and stays off; the
# factor never exceeds the cap. Both read at call time.
AUTO_SALT_HOT_MIN = 4096
AUTO_SALT_CAP = 32


def auto_salt_factor(keyed: "DataFrame", key_cols: list) -> int | None:
    """O10a self-gating fan-out (r6, VERDICT r5 ask #2): derive the salt
    factor from the OBSERVED key histogram instead of a blind constant that
    can invert under load. One bounded aggregate over the keyed side
    (max/total per key — a map-side-combined count, never payloads):

      * gate OFF (None) when the hottest key holds < AUTO_SALT_HOT_MIN rows
        or no more than ~2 ideal task shares — nothing worth spreading;
      * otherwise the smallest power of 2 that brings the hot key's share
        down to one ideal task share, capped at AUTO_SALT_CAP (salting
        multiplies probe/replica work linearly, so unbounded fan-out is its
        own skew).

    Deterministic given the data; output rows are identical for every salt
    choice by the salting construction (pytest-pinned).
    """
    row = (
        keyed.groupBy(*key_cols)
        .count()
        .agg(F.max("count").alias("hot"), F.sum("count").alias("total"))
        .collect()[0]
    )
    hot = int(row["hot"] or 0)
    total = int(row["total"] or 0)
    par = keyed.sparkSession.sparkContext.defaultParallelism
    target = max(1, total // max(par, 1))
    if hot < AUTO_SALT_HOT_MIN or hot <= 2 * target:
        return None
    k = 1
    while k < AUTO_SALT_CAP and hot // k > target:
        k *= 2
    return k


class PolygonIndex:
    """Cell-keyed index over a broadcast-sized polygon side.

    Holds every polygon's level-`cell_level` covering cells sorted, the
    polygon (by position) each sorted cell belongs to, the polygon ids and
    the rings by position. A cell listed twice for one polygon yields two
    candidates, exactly as the equi-join of the shuffle path does.
    """

    def __init__(self, polygon_ids, cells, rings, cell_level: int):
        self.cell_level = cell_level
        self.polygon_ids = np.asarray(polygon_ids)
        self.rings = list(rings)
        per_poly = [np.asarray(c if c is not None else [], dtype=np.int64) for c in cells]
        counts = np.fromiter((len(c) for c in per_poly), dtype=np.int64, count=len(per_poly))
        flat = np.concatenate(per_poly) if per_poly else np.empty(0, dtype=np.int64)
        order = np.argsort(flat, kind="stable")
        self.cells = flat[order]
        self.owner = np.repeat(np.arange(len(per_poly)), counts)[order]

    @classmethod
    def from_table(cls, table: pa.Table, cell_level: int) -> "PolygonIndex":
        """From an Arrow table of (polygon_id, rings, cells) rows."""
        return cls(
            table["polygon_id"].to_numpy(),
            table["cells"].to_pylist(),
            coords_rows(table["rings"]),
            cell_level,
        )

    def locate(self, lon, lat) -> tuple[np.ndarray, np.ndarray]:
        """(row, polygon_id) for every point of the batch inside a polygon.

        One pair per (point, containing polygon), ordered by row. A point is
        tested only against the polygons that list its cell; NULL/NaN/inf
        coordinates encode to INVALID_CELL and match no polygon."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        pc = cell_encode(lon, lat, self.cell_level)
        lo = np.searchsorted(self.cells, pc, side="left")
        n = np.searchsorted(self.cells, pc, side="right") - lo
        row = np.repeat(np.arange(len(pc)), n)
        # candidate k of row i sits at sorted position lo[i] + k
        first = np.cumsum(n) - n
        pos = np.repeat(lo - first, n) + np.arange(len(row))
        poly = self.owner[pos]
        keep = np.zeros(len(row), dtype=bool)
        order = np.argsort(poly, kind="stable")
        for grp in np.split(order, np.flatnonzero(np.diff(poly[order])) + 1):
            if len(grp):
                r = row[grp]
                keep[grp] = geom.points_in_rings(lon[r], lat[r], self.rings[poly[grp[0]]])
        return row[keep], self.polygon_ids[poly[keep]]

    def located_ids(self, lon, lat, id_type: pa.DataType) -> pa.ListArray:
        """locate() regrouped per row: each point's containing polygon ids
        (Arrow type `id_type`), [] for none, as one ListArray whose offsets
        are the row bounds of locate()'s pairs."""
        row, pid = self.locate(lon, lat)
        offsets = np.searchsorted(row, np.arange(len(lon) + 1)).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(pid, id_type))


def polygon_index(polygons: DataFrame, cell_level: int) -> PolygonIndex | None:
    """PolygonIndex of `polygons`, or None when it has more than
    MAX_BROADCAST_POLYGONS rows.

    EAGER: collects limit(cap+1) rows as Arrow in ONE action, so driver memory is
    bounded by the cap; the extra row signals the polygon side is too big.
    (A toLocalIterator stream was measured 2.3x slower end-to-end from its
    sequential per-partition jobs; a separate count-probe action costs a
    full extra scan.)"""
    cap = MAX_BROADCAST_POLYGONS
    table = polygons.select("polygon_id", "rings", "cells").limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    return PolygonIndex.from_table(table, cell_level)


def _locate_udf(index_bc, id_type: T.DataType):
    """(lon, lat) -> ARRAY of the containing polygon ids, per Arrow batch."""
    id_arrow = to_arrow_type(id_type)

    @F.arrow_udf(T.ArrayType(id_type))
    def _locate(lon: pa.Array, lat: pa.Array) -> pa.Array:
        return index_bc.value.located_ids(lon, lat, id_arrow)

    return _locate


@F.arrow_udf(T.BooleanType())
def _contains_udf(polygon_id: pa.Array, rings: pa.Array, lon: pa.Array, lat: pa.Array) -> pa.Array:
    """Exact PIP refine: vectorized per polygon within each Arrow batch; each
    polygon's rings are decoded once, from its first row."""
    out = np.zeros(len(polygon_id), dtype=bool)
    lon_v = lon.to_numpy(zero_copy_only=False)
    lat_v = lat.to_numpy(zero_copy_only=False)
    pid = polygon_id.to_numpy(zero_copy_only=False)
    _, first, group = np.unique(pid, return_index=True, return_inverse=True)
    for g, ring_arrays in enumerate(coords_rows(rings.take(pa.array(first)))):
        idx = np.flatnonzero(group == g)
        out[idx] = geom.points_in_rings(lon_v[idx], lat_v[idx], ring_arrays)
    return pa.array(out)


def explode_polygon_cells(polygons: DataFrame, salt_factor: int | None = None) -> DataFrame:
    """(polygon_id, rings, cells) -> one row per covering cell [x salt replica]."""
    exploded = polygons.select("polygon_id", "rings", F.explode("cells").alias("cell"))
    if salt_factor and salt_factor > 1:
        exploded = exploded.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))).alias("salt")
        )
    return exploded


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lon: str | Column = "lon",
    lat: str | Column = "lat",
    cell_level: int = DEFAULT_CELL_LEVEL,
    broadcast_polygons: bool = True,
    salt_factor: int | str | None = None,
    keep_point_cols: list[str] | None = None,
) -> DataFrame:
    """Inner spatial join: one output row per (point, containing polygon).

    points:   any DataFrame with lon/lat columns (plus carried columns).
    polygons: (polygon_id, rings ARRAY<ARRAY<ARRAY<DOUBLE>>>, cells ARRAY<LONG>)
              where `cells` are level-`cell_level` covering cells (see
              sources.fixtures.make_polygons_admin /
              kernels.cells.covering_cells_bbox).
    Output: the point columns (or `keep_point_cols`) plus polygon_id.

    broadcast_polygons=True EAGERLY pulls the polygon side to the driver at
    plan-construction time (polygon_index: one capped action) and locates
    points in one Arrow crossing. If the pull exceeds MAX_BROADCAST_POLYGONS
    the join degrades to the co-locating shuffle path instead of OOMing the
    driver. `salt_factor` (int, or 'auto' for a measured factor) applies to
    the shuffle path only.
    """
    lon_c = F.col(lon) if isinstance(lon, str) else lon
    lat_c = F.col(lat) if isinstance(lat, str) else lat

    if isinstance(salt_factor, str) and salt_factor != "auto":
        raise ValueError(
            f"salt_factor must be an int, None, or 'auto', got {salt_factor!r}"
        )

    index = polygon_index(polygons, cell_level) if broadcast_polygons else None
    if index is not None:
        # the broadcast lives as long as a frame whose UDF closure holds it
        # can be evaluated; Python GC + Spark's ContextCleaner reclaim it
        # after the caller drops the frame (an explicit destroy() here would
        # poison a still-lazy result)
        bc = points.sparkSession.sparkContext.broadcast(index)
        locate = _locate_udf(bc, polygons.schema["polygon_id"].dataType)
        out = points.select("*", F.explode(locate(lon_c, lat_c)).alias("polygon_id"))
    else:
        out = _pip_join_shuffle(points, polygons, lon_c, lat_c, cell_level, salt_factor)
    if keep_point_cols is not None:
        out = out.select(*keep_point_cols, "polygon_id")
    return out


def _pip_join_shuffle(
    points: DataFrame,
    polygons: DataFrame,
    lon_c: Column,
    lat_c: Column,
    cell_level: int,
    salt_factor: int | str | None,
) -> DataFrame:
    """Cell-key equi-join with rings in-row, then the refine UDF."""
    pts = points.withColumn("_cell", cell_encode_col(lon_c, lat_c, cell_level))
    if salt_factor == "auto":
        # measured fan-out (SURVEY O10a promise; auto_salt_factor above).
        # The histogram aggregate makes this branch EAGER (one bounded
        # cells-only job at call time).
        salt_factor = auto_salt_factor(pts, ["_cell"])
    salted = bool(salt_factor and salt_factor > 1)
    poly_cells = explode_polygon_cells(polygons, salt_factor)
    if salted:
        pts = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(lon_c, lat_c), F.lit(salt_factor)).cast("int")
        )
        cond = (pts["_cell"] == poly_cells["cell"]) & (pts["_salt"] == poly_cells["salt"])
    else:
        cond = pts["_cell"] == poly_cells["cell"]
    candidates = pts.join(poly_cells, cond, "inner")
    refined = candidates.where(
        _contains_udf(F.col("polygon_id"), F.col("rings"), lon_c, lat_c)
    )
    return refined.drop("_cell", "cell", "rings", *(["_salt", "salt"] if salted else []))


def pip_join_brute(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Oracle-grade brute force: cross join + exact refine (tests only)."""
    cand = points.crossJoin(F.broadcast(polygons.select("polygon_id", "rings")))
    return cand.where(
        _contains_udf(F.col("polygon_id"), F.col("rings"), F.col(lon), F.col(lat))
    ).drop("rings")
