"""J6: raster<->vector tile assignment (web-mercator z/x/y).

Graft addition (SURVEY.md J6); reference analog is the rendering-oriented
spatial CLUSTER + generalized tables (imposm/db/postgis.py::optimize, S9) —
imposm2 organizes output for tile renderers; this engine assigns the tiles.

Points: pure JVM column arithmetic (no join, no Python — FIXTURES §4 formula).
Polygons: covering-tile explosion via an Arrow-batched kernel (bbox cover at
zoom z, exact-refined against the polygon by testing each tile's center AND
clipping tiles fully outside — conservative cover kept, matching FIXTURES
"polygon covering-tile lists" golden which uses bbox cover refined by ring
intersection test on tile corners).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.spatial import finite_lonlat, tile_x, tile_y
from ..kernels import cells as kcells
from ..kernels import geom
from ..kernels.wkb import coords_rows

# Driver-side bounds, read at call time: the per-polygon covering grid
# (review r5) and the raster patch catalog pull.
MAX_COVER_CELLS = 1 << 20
MAX_PATCHES = 100_000


def assign_point_tiles(
    df: DataFrame,
    zooms: list[int],
    lon: str | Column = "lon",
    lat: str | Column = "lat",
) -> DataFrame:
    """One output row per (input row, zoom): columns + (z, x, y). Pure codegen."""
    if not zooms:
        # explode over an empty literal array silently drops every row —
        # refuse loudly, matching assign_polygon_tiles (review r5)
        raise ValueError("assign_point_tiles: zooms must be non-empty")
    lon_c = F.col(lon) if isinstance(lon, str) else lon
    lat_c = F.col(lat) if isinstance(lat, str) else lat
    per_zoom = F.array(
        *[
            F.struct(
                F.lit(z).alias("z"),
                tile_x(lon_c, z).alias("x"),
                tile_y(lat_c, z).alias("y"),
            )
            for z in zooms
        ]
    )
    return df.withColumn("_t", F.explode(per_zoom)).select(
        "*", F.col("_t.z").alias("z"), F.col("_t.x").alias("x"), F.col("_t.y").alias("y")
    ).drop("_t")


_TILE_ARRAY = T.ArrayType(
    T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
        ]
    )
)


def _tile_lonlat_bounds(xs: np.ndarray, ys: np.ndarray, z: int):
    """Each tile's axis-aligned LON/LAT rectangle (lon0, lon1, lat_bot,
    lat_top). Tiles are mercator rectangles, and both axes are monotone
    transforms of lon/lat independently — so in lon/lat space a tile is
    still an axis-aligned rect, and the engine's planar-lon/lat segments
    (geom ray-cast semantics) can be tested against it exactly."""
    n = float(1 << z)
    lon0 = xs / n * 360.0 - 180.0
    lon1 = (xs + 1.0) / n * 360.0 - 180.0
    lat_top = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * ys / n))))
    lat_bot = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (ys + 1.0) / n))))
    return lon0, lon1, lat_bot, lat_top


_EDGE_CHUNK = 4096  # bounds the (T, E_chunk) SAT intermediates (~10 arrays)


def _edge_hits(xs: np.ndarray, ys: np.ndarray, ring_arrays, z: int) -> np.ndarray:
    """(T,) bool: does any ring EDGE (straight in lon/lat — the engine's
    planar geometry) intersect the tile's lon/lat rectangle? Exact
    segment-vs-axis-aligned-box via SAT (axes: lon, lat, segment normal),
    vectorized as (T, E_chunk) blocks with edges concatenated across rings.
    The edge axis is CHUNKED (a 200k-edge coastline against a 5k-tile cover
    would otherwise materialize ~10 full (T,E) float64 intermediates — a
    worker OOM); tiles already hit are dropped from later chunks."""
    A = np.concatenate([r[:-1] for r in ring_arrays])  # (E,2) lon/lat
    B = np.concatenate([r[1:] for r in ring_arrays])
    hit = np.zeros(len(xs), dtype=bool)
    if not len(A):
        return hit
    lon0, lon1, lat_bot, lat_top = _tile_lonlat_bounds(
        xs.astype(np.float64), ys.astype(np.float64), z
    )
    for e0 in range(0, len(A), _EDGE_CHUNK):
        todo = np.flatnonzero(~hit)
        if not len(todo):
            break
        Ac = A[e0 : e0 + _EDGE_CHUNK]
        Bc = B[e0 : e0 + _EDGE_CHUNK]
        x0, x1 = lon0[todo][:, None], lon1[todo][:, None]  # (T',1)
        y0, y1 = lat_bot[todo][:, None], lat_top[todo][:, None]
        ax, ay = Ac[None, :, 0], Ac[None, :, 1]
        bx, by = Bc[None, :, 0], Bc[None, :, 1]
        # SAT lon/lat axes: segment bbox vs rect
        overlap = (
            (np.minimum(ax, bx) <= x1) & (np.maximum(ax, bx) >= x0)
            & (np.minimum(ay, by) <= y1) & (np.maximum(ay, by) >= y0)
        )
        # SAT segment-normal axis: rect corners not all strictly one side of
        # the segment's supporting line. n = (-(by-ay), bx-ax).
        nx, ny = -(by - ay), (bx - ax)
        c = nx * ax + ny * ay  # line offset
        p00 = nx * x0 + ny * y0 - c
        p10 = nx * x1 + ny * y0 - c
        p01 = nx * x0 + ny * y1 - c
        p11 = nx * x1 + ny * y1 - c
        all_pos = (p00 > 0) & (p10 > 0) & (p01 > 0) & (p11 > 0)
        all_neg = (p00 < 0) & (p10 < 0) & (p01 < 0) & (p11 < 0)
        hit[todo] = (overlap & ~(all_pos | all_neg)).any(axis=1)
    return hit


def _covering_tiles_kernel(
    ring_arrays, z: int, refine: str = "center",
    max_cells: int | None = None,
) -> list[dict]:
    """The (z, x, y) tiles covering one polygon given as its rings.

    refine="center" (frozen default, FIXTURES golden): keep tiles whose
    center is inside OR that contain a ring vertex — a sliver crossing a
    tile mid-edge (no center, no vertex) is missed. refine="exact" (r4
    opt-in, SURVEY App. B #6 upgrade path) additionally keeps tiles any ring
    edge intersects, which together with center-in (tile wholly interior)
    and vertex-in (polygon wholly inside tile) is the exact intersection set
    for closed rings (boundary-touching tiles included)."""
    if not ring_arrays:
        return []  # NULL or empty rings: no area, no tiles
    lon_min, lat_min, lon_max, lat_max = geom.rings_bbox(ring_arrays)
    cover = kcells.covering_cells_bbox(
        lon_min, lat_min, lon_max, lat_max, z, max_cells=max_cells
    )
    _, xs, ys = kcells.cell_decode(cover)
    if len(xs) == 0:
        return []
    lon_c = (xs + 0.5) / float(1 << z) * 360.0 - 180.0
    n = float(1 << z)
    lat_c = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (ys + 0.5) / n))))
    center_in = geom.points_in_rings(lon_c, lat_c, ring_arrays)
    # tiles containing any ring vertex (catches edge tiles the center test misses)
    keep = center_in.copy()
    pts = np.vstack(ring_arrays)
    vx, vy = kcells.lonlat_to_xy(pts[:, 0], pts[:, 1], z)
    vert_tiles = set(zip(vx.tolist(), vy.tolist()))
    for i, (x, y) in enumerate(zip(xs.tolist(), ys.tolist())):
        if (x, y) in vert_tiles:
            keep[i] = True
    if refine == "exact":
        keep |= _edge_hits(xs, ys, ring_arrays, z)
    return [
        {"z": z, "x": int(x), "y": int(y)}
        for x, y in zip(xs[keep].tolist(), ys[keep].tolist())
    ]


def covering_tiles_udf(zooms: list[int], refine: str = "center"):
    """arrow_udf: rings -> the covering tiles at every zoom of `zooms`; the
    rings are decoded once per batch for all zooms. Each polygon's grid is
    bounded by MAX_COVER_CELLS, read when the UDF is built."""
    tile_type = to_arrow_type(_TILE_ARRAY)
    max_cells = MAX_COVER_CELLS

    @F.arrow_udf(_TILE_ARRAY)
    def _udf(rings: pa.Array) -> pa.Array:
        return pa.array(
            [
                [t for z in zooms for t in _covering_tiles_kernel(r, z, refine, max_cells)]
                for r in coords_rows(rings)
            ],
            tile_type,
        )

    return _udf


def assign_polygon_tiles(
    polygons: DataFrame, zooms: list[int], refine: str = "center"
) -> DataFrame:
    """(polygon_id, rings) -> one row per (polygon_id, z, x, y) covering tile.

    refine="exact" additionally assigns tiles that a ring edge crosses
    mid-tile (sliver polygons); default preserves the frozen goldens — see
    _covering_tiles_kernel. MAX_COVER_CELLS mirrors pip_join's
    MAX_BROADCAST_POLYGONS contract: one continent-scale polygon at a deep
    zoom would densify millions of cells inside a single UDF row, so the
    kernel fails loudly at the bound instead of stalling an executor.
    A NULL or [] rings row covers no tile. One Arrow crossing serves every
    zoom."""
    if not zooms:
        raise ValueError("assign_polygon_tiles: zooms must be non-empty")
    cover = covering_tiles_udf(list(zooms), refine)
    return polygons.select("polygon_id", F.explode(cover(F.col("rings"))).alias("_t")).select(
        "polygon_id", F.col("_t.z").alias("z"), F.col("_t.x").alias("x"), F.col("_t.y").alias("y")
    )


def raster_patch_join(
    points: DataFrame,
    patches: DataFrame,
    zoom: int,
    lon: str = "lon",
    lat: str = "lat",
    point_cols: list[str] | None = None,
) -> DataFrame:
    """J6 raster side: assign points to raster patches (tile rectangles).

    patches: (patch_id, x0, x1, y0, y1) — inclusive tile ranges at `zoom`.
    Scale shape: each patch rect is decomposed into maximal quadtree-aligned
    Morton blocks (kernels.cells.morton_blocks); a point is in the patch iff
    its ancestor cell at some block level equals a block cell. The point side
    is scanned ONCE: each point explodes its ancestor-cell chain (only the
    levels that actually appear in the decomposition, <= zoom+1 values) and a
    single broadcast equi-join against the (ancestor_cell -> patch_id) lookup
    resolves every level at once — no BroadcastNestedLoopJoin, no per-level
    rescan of a 10^12-row side. Cell ids embed their level in the high bits,
    so one LONG key disambiguates levels. Per patch the blocks are disjoint,
    so a point matches each containing patch exactly once. Patch metadata is
    driver-side (raster catalogs are small; documented assumption) — and the
    pull is CAPPED at MAX_PATCHES (r5, mirroring pip_join's
    MAX_BROADCAST_POLYGONS contract): limit(cap+1) in ONE action; if the
    extra row comes back the catalog is not "small" and the call fails
    LOUDLY instead of silently stalling the driver in the Python
    Morton-block loop. Unlike pip_join there is no shuffle fallback to
    degrade to — the block decomposition is inherently per-patch — so
    over-cap is an error, not a mode switch; split the catalog.
    """
    from ..functions.spatial import cell_encode_col, cell_parent_col

    cap = MAX_PATCHES
    rows = patches.select("patch_id", "x0", "x1", "y0", "y1").limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"raster_patch_join: patch catalog exceeds {cap} patches; the "
            "Morton-block decomposition runs driver-side over the catalog. "
            "Split the catalog into bounded chunks and union the results."
        )
    pairs: list[tuple[int, int]] = []
    levels: set[int] = set()
    for r in rows:
        for bl, cell in kcells.morton_blocks(int(r.x0), int(r.x1), int(r.y0), int(r.y1), zoom):
            pairs.append((cell, int(r.patch_id)))
            levels.add(bl)

    keep = point_cols or list(points.columns)
    pts = points.withColumn("_cell", cell_encode_col(F.col(lon), F.col(lat), zoom))
    if not pairs:
        return pts.select(*keep).limit(0).withColumn("patch_id", F.lit(None).cast("long"))

    spark = points.sparkSession
    lookup = F.broadcast(spark.createDataFrame(pairs, "_bcell long, patch_id long"))
    ancestors = F.array(
        *[cell_parent_col(F.col("_cell"), zoom, bl) for bl in sorted(levels)]
    )
    return (
        pts.select(*keep, F.explode(ancestors).alias("_pc"))
        .join(lookup, F.col("_pc") == F.col("_bcell"))
        .select(*keep, "patch_id")
    )


# ---------------------------------------------------------------------------
# J6c (r5): vector-tile geometry cut — the step after covering tiles.
# ---------------------------------------------------------------------------
_CLIP_ARRAY = T.ArrayType(
    T.StructType(
        [
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("n_pts", T.IntegerType()),
            T.StructField("area", T.DoubleType()),
            # tile-local ring coords, FLATTENED (x0,y0,x1,y1,...) with ring
            # sizes alongside: the columnar form, one offset level instead
            # of the three of array<array<array<double>>>, and a reader
            # rebuilds the rings with one np.split.
            T.StructField("ring_sizes", T.ArrayType(T.IntegerType())),
            T.StructField("rings_flat", T.ArrayType(T.DoubleType())),
        ]
    )
)


def clip_tiles_udf(z: int):
    """arrow_udf: rings -> array of per-tile clip structs at zoom z.

    Rings cross into Python ONCE per polygon; the tile fan-out (covering
    tiles -> SH clip per tile) happens inside the kernel, so the shuffle
    never carries ring payload duplicated per tile. Each polygon's grid is
    bounded by MAX_COVER_CELLS, read when the UDF is built."""
    from ..kernels import clip as kclip

    clip_type = to_arrow_type(_CLIP_ARRAY)
    max_cells = MAX_COVER_CELLS

    def _one(ring_arrays) -> list[dict]:
        if not ring_arrays:
            return []  # NULL or empty rings: nothing to cut
        # candidates = the bbox tile grid directly — the SH cut itself
        # decides emptiness, so the exact-cover refinement (ray-cast +
        # SAT) would be pure overhead here (measured: 20.5s -> 17.2s at
        # 100k holed polygons / z12, identical 727,708 tile rows; the
        # remaining constant is the per-(polygon, tile) SH itself);
        # max_cells keeps the same loud per-polygon grid bound as
        # assign_polygon_tiles
        lon_min, lat_min, lon_max, lat_max = geom.rings_bbox(ring_arrays)
        cover_cells = kcells.covering_cells_bbox(
            lon_min, lat_min, lon_max, lat_max, z, max_cells=max_cells
        )
        _, cxs, cys = kcells.cell_decode(cover_cells)
        proj = [kclip.project_ring(r, z) for r in ring_arrays]
        out = []
        for cx, cy in zip(cxs.tolist(), cys.tolist()):
            local, area = kclip.clip_rings_to_tile(proj, cx, cy)
            if not local or area == 0.0:
                continue  # boundary-touch tile: zero-area cut, nothing to render
            flat = np.concatenate([r.ravel() for r in local])
            out.append(
                {
                    "x": int(cx),
                    "y": int(cy),
                    "n_pts": int(sum(len(r) for r in local)),
                    "area": float(area),
                    "ring_sizes": [int(len(r)) for r in local],
                    "rings_flat": flat.tolist(),
                }
            )
        return out

    @F.arrow_udf(_CLIP_ARRAY)
    def _udf(rings: pa.Array) -> pa.Array:
        return pa.array([_one(r) for r in coords_rows(rings)], clip_type)

    return _udf


def clip_polygons_to_tiles(polygons: DataFrame, z: int) -> DataFrame:
    """(polygon_id, rings) -> one row per (polygon_id, z, x, y) with the
    polygon∩tile geometry cut at the tile boundary (kernels/clip.py spec:
    vertex-wise mercator projection, SH against the tile square, tile-local
    coords, |signed-shoelace-sum| area). Tiles the polygon only touches on
    the boundary (zero-area cut) are dropped — covering tiles answers the
    touch question; this operator emits only renderable geometry.

    Scale shape: identical to assign_polygon_tiles — one Arrow batch per
    polygon partition, fan-out inside the kernel, explode after; no join,
    no shuffle beyond the input's layout. MAX_COVER_CELLS bounds the
    per-polygon covering grid with the same loud-failure contract.
    A NULL or [] rings row cuts no tile."""
    tiles = polygons.select(
        "polygon_id",
        F.lit(z).alias("z"),
        F.explode(clip_tiles_udf(z)(F.col("rings"))).alias("_t"),
    )
    return tiles.select(
        "polygon_id", "z",
        F.col("_t.x").alias("x"), F.col("_t.y").alias("y"),
        F.col("_t.n_pts").alias("n_pts"), F.col("_t.area").alias("area"),
        F.col("_t.ring_sizes").alias("ring_sizes"),
        F.col("_t.rings_flat").alias("rings_flat"),
    )


_CLIPLINE_ARRAY = T.ArrayType(
    T.StructType(
        [
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("n_pts", T.IntegerType()),
            T.StructField("length", T.DoubleType()),
            T.StructField("run_sizes", T.ArrayType(T.IntegerType())),
            T.StructField("runs_flat", T.ArrayType(T.DoubleType())),
        ]
    )
)


def clip_line_tiles_udf(z: int):
    """arrow_udf: polyline pts -> array of per-tile line-cut structs.

    Candidate tiles come from PER-SEGMENT bbox ranges (tight and linear in
    the polyline length — a diagonal line's whole-bbox grid would be
    quadratic), then each candidate gets the exact Liang-Barsky cut."""
    from ..kernels import clip as kclip

    clipline_type = to_arrow_type(_CLIPLINE_ARRAY)

    def _one(pts) -> list[dict]:
        if len(pts) < 2:
            return []
        proj = kclip.project_ring(pts, z)
        n = 1 << z
        cand: set[tuple[int, int]] = set()
        fx = np.clip(np.floor(proj[:, 0]).astype(np.int64), 0, n - 1)
        fy = np.clip(np.floor(proj[:, 1]).astype(np.int64), 0, n - 1)
        for i in range(len(proj) - 1):
            for x in range(min(fx[i], fx[i + 1]), max(fx[i], fx[i + 1]) + 1):
                for y in range(min(fy[i], fy[i + 1]), max(fy[i], fy[i + 1]) + 1):
                    cand.add((x, y))
        out = []
        for x, y in sorted(cand):
            runs, length = kclip.clip_polyline_to_tile(proj, x, y)
            if not runs or length == 0.0:
                continue
            flat = np.concatenate([r.ravel() for r in runs])
            out.append(
                {
                    "x": int(x),
                    "y": int(y),
                    "n_pts": int(sum(len(r) for r in runs)),
                    "length": float(length),
                    "run_sizes": [int(len(r)) for r in runs],
                    "runs_flat": flat.tolist(),
                }
            )
        return out

    @F.arrow_udf(_CLIPLINE_ARRAY)
    def _udf(pts: pa.Array) -> pa.Array:
        return pa.array([_one(p) for p in coords_rows(pts)], clipline_type)

    return _udf


def clip_lines_to_tiles(lines: DataFrame, z: int) -> DataFrame:
    """(line_id, pts) -> one row per (line_id, z, x, y) with the polyline
    cut at the tile boundary (kernels/clip.py line spec: Liang-Barsky per
    segment, run stitching across continuous segments, tile-local coords,
    euclidean length in tile units). Same scale shape as the polygon cut:
    points cross into Python once per line, fan-out inside the kernel.
    A NULL or [] pts row cuts no tile."""
    tiles = lines.select(
        "line_id",
        F.lit(z).alias("z"),
        F.explode(clip_line_tiles_udf(z)(F.col("pts"))).alias("_t"),
    )
    return tiles.select(
        "line_id", "z",
        F.col("_t.x").alias("x"), F.col("_t.y").alias("y"),
        F.col("_t.n_pts").alias("n_pts"), F.col("_t.length").alias("length"),
        F.col("_t.run_sizes").alias("run_sizes"),
        F.col("_t.runs_flat").alias("runs_flat"),
    )


def expire_tiles(
    z: int,
    points: DataFrame | None = None,
    polygons: DataFrame | None = None,
    lines: DataFrame | None = None,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Tile-expiry list after an update: the DISTINCT z/x/y tiles touched by
    changed features, the set a renderer must re-render after `apply_diff`.

    Reference parity: imposm's -expiretiles / osm2pgsql's expire output
    (imposm2 itself re-imports and swaps; expiry arrived with diff support
    in imposm3 — same lineage as S6b, SURVEY §2.9). Feed it the CHANGED
    rows of a diff (creates + modifies + the pre-image of deletes — a
    deleted feature's old tiles need re-rendering too).

    A point with a NULL or non-finite coordinate expires no tile, just as a
    NULL rings or pts row expires none.

    Scale shape: points are pure codegen tile math; polygons expire their
    exact covering set (a changed polygon invalidates every tile it
    intersects); lines expire tiles with a nonzero-length cut. Each side
    reduces to tile ids BEFORE the single distinct hash-agg (map-side
    combined), so the shuffle carries only (z, x, y) rows — never feature
    payloads."""
    parts = []
    if points is not None:
        parts.append(
            points.where(finite_lonlat(F.col(lon), F.col(lat))).select(
                tile_x(F.col(lon), z).alias("x"), tile_y(F.col(lat), z).alias("y")
            )
        )
    if polygons is not None:
        parts.append(
            assign_polygon_tiles(polygons, [z], refine="exact").select("x", "y")
        )
    if lines is not None:
        parts.append(
            clip_lines_to_tiles(lines, z).select("x", "y")
        )
    if not parts:
        raise ValueError("expire_tiles: pass at least one of points/polygons/lines")
    from functools import reduce

    allt = reduce(lambda a, b: a.unionByName(b), parts)
    return allt.distinct().select(F.lit(z).alias("z"), "x", "y")
