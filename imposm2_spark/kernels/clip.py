"""Vector-tile geometry cut: Sutherland–Hodgman ring clipping to tile rects.

The missing last step of the J6 tiling family: covering tiles
(`operators/tiles.py`) say WHICH tiles a polygon touches; renderers and
MVT-style sinks need the polygon∩tile geometry itself, cut at the tile
boundary in projected space (reference workflow: imposm feeds a renderer
that clips per tile — SURVEY §2.5 J6 note; this engine does the cut as an
operator so the tile payload leaves Spark ready to encode).

Frozen spec (the golden generator re-implements it independently — scalar
generic-half-plane SH + a Green's-theorem/Liang-Barsky area cross-check —
and `scripts/gen_golden_oracles.py` asserts all three agree before
freezing):

  * rings are projected VERTEX-WISE to continuous web-mercator tile
    coordinates at zoom z (same slippy formula as `cells.lonlat_to_xy`
    without the floor; lat clamped to ±MERC_LAT_MAX); edges are straight
    segments in THAT space;
  * each ring is clipped independently against the tile square
    [x, x+1] × [y, y+1] with Sutherland–Hodgman over the four half-planes
    in the fixed order x>=x0, x<=x1, y>=y0, y<=y1; points exactly on the
    clip line count INSIDE; intersection points get the clip-line
    coordinate written exactly (no 1-ulp drift off the boundary);
  * output rings are consecutive-deduped (incl. the wraparound pair) and
    dropped when fewer than 3 distinct points remain;
  * SH on a concave subject can emit boundary-run degeneracies (zero-area
    slivers along the rect edge) — accepted, standard for tile cutters;
    they cancel exactly in the signed-area sum;
  * per-tile area = |Σ over clipped rings of signed shoelace| in tile²
    units (orientation-normalized input: shells/holes carry opposite
    signs, and the mercator y-flip negates both, so the absolute sum is
    the holed area). A tile fully inside a hole nets exactly 0 and is
    dropped along with empty clips.

Everything is NumPy over a polygon's rings inside ONE Arrow UDF row —
rings cross into Python once per polygon, never once per (polygon, tile).
"""

from __future__ import annotations

import numpy as np

from . import geom
from .cells import MERC_LAT_MAX


def project_ring(ring: np.ndarray, z: int) -> np.ndarray:
    """Lon/lat ring -> continuous web-mercator tile coords at zoom z."""
    r = np.asarray(ring, dtype=np.float64)
    n = float(1 << z)
    lon = r[:, 0]
    lat = np.clip(r[:, 1], -MERC_LAT_MAX, MERC_LAT_MAX)
    tx = (lon + 180.0) / 360.0 * n
    ty = (1.0 - np.arcsinh(np.tan(np.radians(lat))) / np.pi) / 2.0 * n
    return np.column_stack([tx, ty])


def _clip_halfplane(pts: np.ndarray, val: float, axis: int, keep_ge: bool) -> np.ndarray:
    """One SH pass: keep the side {coord >= val} (keep_ge) or {coord <= val}.

    Vectorized over all edges: each edge (cur -> nxt) emits cur when cur is
    inside, plus the boundary intersection when the edge crosses. Points
    exactly on the line are inside; crossing intersections get coord[axis]
    set to `val` exactly.
    """
    if len(pts) == 0:
        return pts
    cur = pts
    nxt = np.roll(pts, -1, axis=0)
    sign = 1.0 if keep_ge else -1.0
    d_cur = sign * (cur[:, axis] - val)
    d_nxt = sign * (nxt[:, axis] - val)
    in_cur = d_cur >= 0.0
    in_nxt = d_nxt >= 0.0
    cross = in_cur != in_nxt
    counts = in_cur.astype(np.int64) + cross.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty((0, 2), dtype=np.float64)
    out = np.empty((total, 2), dtype=np.float64)
    start = np.cumsum(counts) - counts
    out[start[in_cur]] = cur[in_cur]
    if cross.any():
        c_cur, c_nxt = cur[cross], nxt[cross]
        t = d_cur[cross] / (d_cur[cross] - d_nxt[cross])  # denom != 0 on cross
        inter = c_cur + t[:, None] * (c_nxt - c_cur)
        inter[:, axis] = val  # exact clip-line coordinate
        out[(start + in_cur.astype(np.int64))[cross]] = inter
    return out


def clip_ring_to_rect(
    pts: np.ndarray, x0: float, y0: float, x1: float, y1: float
) -> np.ndarray:
    """SH clip of one projected ring (open form) to [x0,x1]x[y0,y1].

    Returns the clipped OPEN ring (possibly empty) after consecutive-dedup;
    rings with <3 distinct points collapse to empty.
    """
    r = np.asarray(pts, dtype=np.float64)
    if len(r) >= 2 and np.array_equal(r[0], r[-1]):
        r = r[:-1]  # open form: SH treats the ring cyclically
    for val, axis, keep_ge in (
        (x0, 0, True), (x1, 0, False), (y0, 1, True), (y1, 1, False),
    ):
        r = _clip_halfplane(r, val, axis, keep_ge)
        if len(r) < 3:
            return np.empty((0, 2), dtype=np.float64)
    r = geom.dedup_consecutive(r)
    if len(r) >= 2 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    if len(r) < 3:
        return np.empty((0, 2), dtype=np.float64)
    return r


def clip_rings_to_tile(
    proj_rings: list[np.ndarray], x: int, y: int
) -> tuple[list[np.ndarray], float]:
    """Clip projected rings to tile (x, y); returns (tile-LOCAL rings, area).

    Local coords are tile-relative ([0,1] on both axes); area is the
    absolute signed-shoelace sum in tile² units (see module spec).
    """
    out: list[np.ndarray] = []
    total = 0.0
    for pr in proj_rings:
        c = clip_ring_to_rect(pr, float(x), float(y), float(x + 1), float(y + 1))
        if len(c) == 0:
            continue
        total += geom.ring_signed_area(c)
        out.append(c - np.array([float(x), float(y)]))
    return out, abs(total)


# ---------------------------------------------------------------------------
# Polyline cut (J6c line side): Liang–Barsky per segment + run stitching.
# ---------------------------------------------------------------------------
def _lb_segment(ax, ay, bx, by, x0, y0, x1, y1):
    """Liang–Barsky clip of segment A->B to the rect; returns (t0, t1) or
    None when fully outside. Inclusive bounds: a segment lying exactly on a
    shared tile edge survives in BOTH adjacent tiles (frozen spec — tile
    cuts are per-tile independent; renderers tolerate the shared edge)."""
    dx, dy = bx - ax, by - ay
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, ax - x0), (dx, x1 - ax), (-dy, ay - y0), (dy, y1 - ay)):
        if p == 0.0:
            if q < 0.0:
                return None
        else:
            t = q / p
            if p < 0.0:
                if t > t1:
                    return None
                if t > t0:
                    t0 = t
            else:
                if t < t0:
                    return None
                if t < t1:
                    t1 = t
    return t0, t1


def _snap_rect(px, py, x0, y0, x1, y1, was_clipped):
    """Write boundary coordinates exactly for clipped endpoints (same
    discipline as the SH pass: no 1-ulp drift off the clip line)."""
    if not was_clipped:
        return px, py
    if px <= x0:
        px = x0
    elif px >= x1:
        px = x1
    if py <= y0:
        py = y0
    elif py >= y1:
        py = y1
    return px, py


def clip_polyline_to_rect(
    pts: np.ndarray, x0: float, y0: float, x1: float, y1: float
) -> list[np.ndarray]:
    """Cut one projected polyline at the rect boundary.

    Returns the list of sub-polylines (runs) inside [x0,x1]x[y0,y1]. Runs
    stitch across consecutive segments while the clip is continuous (the
    previous segment ends unclipped at the shared vertex and the next
    starts unclipped there); leaving and re-entering the rect starts a new
    run. Zero-length runs (a single grazing point) are dropped.
    """
    r = np.asarray(pts, dtype=np.float64)
    runs: list[list[tuple[float, float]]] = []
    cur: list[tuple[float, float]] = []
    for i in range(len(r) - 1):
        ax, ay = float(r[i, 0]), float(r[i, 1])
        bx, by = float(r[i + 1, 0]), float(r[i + 1, 1])
        hit = _lb_segment(ax, ay, bx, by, x0, y0, x1, y1)
        if hit is None:
            if len(cur) >= 2:
                runs.append(cur)
            cur = []
            continue
        t0, t1 = hit
        dx, dy = bx - ax, by - ay
        p0 = (ax, ay) if t0 == 0.0 else _snap_rect(
            ax + t0 * dx, ay + t0 * dy, x0, y0, x1, y1, True
        )
        p1 = (bx, by) if t1 == 1.0 else _snap_rect(
            ax + t1 * dx, ay + t1 * dy, x0, y0, x1, y1, True
        )
        if p0 == p1:
            continue  # grazing touch: measure zero, nothing to draw
        if cur and cur[-1] == p0:
            cur.append(p1)
        else:
            if len(cur) >= 2:
                runs.append(cur)
            cur = [p0, p1]
    if len(cur) >= 2:
        runs.append(cur)
    return [np.asarray(run, dtype=np.float64) for run in runs]


def polyline_length(pts: np.ndarray) -> float:
    """Euclidean length in the coordinate units of `pts` (tile units when
    projected)."""
    r = np.asarray(pts, dtype=np.float64)
    if len(r) < 2:
        return 0.0
    d = np.diff(r, axis=0)
    return float(np.sum(np.hypot(d[:, 0], d[:, 1])))


def clip_polyline_to_tile(
    proj: np.ndarray, x: int, y: int
) -> tuple[list[np.ndarray], float]:
    """(tile-LOCAL runs, total length in tile units) for tile (x, y)."""
    runs = clip_polyline_to_rect(
        proj, float(x), float(y), float(x + 1), float(y + 1)
    )
    total = sum(polyline_length(run) for run in runs)
    off = np.array([float(x), float(y)])
    return [run - off for run in runs], float(total)
