"""Planar geometry kernels: area, orientation, validity, point-in-polygon.

Reference analog: imposm/geom.py::{PolygonBuilder, LineStringBuilder} (Shapely/
GEOS-backed, ~row-at-a-time) and the prepared-geometry `contains` tests in
imposm/multipolygon.py::ContainsRelationBuilder. Re-implemented as vectorized
NumPy (no GEOS in this environment — SURVEY.md Appendix A / G5 divergence note).

Point-in-polygon rule (frozen, FIXTURES.md §3): even-odd ray cast with strict
comparisons, which yields half-open containment — left/bottom edges inclusive,
right/top exclusive — so disjoint tilings partition the plane exactly and the
result is independent of Arrow batch splits.
"""

from __future__ import annotations

import numpy as np

Ring = np.ndarray  # (N, 2) float64, closed (first == last) or open; both accepted

# On-segment tolerance of point_on_ring_boundary; read at call time.
BOUNDARY_EPS = 1e-12


def ring_signed_area(ring: Ring) -> float:
    """Shoelace signed area (CCW positive). Accepts open or closed rings."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y) / 2.0)


def ring_is_ccw(ring: Ring) -> bool:
    return ring_signed_area(ring) > 0


def ensure_closed(ring: Ring) -> Ring:
    r = np.asarray(ring, dtype=np.float64)
    if len(r) == 0 or np.array_equal(r[0], r[-1]):
        return r
    return np.vstack([r, r[:1]])


def ensure_orientation(ring: Ring, ccw: bool) -> Ring:
    """Normalize winding: shells CCW, holes CW (imposm/geom.py polygon normalize)."""
    if ring_is_ccw(ring) != ccw:
        return np.ascontiguousarray(ring[::-1])
    return ring


def dedup_consecutive(ring: Ring) -> Ring:
    """Drop consecutive duplicate points (the normalization half of G5 repair)."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 2:
        return r
    keep = np.ones(len(r), dtype=bool)
    keep[1:] = np.any(r[1:] != r[:-1], axis=1)
    return r[keep]


def ring_is_valid(ring: Ring) -> bool:
    """Validity filter P5: closed, >=4 points (incl. closure), nonzero area."""
    r = dedup_consecutive(ensure_closed(np.asarray(ring, dtype=np.float64)))
    return len(r) >= 4 and abs(ring_signed_area(r)) > 0.0


def crossings(px: np.ndarray, py: np.ndarray, ring: Ring) -> np.ndarray:
    """Ray-cast crossing counts of a +x ray from each point against one ring.

    Vectorized over points; loops over ring edges (rings are small relative to
    point batches). Strict inequalities give the half-open rule documented above.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    r = ensure_closed(np.asarray(ring, dtype=np.float64))
    cnt = np.zeros(px.shape, dtype=np.int64)
    for i in range(len(r) - 1):
        x1, y1 = r[i]
        x2, y2 = r[i + 1]
        if y1 == y2:
            continue
        spans = (y1 > py) != (y2 > py)
        if not spans.any():
            continue
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        cnt += (spans & (px < xint)).astype(np.int64)
    return cnt


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[Ring]) -> np.ndarray:
    """Even-odd containment of points in a polygon given as [shell, holes...].

    Even-odd over ALL rings handles holes with no shell/hole classification.
    """
    px = np.asarray(px, dtype=np.float64)
    total = np.zeros(px.shape, dtype=np.int64)
    for ring in rings:
        total += crossings(px, py, ring)
    return (total % 2) == 1


def point_on_ring_boundary(px: float, py: float, ring: Ring) -> bool:
    """True if the point lies on any segment of the ring (within BOUNDARY_EPS)."""
    eps = BOUNDARY_EPS
    r = ensure_closed(np.asarray(ring, dtype=np.float64))
    a, b = r[:-1], r[1:]
    d = b - a
    ap = np.array([px, py]) - a
    cross = d[:, 0] * ap[:, 1] - d[:, 1] * ap[:, 0]
    seg_len2 = np.einsum("ij,ij->i", d, d)
    t = np.where(seg_len2 > 0, np.einsum("ij,ij->i", ap, d) / np.where(seg_len2 == 0, 1, seg_len2), 0.0)
    on_line = np.abs(cross) <= eps * np.maximum(1.0, np.sqrt(seg_len2))
    # zero-length segments (consecutive duplicate vertices in un-deduped
    # input) pass cross==0 and t==0 vacuously, claiming EVERY point is on
    # the boundary (review r5) — for those the segment is a point, so the
    # test is point-to-vertex distance instead
    degen = seg_len2 <= 0.0
    if degen.any():
        dist2 = np.einsum("ij,ij->i", ap, ap)
        on_line = np.where(degen, dist2 <= eps * eps, on_line)
    return bool(np.any(on_line & (t >= -eps) & (t <= 1 + eps)))


def ring_contains_ring(outer: Ring, inner: Ring) -> bool:
    """Containment test for ring nesting (J3) — the ContainsRelationBuilder role.

    Uses the first inner vertex NOT on the outer boundary (robust to rings
    touching at a vertex, FIXTURES MP-04); if every vertex touches, falls back
    to the inner ring's vertex centroid.
    """
    inn = np.asarray(inner, dtype=np.float64)
    for vx, vy in inn[:-1] if np.array_equal(inn[0], inn[-1]) else inn:
        if not point_on_ring_boundary(vx, vy, outer):
            return bool(points_in_rings(np.asarray([vx]), np.asarray([vy]), [outer])[0])
    cx, cy = inn[:-1].mean(axis=0) if np.array_equal(inn[0], inn[-1]) else inn.mean(axis=0)
    return bool(points_in_rings(np.asarray([cx]), np.asarray([cy]), [outer])[0])


def canonical_ring(ring: Ring, ccw: bool = True) -> Ring:
    """Rotate a closed ring to start at its lexicographically smallest vertex
    and fix orientation — the shared canonical form (kernels.rings output
    stability + kernels.overlay role derivation both depend on it; one
    implementation so they can never drift).

    Orientation is fixed FIRST, then the start rotation chosen on the
    oriented cycle; when the minimum vertex occurs MORE THAN ONCE (a
    pinched/weakly-simple ring revisiting a vertex — legal OSM input), the
    rotation with the lexicographically smallest full sequence wins
    (review r5: picking the first tied index made the canonical form depend
    on the INPUT rotation, so two arrivals of the same cyclic ring keyed
    differently and A4 shell matching missed nondeterministically). For
    rings with a unique minimum vertex the output is byte-identical to the
    previous rotate-then-orient form."""
    closed = np.asarray(ring, dtype=np.float64)
    body = np.asarray(ensure_orientation(closed, ccw=ccw))[:-1]
    order = np.lexsort((body[:, 1], body[:, 0]))
    minv = body[int(order[0])]
    starts = np.nonzero((body[:, 0] == minv[0]) & (body[:, 1] == minv[1]))[0]
    if len(starts) == 1:
        start = int(starts[0])
    else:
        start = min(
            (int(s) for s in starts),
            key=lambda s: tuple(map(tuple, np.vstack([body[s:], body[:s]]))),
        )
    return np.vstack([body[start:], body[:start], body[start : start + 1]])


def rings_bbox(rings: list[Ring]) -> tuple[float, float, float, float]:
    pts = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


def polygon_area(rings: list[Ring]) -> float:
    """Area of one polygon [shell, hole, ...]: |shell| - sum(|holes|).

    The single shared definition (review r5: three hand-rolled copies in
    assemble/rings/generalize could drift independently — e.g. a future
    overlapping-hole clamp applied in one site only)."""
    return abs(ring_signed_area(rings[0])) - sum(
        abs(ring_signed_area(h)) for h in rings[1:]
    )


def polygons_area(polygons: list[list[Ring]]) -> float:
    """Total area of a multipolygon: sum of polygon_area per [shell, holes]."""
    return sum(polygon_area(p) for p in polygons)


EARTH_RADIUS_M = 6_371_008.8


def haversine_m(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray
) -> np.ndarray:
    """Great-circle distance in meters (kNN golden metric, FIXTURES §5)."""
    p1, p2 = np.radians(np.asarray(lat1, np.float64)), np.radians(np.asarray(lat2, np.float64))
    dp = p2 - p1
    dl = np.radians(np.asarray(lon2, np.float64) - np.asarray(lon1, np.float64))
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))
