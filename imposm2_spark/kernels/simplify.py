"""Douglas-Peucker line/ring simplification — SURVEY.md G6.

Reference analog: imposm2 emitted `CREATE TABLE ... AS SELECT ST_Simplify(geometry,
tolerance)` for generalized tables (imposm/mapping.py::GeneralizedTable +
imposm/db/postgis.py CTAS). PostGIS ST_Simplify is Douglas-Peucker; this is the
same published algorithm, iterative (explicit stack) and NumPy-vectorized per
segment so it batches well inside Arrow-chunk kernels.

Invariants (property-tested): output points are a subsequence of input points,
endpoints are preserved, max perpendicular deviation of dropped points <= tolerance.
"""

from __future__ import annotations

import numpy as np

# Fewest points (closure included) a simplified ring keeps before it counts
# as collapsed; read at call time.
MIN_RING_POINTS = 4


def dp_mask(points: np.ndarray, tolerance: float) -> np.ndarray:
    """Boolean keep-mask for Douglas-Peucker at `tolerance` (same units as coords)."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    if n <= 2:
        return keep
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        seg = pts[i0 + 1 : i1]
        a, b = pts[i0], pts[i1]
        d = b - a
        seg_len = np.hypot(d[0], d[1])
        if seg_len == 0.0:
            dist = np.hypot(seg[:, 0] - a[0], seg[:, 1] - a[1])
        else:
            dist = np.abs(d[0] * (a[1] - seg[:, 1]) - d[1] * (a[0] - seg[:, 0])) / seg_len
        imax = int(np.argmax(dist))
        if dist[imax] > tolerance:
            k = i0 + 1 + imax
            keep[k] = True
            stack.append((i0, k))
            stack.append((k, i1))
    return keep


def simplify_line(points: np.ndarray, tolerance: float) -> np.ndarray:
    """Simplify an open linestring; always keeps both endpoints."""
    pts = np.asarray(points, dtype=np.float64)
    return pts[dp_mask(pts, tolerance)]


def simplify_ring(ring: np.ndarray, tolerance: float) -> np.ndarray | None:
    """Simplify a closed ring (first == last). Returns None if the ring collapses
    below MIN_RING_POINTS (incl. closure) — caller drops it and counts the metric,
    matching the generalized-table WHERE-clause intent (tiny features vanish)."""
    r = np.asarray(ring, dtype=np.float64)
    closed = len(r) > 1 and np.array_equal(r[0], r[-1])
    # minimum-size check on the CLOSED form (review r5): an OPEN 3-point
    # triangle is the same valid ring as its 4-point closed twin and must
    # not be dropped while the closed spelling survives
    if len(r) + (0 if closed else 1) < 4:
        return None
    body = r if closed else np.vstack([r, r[:1]])
    out = body[dp_mask(body, tolerance)]
    if len(out) < MIN_RING_POINTS:
        return None
    return out
