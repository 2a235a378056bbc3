"""Kernel tests: area/orientation/PIP/boundary rules, haversine, simplify, WKB."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from imposm2_spark.kernels import geom, simplify, wkb

SQ = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
HOLE = np.array([[1.0, 1.0], [1.0, 2.0], [2.0, 2.0], [2.0, 1.0], [1.0, 1.0]])  # CW


def test_shoelace_sign_and_value():
    assert geom.ring_signed_area(SQ) == 16.0  # CCW positive
    assert geom.ring_signed_area(SQ[::-1]) == -16.0
    assert geom.ring_signed_area(HOLE) == -1.0


def test_orientation_normalize():
    assert geom.ring_is_ccw(geom.ensure_orientation(SQ[::-1], ccw=True))
    assert not geom.ring_is_ccw(geom.ensure_orientation(SQ, ccw=False))


def test_validity_filter():
    assert geom.ring_is_valid(SQ)
    assert not geom.ring_is_valid(np.array([[0, 0], [1, 1], [0, 0]], float))  # zero area
    assert not geom.ring_is_valid(np.array([[0, 0], [1, 0]], float))
    # degenerate MP-09: 3 distinct collinear points -> zero area
    assert not geom.ring_is_valid(np.array([[0, 0], [1, 1], [2, 2], [0, 0]], float))


def test_pip_half_open_rule():
    """FIXTURES §3: left/bottom edges inclusive, right/top exclusive —
    disjoint rectangle tilings never double-match."""
    px = np.array([2.0, 0.0, 4.0, 2.0, 2.0, 0.0, 4.0, 4.0, 0.0])
    py = np.array([2.0, 2.0, 2.0, 0.0, 4.0, 0.0, 4.0, 0.0, 4.0])
    inside = geom.points_in_rings(px, py, [SQ])
    #           mid   left  right bottom top  BL    TR    BR    TL
    expected = [True, True, False, True, False, True, False, False, False]
    assert inside.tolist() == expected
    # adjacent square sharing the right edge picks those points up exactly once
    sq2 = SQ + np.array([4.0, 0.0])
    inside2 = geom.points_in_rings(px, py, [sq2])
    for a, b, x, y in zip(inside, inside2, px, py):
        if 0 <= y < 4 and (x == 4.0):
            assert (a, b) == (False, True), (x, y)
            assert a != b or not a


def test_pip_with_hole_even_odd():
    px = np.array([1.5, 3.0, 0.5, 2.5])
    py = np.array([1.5, 3.0, 0.5, 2.5])
    inside = geom.points_in_rings(px, py, [SQ, HOLE])
    assert inside.tolist() == [False, True, True, True]


def test_ring_contains_ring_touching_vertex():
    # MP-04: inner touches outer at a single vertex, still a hole
    inner = np.array([[0.0, 0.0], [1.0, 0.5], [0.5, 1.0], [0.0, 0.0]])
    assert geom.ring_contains_ring(SQ, inner)
    outside = inner + np.array([10.0, 0.0])
    assert not geom.ring_contains_ring(SQ, outside)


def test_haversine_known_distance():
    # Berlin -> Paris ~ 878 km
    d = geom.haversine_m(np.r_[13.405], np.r_[52.52], np.r_[2.3522], np.r_[48.8566])
    assert 870_000 < d[0] < 890_000
    assert geom.haversine_m(np.r_[10.0], np.r_[50.0], np.r_[10.0], np.r_[50.0])[0] == 0.0


def test_simplify_collinear_drop():
    line = np.array([[0, 0], [1, 0.001], [2, 0], [3, 0.001], [4, 0]], float)
    out = simplify.simplify_line(line, 0.01)
    assert np.array_equal(out, line[[0, -1]])
    out2 = simplify.simplify_line(line, 0.0001)
    assert len(out2) == 5


def test_simplify_ring_collapse_returns_none():
    assert simplify.simplify_ring(SQ, tolerance=1.0) is not None  # corners survive DP
    assert simplify.simplify_ring(SQ, tolerance=10.0) is None  # whole ring collapses
    tiny = np.array([[0, 0], [1e-9, 0], [1e-9, 1e-9], [0, 0]], float)
    assert simplify.simplify_ring(tiny, tolerance=1.0) is None


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.floats(-1e3, 1e3), st.floats(-1e3, 1e3)), min_size=2, max_size=60
    ),
    st.floats(0, 100),
)
def test_prop_simplify_subsequence_and_error(pts, tol):
    line = np.asarray(pts, float)
    out = simplify.simplify_line(line, tol)
    # endpoints preserved
    assert np.array_equal(out[0], line[0]) and np.array_equal(out[-1], line[-1])
    # subsequence of input
    i = 0
    for p in out:
        while i < len(line) and not np.array_equal(line[i], p):
            i += 1
        assert i < len(line)
        i += 1
    # dropped points are within tol of the simplified polyline
    mask = simplify.dp_mask(line, tol)
    kept_idx = np.flatnonzero(mask)
    for a, b in zip(kept_idx[:-1], kept_idx[1:]):
        seg = line[a + 1 : b]
        if len(seg) == 0:
            continue
        d = line[b] - line[a]
        ln = np.hypot(*d)
        if ln == 0:
            dist = np.hypot(seg[:, 0] - line[a, 0], seg[:, 1] - line[a, 1])
        else:
            dist = np.abs(d[0] * (line[a, 1] - seg[:, 1]) - d[1] * (line[a, 0] - seg[:, 0])) / ln
        assert np.all(dist <= tol + 1e-9)


def test_wkb_roundtrip():
    t, (x, y) = wkb.parse_wkb(wkb.point_wkb(13.4, 52.5))
    assert (t, x, y) == (wkb.WKB_POINT, 13.4, 52.5)
    line = np.array([[0, 0], [1, 2], [3, 4]], float)
    t, arr = wkb.parse_wkb(wkb.linestring_wkb(line))
    assert t == wkb.WKB_LINESTRING and np.array_equal(arr, line)
    t, rings = wkb.parse_wkb(wkb.polygon_wkb([SQ, HOLE]))
    assert t == wkb.WKB_POLYGON and len(rings) == 2
    assert np.array_equal(rings[0], SQ) and np.array_equal(rings[1], HOLE)
    t, polys = wkb.parse_wkb(wkb.multipolygon_wkb([[SQ, HOLE], [SQ + 10.0]]))
    assert t == wkb.WKB_MULTIPOLYGON and len(polys) == 2
    assert np.array_equal(polys[1][0], SQ + 10.0)


def test_nested_roundtrip():
    """coords_rows reads rings and point lists out of Arrow as (N,2)
    float64 views: NULL rows as [], NULL doubles as NaN, sliced arrays at
    their own offset, and one more list level per deeper nesting."""
    import pyarrow as pa

    rings = pa.array([None, [SQ.tolist(), HOLE.tolist()], [], [[[1.0, None]]]])
    back = wkb.coords_rows(rings)
    assert back[0] == [] and back[2] == []
    assert np.array_equal(back[1][0], SQ) and np.array_equal(back[1][1], HOLE)
    assert back[1][0].dtype == np.float64 and back[1][0].shape == SQ.shape
    assert np.isnan(back[3][0][0, 1])
    sliced = wkb.coords_rows(rings.slice(1, 2))
    assert len(sliced) == 2 and np.array_equal(sliced[0][1], HOLE) and sliced[1] == []
    lines = wkb.coords_rows(pa.array([SQ.tolist(), None]))
    assert np.array_equal(lines[0], SQ) and lines[1].shape == (0, 2)
    polys = wkb.coords_rows(pa.chunked_array([pa.array([[[SQ.tolist()], [HOLE.tolist()]]])]))
    assert np.array_equal(polys[0][1][0], HOLE)


@settings(max_examples=100, deadline=None)
@given(
    px=st.floats(-20, 20),
    py=st.floats(-20, 20),
)
def test_prop_pip_matches_rectangle_arithmetic(px, py):
    """PIP ray-cast == direct half-open bbox arithmetic on rectangles."""
    inside = geom.points_in_rings(np.r_[px], np.r_[py], [SQ])[0]
    assert inside == (0.0 <= px < 4.0 and 0.0 <= py < 4.0)


def test_boundary_test_tolerates_duplicate_vertices():
    """Review r5: a zero-length segment (consecutive duplicate vertex, common
    in raw OSM ways) made point_on_ring_boundary claim EVERY point is on the
    boundary (cross=0, t=0 pass vacuously), which sent ring_contains_ring to
    its centroid fallback and mis-nested concave shells."""
    sq_dup = np.array(
        [[0.0, 0.0], [10.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]
    )
    assert not geom.point_on_ring_boundary(100.0, 100.0, sq_dup)
    assert geom.point_on_ring_boundary(5.0, 0.0, sq_dup)
    assert geom.point_on_ring_boundary(10.0, 0.0, sq_dup)  # the dup vertex itself
    # L-shaped outer with a duplicate vertex; L-shaped inner hugging the
    # corner, fully inside, but with its VERTEX CENTROID (~3.33, ~3.33) in
    # the concave notch OUTSIDE the outer ring — pre-fix, every inner vertex
    # "touched" the boundary, the centroid fallback fired, and containment
    # came back False
    outer = np.array(
        [[0.0, 0.0], [10.0, 0.0], [10.0, 1.0], [2.0, 1.0], [2.0, 1.0],
         [2.0, 10.0], [0.0, 10.0], [0.0, 0.0]]
    )
    inner = np.array(
        [[0.25, 0.25], [9.0, 0.25], [9.0, 0.75], [0.75, 0.75],
         [0.75, 9.0], [0.25, 9.0], [0.25, 0.25]]
    )
    assert geom.ring_contains_ring(outer, inner)


def test_simplify_ring_open_equals_closed():
    """Review r5: a 3-point OPEN triangle is the same ring as its 4-point
    closed spelling and must simplify identically, not be dropped."""
    open_tri = np.array([[0.0, 0.0], [4.0, 0.0], [0.0, 4.0]])
    closed_tri = np.vstack([open_tri, open_tri[:1]])
    got_open = simplify.simplify_ring(open_tri, 0.1)
    got_closed = simplify.simplify_ring(closed_tri, 0.1)
    assert got_open is not None and got_closed is not None
    assert np.array_equal(got_open, got_closed)


def test_polygons_area_shared_kernel():
    """polygon_area/polygons_area: |shell| - sum(|holes|), orientation-blind."""
    shell = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])
    hole = np.array([[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0], [2.0, 2.0]])
    assert geom.polygon_area([shell, hole]) == 96.0
    assert geom.polygons_area([[shell, hole], [shell]]) == 196.0


def test_canonical_ring_rotation_invariant_with_repeated_min_vertex():
    """Review r5: a pinched ring revisiting its minimum vertex (legal OSM)
    must canonicalize identically from EVERY input rotation — pre-fix the
    first tied index won, so the canonical form depended on arrival
    rotation and A4 shell-key matching missed nondeterministically."""
    import numpy as np

    from imposm2_spark.kernels.geom import canonical_ring

    cycle = [(0.0, 0.0), (2.0, 0.0), (2.0, 1.0), (0.0, 0.0), (1.0, 2.0), (0.0, 2.0)]
    forms = set()
    for s in range(len(cycle)):
        rot = cycle[s:] + cycle[:s]
        closed = np.asarray(rot + [rot[0]], dtype=np.float64)
        forms.add(canonical_ring(closed, ccw=True).tobytes())
        # reversal (opposite winding) must land on the same canonical form
        forms.add(canonical_ring(closed[::-1].copy(), ccw=True).tobytes())
    assert len(forms) == 1, len(forms)


def test_canonical_ring_unique_min_vertex_unchanged():
    """The common case (unique minimum vertex) keeps the exact historical
    byte form — orientation-then-rotate equals rotate-then-orient there, so
    checkpoint fingerprints and shell keys do not churn."""
    import numpy as np

    from imposm2_spark.kernels.geom import canonical_ring

    ring = np.asarray(
        [(1.0, 1.0), (3.0, 0.5), (4.0, 2.0), (2.0, 3.0), (1.0, 1.0)]
    )
    got = canonical_ring(ring, ccw=True)
    assert tuple(got[0]) == (1.0, 1.0)
    # CCW winding, starting at the lexicographic minimum
    x, y = got[:-1, 0], got[:-1, 1]
    area2 = float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))
    assert area2 > 0
