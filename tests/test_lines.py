"""J11 linestring merge: degree-2 stitch rule, canonical geometry, guards.

The driver row `merge_lines_roads` pins components + rollups against the
recursive-CTE oracle at sf scale; these tests pin the SEMANTICS on hand
fixtures — junction breaks, loop closure, order/direction invariance of the
stitched geometry, and the loud-failure guards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from imposm2_spark.operators import lines
from imposm2_spark.operators.lines import (
    merge_line_geometries,
    merge_lines,
    stitch_pairs,
)

# A hand street network ("main"):
#   s1: (0,0)-(1,0)   s2: (1,0)-(2,0)   s3: (2,0)-(3,0)   chain s1-s2-s3
#   s4: (2,0)-(2,1)   spur at (2,0) -> that endpoint has degree 3, so s2|s3
#                     must NOT stitch there; s4 is isolated
#   s5: (9,9)-(9,8)   isolated segment
# and a 3-segment LOOP on "ring": (0,0)->(1,0)->(0,1)->(0,0).
MAIN = [
    (1, "main", [0.0, 1.0], [0.0, 0.0]),
    (2, "main", [1.0, 2.0], [0.0, 0.0]),
    (3, "main", [2.0, 3.0], [0.0, 0.0]),
    (4, "main", [2.0, 2.0], [0.0, 1.0]),
    (5, "main", [9.0, 9.0], [9.0, 8.0]),
]
RING = [
    (11, "ring", [0.0, 1.0], [0.0, 0.0]),
    (12, "ring", [1.0, 0.0], [0.0, 1.0]),
    (13, "ring", [0.0, 0.0], [1.0, 0.0]),
]
SCHEMA = "seg_id long, name string, xs array<double>, ys array<double>"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_junction_breaks_chain_and_rollup(spark):
    out = {
        (r.name, r.merged_id): (r.n_segments, r.total_len)
        for r in merge_lines(_df(spark, MAIN)).collect()
    }
    # degree at (2,0) is 3 (s2 end, s3 start, s4 start) -> s2+s3 don't
    # stitch; s1+s2 share (1,0) at degree 2 -> one 2-segment component
    assert out == {
        ("main", 1): (2, 2.0),
        ("main", 3): (1, 1.0),
        ("main", 4): (1, 1.0),
        ("main", 5): (1, 1.0),
    }


def test_loop_closes_and_is_canonical(spark):
    rows = merge_line_geometries(_df(spark, RING)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.closed and r.merged_id == 11 and r.n_segments == 3
    pts = list(zip(r.xs, r.ys))
    # canonical ring: closed, starts at the smallest vertex, CCW
    assert pts[0] == pts[-1] == (0.0, 0.0)
    area2 = sum(
        pts[i][0] * pts[i + 1][1] - pts[i + 1][0] * pts[i][1]
        for i in range(len(pts) - 1)
    )
    assert area2 > 0


@pytest.mark.parametrize("perm", [[0, 1, 2, 3, 4], [4, 2, 0, 3, 1]])
@pytest.mark.parametrize("reverse", [False, True])
def test_geometry_invariant_to_order_and_direction(spark, perm, reverse):
    rows = [MAIN[i] for i in perm]
    if reverse:
        rows = [(i, n, xs[::-1], ys[::-1]) for i, n, xs, ys in rows]
    got = sorted(
        (r.merged_id, r.closed, tuple(r.xs), tuple(r.ys))
        for r in merge_line_geometries(_df(spark, rows)).collect()
    )
    base = sorted(
        (r.merged_id, r.closed, tuple(r.xs), tuple(r.ys))
        for r in merge_line_geometries(_df(spark, MAIN)).collect()
    )
    assert got == base


def test_groups_isolate_identical_coords(spark):
    # identical coordinates under DIFFERENT attribute values never stitch
    rows = [(1, "a", [0.0, 1.0], [0.0, 0.0]), (2, "b", [1.0, 2.0], [0.0, 0.0])]
    assert stitch_pairs(_df(spark, rows)).count() == 0


def test_shared_both_endpoints_single_pair(spark):
    # two segments forming a 2-gon share BOTH endpoints: one pair, a loop
    rows = [
        (1, "m", [0.0, 1.0], [0.0, 0.0]),
        (2, "m", [1.0, 0.0], [0.0, 0.0]),
    ]
    pairs = stitch_pairs(_df(spark, rows)).collect()
    assert [(p.a, p.b) for p in pairs] == [(1, 2)]
    geo = merge_line_geometries(_df(spark, rows)).collect()
    assert len(geo) == 1 and geo[0].closed


def test_component_cap_raises(spark, monkeypatch):
    monkeypatch.setattr(lines, "MAX_COMPONENT_SEGMENTS", 1)
    with pytest.raises(Exception, match="MAX_COMPONENT_SEGMENTS"):
        merge_line_geometries(_df(spark, MAIN)).collect()


def test_quantum_match_raw_mismatch_raises(spark):
    # endpoint keys collide at quantum resolution but raw coords differ:
    # the stitch kernel (exact-equality matching) can't merge — loud error,
    # never a silently broken geometry
    rows = [
        (1, "m", [0.0, 1.0], [0.0, 0.0]),
        (2, "m", [1.0 + 1e-9, 2.0], [0.0, 0.0]),
    ]
    with pytest.raises(Exception, match="stitched to"):
        merge_line_geometries(_df(spark, rows)).collect()


def test_rollup_matches_geometry_components(spark):
    roll = merge_lines(_df(spark, MAIN + RING))
    geo = merge_line_geometries(_df(spark, MAIN + RING))
    a = sorted((r.name, r.merged_id, r.n_segments) for r in roll.collect())
    b = sorted((r.name, r.merged_id, r.n_segments) for r in geo.collect())
    assert a == b


def test_degenerate_segment_rollup_vs_geometry(spark):
    # a <2-distinct-point segment: no valid linestring (G2), so the
    # geometry path emits nothing; the rollup path still counts it
    rows = [(7, "z", [5.0, 5.0], [3.0, 3.0])]
    roll = merge_lines(_df(spark, rows)).collect()
    assert [(r.merged_id, r.n_segments, r.total_len) for r in roll] == [(7, 1, 0.0)]
    assert merge_line_geometries(_df(spark, rows)).count() == 0


def test_empty_coords_segment_safe(spark):
    # empty coordinate arrays must not crash the length fold (slice guard)
    rows = [(1, "e", [], []), (2, "e", [0.0, 1.0], [0.0, 0.0])]
    got = {r.merged_id: r.total_len for r in merge_lines(_df(spark, rows)).collect()}
    assert got == {1: 0.0, 2: 1.0}


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 1),                # group
                st.integers(0, 5), st.integers(0, 5),   # start vertex
                st.integers(0, 5), st.integers(0, 5),   # end vertex
            ),
            min_size=1,
            max_size=12,
        )
    )
    def test_rollup_conservation_fuzz(spark, segs):
        # random small street graphs on an integer grid: the rollup must
        # conserve segment count and total length exactly, merged ids must
        # be member minima, and no component may span groups
        rows = [
            (i, f"g{g}", [float(x0), float(x1)], [float(y0), float(y1)])
            for i, (g, x0, y0, x1, y1) in enumerate(segs)
        ]
        out = merge_lines(_df(spark, rows)).collect()
        assert sum(r.n_segments for r in out) == len(rows)
        import math

        exp_len = sum(
            math.hypot(x1 - x0, y1 - y0) for _g, x0, y0, x1, y1 in segs
        )
        assert abs(sum(r.total_len for r in out) - exp_len) < 1e-3 * max(len(rows), 1)
        for r in out:
            assert r.merged_id in {i for i, row in enumerate(rows) if row[1] == r.name}
