"""Ring merging and multipolygon building — SURVEY.md A2/A3/A4, the engine core.

Reference analog (semantics, not code): imposm/multipolygon.py::merge_rings —
member ways sharing endpoints are stitched into closed rings, reversing ways as
needed, order/direction invariant; unclosed leftovers are dropped (counted) —
and imposm/multipolygon.py::ContainsRelationBuilder.build_relation_geometry —
rings sorted by |area| desc, nested by containment into shells and holes
(prepared-geometry `contains` in the reference; vectorized ray-cast here).
Tag inheritance: imposm/multipolygon.py::RelationBuilderBase.handle_tags — a
relation with no own interesting tags inherits the (largest) outer way's tags.

These run per relation group inside groupBy(rel_id).applyInArrow; each group is
small, so plain Python/NumPy loops here are batch-level, not row-level, work.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from . import geom


@dataclass
class MergeResult:
    rings: list[np.ndarray]  # closed, validity-filtered rings
    dropped_unclosed: int = 0
    dropped_invalid: int = 0


def _key(pt: np.ndarray) -> tuple[float, float]:
    return (float(pt[0]), float(pt[1]))


def merge_fragments(
    ways: list[np.ndarray],
) -> tuple[list[np.ndarray], list[np.ndarray], int]:
    """Partial ring merge: stitch fragments as far as endpoint connectivity
    allows, WITHOUT dropping unclosed leftovers.

    Returns (closed_rings, open_chains, dropped_invalid). This is the
    associative half of merge_rings (O10b): a chain emitted for a subset of
    the members is itself a valid input way for a later merge level, so
    mega-relations can be hash-chunked into bounded applyInArrow groups and
    hierarchically merged — the result is identical to a single-level merge
    whenever every stitch point joins exactly two fragments (the only case in
    which single-level merge_rings is itself order-invariant).
    """
    fragments: list[np.ndarray] = []
    closed: list[np.ndarray] = []
    dropped_invalid = 0

    for w in ways:
        arr = geom.dedup_consecutive(np.asarray(w, dtype=np.float64).reshape(-1, 2))
        if len(arr) < 2:
            dropped_invalid += 1
            continue
        if np.array_equal(arr[0], arr[-1]):
            closed.append(arr)
        else:
            fragments.append(arr)

    # endpoint -> fragment index (open fragments only)
    by_end: dict[tuple[float, float], list[int]] = {}
    frags: list[np.ndarray | None] = list(fragments)

    def register(i: int) -> None:
        f = frags[i]
        for pt in (f[0], f[-1]):
            by_end.setdefault(_key(pt), []).append(i)

    def unregister(i: int) -> None:
        f = frags[i]
        for pt in (f[0], f[-1]):
            lst = by_end.get(_key(pt), [])
            if i in lst:
                lst.remove(i)

    for i in range(len(frags)):
        register(i)

    chains: list[np.ndarray] = []
    for i in range(len(frags)):
        if frags[i] is None:
            continue
        cur = frags[i]
        unregister(i)
        frags[i] = None
        # grow `cur` until closed or stuck
        while not np.array_equal(cur[0], cur[-1]):
            cands = by_end.get(_key(cur[-1]), [])
            nxt = next((j for j in cands if frags[j] is not None), None)
            if nxt is None:
                # try extending from the head by reversing
                cands = by_end.get(_key(cur[0]), [])
                nxt = next((j for j in cands if frags[j] is not None), None)
                if nxt is None:
                    break
                cur = cur[::-1]
            f = frags[nxt]
            unregister(nxt)
            frags[nxt] = None
            if np.array_equal(f[0], cur[-1]):
                cur = np.vstack([cur, f[1:]])
            else:
                cur = np.vstack([cur, f[::-1][1:]])
        if np.array_equal(cur[0], cur[-1]):
            closed.append(cur)
        else:
            chains.append(cur)
    return closed, chains, dropped_invalid


def merge_rings(ways: list[np.ndarray]) -> MergeResult:
    """Stitch way coordinate arrays into closed rings by endpoint matching.

    Deterministic and invariant to member order and way direction: fragments are
    processed in input order, but closure only depends on endpoint connectivity,
    and every output ring is canonicalized (start at lexicographically smallest
    vertex, CCW) so downstream output is stable under permutation/reversal.
    Unclosed leftover chains are dropped (counted), matching the reference's
    incomplete-polygon handling (imposm/multipolygon.py::merge_rings).
    """
    closed, chains, dropped_invalid = merge_fragments(ways)
    dropped_unclosed = len(chains)

    rings: list[np.ndarray] = []
    for r in closed:
        if geom.ring_is_valid(r):
            rings.append(_canonical_ring(geom.ensure_closed(geom.dedup_consecutive(r))))
        else:
            dropped_invalid += 1
    return MergeResult(rings, dropped_unclosed, dropped_invalid)


def _canonical_ring(ring: np.ndarray, ccw: bool = True) -> np.ndarray:
    """Canonical rotation/orientation (geom.canonical_ring) — makes output
    rows identical under way order/direction permutation."""
    return geom.canonical_ring(ring, ccw=ccw)


@dataclass
class MultiPolygon:
    # each polygon = [shell(CCW), hole(CW), ...]
    polygons: list[list[np.ndarray]] = field(default_factory=list)
    dropped_unclosed: int = 0
    dropped_invalid: int = 0

    @property
    def area(self) -> float:
        return geom.polygons_area(self.polygons)


def build_multipolygon(merge: MergeResult) -> MultiPolygon:
    """Nest closed rings into shells/holes (the `contains` strategy, J3/O6).

    Rings sorted by |area| desc; a ring contained in an odd number of larger
    rings is a hole of its smallest containing shell, else a shell — the same
    asymptotic trick as the reference's area-sorted prepared-contains tests.
    Equal areas order by the ring's lexicographically smallest vertex (as
    build_multipolygon_union orders its output), so the output does not
    depend on the order the rings arrive in (chunked vs single-stage path).
    """

    def order(r: np.ndarray) -> tuple[float, float, float]:
        x, y = r[np.lexsort((r[:, 1], r[:, 0]))[0]]
        return (-abs(geom.ring_signed_area(r)), float(x), float(y))

    rings = sorted(merge.rings, key=order)
    shells: list[list[np.ndarray]] = []  # polygon ring lists
    placed: list[np.ndarray] = []  # all rings placed so far (area desc)
    placed_bbox: list[tuple[float, float, float, float]] = []
    shell_index: list[int | None] = []  # index into `shells` if ring is a shell

    def bbox(r: np.ndarray) -> tuple[float, float, float, float]:
        return (
            float(r[:, 0].min()), float(r[:, 1].min()),
            float(r[:, 0].max()), float(r[:, 1].max()),
        )

    for ring in rings:
        # bbox prefilter: bbox containment is NECESSARY for ring containment
        # (rings are disjoint-or-nested here), so the exact ray-cast runs
        # only against plausible containers — an archipelago relation with
        # 10^4 disjoint islands does ~R^2 float compares instead of R^2 full
        # point-in-polygon tests; output identical by construction
        rb = bbox(ring)
        containers = [
            k
            for k, outer in enumerate(placed)
            if placed_bbox[k][0] <= rb[0]
            and placed_bbox[k][1] <= rb[1]
            and placed_bbox[k][2] >= rb[2]
            and placed_bbox[k][3] >= rb[3]
            and geom.ring_contains_ring(outer, ring)
        ]
        if len(containers) % 2 == 0:  # even nesting depth -> new shell
            shells.append([geom.ensure_orientation(ring, ccw=True)])
            placed.append(ring)
            placed_bbox.append(rb)
            shell_index.append(len(shells) - 1)
        else:
            # hole of the smallest containing shell (area-sorted, so the last
            # containing SHELL is the innermost one)
            shell_containers = [k for k in containers if shell_index[k] is not None]
            if not shell_containers:
                # unreachable for disjoint-or-nested rings (the outermost
                # container of any odd chain is a shell), so reaching here
                # means CROSSING rings fooled the point-sample containment
                # test (e.g. a ring poking through a concave shell's notch,
                # classified as that shell's hole, containing a third ring
                # that sits in the notch). Salvage the ring as its own shell
                # — this kernel runs inside applyInArrow, where raising
                # would kill the whole stage for one malformed relation; the
                # `union` builder is the documented repair path for these.
                shells.append([geom.ensure_orientation(ring, ccw=True)])
                placed.append(ring)
                placed_bbox.append(rb)
                shell_index.append(len(shells) - 1)
                continue
            k = min(shell_containers, key=lambda k: abs(geom.ring_signed_area(placed[k])))
            shells[shell_index[k]].append(geom.ensure_orientation(ring, ccw=False))
            placed.append(ring)
            placed_bbox.append(rb)
            shell_index.append(None)
    return MultiPolygon(shells, merge.dropped_unclosed, merge.dropped_invalid)


def build_multipolygon_union(merge: MergeResult) -> MultiPolygon:
    """A3 `union` strategy (reference analog: imposm/multipolygon.py::
    UnionRelationBuilder, CLI --relation-builder=union): regions covered by
    more outer than inner rings survive, computed on the planar arrangement
    (kernels.overlay). Row-identical to build_multipolygon for properly
    nested input; tolerant of overlapping/crossing rings, which `contains`
    cannot nest. Output rings are canonicalized (min-vertex start, shells
    CCW / holes CW) and polygons ordered by area desc for stable rows.

    Cost envelope: segment splitting prunes by ring-bbox overlap (disjoint
    islands cost O(R^2) bbox tests + per-island local work), but the side
    classification still samples against every ring — the union strategy is
    the repair path for pathological nesting, not the bulk default;
    `contains` stays the default exactly as in the reference.

    Robustness: this runs inside applyInArrow, where one raising group kills
    the whole stage — an arrangement too degenerate to trace (snapping
    collapsed a needed vertex) falls back to the `contains` nesting for THAT
    relation instead of raising."""
    from . import overlay

    try:
        polys = overlay.union_rings(merge.rings)
    except ValueError:
        return build_multipolygon(merge)
    out: list[list[np.ndarray]] = []
    for ring_list in polys:
        shell = _canonical_ring(ring_list[0], ccw=True)
        holes = [_canonical_ring(h, ccw=False) for h in ring_list[1:]]
        holes.sort(key=lambda h: (-abs(geom.ring_signed_area(h)), h[0, 0], h[0, 1]))
        out.append([shell] + holes)
    out.sort(
        key=lambda rl: (-abs(geom.ring_signed_area(rl[0])), rl[0][0, 0], rl[0][0, 1])
    )
    return MultiPolygon(out, merge.dropped_unclosed, merge.dropped_invalid)


_UNINTERESTING = {"type", "name", "created_by", "source", "fixme"}


def inherit_tags(
    rel_tags: dict[str, str],
    outer_ways: list[tuple[float, dict[str, str]]],
) -> dict[str, str]:
    """A4: if the relation has no own interesting tags, inherit from the largest
    outer way; relation's own name/type survive either way."""
    interesting = {k: v for k, v in rel_tags.items() if k not in _UNINTERESTING}
    if interesting or not outer_ways:
        return dict(rel_tags)
    # tie-break equal areas by the tag dict's sorted items, NOT input order:
    # outer_ways arrives in unordered applyInArrow group order, so a plain
    # max() over a symmetric two-shell relation would flip the inherited
    # tags run to run (review r5 — violates the order-invariance rule)
    area, tags = max(
        outer_ways, key=lambda t: (t[0], sorted(t[1].items(), reverse=True))
    )
    merged = dict(tags)
    merged.update(rel_tags)  # relation's own keys (type/name) win
    return merged


def way_tags_subsumed(way_tags: dict[str, str], rel_tags: dict[str, str]) -> bool:
    """P4 exception check: a member way is suppressed unless it carries its own
    distinct interesting tags beyond what the relation already expresses."""
    extra = {
        k: v
        for k, v in way_tags.items()
        if k not in _UNINTERESTING and rel_tags.get(k) != v
    }
    return not extra
