"""Planar-arrangement overlay: boolean region extraction over sets of rings.

The shared kernel behind two SURVEY.md items that previously diverged from the
reference by design:

* **A3 `union` relation-builder strategy** (reference analog:
  imposm/multipolygon.py::UnionRelationBuilder, the `--relation-builder=union`
  CLI path) — tolerant of rings that overlap or cross: every region covered by
  more outer rings than inner rings is part of the result. For valid,
  properly-nested input this is row-identical to the `contains` builder
  (kernels.rings.build_multipolygon); it differs exactly where `contains` is
  undefined (crossing/overlapping rings), which is the reason the reference
  ships the second strategy at all.
* **G5 buffer(0)-equivalent repair** (reference analog: imposm/geom.py
  validate path) — a self-intersecting ring is rebuilt from its linework
  under the even-odd rule, the publicly documented semantics of PostGIS
  ``ST_MakeValid(..., method=linework)``. A bowtie becomes two triangles;
  overlapping lobes cancel.

Algorithm (pure NumPy, no GEOS — deterministic by construction):

1. split every ring segment at every intersection with every other segment
   (vectorized pairwise parametric intersection, collinear overlaps included),
   snapping coordinates to a fixed 1e-9 grid;
2. dedupe the split edges into an undirected planar graph;
3. classify the two sides of every edge by sampling a point a safe distance
   delta off the edge midpoint (delta = a quarter of the distance to the
   nearest other edge) and ray-casting it against the ORIGINAL rings;
4. keep the directed edges whose left side is "in" and right side is "out"
   under the requested rule (even-odd, or outer-minus-inner for the union
   builder);
5. re-trace closed rings from the kept directed edges with the standard
   rotational-successor rule (interior on the left: shells come out CCW,
   holes CW), then nest holes into their smallest containing shell.

Everything is per-relation-group work inside applyInArrow — inputs are small,
so the O(E^2) split/distance steps are vectorized batch work, not a scale
concern (the groups are bounded by assemble.MAX_MEMBERS_PER_GROUP upstream).
"""

from __future__ import annotations

import math

import numpy as np

from . import geom

_SNAP_DECIMALS = 9
_EPS = 1e-9


def _snap(v: float) -> float:
    return round(float(v), _SNAP_DECIMALS) + 0.0  # +0.0 normalizes -0.0


def _collect_segments(rings: list[np.ndarray]):
    """-> (segments, ring_id per segment). Coordinates snapped to the grid."""
    segs = []
    ring_ids = []
    for k, ring in enumerate(rings):
        r = geom.dedup_consecutive(geom.ensure_closed(np.asarray(ring, dtype=np.float64)))
        for i in range(len(r) - 1):
            a = (_snap(r[i, 0]), _snap(r[i, 1]))
            b = (_snap(r[i + 1, 0]), _snap(r[i + 1, 1]))
            if a != b:
                segs.append((a, b))
                ring_ids.append(k)
    return segs, ring_ids


def _ring_overlap_matrix(rings: list[np.ndarray]) -> np.ndarray:
    """(R, R) bool: do the rings' bboxes overlap (touching counts)? The
    pairwise split below skips segment pairs from non-overlapping rings —
    disjoint islands (the common many-ring relation shape) then cost
    O(R^2) bbox tests + per-island local work instead of global O(S^2)."""
    boxes = np.asarray(
        [
            [r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()]
            for r in (np.asarray(x, dtype=np.float64) for x in rings)
        ]
    )
    # pad by the snap tolerance: the split kernel works on grid-snapped
    # coordinates, so raw-coordinate bboxes separated by less than the grid
    # can still intersect after snapping — an unpadded test would prune a
    # genuinely-needed split and break the boundary trace
    pad = 2 * 10.0 ** (-_SNAP_DECIMALS)
    x0, y0, x1, y1 = boxes[:, 0] - pad, boxes[:, 1] - pad, boxes[:, 2] + pad, boxes[:, 3] + pad
    ox = (x0[:, None] <= x1[None, :]) & (x0[None, :] <= x1[:, None])
    oy = (y0[:, None] <= y1[None, :]) & (y0[None, :] <= y1[:, None])
    return ox & oy


def _split_segments(segs, ring_ids=None, ring_overlap=None):
    """Split segments at all pairwise intersections (proper crossings,
    T-junctions, collinear overlaps). Returns deduped undirected edges as
    ((ax,ay),(bx,by)) with a < b lexicographically.

    ring_ids/ring_overlap (optional): per-segment ring index and the ring
    bbox-overlap matrix — segment pairs whose rings cannot touch are skipped
    wholesale (same-ring pairs always tested)."""
    n = len(segs)
    if n == 0:
        return []
    A = np.asarray([s[0] for s in segs], dtype=np.float64)
    B = np.asarray([s[1] for s in segs], dtype=np.float64)
    R = B - A
    cuts: list[set[float]] = [{0.0, 1.0} for _ in range(n)]
    rid = np.asarray(ring_ids, dtype=np.int64) if ring_ids is not None else None

    for i in range(n - 1):
        if rid is not None:
            cand = np.nonzero(ring_overlap[rid[i]][rid[i + 1 :]])[0]
            if len(cand) == 0:
                continue
        else:
            cand = np.arange(n - i - 1)
        p = A[i]
        r = R[i]
        q = A[i + 1 :][cand]
        s = R[i + 1 :][cand]
        qp = q - p
        denom = r[0] * s[:, 1] - r[1] * s[:, 0]
        t_num = qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]
        u_num = qp[:, 0] * r[1] - qp[:, 1] * r[0]
        nonpar = np.abs(denom) > 1e-15
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(nonpar, t_num / np.where(denom == 0, 1.0, denom), np.nan)
            u = np.where(nonpar, u_num / np.where(denom == 0, 1.0, denom), np.nan)
        hit = nonpar & (t >= -_EPS) & (t <= 1 + _EPS) & (u >= -_EPS) & (u <= 1 + _EPS)
        for k in np.nonzero(hit)[0]:
            j = i + 1 + int(cand[k])
            cuts[i].add(min(1.0, max(0.0, float(t[k]))))
            cuts[j].add(min(1.0, max(0.0, float(u[k]))))
        # collinear overlap: denom ~ 0 and q-p parallel to r; tolerance is
        # PER-PAIR (|qp_k|-scaled) — a global max would let one far candidate
        # inflate the threshold and misclassify near-parallel offset pairs
        _tol = 1e-12 * np.maximum(1.0, np.abs(qp).max(axis=1, initial=1.0))
        coll = (~nonpar) & (np.abs(u_num) <= _tol)
        if coll.any():
            rr = float(r @ r)
            for k in np.nonzero(coll)[0]:
                j = i + 1 + int(cand[k])
                t0 = float((q[k] - p) @ r) / rr
                t1 = float((q[k] + s[k] - p) @ r) / rr
                for t_ in (t0, t1):
                    if -_EPS < t_ < 1 + _EPS:
                        cuts[i].add(min(1.0, max(0.0, t_)))
                ss = float(s[k] @ s[k])
                u0 = float((p - q[k]) @ s[k]) / ss
                u1 = float((p + r - q[k]) @ s[k]) / ss
                for u_ in (u0, u1):
                    if -_EPS < u_ < 1 + _EPS:
                        cuts[j].add(min(1.0, max(0.0, u_)))

    edges: dict[tuple, None] = {}
    for i in range(n):
        ts = sorted(cuts[i])
        p, r = A[i], R[i]
        pts = [(_snap(p[0] + t * r[0]), _snap(p[1] + t * r[1])) for t in ts]
        for a, b in zip(pts, pts[1:]):
            if a == b:
                continue
            key = (a, b) if a < b else (b, a)
            edges[key] = None
    return list(edges.keys())


def _point_segment_dist2(pts: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared distance from each point to one segment (vectorized over pts)."""
    d = b - a
    len2 = float(d @ d)
    ap = pts - a
    t = np.clip((ap @ d) / (len2 if len2 > 0 else 1.0), 0.0, 1.0)
    proj = a + t[:, None] * d
    diff = pts - proj
    return np.einsum("ij,ij->i", diff, diff)


def _sample_points(edges):
    """For each undirected edge, a (left, right) sample-point pair offset a
    safe delta from the midpoint — delta = 1/4 of min(distance to any other
    edge, edge length), so samples sit strictly inside their faces."""
    E = len(edges)
    Aa = np.asarray([e[0] for e in edges], dtype=np.float64)
    Bb = np.asarray([e[1] for e in edges], dtype=np.float64)
    M = (Aa + Bb) / 2.0
    D = Bb - Aa
    lens = np.sqrt(np.einsum("ij,ij->i", D, D))
    mind2 = np.full(E, np.inf)
    for j in range(E):
        d2 = _point_segment_dist2(M, Aa[j], Bb[j])
        d2[j] = np.inf
        mind2 = np.minimum(mind2, d2)
    delta = 0.25 * np.minimum(np.sqrt(mind2), lens)
    delta = np.where(np.isfinite(delta) & (delta > 0), delta, 0.25 * lens)
    nL = np.stack([-D[:, 1], D[:, 0]], axis=1) / lens[:, None]
    left = M + delta[:, None] * nL
    right = M - delta[:, None] * nL
    return left, right


def _inside_matrix(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """(n_rings, n_points) even-odd containment of points per input ring."""
    out = np.zeros((len(rings), len(px)), dtype=bool)
    for k, ring in enumerate(rings):
        out[k] = geom.crossings(px, py, ring) % 2 == 1
    return out


def _trace_rings(directed):
    """Trace closed rings from directed boundary edges (interior on the left)
    with the rotational-successor rule; returns list of closed (N,2) arrays."""
    out_at: dict[tuple, list[tuple]] = {}
    for u, v in directed:
        out_at.setdefault(u, []).append(v)
    for u in out_at:
        out_at[u].sort(key=lambda w: math.atan2(w[1] - u[1], w[0] - u[0]))

    def successor(u, v):
        th = math.atan2(u[1] - v[1], u[0] - v[0])
        cands = out_at.get(v, [])
        if not cands:
            raise ValueError("open boundary: no outgoing edge at %r" % (v,))
        # clockwise-next from th (exclusive): largest angle strictly below th,
        # wrapping to the global largest
        best, best_th = None, None
        fallback, fallback_th = None, None
        for w in cands:
            a = math.atan2(w[1] - v[1], w[0] - v[0])
            if a < th - 1e-15 and (best_th is None or a > best_th):
                best, best_th = w, a
            if fallback_th is None or a > fallback_th:
                fallback, fallback_th = w, a
        nxt = best if best is not None else fallback
        return (v, nxt)

    succ = {}
    for e in directed:
        succ[e] = successor(*e)

    rings = []
    unused = set(directed)
    for start in sorted(unused):
        if start not in unused:
            continue
        cycle = [start]
        unused.discard(start)
        cur = succ[start]
        while cur != start:
            if cur not in unused:
                raise ValueError("boundary trace revisited edge %r" % (cur,))
            unused.discard(cur)
            cycle.append(cur)
            cur = succ[cur]
        pts = np.asarray([e[0] for e in cycle] + [cycle[0][0]], dtype=np.float64)
        rings.append(pts)
    return rings


def _nest(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Nest traced boundary rings (shells CCW+, holes CW-) into polygons;
    result regions are disjoint so plain containment assignment is exact."""
    shells = [r for r in rings if geom.ring_signed_area(r) > 0]
    holes = [r for r in rings if geom.ring_signed_area(r) <= 0]
    shells.sort(key=lambda r: -abs(geom.ring_signed_area(r)))
    polys: list[list[np.ndarray]] = [[geom.ensure_orientation(s, ccw=True)] for s in shells]
    for h in holes:
        containers = [
            i for i, s in enumerate(shells) if geom.ring_contains_ring(s, h)
        ]
        if not containers:
            raise ValueError("hole ring with no containing shell")
        i = min(containers, key=lambda i: abs(geom.ring_signed_area(shells[i])))
        polys[i].append(geom.ensure_orientation(h, ccw=False))
    return polys


def overlay(rings: list[np.ndarray], keep_weights: list[int] | None = None) -> list[list[np.ndarray]]:
    """Extract the region defined by the input rings as clean polygons.

    keep_weights=None -> even-odd rule (a point is in iff it is inside an odd
    number of rings). Otherwise keep_weights[i] in {+1,-1} per ring and a
    point is in iff sum(w_i * inside_i) > 0 (the union-builder rule).
    Returns polygons as [shell(CCW), hole(CW), ...] lists; [] if empty.
    """
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    if not rings:
        return []
    segs, ring_ids = _collect_segments(rings)
    edges = _split_segments(segs, ring_ids, _ring_overlap_matrix(rings))
    if not edges:
        return []
    left, right = _sample_points(edges)
    px = np.concatenate([left[:, 0], right[:, 0]])
    py = np.concatenate([left[:, 1], right[:, 1]])
    inside = _inside_matrix(px, py, rings)
    if keep_weights is None:
        keep = inside.sum(axis=0) % 2 == 1
    else:
        w = np.asarray(keep_weights, dtype=np.int64)[:, None]
        keep = (w * inside).sum(axis=0) > 0
    E = len(edges)
    keep_l, keep_r = keep[:E], keep[E:]
    directed = []
    for i, (a, b) in enumerate(edges):
        if keep_l[i] and not keep_r[i]:
            directed.append((a, b))
        elif keep_r[i] and not keep_l[i]:
            directed.append((b, a))
    if not directed:
        return []
    return _nest(_trace_rings(directed))


def _canonicalize(ring: np.ndarray) -> np.ndarray:
    """Dedup/close then canonical rotation+CCW (geom.canonical_ring) — so
    interior-point derivation is invariant to input rotation/direction."""
    r = geom.dedup_consecutive(geom.ensure_closed(np.asarray(ring, dtype=np.float64)))
    return geom.canonical_ring(r, ccw=True)


def _point_to_segments_dist2(p: np.ndarray, A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Squared distance from ONE point to each segment A[k]->B[k] — the
    transpose of _point_segment_dist2, vectorized over segments (ADVICE r3:
    the per-edge pure-Python scan here was the O(R * E_total^2) hot spot)."""
    d = B - A
    len2 = np.einsum("ij,ij->i", d, d)
    ap = p[None, :] - A
    t = np.clip(
        np.einsum("ij,ij->i", ap, d) / np.where(len2 > 0, len2, 1.0), 0.0, 1.0
    )
    proj = A + t[:, None] * d
    diff = p[None, :] - proj
    return np.einsum("ij,ij->i", diff, diff)


def _interior_point(ring: np.ndarray, others: list[np.ndarray] | None = None) -> tuple[float, float]:
    """A point strictly inside (even-odd) a possibly self-intersecting ring
    and strictly OFF every ring in `others` — the canonical interior sample.

    Scans the canonical ring's edges in order; for each edge midpoint, offsets
    by 1/4 of the distance to the nearest non-incident edge (own and others'),
    skipping edges whose midpoint sits on another ring's boundary (delta 0);
    first odd-parity candidate wins. Deterministic and rotation/direction
    invariant, which makes union-builder roles well-defined even for rings
    that cross each other (an engine-defined choice; documented in SURVEY
    App. B — no GEOS reference semantics exist for crossing rings).

    Scale shape (ADVICE r3): other rings are bbox-prefiltered — a candidate's
    search radius is bounded by its own edge length <= max_ln, so any ring
    whose bbox clears this ring's bbox inflated by max_ln can never lower
    `best` and is dropped EXACTLY; the per-edge distance scans are single
    NumPy batches (own edges + surviving others' edges), not Python loops."""
    r = _canonicalize(ring)
    own_a, own_b = r[:-1], r[1:]
    edge_d = own_b - own_a
    edge_len = np.hypot(edge_d[:, 0], edge_d[:, 1])
    max_ln = float(edge_len.max()) if len(edge_len) else 0.0
    x0 = float(r[:, 0].min()) - max_ln
    x1 = float(r[:, 0].max()) + max_ln
    y0 = float(r[:, 1].min()) - max_ln
    y1 = float(r[:, 1].max()) + max_ln
    oa_parts: list[np.ndarray] = []
    ob_parts: list[np.ndarray] = []
    for o in others or []:
        oraw = np.asarray(o, dtype=np.float64)
        if len(oraw) < 2:
            continue
        # bbox test BEFORE canonicalization (close/dedup never change the
        # bbox): pruned rings cost one min/max scan, nothing else
        if (
            oraw[:, 0].max() < x0 or oraw[:, 0].min() > x1
            or oraw[:, 1].max() < y0 or oraw[:, 1].min() > y1
        ):
            continue  # farther than any candidate search radius: prune exactly
        oc = geom.dedup_consecutive(geom.ensure_closed(oraw))
        if len(oc) < 2:
            continue
        oa_parts.append(oc[:-1])
        ob_parts.append(oc[1:])
    if oa_parts:
        OA = np.concatenate(oa_parts)
        OB = np.concatenate(ob_parts)
    else:
        OA = OB = np.empty((0, 2), dtype=np.float64)

    for e in range(len(r) - 1):
        ln = float(edge_len[e])
        if ln == 0:
            continue
        m = (own_a[e] + own_b[e]) / 2.0
        best2 = ln * ln
        if len(r) > 2:
            d2_own = _point_to_segments_dist2(m, own_a, own_b)
            d2_own[e] = np.inf  # the incident edge itself
            best2 = min(best2, float(d2_own.min()))
        if len(OA):
            best2 = min(best2, float(_point_to_segments_dist2(m, OA, OB).min()))
        delta = 0.25 * math.sqrt(best2)
        if delta <= 10.0 ** (-_SNAP_DECIMALS):
            continue  # midpoint effectively on another boundary: ambiguous edge
        d = edge_d[e]
        nL = (-d[1] / ln, d[0] / ln)
        for sgn in (1.0, -1.0):
            p = (m[0] + sgn * delta * nL[0], m[1] + sgn * delta * nL[1])
            if geom.crossings(np.asarray([p[0]]), np.asarray([p[1]]), r)[0] % 2 == 1:
                return p
    # degenerate (zero-area or fully boundary-coincident): fall back to the
    # first edge midpoint; parity checks downstream treat it as depth-0
    return (float((r[0, 0] + r[1, 0]) / 2.0), float((r[0, 1] + r[1, 1]) / 2.0))


def ring_roles(rings: list[np.ndarray]) -> list[int]:
    """Union-builder role derivation (role attributes are ignored, as in the
    reference): a ring nested inside an even number of OTHER rings is an outer
    (+1), odd an inner (-1). Derived from each ring's canonical interior point
    (boundary-clear w.r.t. the other rings, see _interior_point).

    The depth ray-cast only visits rings whose bbox contains the interior
    point — a point outside a ring's bbox has parity 0 by construction, so
    the skip is exact; disjoint-island relations cost O(R^2) bbox tests plus
    local work instead of O(R^2) full ray-casts (ADVICE r3)."""
    arrs = [np.asarray(r, dtype=np.float64) for r in rings]
    boxes = [
        (
            float(a[:, 0].min()), float(a[:, 1].min()),
            float(a[:, 0].max()), float(a[:, 1].max()),
        )
        for a in arrs
    ]
    roles = []
    for i, r in enumerate(arrs):
        others = [s for j, s in enumerate(arrs) if j != i]
        x, y = _interior_point(r, others)
        depth = 0
        for j, s in enumerate(arrs):
            if j == i:
                continue
            bx0, by0, bx1, by1 = boxes[j]
            if not (bx0 <= x <= bx1 and by0 <= y <= by1):
                continue
            if geom.crossings(np.asarray([x]), np.asarray([y]), s)[0] % 2 == 1:
                depth += 1
        roles.append(1 if depth % 2 == 0 else -1)
    return roles


def union_rings(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """A3 `union` strategy: region kept iff covered by more outers than inners.
    Row-identical to the `contains` builder for properly nested rings; merges
    overlapping outers and clips crossing inners instead of failing."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    rings = [r for r in rings if geom.ring_is_valid(r)]
    # set semantics: exact duplicate rings collapse to one (union of A and A
    # is A) — also keeps role derivation well-defined; without this, two
    # coincident rings see each other as containers and both turn inner,
    # silently emptying the result (the malformed-OSM duplicate-way case)
    seen: dict[bytes, None] = {}
    unique = []
    for r in rings:
        # snap BEFORE canonicalizing so the dedup key matches what the
        # arrangement kernel treats as identical (near-duplicates within the
        # grid tolerance must collapse too, or they mutually turn inner)
        # + 0.0 folds -0.0 to +0.0 so the dedup key agrees with _snap,
        # which also normalizes signed zero — otherwise two coincident
        # rings straddling 0 dedup differently than the arrangement sees
        # them and can cancel to an empty union
        key = _canonicalize(np.round(r, _SNAP_DECIMALS) + 0.0).tobytes()
        if key not in seen:
            seen[key] = None
            unique.append(r)
    rings = unique
    if not rings:
        return []
    return overlay(rings, keep_weights=ring_roles(rings))


def ring_is_simple(ring: np.ndarray) -> bool:
    """True if the ring has no self-intersections (proper crossings,
    T-junctions, or collinear overlaps between non-adjacent segments): the
    arrangement of its own segments introduces no new split edges. Rings that
    merely touch at a shared vertex count as simple (weakly simple)."""
    segs, _ = _collect_segments([np.asarray(ring, dtype=np.float64)])
    return len(_split_segments(segs)) == len(segs)


def repair_ring(ring: np.ndarray) -> list[list[np.ndarray]]:
    """G5 buffer(0)-equivalent: rebuild a self-intersecting ring from its
    linework under the even-odd rule (PostGIS ST_MakeValid linework
    semantics). A valid ring round-trips to itself (single shell)."""
    return overlay([np.asarray(ring, dtype=np.float64)], keep_weights=None)
