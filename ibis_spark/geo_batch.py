"""Pure-Python geometry engine behind the Arrow-batched set-op path.

``geo_setops_batch``/``geo_setops_batch_multi`` route each row through
:func:`setop` inside one mapInPandas stage (geo.py wires the stage;
this module is Spark-free so the row kernels unit-test without a
session).

Two kernels:

- **Convex clips** replicate the expression path's Sutherland-Hodgman
  fold OPERATION BY OPERATION (same formulas, same evaluation order,
  C-double arithmetic) so the two paths return IEEE-identical bytes —
  the parity fuzz in tests/test_geo_setops.py holds them to it.  The
  expression path (geo.py, section comment at the S-H engine) stays
  the no-Python default; this path trades one Arrow batch hop for
  native-loop arithmetic (~20x on the clip report entry, SCALE.md
  round 12 named this lever).
- **General simple polygons** (phase 2 of the batch path): a
  Greiner-Hormann traversal handles NON-CONVEX clip sides — the case
  the expression path degrades to NULL — for simple subject/clip
  pairs whose boundaries cross transversally.  r13 extends the
  kernel to POLYGONS WITH HOLES (ring decomposition: hole-free
  outer-ring ops plus conservative ring subtraction/addition) and to
  the SHARED-EDGE degenerate class — r14 generalizes it from exactly
  one full shared edge to ANY number K of full shared edges (the
  multi-edge-contact class): union is the alternating-arc splice
  whose enclosed gaps become HOLES, difference returns the subject,
  intersection is a line set -> NULL.  r14 closes the
  CROSSING-HOLES class: holes crossing each other merge into their
  union outline during subtraction (_merge_rings_union), and the
  union op derives the surviving hole set as the pairwise hole
  intersections plus each hole's part outside the other outer.
  Remaining degrades: merged hole outlines that are not one simple
  hole-free ring, holes TOUCHING a boundary or each other (contact
  without crossing), and a hole crossing the other OUTER in union.
  All other
  degenerate boundary contact (vertex exactly on an edge, multi-edge
  collinear overlap) degrades to NULL, never a wrong ring; PURE
  containment/disjoint cases (no crossings at all) are exact closed
  forms and allowed.

Reference parity: GeoIntersection/GeoDifference/GeoUnion
(/root/reference/ibis/expr/operations/geospatial.py:362-468).  The
reference's own Spark backend implements none of these — surplus
parity, same posture as the expression path.

Scale shape: per-row independent, no shuffle, no state; Arrow-batched
like every other honest-UDF site in the engine.
"""

from __future__ import annotations

# The decoded geometry form mirrored here (geo.py _DEC_T):
#   (gtype, parts)  with parts = list of vertex parts, each a list of
#   (x, y) float tuples; MULTIPOLYGON members separated by empty parts
#   (geo.py _mp_separator).

import math

import numpy as _np

OP_INTERSECTION = "intersection"
OP_DIFFERENCE = "difference"
OP_UNION = "union"


# ---------------------------------------------------------------------------
# Exact replication of the expression-path S-H engine (geo.py
# _e_side/_clip_step/_sh_clip/_post_ring/_clip_region/_diff_pieces).
# Every arithmetic expression below keeps the Spark spelling's operand
# order so results are bit-identical.


def _shoelace(P):
    """Signed shoelace sum (2A) of one closed ring — geo.py
    _d_ring_shoelace: a LEFT fold over consecutive-pair edges."""
    s = 0.0
    for i in range(len(P) - 1):
        x1, y1 = P[i]
        x2, y2 = P[i + 1]
        s = s + (x1 * y2 - x2 * y1)
    return s


def _e_side(e, px, py):
    ax, ay, bx, by, _sg = e
    return (bx - ax) * (py - ay) - (by - ay) * (px - ax)


def _clip_step(acc, e):
    """One S-H half-plane pass — geo.py _clip_step."""
    n = len(acc)
    if n < 3:
        return []
    sg = e[4]
    out = []
    for i in range(n):
        cur = acc[i]
        nxt = acc[0] if i == n - 1 else acc[i + 1]
        d1 = _e_side(e, cur[0], cur[1])
        d2 = _e_side(e, nxt[0], nxt[1])
        in1 = sg * d1 >= 0
        in2 = sg * d2 >= 0
        if in2 and in1:
            out.append(nxt)
        elif in2 or in1:
            t = d1 / (d1 - d2)
            ip = (cur[0] + (nxt[0] - cur[0]) * t, cur[1] + (nxt[1] - cur[1]) * t)
            if in2:
                out.append(ip)
                out.append(nxt)
            else:
                out.append(ip)
    return out


def _sh_clip(P_open, E):
    acc = P_open
    for e in E:
        acc = _clip_step(acc, e)
    return acc


def _post_ring(R):
    """Clip output -> closed result ring — geo.py _post_ring: cyclic
    consecutive-duplicate drop, close, degenerate -> empty."""
    n = len(R)
    D = [
        p
        for i, p in enumerate(R)
        if (lambda q: p[0] != q[0] or p[1] != q[1])(R[0] if i == n - 1 else R[i + 1])
    ]
    if len(D) >= 3:
        closed = D + D[:1]
        if abs(_shoelace(closed)) > 0.0:
            return closed
    return []


def _ring_edges_sg(P, sg):
    return [
        (P[i][0], P[i][1], P[i + 1][0], P[i + 1][1], sg)
        for i in range(len(P) - 1)
    ]


def _clip_region(bP):
    """(E, ok) of a closed clip ring — geo.py _clip_region: orientation
    sign from the shoelace, convexity via same-sign consecutive
    cross products (closed semantics, >= 0)."""
    sh = _shoelace(bP)
    if sh > 0:
        s = 1.0
    elif sh < 0:
        s = -1.0
    else:
        return [], False
    E = _ring_edges_sg(bP, s)
    m = len(E)
    conv = all(
        s
        * (
            (E[i][2] - E[i][0]) * (E[0 if i == m - 1 else i + 1][3] - E[0 if i == m - 1 else i + 1][1])
            - (E[i][3] - E[i][1]) * (E[0 if i == m - 1 else i + 1][2] - E[0 if i == m - 1 else i + 1][0])
        )
        >= 0
        for i in range(m)
    )
    ok = len(bP) >= 4 and conv
    return E, ok


def _flip_e(e):
    return (e[0], e[1], e[2], e[3], -e[4])


def _diff_pieces(aP, E):
    """Prefix half-plane decomposition — geo.py _diff_pieces."""
    out = []
    for i in range(1, len(E) + 1):
        Ei = list(E[: i - 1]) + [_flip_e(E[i - 1])]
        out.append(_post_ring(_sh_clip(aP[:-1], Ei)))
    return out


def _bbox(parts):
    xs = [p[0] for P in parts for p in P]
    ys = [p[1] for P in parts for p in P]
    if not xs:
        return None
    return (min(xs), max(xs), min(ys), max(ys))


def _bbox_apart(pa, pb):
    """geo.py _bbox_apart: touching counts as apart (<=)."""
    a, b = _bbox(pa), _bbox(pb)
    if a is None or b is None:
        return False
    return a[1] <= b[0] or b[1] <= a[0] or a[3] <= b[2] or b[3] <= a[2]


def _mp_assemble(rings):
    """Non-empty closed rings -> MULTIPOLYGON parts with separators —
    geo.py _mp_assemble."""
    out = []
    for R in rings:
        if out:
            out.append([])
        out.append(R)
    return out


# ---------------------------------------------------------------------------
# Phase 2: general simple-polygon clipping (Greiner-Hormann) for
# non-convex clip sides.  Hole-free subject and clip only; degenerate
# boundary contact -> None (degrade, never a wrong ring).


class _GHDegenerate(Exception):
    """Raised when a boundary incidence is not a transversal crossing."""


# edge parameters this close to an endpoint count as an endpoint touch
_SEG_END_EPS = 1e-9


def _seg_cross(p0, p1, q0, q1):
    """Proper-crossing test with parameters.  Returns (t, u) in OPEN
    (0,1) x (0,1) for a transversal interior crossing, None when the
    segments don't meet, and raises _GHDegenerate for touches (an
    endpoint on the other segment, collinear overlap)."""
    rx, ry = p1[0] - p0[0], p1[1] - p0[1]
    sx, sy = q1[0] - q0[0], q1[1] - q0[1]
    den = rx * sy - ry * sx
    qpx, qpy = q0[0] - p0[0], q0[1] - p0[1]
    cross_qp_s = qpx * sy - qpy * sx
    cross_qp_r = qpx * ry - qpy * rx
    if den == 0.0:
        if cross_qp_r == 0.0:
            # collinear: overlap iff the projections intersect
            if rx != 0.0 or ry != 0.0:
                if abs(rx) >= abs(ry):
                    t0 = qpx / rx
                    t1 = (qpx + sx) / rx
                else:
                    t0 = qpy / ry
                    t1 = (qpy + sy) / ry
                lo, hi = min(t0, t1), max(t0, t1)
                if hi >= 0.0 and lo <= 1.0:
                    raise _GHDegenerate("collinear overlap")
        return None
    t = cross_qp_s / den
    u = cross_qp_r / den
    if t < 0.0 or t > 1.0 or u < 0.0 or u > 1.0:
        return None
    # a vertex exactly on the other edge rounds to a parameter a few
    # ulps off 0 or 1 (t = 0.9999999999999998), so "exact" endpoint
    # contact is caught within _SEG_END_EPS, not by equality
    if min(t, 1.0 - t, u, 1.0 - u) <= _SEG_END_EPS:
        raise _GHDegenerate("endpoint touch")
    return t, u


def _point_in_ring(pt, P):
    """Even-odd point-in-polygon over a CLOSED ring; raises
    _GHDegenerate when the point sits exactly on the boundary."""
    x, y = pt
    inside = False
    for i in range(len(P) - 1):
        (x1, y1), (x2, y2) = P[i], P[i + 1]
        # exact on-boundary check
        if (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) == 0.0 and (
            min(x1, x2) <= x <= max(x1, x2) and min(y1, y2) <= y <= max(y1, y2)
        ):
            raise _GHDegenerate("vertex on boundary")
        if (y1 > y) != (y2 > y):
            xin = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
            if xin > x:
                inside = not inside
    return inside


def _ccw(P):
    """Ring re-oriented counter-clockwise (closed in, closed out)."""
    return P if _shoelace(P) > 0 else P[::-1]


class _GHNode:
    __slots__ = ("pt", "isect", "other", "entry", "visited", "alpha")

    def __init__(self, pt, isect=False, alpha=0.0):
        self.pt = pt
        self.isect = isect
        self.other = None
        self.entry = False
        self.visited = False
        self.alpha = alpha


def _gh_build(A, B):
    """Greiner-Hormann node lists for CCW closed rings A, B.  Returns
    (listA, listB, n_crossings); raises _GHDegenerate on any
    non-transversal incidence."""
    la = [[] for _ in range(len(A) - 1)]  # per-edge crossing lists
    lb = [[] for _ in range(len(B) - 1)]
    n = 0
    for i in range(len(A) - 1):
        for j in range(len(B) - 1):
            r = _seg_cross(A[i], A[i + 1], B[j], B[j + 1])
            if r is None:
                continue
            t, u = r
            pt = (
                A[i][0] + (A[i + 1][0] - A[i][0]) * t,
                A[i][1] + (A[i + 1][1] - A[i][1]) * t,
            )
            na, nb = _GHNode(pt, True, t), _GHNode(pt, True, u)
            na.other, nb.other = nb, na
            la[i].append(na)
            lb[j].append(nb)
            n += 1

    def chain(P, lists):
        out = []
        for i in range(len(P) - 1):
            out.append(_GHNode(P[i]))
            out.extend(sorted(lists[i], key=lambda nd: nd.alpha))
        return out

    return chain(A, la), chain(B, lb), n


def _gh_mark(chain_nodes, other_ring, entry_for_first):
    """Alternate entry/exit flags along a chain, seeded by whether the
    chain's first vertex is inside the other ring."""
    status = not _point_in_ring(chain_nodes[0].pt, other_ring)
    # status True -> next crossing is an ENTRY into the other ring
    if not entry_for_first:
        status = not status
    for nd in chain_nodes:
        if nd.isect:
            nd.entry = status
            status = not status


def _gh_trace(la, lb):
    """Trace result rings from the marked node chains (closed CCW
    rings out)."""
    rings = []
    nodes = [nd for nd in la if nd.isect]
    for start in nodes:
        if start.visited:
            continue
        ring = [start.pt]
        cur, in_a = start, True
        chain = la
        while True:
            cur.visited = True
            cur.other.visited = True
            idx = chain.index(cur)
            forward = cur.entry
            while True:
                idx = (idx + 1) % len(chain) if forward else (idx - 1) % len(chain)
                nd = chain[idx]
                ring.append(nd.pt)
                if nd.isect:
                    break
            cur = nd.other
            in_a = not in_a
            chain = la if in_a else lb
            if cur is start.other or cur is start:
                break
        # close; drop the duplicated junction vertex the trace appends
        if ring[-1] == ring[0]:
            R = ring
        else:
            R = ring + [ring[0]]
        R = _post_ring(R[:-1])
        if R:
            rings.append(R)
    return rings


def _gh_clip(A, B, op):
    """General clipping of hole-free simple CLOSED rings.  Returns a
    list of closed result rings (possibly with nested hole rings for
    difference/union), or raises _GHDegenerate."""
    A, B = _ccw(A), _ccw(B)
    # difference/union traverse B reversed (classic G-H op encoding)
    if op == OP_INTERSECTION:
        ea, eb = True, True
    elif op == OP_UNION:
        ea, eb = False, False
    else:  # difference
        ea, eb = False, True
    la, lb, n = _gh_build(A, B)
    if n == 0:
        return None  # containment/disjoint closed forms handled by caller
    if n % 2 != 0:
        raise _GHDegenerate("odd crossing count")
    _gh_mark(la, B, ea)
    _gh_mark(lb, A, eb)
    return _gh_trace(la, lb)


def _nest_rings(rings):
    """Assign traced rings to MULTIPOLYGON members: rings contained in
    another ring become that member's holes (one nesting level —
    deeper nesting raises, the honest cap for clip results)."""
    info = []
    for R in rings:
        info.append({"ring": R, "holes": [], "outer": None})
    for i, a in enumerate(info):
        for j, b in enumerate(info):
            if i == j:
                continue
            try:
                inside = _point_in_ring(a["ring"][0], b["ring"])
            except _GHDegenerate:
                raise
            if inside:
                if a["outer"] is not None:
                    raise _GHDegenerate("deep ring nesting")
                a["outer"] = j
    members = []
    for i, a in enumerate(info):
        if a["outer"] is None:
            members.append(i)
        else:
            info[a["outer"]]["holes"].append(a["ring"])
    parts = []
    for i in members:
        if parts:
            parts.append([])
        outer = _ccw(info[i]["ring"])
        parts.append(outer)
        for H in info[i]["holes"]:
            # holes clockwise (encode convention: orientation free in
            # the decoded form; keep CW for readability)
            parts.append(H if _shoelace(H) < 0 else H[::-1])
    return parts


def _seg_class(p0, p1, q0, q1):
    """Full segment-incidence classification (r13, the shared-edge
    degenerate class): 'none' | 'proper' | ('point', pt) | 'overlap'.
    Unlike _seg_cross it never raises — callers that can ANSWER a
    degenerate configuration use this to decide."""
    rx, ry = p1[0] - p0[0], p1[1] - p0[1]
    sx, sy = q1[0] - q0[0], q1[1] - q0[1]
    den = rx * sy - ry * sx
    qpx, qpy = q0[0] - p0[0], q0[1] - p0[1]
    cross_qp_s = qpx * sy - qpy * sx
    cross_qp_r = qpx * ry - qpy * rx
    if den == 0.0:
        if cross_qp_r != 0.0:
            return "none"
        if rx == 0.0 and ry == 0.0:
            return "none"
        if abs(rx) >= abs(ry):
            t0, t1 = qpx / rx, (qpx + sx) / rx
        else:
            t0, t1 = qpy / ry, (qpy + sy) / ry
        lo, hi = min(t0, t1), max(t0, t1)
        if hi < 0.0 or lo > 1.0:
            return "none"
        if hi == 0.0:
            return ("point", (p0[0], p0[1]))
        if lo == 1.0:
            return ("point", (p1[0], p1[1]))
        return "overlap"
    t = cross_qp_s / den
    u = cross_qp_r / den
    if t < 0.0 or t > 1.0 or u < 0.0 or u > 1.0:
        return "none"
    if 0.0 < t < 1.0 and 0.0 < u < 1.0:
        return "proper"
    pt = (p0[0] + rx * t, p0[1] + ry * t)
    return ("point", pt)


def _touch_only_setop(op, aP, bP):
    """The shared-edge degenerate class: A and B share K >= 1 FULL
    edges (opposite orientation on CCW rings), every other edge-pair
    incidence is at shared-edge endpoints only, and no vertex of
    either ring is inside the other.  Then the interiors are disjoint:
    intersection is a line set (None — the engine's documented
    degenerate posture), difference is A unchanged, union is the
    alternating-arc splice — for K == 1 a single ring, for K >= 2
    (r14, the multi-edge-contact class) one OUTER ring plus the
    enclosed gaps as HOLES (the shared edges cancel; the boundary
    walk jumps rings at each shared edge).  Any other configuration
    returns None (degrade)."""
    A, B = _ccw(aP), _ccw(bP)
    na, nb = len(A) - 1, len(B) - 1
    if len({A[i] for i in range(na)}) != na:
        return None  # repeated vertices: the walk needs unique keys
    if len({B[j] for j in range(nb)}) != nb:
        return None
    ea = {(A[i], A[i + 1]): i for i in range(na)}
    matches = [
        (ea[(B[j + 1], B[j])], j)
        for j in range(nb)
        if (B[j + 1], B[j]) in ea
    ]
    if not matches:
        return None
    shared_a = {i for i, _ in matches}
    shared_b = {j for _, j in matches}
    endpoints = set()
    for i, _ in matches:
        endpoints.add(A[i])
        endpoints.add(A[i + 1])
    for ii in range(na):
        for jj in range(nb):
            if ii in shared_a and jj in shared_b:
                continue
            cls = _seg_class(A[ii], A[ii + 1], B[jj], B[jj + 1])
            if cls == "none":
                continue
            if (
                isinstance(cls, tuple)
                and cls[0] == "point"
                and cls[1] in endpoints
            ):
                continue
            return None
    # vertex containment: every non-shared-endpoint vertex strictly
    # outside the other ring
    for v in A[:-1]:
        if v in endpoints:
            continue
        try:
            if _point_in_ring(v, B):
                return None
        except _GHDegenerate:
            return None
    for v in B[:-1]:
        if v in endpoints:
            continue
        try:
            if _point_in_ring(v, A):
                return None
        except _GHDegenerate:
            return None
    if op == OP_INTERSECTION:
        return None  # line contact: documented degenerate -> NULL
    if op == OP_DIFFERENCE:
        return (6, [A])
    # union: walk the non-shared edges, jumping to the OTHER ring
    # whenever the next edge is shared — each closed walk is one
    # boundary ring of the union (the shared edges cancel)
    visited_a, visited_b = set(), set()
    rings = []
    for start in range(na):
        if start in shared_a or start in visited_a:
            continue
        ring = []
        side, idx = "a", start
        while True:
            if side == "a":
                if idx in visited_a:
                    break
                visited_a.add(idx)
                ring.append(A[idx])
                nxt = (idx + 1) % na
                if nxt in shared_a:
                    # continue along B out of the shared edge's start
                    v = A[nxt]
                    jn = next(
                        (
                            jj
                            for jj in range(nb)
                            if jj not in shared_b and B[jj] == v
                        ),
                        None,
                    )
                    if jn is None:
                        return None
                    side, idx = "b", jn
                else:
                    idx = nxt
            else:
                if idx in visited_b:
                    break
                visited_b.add(idx)
                ring.append(B[idx])
                nxt = (idx + 1) % nb
                if nxt in shared_b:
                    v = B[nxt]
                    an = next(
                        (
                            ii
                            for ii in range(na)
                            if ii not in shared_a and A[ii] == v
                        ),
                        None,
                    )
                    if an is None:
                        return None
                    side, idx = "a", an
                else:
                    idx = nxt
        if len(ring) < 3:
            # a degenerate walk still CONSUMED edges — emitting
            # nothing would silently drop area; degrade instead
            return None
        rings.append(ring + ring[:1])
    # any unvisited non-shared B edge means a ring the walk missed
    if any(
        j not in shared_b and j not in visited_b for j in range(nb)
    ):
        return None
    if not rings:
        return None
    if len(rings) == 1:
        return (6, [_ccw(rings[0])])
    # K >= 2: the max-|area| ring is the outer; every other ring must
    # sit strictly inside it (the enclosed gaps become holes) and be
    # pairwise disjoint
    areas = [abs(_shoelace(R)) / 2.0 for R in rings]
    oi = max(range(len(rings)), key=lambda k: areas[k])
    outer = _ccw(rings[oi])
    holes = []
    try:
        for k, R in enumerate(rings):
            if k == oi:
                continue
            Rc = _ccw(R)
            if _ring_rel(Rc, outer) != "P_in_Q":
                return None
            for H in holes:
                if _ring_rel(Rc, _ccw(H)) != "disjoint":
                    return None
            holes.append(Rc[::-1])  # holes CW
    except _GHDegenerate:
        return None
    return (6, [outer] + holes)


def _parts_to_members(parts):
    """Flattened separator parts -> [(outer, [holes])] member groups."""
    groups, cur = [], []
    for P in parts:
        if len(P) == 0:
            if cur:
                groups.append(cur)
            cur = []
        else:
            cur.append(P)
    if cur:
        groups.append(cur)
    return [(g[0], list(g[1:])) for g in groups]


def _members_to_parts(members):
    out = []
    for outer, holes in members:
        if out:
            out.append([])
        out.append(_ccw(outer))
        for H in holes:
            out.append(H if _shoelace(H) < 0 else H[::-1])
    return out


def _ring_rel(P, Q):
    """Relation of simple closed rings: 'cross' | 'disjoint' |
    'P_in_Q' | 'Q_in_P'.  Raises _GHDegenerate on boundary contact."""
    _la, _lb, n = _gh_build(P, Q)
    if n:
        return "cross"
    if _point_in_ring(P[0], Q):
        return "P_in_Q"
    if _point_in_ring(Q[0], P):
        return "Q_in_P"
    return "disjoint"


def _merge_rings_union(A, B):
    """Single hole-free CCW union outline of two CROSSING simple
    rings via the GH path, or None when the union is not one simple
    hole-free region (enclosed gaps, multiple members, degenerate
    contact) — the conservative merge used to combine interacting
    holes (r14)."""
    r = _general_setop(OP_UNION, _ccw(A), _ccw(B))
    if r is None:
        return None
    mems = _parts_to_members(r[1])
    if len(mems) != 1 or mems[0][1]:
        return None
    return _ccw(mems[0][0])


def _subtract_ring(members, H):
    """Member list minus the region of simple CCW ring ``H`` (r13, the
    hole machinery).  r14: H CROSSING an existing hole merges the two
    into their union outline (one bigger hole) when the union is a
    single hole-free ring — the formerly-degraded crossing-holes
    class; every other interaction still raises _GHDegenerate
    (degrade, never guess)."""
    out = []
    for outer, holes in members:
        rel = _ring_rel(H, outer)
        if rel == "disjoint":
            out.append((outer, holes))
            continue
        if rel == "Q_in_P":
            continue  # outer inside H: member fully removed
        if rel == "P_in_Q":
            # H inside outer: vs existing holes — crossing holes merge
            # into their union outline and the scan RESTARTS (the
            # merged hole can newly interact with earlier holes)
            cur = H
            new_holes, swallowed = [], False
            pending = list(holes)
            i = 0
            while i < len(pending):
                h = pending[i]
                r2 = _ring_rel(cur, _ccw(h))
                if r2 == "cross":
                    merged = _merge_rings_union(cur, _ccw(h))
                    if merged is None:
                        raise _GHDegenerate("hole-hole crossing")
                    # the merged hole must stay strictly inside outer
                    if _ring_rel(merged, outer) != "P_in_Q":
                        raise _GHDegenerate("merged hole reaches outer")
                    cur = merged
                    pending.pop(i)
                    pending = new_holes + pending
                    new_holes = []
                    swallowed = False  # stale vs the pre-merge cur
                    i = 0
                    continue
                if r2 == "P_in_Q":
                    swallowed = True  # cur inside an existing hole
                    new_holes.append(h)
                elif r2 == "Q_in_P":
                    pass  # hole inside cur: absorbed
                else:
                    new_holes.append(h)
                i += 1
            if swallowed:
                out.append((outer, holes))
            else:
                out.append((outer, new_holes + [cur]))
            continue
        # H crosses outer: replace with hole-free diff pieces and
        # re-assign this member's holes to the piece containing them
        r = _general_setop(OP_DIFFERENCE, outer, H)
        if r is None:
            raise _GHDegenerate("piece diff degenerate")
        pieces = _parts_to_members(r[1])
        for h in holes:
            hc = _ccw(h)
            if _ring_rel(hc, H) != "disjoint":
                raise _GHDegenerate("hole interacts with subtrahend")
            placed = False
            for k, (po, ph) in enumerate(pieces):
                if _ring_rel(hc, po) == "P_in_Q":
                    pieces[k] = (po, ph + [h])
                    placed = True
                    break
            if not placed:
                raise _GHDegenerate("hole lost in piece split")
        out.extend(pieces)
    return out


def _holed_setop(op, aparts, bparts):
    """Set ops over POLYGONS WITH HOLES (r13): decompose into
    hole-free outer-ring ops plus ring subtraction/addition, with
    conservative degrades (None) whenever holes interact with each
    other or with a boundary.  Inputs are polygon ring lists
    [outer, *holes]; returns decoded (gtype, parts) or None."""
    outerA, holesA = _ccw(aparts[0]), [_ccw(h) for h in aparts[1:]]
    outerB, holesB = _ccw(bparts[0]), [_ccw(h) for h in bparts[1:]]
    try:
        if op == OP_INTERSECTION:
            core = setop(op, (3, [outerA]), (3, [outerB]))
            if core is None:
                return None
            members = _parts_to_members(core[1])
            for H in holesA + holesB:
                members = _subtract_ring(members, H)
            if not members:
                return None
            if len(members) == 1:
                return (3, _members_to_parts(members))
            return (6, _members_to_parts(members))
        if op == OP_DIFFERENCE:
            core = setop(op, (3, [outerA]), (3, [outerB]))
            if core is None:
                return None
            members = _parts_to_members(core[1])
            for H in holesA:
                members = _subtract_ring(members, H)
            # regions of A inside B's holes survive the difference
            for H in holesB:
                add = setop(OP_INTERSECTION, (3, [outerA]), (3, [H]))
                if add is None:
                    continue
                pieces = _parts_to_members(add[1])
                for HA in holesA:
                    pieces = _subtract_ring(pieces, HA)
                members.extend(pieces)
            return (6, _members_to_parts(members))
        # union: the complement inside the union outline is
        #   (HA_i INTERSECT HB_j)  union  (HA_i \\ outerB)
        #                          union  (HB_j \\ outerA)
        # — per-hole terms first (disjoint -> whole hole survives;
        # island -> hole minus the other polygon; crossing the other
        # outer still degrades), then ONE pairwise pass for the
        # intersect terms (r14 — the formerly-degraded interacting
        # class; computed once per pair, since both sides discovering
        # the same piece would subtract it twice)
        core = setop(op, (3, [outerA]), (3, [outerB]))
        if core is None:
            return None
        members = _parts_to_members(core[1])
        island_a, island_b = set(), set()
        for holes, other_outer, other_holes, island in (
            (holesA, outerB, holesB, island_a),
            (holesB, outerA, holesA, island_b),
        ):
            for hi, H in enumerate(holes):
                rel = _ring_rel(H, other_outer)
                if rel == "disjoint":
                    members = _subtract_ring(members, H)
                elif rel == "P_in_Q":
                    continue  # intersect terms handled pairwise below
                elif rel == "Q_in_P":
                    # the other polygon is an ISLAND inside this hole:
                    # the hole survives minus the island, which becomes
                    # its own member (with its own holes intact — so
                    # its holes are EXCLUDED from the pairwise pass)
                    members = _subtract_ring(members, H)
                    members.append((other_outer, list(other_holes)))
                    island.add(hi)
                else:
                    return None  # hole crosses the other outer
        for ai, HA in enumerate(holesA):
            if ai in island_a:
                continue
            for bi, HB in enumerate(holesB):
                if bi in island_b:
                    continue
                r2 = _ring_rel(HA, HB)
                if r2 == "disjoint":
                    continue
                if r2 == "P_in_Q":
                    members = _subtract_ring(members, HA)
                elif r2 == "Q_in_P":
                    members = _subtract_ring(members, HB)
                else:
                    inter = _general_setop(OP_INTERSECTION, HA, HB)
                    if inter is None:
                        return None
                    for po, phs in _parts_to_members(inter[1]):
                        if phs:
                            return None
                        members = _subtract_ring(members, _ccw(po))
        return (6, _members_to_parts(members))
    except _GHDegenerate:
        return None


def _general_setop(op, aP, bP):
    """Non-convex fallback over hole-free simple closed rings.  Returns
    decoded (gtype, parts) or None (degrade)."""
    try:
        rings = _gh_clip(aP, bP, op)
        if rings is None:
            a_in_b = _point_in_ring(aP[0], bP)
            b_in_a = _point_in_ring(bP[0], aP)
            if op == OP_INTERSECTION:
                if a_in_b:
                    return (3, [aP])
                if b_in_a:
                    return (3, [bP])
                return None  # disjoint -> NULL (empty intersection)
            if op == OP_DIFFERENCE:
                if a_in_b:
                    return (6, [])
                if b_in_a:
                    # annulus: a with hole b
                    return (6, [_ccw(aP), _ccw(bP)[::-1]])
                return (6, list(_mp_assemble([aP])))
            # union
            if a_in_b:
                return (6, [bP])
            if b_in_a:
                return (6, [aP])
            return (6, list(_mp_assemble([aP, bP])))
        if not rings:
            if op == OP_INTERSECTION:
                return None
            if op == OP_DIFFERENCE:
                return (6, [])
            return (6, [aP])
        if op == OP_INTERSECTION:
            # intersection of simple polygons: no holes possible;
            # multiple disjoint pieces -> MULTIPOLYGON
            pieces = [_ccw(R) for R in rings]
            if len(pieces) == 1:
                return (3, pieces)
            return (6, list(_mp_assemble(pieces)))
        return (6, _nest_rings(rings))
    except _GHDegenerate:
        # the answerable degenerate class: exactly one shared edge
        return _touch_only_setop(op, aP, bP)


# ---------------------------------------------------------------------------
# Row kernel: decoded (gtype, parts) pair -> decoded result, mirroring
# geo.py's geo_intersection/geo_difference/geo_union branch structure
# exactly for convex clips and extending to _general_setop otherwise.


def setop(op, ga, gb):
    """One set-op row: ``ga``/``gb`` are decoded ``(gtype, parts)``
    tuples or None.  Returns decoded ``(gtype, parts)`` or None —
    IEEE-identical to the expression path wherever that path is
    non-NULL, a real result where it degrades (non-convex clip over
    hole-free simple inputs), and None otherwise.  A polygon with no
    ring (what geo_decode makes of a truncated polygon header) is None
    too: one malformed row must not raise out of the batch."""
    if ga is None or gb is None:
        return None
    agt, aparts = ga
    bgt, bparts = gb
    if agt != 3 or bgt != 3 or not aparts or not bparts:
        return None
    bring = bparts[0] if bparts else None

    if op == OP_INTERSECTION:
        if bring is None:
            return None
        E, ok = _clip_region(bring)
        base_ok = len(bparts) == 1 and ok
        if base_ok:
            rings = [_post_ring(_sh_clip(P[:-1], E)) for P in aparts]
            if rings and rings[0]:
                return (3, [R for R in rings if R])
            return None
        if len(aparts) == 1 and len(bparts) == 1:
            return _general_setop(op, aparts[0], bparts[0])
        if aparts and bparts:
            return _holed_setop(op, aparts, bparts)
        return None

    if op == OP_DIFFERENCE:
        if _bbox_apart(aparts, bparts):
            return (6, list(aparts))
        if bring is None:
            return None
        E, ok = _clip_region(bring)
        b_cc = len(bparts) == 1 and ok
        if b_cc:
            inter = _post_ring(_sh_clip(aparts[0][:-1], E))
            if len(inter) == 0:
                return (6, list(aparts))
            if len(aparts) == 1:
                pieces = [R for R in _diff_pieces(aparts[0], E) if R]
                return (6, _mp_assemble(pieces))
            return _holed_setop(op, aparts, bparts)
        if len(aparts) == 1 and len(bparts) == 1:
            return _general_setop(op, aparts[0], bparts[0])
        if aparts and bparts:
            return _holed_setop(op, aparts, bparts)
        return None

    if op == OP_UNION:
        if _bbox_apart(aparts, bparts):
            out = list(aparts)
            out.append([])
            out.extend(bparts)
            return (6, out)
        aP = aparts[0] if aparts else None
        bP = bparts[0] if bparts else None
        if aP is None or bP is None:
            return None
        Ea, oka = _clip_region(aP)
        Eb, okb = _clip_region(bP)
        both_cc = len(aparts) == 1 and len(bparts) == 1 and oka and okb
        if both_cc:
            inter = _post_ring(_sh_clip(aP[:-1], Eb))
            ia = 0.0 if len(inter) == 0 else abs(_shoelace(inter)) / 2.0
            a_area = abs(_shoelace(aP)) / 2.0
            b_area = abs(_shoelace(bP)) / 2.0
            if len(inter) == 0:
                out = list(aparts)
                out.append([])
                out.extend(bparts)
                return (6, out)
            if ia == a_area:
                return (6, [bP])
            if ia == b_area:
                return (6, [aP])
            pieces = [R for R in _diff_pieces(bP, Ea) if R]
            out = [aP, []]
            out.extend(_mp_assemble(pieces))
            return (6, out)
        if len(aparts) == 1 and len(bparts) == 1:
            return _general_setop(op, aP, bP)
        if aparts and bparts:
            return _holed_setop(op, aparts, bparts)
        return None

    raise ValueError(f"unknown set op: {op!r}")


# ---------------------------------------------------------------------------
# Polyline buffers (r13): direct offset STROKING — the general
# LINESTRING buffer the expression path can't express (it NULLs
# >2-vertex polylines).  The boundary is constructed directly (left
# offset walk + end caps + right offset walk), trimming inner joints
# at the offset-segment intersection and fanning outer joints with
# <= pi/(2*quad_segs) arc steps — so no polygon union (whose shared
# arc geometry at joints is structurally degenerate for G-H) is
# needed.  Conservative NULLs: collinear/reversal joints, zero-length
# segments, radii too large for an inner trim.  Callers must keep the
# radius below the polyline's local feature size (global
# self-intersection needs GEOS-grade robustness — e.g. Sedona).


def buffer_point_ring(px, py, r, quad_segs=8):
    """Regular 4*quad_segs-gon on the circle — the EXACT mirror of the
    expression path's circle_ring (same constants, same op order)."""
    n = 4 * quad_segs
    step = 2.0 * math.pi / n
    ring = [
        (px + r * math.cos(i * step), py + r * math.sin(i * step))
        for i in range(n)
    ]
    return ring + ring[:1]


def buffer_segment_parts(a, b, r, quad_segs=8):
    """The 2-vertex capsule as the expression path's DISJOINT
    decomposition (rect + two half-disc caps, separator encoding) —
    bit-mirrored so batch == expression on shared inputs."""
    dx, dy = b[0] - a[0], b[1] - a[1]
    L = math.sqrt(dx * dx + dy * dy)
    if L == 0.0:
        return None
    ux, uy = dx / L, dy / L
    step2 = math.pi / (2 * quad_segs)

    def arc_pt(c, ang):
        cc, sc = math.cos(ang), math.sin(ang)
        return (c[0] + r * (ux * cc - uy * sc), c[1] + r * (uy * cc + ux * sc))

    cap_b = [
        arc_pt(b, -math.pi / 2.0 + i * step2)
        for i in range(2 * quad_segs + 1)
    ]
    cap_a = [
        arc_pt(a, math.pi / 2.0 + i * step2)
        for i in range(2 * quad_segs + 1)
    ]
    nx, ny = -uy, ux
    rect = [
        (a[0] + -1.0 * r * nx, a[1] + -1.0 * r * ny),
        (b[0] + -1.0 * r * nx, b[1] + -1.0 * r * ny),
        (b[0] + 1.0 * r * nx, b[1] + 1.0 * r * ny),
        (a[0] + 1.0 * r * nx, a[1] + 1.0 * r * ny),
    ]
    rect = rect + rect[:1]
    return [rect, [], cap_b + cap_b[:1], [], cap_a + cap_a[:1]]


def _stroke_side(P, r, quad_segs):
    """LEFT offset boundary points of open polyline P (the right side
    is the left side of the REVERSED polyline).  None on collinear or
    reversal joints, zero-length segments, or inner trims the radius
    doesn't reach."""
    step = math.pi / (2 * quad_segs)
    m = len(P)
    us = []
    for i in range(m - 1):
        dx, dy = P[i + 1][0] - P[i][0], P[i + 1][1] - P[i][1]
        L = math.hypot(dx, dy)
        if L == 0.0:
            return None
        us.append((dx / L, dy / L))

    def arc(cx, cy, t0, dt):
        k = max(1, math.ceil(abs(dt) / step))
        return [
            (cx + r * math.cos(t0 + dt * j / k),
             cy + r * math.sin(t0 + dt * j / k))
            for j in range(k + 1)
        ]

    def isect(p0, p1, q0, q1):
        rx, ry = p1[0] - p0[0], p1[1] - p0[1]
        sx, sy = q1[0] - q0[0], q1[1] - q0[1]
        den = rx * sy - ry * sx
        if den == 0.0:
            return None
        qpx, qpy = q0[0] - p0[0], q0[1] - p0[1]
        t = (qpx * sy - qpy * sx) / den
        u = (qpx * ry - qpy * rx) / den
        if not (0.0 <= t <= 1.0 and 0.0 <= u <= 1.0):
            return None
        return (p0[0] + rx * t, p0[1] + ry * t)

    out = [(P[0][0] + r * -us[0][1], P[0][1] + r * us[0][0])]
    for i in range(m - 2):
        v = P[i + 1]
        u1, u2 = us[i], us[i + 1]
        crossz = u1[0] * u2[1] - u1[1] * u2[0]
        dotz = u1[0] * u2[0] + u1[1] * u2[1]
        if crossz == 0.0:
            return None  # collinear continuation or 180-degree spike
        n1 = (-u1[1], u1[0])
        n2 = (-u2[1], u2[0])
        if crossz > 0.0:
            # left turn: the left side is INNER — trim at the offset
            # segments' intersection (None = radius too large)
            a1 = (P[i][0] + r * n1[0], P[i][1] + r * n1[1])
            b1 = (v[0] + r * n1[0], v[1] + r * n1[1])
            a2 = (v[0] + r * n2[0], v[1] + r * n2[1])
            b2 = (P[i + 2][0] + r * n2[0], P[i + 2][1] + r * n2[1])
            p = isect(a1, b1, a2, b2)
            if p is None:
                return None
            out.append(p)
        else:
            # right turn: the left side is OUTER — joint arc
            delta = math.atan2(crossz, dotz)
            t0 = math.atan2(n1[1], n1[0])
            out.extend(arc(v[0], v[1], t0, delta))
    nl = (-us[-1][1], us[-1][0])
    out.append((P[-1][0] + r * nl[0], P[-1][1] + r * nl[1]))
    return out


def _ring_self_crossing(ring):
    """True iff any two NON-ADJACENT edges of the closed ring properly
    cross (both edges strictly straddle each other's line).  Guards the
    stroked buffer rings against arm-to-arm overlap the per-joint trim
    limits can't see (a radius below every local feature size can still
    fold two distant arms onto each other) — a wrong ring is worse than
    a NULL, so any crossing degrades the row.  numpy-vectorized O(n^2)
    pairwise orientation test: ~200-vertex rings cost well under a
    millisecond, negligible next to the stroking itself."""
    P = _np.asarray(ring[:-1], dtype=_np.float64)
    n = len(P)
    if n < 4:
        return False
    B = _np.roll(P, -1, axis=0)
    d = B - P
    ax = P[:, 0][:, None]
    ay = P[:, 1][:, None]
    dx = d[:, 0][:, None]
    dy = d[:, 1][:, None]
    c1 = dx * (P[None, :, 1] - ay) - dy * (P[None, :, 0] - ax)
    c2 = dx * (B[None, :, 1] - ay) - dy * (B[None, :, 0] - ax)
    straddle = (c1 * c2) < 0.0
    crossing = straddle & straddle.T
    # Adjacent edges share a vertex whose orientation is an exact fp
    # zero (cross(d, d) cancels bitwise), so strict straddling already
    # excludes them; the mask keeps the guarantee explicit.
    idx = _np.arange(n)
    diff = (idx[:, None] - idx[None, :]) % n
    adjacent = (diff == 0) | (diff == 1) | (diff == n - 1)
    # Tangential / collinear contact between distant arms (gap exactly
    # 2r, or an offset vertex landing exactly on another edge) flips no
    # sign — the orientation product is an exact fp ZERO instead
    # (ADVICE r14).  Degrade those too, but only for edge pairs whose
    # bounding boxes overlap, so an endpoint merely on a distant
    # edge's infinite LINE (no contact) doesn't trip the guard.
    touch = (c1 * c2) == 0.0
    touch = touch | touch.T
    lo = _np.minimum(P, B)
    hi = _np.maximum(P, B)
    boxes = (
        (lo[:, 0][:, None] <= hi[None, :, 0])
        & (lo[None, :, 0] <= hi[:, 0][:, None])
        & (lo[:, 1][:, None] <= hi[None, :, 1])
        & (lo[None, :, 1] <= hi[:, 1][:, None])
    )
    return bool(_np.any((crossing | (touch & boxes)) & ~adjacent))


def buffer_polyline_ring(pts, r, quad_segs=8):
    """Closed buffer boundary ring of an open >=3-vertex polyline via
    offset stroking; None on any degenerate (see the section
    comment)."""
    step = math.pi / (2 * quad_segs)
    left = _stroke_side(pts, r, quad_segs)
    if left is None:
        return None
    rev = pts[::-1]
    right = _stroke_side(rev, r, quad_segs)
    if right is None:
        return None

    def cap(v, prev_u):
        # semicircle around v from the incoming left normal through
        # the forward direction to the outgoing (reversed) left normal
        t0 = math.atan2(prev_u[0], -prev_u[1])  # angle of (-uy, ux)
        k = max(1, math.ceil(math.pi / step))
        return [
            (v[0] + r * math.cos(t0 - math.pi * j / k),
             v[1] + r * math.sin(t0 - math.pi * j / k))
            for j in range(k + 1)
        ]

    dxe = pts[-1][0] - pts[-2][0]
    dye = pts[-1][1] - pts[-2][1]
    Le = math.hypot(dxe, dye)
    dxs = pts[0][0] - pts[1][0]
    dys = pts[0][1] - pts[1][1]
    Ls = math.hypot(dxs, dys)
    if Le == 0.0 or Ls == 0.0:
        return None
    cap_end = cap(pts[-1], (dxe / Le, dye / Le))
    cap_start = cap(pts[0], (dxs / Ls, dys / Ls))
    ring = left + cap_end[1:] + right[1:] + cap_start[1:-1]
    ring = ring + ring[:1]
    if len(ring) < 4 or _shoelace(ring) == 0.0:
        return None
    if _ring_self_crossing(ring):
        return None  # arm-to-arm overlap: degrade, never a wrong ring
    return _ccw(ring)


def buffer_geom(g, r, quad_segs=8):
    """Decoded (gtype, parts) -> buffered decoded (gtype, parts), the
    batch buffer kernel.  Positive radius: POINT -> 32-gon ring;
    2-vertex LINESTRING -> the expression path's disjoint capsule
    decomposition (bit-mirrored parity); >=3-vertex LINESTRING ->
    the stroked boundary ring; POLYGON (incl. NON-CONVEX and, r14,
    HOLED — holes erode, collapsed holes drop) -> the offset ring
    list; MULTI* (r14) -> per-member buffer + union fold.  NEGATIVE
    radius (r14, erosion): POLYGON/MULTIPOLYGON shrink (outer rings
    erode, holes dilate), collapse -> EMPTY (6, []); POINT/LINE
    classes erode to EMPTY exactly.  r == 0 and every uncertifiable
    geometry stay None (degrade, never guess)."""
    if g is None or r is None or r == 0.0 or r != r:
        # r != r: a NaN radius would otherwise sail through both sign
        # branches and emit NaN-coordinate rings (pre-r14 hazard)
        return None
    gt, parts = g
    if r < 0.0:
        return _erode_geom(g, -r, quad_segs)
    if gt == 1 and parts and parts[0]:
        px, py = parts[0][0]
        return (3, [buffer_point_ring(px, py, r, quad_segs)])
    if gt == 3:
        if not parts or len(parts[0]) < 4:
            return None
        rings = dilate_polygon(parts, r, quad_segs)
        return (3, rings) if rings is not None else None
    if gt in (4, 5, 6):
        members = _buffer_members(g)
        if members is None:
            return None
        bufs = []
        for mg in members:
            mgt, mparts = mg
            if mgt == 1:
                px, py = mparts[0][0]
                bufs.append([buffer_point_ring(px, py, r, quad_segs)])
                continue
            if mgt == 2:
                # member lines (incl. 2-vertex) go through the stroked
                # ring so the union fold sees plain polygons — no
                # expression-parity constraint inside a multi (the
                # expression path NULLs every multi buffer)
                if len(mparts[0]) < 2:
                    return None
                ring = buffer_polyline_ring(
                    [tuple(p) for p in mparts[0]], r, quad_segs
                )
                if ring is None:
                    return None
                bufs.append([ring])
                continue
            rings = dilate_polygon(mparts, r, quad_segs)
            if rings is None:
                return None
            bufs.append(rings)
        return _union_members(bufs)
    if gt != 2 or not parts or len(parts[0]) < 2:
        return None
    pts = parts[0]
    if len(pts) == 2:
        pieces = buffer_segment_parts(pts[0], pts[1], r, quad_segs)
        return (6, pieces) if pieces is not None else None
    ring = buffer_polyline_ring([tuple(p) for p in pts], r, quad_segs)
    return (3, [ring]) if ring is not None else None


def _erode_geom(g, e, quad_segs=8):
    """Negative-radius buffer (erosion by e > 0) of a decoded
    geometry.  POINT/LINE classes erode to EMPTY exactly (their
    interiors contain no disk); POLYGON -> erode_polygon (EMPTY on
    collapse); MULTIPOLYGON -> per-member erosion, dropped members
    on collapse (members shrink, so they stay pairwise disjoint).
    Degrades (None) whenever any member can't be certified."""
    gt, parts = g
    if gt in (1, 2, 4, 5):
        return (6, [])
    if gt == 3:
        if not parts or len(parts[0]) < 4:
            return None
        rings = erode_polygon(parts, e, quad_segs)
        if rings is None:
            return None
        return (6, []) if not rings else (3, rings)
    if gt == 6:
        mems = _parts_to_members(parts)
        out = []
        for outer, holes in mems:
            rings = erode_polygon([outer] + list(holes), e, quad_segs)
            if rings is None:
                return None
            if rings:
                out.append((rings[0], rings[1:]))
        return (6, _members_to_parts(out))
    return None


def buffer_polygon_ring(P_closed, r, quad_segs=8):
    """Outward offset boundary of a CCW closed SIMPLE ring — the
    NON-CONVEX polygon buffer the expression path NULLs.  Convex
    vertices emit the expression path's EXACT arc fan (same atan2
    spelling, same step policy — bit parity where both paths answer);
    reflex vertices trim at the outward offset edges' intersection
    (None when the radius exceeds the local feature size).  Collinear
    joints None; GLOBAL arm-to-arm overlap (distant features folding
    onto each other at a radius below every per-joint limit) is caught
    by the _ring_self_crossing post-check — any crossing ring degrades
    to None, as with polylines."""
    step = 2.0 * math.pi / (4 * quad_segs)
    P = P_closed[:-1]
    m = len(P)
    if m < 3:
        return None
    out = []
    for i in range(m):
        prev, cur, nxt = P[i - 1], P[i], P[(i + 1) % m]
        d1x, d1y = cur[0] - prev[0], cur[1] - prev[1]
        d2x, d2y = nxt[0] - cur[0], nxt[1] - cur[1]
        crossz = d1x * d2y - d1y * d2x
        if crossz == 0.0:
            return None
        if crossz > 0.0:
            # convex (CCW): the expression poly_ring vertex fan.
            # Catalyst rewrites -(cur.x - prev.x) to (prev.x - cur.x),
            # which flips the SIGN OF ZERO on axis-aligned edges and
            # with it atan2's +/-pi branch — mirror the OPTIMIZED
            # spelling, not the source one (measured: the whole first
            # fan differed in last-ulps through 2*pi argument offsets)
            t_in = math.atan2(prev[0] - cur[0], d1y)
            t_out = math.atan2(cur[0] - nxt[0], d2y)
            dlt = (t_out - t_in) % (2.0 * math.pi)
            k = max(1, math.ceil(dlt / step))
            out.extend(
                (cur[0] + r * math.cos(t_in + dlt * j / k),
                 cur[1] + r * math.sin(t_in + dlt * j / k))
                for j in range(k + 1)
            )
        else:
            # reflex: trim at the outward offset edges' intersection
            L1 = math.hypot(d1x, d1y)
            L2 = math.hypot(d2x, d2y)
            if L1 == 0.0 or L2 == 0.0:
                return None
            o1 = (d1y / L1, -d1x / L1)
            o2 = (d2y / L2, -d2x / L2)
            a1 = (prev[0] + r * o1[0], prev[1] + r * o1[1])
            b1 = (cur[0] + r * o1[0], cur[1] + r * o1[1])
            a2 = (cur[0] + r * o2[0], cur[1] + r * o2[1])
            b2 = (nxt[0] + r * o2[0], nxt[1] + r * o2[1])
            rx, ry = b1[0] - a1[0], b1[1] - a1[1]
            sx, sy = b2[0] - a2[0], b2[1] - a2[1]
            den = rx * sy - ry * sx
            if den == 0.0:
                return None
            qpx, qpy = a2[0] - a1[0], a2[1] - a1[1]
            t = (qpx * sy - qpy * sx) / den
            u = (qpx * ry - qpy * rx) / den
            if not (0.0 <= t <= 1.0 and 0.0 <= u <= 1.0):
                return None
            out.append((a1[0] + rx * t, a1[1] + ry * t))
    ring = out + out[:1]
    if len(ring) < 4 or _shoelace(ring) <= 0.0:
        return None
    if _ring_self_crossing(ring):
        return None  # arm-to-arm overlap: degrade, never a wrong ring
    return ring


# ---------------------------------------------------------------------------
# Erosion (negative radii), holed-polygon buffers, and MULTI* buffers
# (r14) — the r13 NULL classes of buffer_geom.  Reference GeoBuffer
# (/root/reference/ibis/expr/operations/geospatial.py:362) is
# unrestricted GEOS; this closes the negative-radius ("shrink"),
# holed, and multi-member classes with the repo's degrade-never-guess
# posture: every certified answer is exact, everything else is None.
#
# Morphology identities used (disk structuring element, so dilation
# and erosion commute with the complement):
#   dilate(A \ H, r) = dilate(A, r) \ erode(H, r)      [holes shrink]
#   erode (A \ H, r) = erode (A, r) \ dilate(H, r)     [holes grow]
# and multi-member dilation is the union of member dilations.


def _inset_edges(P_closed_ccw, r):
    """Inward-offset clip edges of a CCW closed ring (sign +1 keeps
    the interior on the left, matching _clip_region's convention)."""
    E = []
    for i in range(len(P_closed_ccw) - 1):
        (x1, y1), (x2, y2) = P_closed_ccw[i], P_closed_ccw[i + 1]
        dx, dy = x2 - x1, y2 - y1
        L = math.hypot(dx, dy)
        if L == 0.0:
            return None
        nx, ny = -dy / L, dx / L  # left (inward) normal
        E.append((x1 + r * nx, y1 + r * ny, x2 + r * nx, y2 + r * ny, 1.0))
    return E


def _offset_ring_left(P_closed, r, quad_segs):
    """Cyclic LEFT offset of a CCW closed simple ring by r > 0 — the
    inward (erosion) boundary walk, the closed-ring sibling of
    _stroke_side: convex (left-turn) joints trim at the offset
    segments' intersection, reflex (right-turn) joints emit an inward
    arc fan around the vertex.  None on collinear joints, zero-length
    edges, trims the radius doesn't reach, or an edge whose offset
    segment INVERTS (start param past end param — a straight-skeleton
    event: the erosion may have split, so degrade)."""
    step = math.pi / (2 * quad_segs)
    P = P_closed[:-1]
    m = len(P)
    if m < 3:
        return None
    us = []
    for i in range(m):
        dx = P[(i + 1) % m][0] - P[i][0]
        dy = P[(i + 1) % m][1] - P[i][1]
        L = math.hypot(dx, dy)
        if L == 0.0:
            return None
        us.append((dx / L, dy / L))
    spos = [0.0] * m
    epos = [1.0] * m
    out = []
    for i in range(m):
        # joint at vertex P[i]: between edge i-1 and edge i
        u1, u2 = us[i - 1], us[i]
        v = P[i]
        crossz = u1[0] * u2[1] - u1[1] * u2[0]
        dotz = u1[0] * u2[0] + u1[1] * u2[1]
        if crossz == 0.0:
            return None
        n1 = (-u1[1], u1[0])
        n2 = (-u2[1], u2[0])
        if crossz > 0.0:
            # convex turn: the left side is INNER — trim
            pprev = P[i - 1]
            pnext = P[(i + 1) % m]
            a1 = (pprev[0] + r * n1[0], pprev[1] + r * n1[1])
            b1 = (v[0] + r * n1[0], v[1] + r * n1[1])
            a2 = (v[0] + r * n2[0], v[1] + r * n2[1])
            b2 = (pnext[0] + r * n2[0], pnext[1] + r * n2[1])
            rx, ry = b1[0] - a1[0], b1[1] - a1[1]
            sx, sy = b2[0] - a2[0], b2[1] - a2[1]
            den = rx * sy - ry * sx
            if den == 0.0:
                return None
            qpx, qpy = a2[0] - a1[0], a2[1] - a1[1]
            t = (qpx * sy - qpy * sx) / den
            w = (qpx * ry - qpy * rx) / den
            if not (0.0 <= t <= 1.0 and 0.0 <= w <= 1.0):
                return None
            epos[(i - 1) % m] = t
            spos[i] = w
            out.append((a1[0] + rx * t, a1[1] + ry * t))
        else:
            # reflex turn: the left side is OUTER — inward arc fan
            delta = math.atan2(crossz, dotz)
            t0 = math.atan2(n1[1], n1[0])
            k = max(1, math.ceil(abs(delta) / step))
            out.extend(
                (v[0] + r * math.cos(t0 + delta * j / k),
                 v[1] + r * math.sin(t0 + delta * j / k))
                for j in range(k + 1)
            )
    for j in range(m):
        if spos[j] > epos[j]:
            return None  # offset edge inverted: skeleton event
    return out


def erode_ring(P_closed, r, quad_segs=8):
    """Morphological erosion boundary of the region of a SIMPLE closed
    ring by r > 0 (any orientation in, CCW out).  Three outcomes:

    - the eroded closed ring (exact);
    - ``[]`` when the region erodes to EMPTY — certified exact only
      for CONVEX rings, where erosion is the intersection of inward-
      offset half-planes (reuses the S-H fold, so edge-vanishing
      "chamfer" corners and total collapse are both handled exactly);
    - ``None`` (degrade) for non-convex rings whose naive inward
      offset can't be certified: an offset edge inverts, the result
      ring flips or self-crosses (the erosion may have split into
      pieces), or a joint is collinear."""
    P = _ccw(P_closed)
    E, convex = _clip_region(P)
    if not E:
        return None
    if convex:
        ins = _inset_edges(P, r)
        if ins is None:
            return None
        ring = _post_ring(_sh_clip(P[:-1], ins))
        return ring if ring else []
    out = _offset_ring_left(P, r, quad_segs)
    if out is None:
        return None
    ring = out + out[:1]
    if len(ring) < 4 or _shoelace(ring) <= 0.0:
        return None
    if _ring_self_crossing(ring):
        return None
    return ring


def dilate_polygon(parts, r, quad_segs=8):
    """Dilation of a (possibly HOLED) polygon's ring list by r > 0:
    outer ring outward-stroked (buffer_polygon_ring), each hole
    ERODED by r (holes shrink under dilation; collapsed holes drop).
    Shrunken holes stay pairwise disjoint and inside the grown outer
    by construction, so no interaction checks are needed.  Returns
    the new ring list [outer, *holes(CW)] or None (degrade)."""
    oring = buffer_polygon_ring(
        [tuple(p) for p in _ccw(parts[0])], r, quad_segs
    )
    if oring is None:
        return None
    holes = []
    for H in parts[1:]:
        e = erode_ring([tuple(p) for p in H], r, quad_segs)
        if e is None:
            return None
        if e:
            holes.append(e[::-1])  # holes CW
    return [oring] + holes


def erode_polygon(parts, r, quad_segs=8):
    """Erosion of a (possibly HOLED) polygon's ring list by r > 0:
    outer ring eroded, holes DILATED (holes grow under erosion).
    Grown holes CAN now interact — each must sit strictly inside the
    eroded outer (or swallow it entirely -> EMPTY, or miss it
    entirely -> no-op) and be pairwise disjoint; any contact or
    crossing degrades.  Returns ring list | [] (EMPTY) | None."""
    oring = erode_ring([tuple(p) for p in parts[0]], r, quad_segs)
    if oring is None:
        return None
    if not oring:
        return []
    grown = []
    for H in parts[1:]:
        g = buffer_polygon_ring([tuple(p) for p in _ccw(H)], r, quad_segs)
        if g is None:
            return None
        grown.append(g)
    kept = []
    try:
        for i, g in enumerate(grown):
            rel = _ring_rel(g, oring)
            if rel == "Q_in_P":
                return []  # grown hole covers the eroded outer
            if rel == "disjoint":
                continue  # hole grew away from the surviving region
            if rel != "P_in_Q":
                return None  # hole boundary reaches the outer: degrade
            for g2 in grown[i + 1:]:
                if _ring_rel(g, g2) != "disjoint":
                    return None  # holes merged: degrade
            kept.append(g)
    except _GHDegenerate:
        return None
    return [oring] + [g[::-1] for g in kept]


def _member_area(m):
    """Net area of one member ring list [outer, *holes]."""
    a = abs(_shoelace(m[0])) / 2.0
    for h in m[1:]:
        a -= abs(_shoelace(h)) / 2.0
    return a


def _union_members(members):
    """Union-fold of decoded single polygons (ring lists
    [outer, *holes]) via the existing pairwise set-op kernel:
    repeatedly union any bbox-overlapping pair.  A pair whose union
    conserves area EXACTLY (the kernel's areas are closed under its
    own arithmetic, so truly disjoint pairs echo their inputs) is
    remembered as settled and skipped; a productive union replaces
    the pair with the kernel's result members (setop's both-convex
    union returns a DISJOINT DECOMPOSITION — aP plus the prefix
    half-plane pieces of bP \\ aP — which is this engine's
    established union spelling, so the pieces are adopted as members
    and marked mutually settled: they touch along shared edges, and
    re-unioning touching pieces would only degrade).  Terminates
    because every productive merge reduces the member count and the
    settled-pair set only grows.  Returns decoded (gtype, parts) or
    None (degrade: any pairwise union the kernel can't certify)."""
    pool = [[list(map(tuple, R)) for R in m] for m in members]
    settled = set()
    graveyard = []  # keeps removed members alive: settled keys are
    # id()-based, and CPython reuses addresses of collected objects
    # Hard termination bound (ADVICE r14): the convergence argument
    # rests on kernel invariants (a productive merge strictly shrinks
    # the pool only in the 1-member case; exact-area echo classifies
    # disjoint pairs) that are unproven for pathological member sets.
    # Cap total kernel union attempts at O(n^2) and degrade to None
    # beyond it — NULL-not-guess.
    budget = 64 * (len(pool) + 4) ** 2
    merged = True
    while merged:
        merged = False
        for i in range(len(pool)):
            for j in range(i + 1, len(pool)):
                key = frozenset((id(pool[i]), id(pool[j])))
                if key in settled:
                    continue
                if _bbox_apart(pool[i], pool[j]):
                    settled.add(key)
                    continue
                budget -= 1
                if budget < 0:
                    return None
                r = setop(OP_UNION, (3, pool[i]), (3, pool[j]))
                if r is None:
                    return None
                mems = [[o] + list(hs)
                        for o, hs in _parts_to_members(r[1])]
                in_area = _member_area(pool[i]) + _member_area(pool[j])
                out_area = sum(_member_area(m) for m in mems)
                if len(mems) >= 2 and out_area == in_area:
                    # no overlap removed: disjoint despite bbox overlap
                    settled.add(key)
                    continue
                graveyard.append(pool[i])
                graveyard.append(pool[j])
                pool = [pool[k] for k in range(len(pool))
                        if k not in (i, j)]
                for a in range(len(mems)):
                    for b in range(a + 1, len(mems)):
                        settled.add(frozenset((id(mems[a]), id(mems[b]))))
                pool.extend(mems)
                merged = True
                break
            if merged:
                break
    if not pool:
        return (6, [])
    if len(pool) == 1:
        return (3, _members_to_parts([(pool[0][0], pool[0][1:])]))
    return (6, _members_to_parts([(m[0], m[1:]) for m in pool]))


def _buffer_members(g):
    """Decoded MULTI* -> list of member ring lists for buffer_geom's
    multi path: MULTIPOINT (gt 4, one part holding every point),
    MULTILINESTRING (gt 5, one part per line), MULTIPOLYGON (gt 6,
    separator encoding).  None for anything else."""
    gt, parts = g
    if gt == 4:
        if not parts or not parts[0]:
            return None
        return [(1, [[p]]) for p in parts[0]]
    if gt == 5:
        if not parts:
            return None
        return [(2, [P]) for P in parts]
    if gt == 6:
        mems = _parts_to_members(parts)
        if not mems:
            return None
        return [(3, [o] + list(hs)) for o, hs in mems]
    return None
