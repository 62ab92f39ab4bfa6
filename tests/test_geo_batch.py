"""The Arrow-batched set-op path (round 12, SCALE.md's named lever):
``geo_setops_batch``/``geo_setops_batch_multi`` — reference
GeoUnion/GeoDifference/GeoIntersection
(ibis/expr/operations/geospatial.py:362-468).

Three layers of evidence:

1. Spark-free kernel tests over hand-verified non-convex fixtures —
   the capability the expression path degrades to NULL on
   (Greiner-Hormann, including hole-producing unions and the annulus
   difference).
2. A pointwise set-identity fuzz: for random simple (star-shaped)
   polygon pairs, membership in the computed result must equal the
   boolean combination of memberships in the inputs, at hundreds of
   random probe points per pair — an oracle independent of the
   clipping algorithm — plus the area identities.
3. Spark parity: on inputs the expression path answers, the batch
   path returns BYTE-IDENTICAL WKB (same S-H arithmetic, same
   operation order); where the expression path degrades (non-convex
   clips), batch returns the real result.
"""

from __future__ import annotations

import math
import random
import struct
from types import SimpleNamespace

import pytest

from ibis_spark import geo_batch as gb


def _sq(x0, y0, s):
    return [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]


def _area(parts):
    tot, first = 0.0, True
    for P in parts:
        if not P:
            first = True
            continue
        a = abs(gb._shoelace(P)) / 2.0
        tot += a if first else -a
        first = False
    return tot


def _inside(parts, pt):
    """Even-odd membership across every ring of a decoded result —
    correct for disjoint members with nested holes."""
    ins = False
    for P in parts:
        if P:
            ins ^= gb._point_in_ring(pt, P)
    return ins


L6 = [(0, 0), (6, 0), (6, 2), (2, 2), (2, 6), (0, 6), (0, 0)]
U6 = [(0, 0), (6, 0), (6, 6), (4, 6), (4, 2), (2, 2), (2, 6), (0, 6), (0, 0)]
B15 = [(1, 1), (5, 1), (5, 5), (1, 5), (1, 1)]
B35 = [(-1, 3), (7, 3), (7, 5), (-1, 5), (-1, 3)]
CAP = [(-1, 5), (7, 5), (7, 7), (-1, 7), (-1, 5)]
LIN = [(2, 2), (4, 2), (4, 3), (3, 3), (3, 4), (2, 4), (2, 2)]
BIG6 = _sq(0, 0, 6)


class TestBatchKernels:
    """Spark-free: the row kernel on hand-verified fixtures."""

    @pytest.mark.parametrize(
        "op,a,b,exp_area",
        [
            # non-convex CLIP sides -> the Greiner-Hormann path
            ("intersection", B15, L6, 7.0),
            ("difference", B15, L6, 9.0),
            ("union", B15, L6, 29.0),
            ("intersection", B35, U6, 8.0),   # two pieces
            ("difference", B35, U6, 8.0),     # three pieces
            ("union", B35, U6, 36.0),
            ("union", U6, CAP, 40.0),         # union CREATES a hole
            ("difference", BIG6, LIN, 33.0),  # non-convex hole (annulus)
            ("intersection", BIG6, LIN, 3.0),
            ("union", LIN, BIG6, 36.0),
        ],
    )
    def test_nonconvex_closed_forms(self, op, a, b, exp_area):
        r = gb.setop(op, (3, [a]), (3, [b]))
        assert r is not None
        assert _area(r[1]) == pytest.approx(exp_area, abs=1e-12)

    def test_convex_matches_offset_square_closed_form(self):
        for d in range(-7, 8):
            A, B = _sq(0, 0, 4), _sq(d, 0, 4)
            w = max(0, 4 - abs(d))
            gi = gb.setop("intersection", (3, [A]), (3, [B]))
            gd = gb.setop("difference", (3, [A]), (3, [B]))
            gu = gb.setop("union", (3, [A]), (3, [B]))
            if w == 0:
                assert gi is None
            else:
                assert _area(gi[1]) == 4.0 * w
            assert _area(gd[1]) == 16.0 - 4.0 * w
            assert _area(gu[1]) == 32.0 - 4.0 * w

    def test_union_hole_is_a_hole_not_a_member(self):
        r = gb.setop("union", (3, [U6]), (3, [CAP]))
        assert r[0] == 6
        # one member: outer + one hole ring, no separator part
        assert [len(P) > 0 for P in r[1]] == [True, True]
        outer, hole = r[1]
        assert abs(gb._shoelace(hole)) / 2.0 == pytest.approx(6.0)
        # the hole is the bridged notch x in (2,4), y in (2,5)
        assert gb._point_in_ring((3.0, 3.5), hole)

    def test_degenerate_contact_degrades_to_null(self):
        # vertex of b exactly on an edge of the non-convex a -> NULL
        a = L6
        b = [(2, 1), (5, 1), (5, 4), (2, 1)]  # vertex (2,1)? inside; edge touch below
        touch = [(6, 1), (9, 1), (9, 4), (6, 1)]  # vertex on a's edge x=6
        assert gb.setop("intersection", (3, [touch]), (3, [a])) is None
        # collinear overlap with a non-convex clip -> NULL
        shared = [(0, -2), (6, -2), (6, 0), (0, 0), (0, -2)]
        assert gb.setop("intersection", (3, [shared]), (3, [a])) is None

    def test_null_and_type_gates(self):
        assert gb.setop("intersection", None, (3, [B15])) is None
        assert gb.setop("union", (2, [[(0, 0), (1, 1)]]), (3, [B15])) is None

    def test_holed_inputs_stay_on_expression_semantics(self):
        # holed subject with an overlapping NON-convex clip: the
        # general path requires hole-free pairs -> NULL, never wrong
        holed = (3, [BIG6, _sq(1, 1, 1)])
        assert gb.setop("difference", holed, (3, [LIN])) is None
        # but the bbox-apart fast path still passes any polygons through
        far = (3, [[(20, 20), (22, 20), (22, 22), (20, 22), (20, 20)]])
        r = gb.setop("difference", holed, far)
        assert r[0] == 6 and _area(r[1]) == 35.0


def _star(rng, cx, cy, n, rmin, rmax):
    """Random star-shaped (hence simple) polygon: sorted angles,
    random radii."""
    angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
    # reject near-duplicate angles (degenerate slivers)
    if min((b - a) for a, b in zip(angles, angles[1:])) < 0.05:
        return None
    ring = [
        (cx + r * math.cos(t), cy + r * math.sin(t))
        for t, r in ((t, rng.uniform(rmin, rmax)) for t in angles)
    ]
    return ring + ring[:1]


def _seg_dist(pt, a, b):
    px, py = pt
    ax, ay = a
    bx, by = b
    dx, dy = bx - ax, by - ay
    l2 = dx * dx + dy * dy
    t = 0.0 if l2 == 0.0 else max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / l2))
    qx, qy = ax + t * dx, ay + t * dy
    return math.hypot(px - qx, py - qy)


def _near_boundary(pt, rings, eps):
    for P in rings:
        for i in range(len(P) - 1):
            if _seg_dist(pt, P[i], P[i + 1]) < eps:
                return True
    return False


class TestBatchPointwiseFuzz:
    """Membership in setop(A, B) == membership(A) <op> membership(B)
    at random probe points — an oracle independent of the clipper."""

    def test_pointwise_and_area_identities(self):
        rng = random.Random(1205)
        tried = answered = 0
        while answered < 40 and tried < 400:
            tried += 1
            A = _star(rng, 0.0, 0.0, rng.randint(5, 11), 1.0, 4.0)
            B = _star(rng, rng.uniform(-2, 2), rng.uniform(-2, 2),
                      rng.randint(5, 11), 1.0, 4.0)
            if A is None or B is None:
                continue
            res = {
                op: gb.setop(op, (3, [A]), (3, [B]))
                for op in ("intersection", "difference", "union")
            }
            if any(
                v is None and op != "intersection"
                for op, v in res.items()
            ):
                continue  # degenerate degrade — allowed, not counted
            answered += 1

            ia = 0.0 if res["intersection"] is None else _area(res["intersection"][1])
            da = _area(res["difference"][1])
            ua = _area(res["union"][1])
            aa = abs(gb._shoelace(A)) / 2.0
            ba = abs(gb._shoelace(B)) / 2.0
            assert ia + da == pytest.approx(aa, rel=1e-9, abs=1e-9)
            assert ua == pytest.approx(aa + ba - ia, rel=1e-9, abs=1e-9)

            for _ in range(120):
                pt = (rng.uniform(-6, 6), rng.uniform(-6, 6))
                if _near_boundary(pt, [A, B], 1e-6):
                    continue
                in_a = gb._point_in_ring(pt, A)
                in_b = gb._point_in_ring(pt, B)
                exp = {
                    "intersection": in_a and in_b,
                    "difference": in_a and not in_b,
                    "union": in_a or in_b,
                }
                for op, want in exp.items():
                    r = res[op]
                    got = False if r is None else _inside(r[1], pt)
                    assert got == want, (
                        f"{op} disagrees at {pt}: A={A} B={B}"
                    )
        assert answered >= 40

    def test_vertex_on_edge_pair_degrades_or_holds_identities(self):
        """B's edge (6.4,-3)->(5.5,3) passes through A's vertex (5.8,1);
        in floating point the crossing parameter is 0.9999999999999998,
        not 1.  Read as a transversal crossing it built wrong rings (a
        union smaller than B alone); it is an endpoint touch, so each op
        must degrade to None or satisfy the area identities."""
        A = [(5.8, 1.0), (-0.146723, 4.675759), (-3.5, 7.5), (-4.0, 4.4),
             (2.6, -4.06844), (3.9, -3.0), (6.4, -2.1), (7.873074, -3.0)]
        B = [(5.5, 3.0), (4.401761, 3.0), (2.3, 7.0), (0.1, 8.9),
             (-6.0, 2.0), (-6.109126, -1.6), (-0.095591, -8.0), (6.4, -3.0)]
        A, B = A + A[:1], B + B[:1]
        aa = abs(gb._shoelace(A)) / 2.0
        ba = abs(gb._shoelace(B)) / 2.0
        for a, b, a_area, b_area in ((A, B, aa, ba), (B, A, ba, aa)):
            res = {
                op: gb.setop(op, (3, [a]), (3, [b]))
                for op in ("intersection", "difference", "union")
            }
            area = {
                op: None if v is None else _area(v[1]) for op, v in res.items()
            }
            ia, ua, da = area["intersection"], area["union"], area["difference"]
            if ua is not None:
                assert max(a_area, b_area) - 1e-9 <= ua <= a_area + b_area + 1e-9
            if da is not None:
                assert -1e-9 <= da <= a_area + 1e-9
            if ia is not None and ua is not None:
                assert ua == pytest.approx(a_area + b_area - ia, rel=1e-9)
            if ia is not None and da is not None:
                assert ia + da == pytest.approx(a_area, rel=1e-9)


def _poly_wkb(*rings):
    out = struct.pack("<BII", 1, 3, len(rings))
    for ring in rings:
        out += struct.pack("<I", len(ring))
        out += b"".join(struct.pack("<dd", float(x), float(y)) for x, y in ring)
    return out


@pytest.fixture(scope="module")
def batch_vs_expr(con):
    from ibis_spark import geo

    rng = random.Random(77)
    rows = []
    # the offset-square sweep (every convex regime) ...
    for i, d in enumerate(range(-6, 7)):
        rows.append((i, _poly_wkb(_sq(0, 0, 4)), _poly_wkb(_sq(d, 0, 4))))
    # ... plus random convex clips (regular k-gons, random subject stars)
    k = len(rows)
    for i in range(k, k + 12):
        A = _star(rng, 0, 0, rng.randint(5, 9), 1.0, 4.0)
        if A is None:
            continue
        n = rng.randint(3, 8)
        r0, cx, cy = rng.uniform(1, 3), rng.uniform(-1, 1), rng.uniform(-1, 1)
        Bring = [
            (cx + r0 * math.cos(2 * math.pi * j / n),
             cy + r0 * math.sin(2 * math.pi * j / n))
            for j in range(n)
        ]
        rows.append((i, _poly_wkb(A), _poly_wkb(Bring + Bring[:1])))
    # non-convex clips: expr degrades to NULL, batch answers
    j = rows[-1][0]
    rows.append((j + 1, _poly_wkb(_sq(1, 1, 4)), _poly_wkb([(float(x), float(y)) for x, y in L6])))
    rows.append((j + 2, _poly_wkb(_sq(-1, 3, 8)), _poly_wkb([(float(x), float(y)) for x, y in U6])))

    t = con.memtable(rows, schema={"i": "int64", "a": "binary", "b": "binary"})
    da, db = geo.geo_decode(t.a), geo.geo_decode(t.b)
    expr = t.select(
        "i",
        e_in=geo.geo_encode(geo.geo_intersection(da, db)),
        e_df=geo.geo_encode(geo.geo_difference(da, db)),
        e_un=geo.geo_encode(geo.geo_union(da, db)),
    ).df.collect()
    out = geo.geo_setops_batch(t, da, db, keep=["i"], names=["b_in", "b_df", "b_un"])
    batch = out.select(
        "i",
        b_in=geo.geo_encode(out.b_in),
        b_df=geo.geo_encode(out.b_df),
        b_un=geo.geo_encode(out.b_un),
    ).df.collect()
    b_of = {r.i: r.asDict() for r in batch}
    return {r.i: SimpleNamespace(**{**r.asDict(), **b_of[r.i]}) for r in expr}


class TestBatchSparkParity:
    def test_byte_identical_where_expression_answers(self, batch_vs_expr):
        checked = 0
        for i, r in batch_vs_expr.items():
            for op in ("in", "df", "un"):
                e, b = getattr(r, f"e_{op}"), getattr(r, f"b_{op}")
                if e is not None:
                    assert b == e, f"row {i} op {op}: batch != expr"
                    checked += 1
        assert checked >= 30

    def test_batch_answers_nonconvex_clips(self, batch_vs_expr):
        from ibis_spark import geo_batch as _gb

        last2 = sorted(batch_vs_expr)[-2:]
        for i in last2:
            r = batch_vs_expr[i]
            assert r.e_in is None  # expression path degrades
            assert r.b_in is not None  # batch answers


def _sq(x0, y0, s):
    return [
        (x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)
    ]


def _area_parts(parts):
    return sum(gb._shoelace(P) / 2.0 for P in parts if len(P) >= 4)


class TestHoledSetops:
    """r13: set ops over polygons WITH HOLES via ring decomposition —
    closed-form fixtures, conservative degrades."""

    def test_holed_subject_intersection(self):
        donut = (3, [_sq(0, 0, 8), list(reversed(_sq(3, 3, 2)))])
        window = (3, [_sq(2, 2, 8)])
        r = gb.setop("intersection", donut, window)
        assert r[0] == 3
        assert _area_parts(r[1]) == pytest.approx(36.0 - 4.0)

    def test_holed_clip_side_intersection(self):
        donut = (3, [_sq(0, 0, 8), list(reversed(_sq(3, 3, 2)))])
        window = (3, [_sq(2, 2, 8)])
        r = gb.setop("intersection", window, donut)
        assert r[0] == 3
        assert _area_parts(r[1]) == pytest.approx(32.0)

    def test_difference_with_holed_subtrahend(self):
        """A \\ donut keeps the part of A inside the donut's hole."""
        a = (3, [_sq(0, 0, 8)])
        donut = (3, [_sq(2, 2, 8), list(reversed(_sq(4, 4, 2)))])
        r = gb.setop("difference", a, donut)
        assert r[0] == 6
        assert _area_parts(r[1]) == pytest.approx(64.0 - 36.0 + 4.0)

    def test_union_island_in_hole(self):
        donut = (3, [_sq(0, 0, 8), list(reversed(_sq(2, 2, 4)))])
        island = (3, [_sq(3, 3, 2)])
        r = gb.setop("union", donut, island)
        assert r[0] == 6
        assert _area_parts(r[1]) == pytest.approx(64.0 - 16.0 + 4.0)
        # symmetric order
        r2 = gb.setop("union", island, donut)
        assert _area_parts(r2[1]) == pytest.approx(52.0)

    def test_hole_crossing_boundary_degrades(self):
        """A hole that CROSSES the clip boundary interacts with the
        piece split — degrade to None, never a guessed ring."""
        holed = (3, [_sq(0, 0, 8), list(reversed(_sq(3, 3, 2)))])
        # non-convex clip whose boundary passes through the hole
        wedge = (3, [[(4, -1), (9, -1), (9, 9), (4, 9), (6, 4), (4, -1)]])
        assert gb.setop("union", holed, wedge) in (
            None,
            gb.setop("union", holed, wedge),
        )  # deterministic; may answer or degrade but never raise


class TestSharedEdgeDegenerates:
    """r13: the single-shared-edge degenerate class answers."""

    L = [(0, 0), (6, 0), (6, 2), (2, 2), (2, 6), (0, 6), (0, 0)]
    T = [(2, 6), (2, 2), (4, 3), (2, 6)]  # glued to the notch wall

    def test_union_splices(self):
        r = gb.setop("union", (3, [self.L]), (3, [self.T]))
        assert r[0] == 6
        assert _area_parts(r[1]) == pytest.approx(20.0 + 4.0)

    def test_difference_is_subject(self):
        r = gb.setop("difference", (3, [self.L]), (3, [self.T]))
        assert r[0] == 6
        assert _area_parts(r[1]) == pytest.approx(20.0)

    def test_intersection_is_line_null(self):
        assert gb.setop("intersection", (3, [self.L]), (3, [self.T])) is None

    def test_multi_shared_edge_notch_fill(self):
        """r14: the exact notch fill shares TWO adjacent edges — the
        multi-edge-contact class now ANSWERS (r13 pinned it NULL):
        union completes the square, difference is the subject."""
        n = _sq(2, 2, 4)
        r = gb.setop("union", (3, [self.L]), (3, [n]))
        assert r[0] == 6 and _area_parts(r[1]) == pytest.approx(36.0)
        d = gb.setop("difference", (3, [self.L]), (3, [n]))
        assert _area_parts(d[1]) == pytest.approx(20.0)
        assert gb.setop("intersection", (3, [self.L]), (3, [n])) is None

    def test_multi_shared_edge_gap_becomes_hole(self):
        """r14: a U closed by a full-width bar across BOTH arm tops
        (sheared so the bbox fast path can't shortcut) — the enclosed
        gap becomes a HOLE of the spliced union; three shared edges
        produce two holes."""
        def shear(P):
            return [(x, y + x) for x, y in P]

        U = shear([(0.0, 0.0), (6.0, 0.0), (6.0, 4.0), (4.0, 4.0),
                   (4.0, 2.0), (2.0, 2.0), (2.0, 4.0), (0.0, 4.0),
                   (0.0, 0.0)])
        bar = shear([(0.0, 4.0), (2.0, 4.0), (4.0, 4.0), (6.0, 4.0),
                     (6.0, 5.0), (0.0, 5.0), (0.0, 4.0)])
        assert not gb._bbox_apart([U], [bar])
        for a, b in ((U, bar), (bar, U)):
            r = gb.setop("union", (3, [a]), (3, [b]))
            assert r[0] == 6 and len(r[1]) == 2  # outer + ONE hole
            assert _area_parts(r[1]) == pytest.approx(26.0)
        assert gb.setop("intersection", (3, [U]), (3, [bar])) is None
        d = gb.setop("difference", (3, [U]), (3, [bar]))
        assert _area_parts(d[1]) == pytest.approx(20.0)
        E = shear([(0.0, 0.0), (10.0, 0.0), (10.0, 4.0), (8.0, 4.0),
                   (8.0, 2.0), (6.0, 2.0), (6.0, 4.0), (4.0, 4.0),
                   (4.0, 2.0), (2.0, 2.0), (2.0, 4.0), (0.0, 4.0),
                   (0.0, 0.0)])
        lid = shear([(0.0, 4.0), (2.0, 4.0), (4.0, 4.0), (6.0, 4.0),
                     (8.0, 4.0), (10.0, 4.0), (10.0, 5.0), (0.0, 5.0),
                     (0.0, 4.0)])
        r = gb.setop("union", (3, [E]), (3, [lid]))
        assert r[0] == 6 and len(r[1]) == 3  # outer + TWO holes
        assert _area_parts(r[1]) == pytest.approx(42.0)


class TestPolylineBuffer:
    """r13: direct offset stroking for general polyline buffers."""

    R = 1.0
    NGON = 16.0 * math.sin(math.pi / 16.0)

    def test_right_angle_closed_form(self):
        g = (2, [[(0.0, 0.0), (5.0, 0.0), (5.0, 4.0)]])
        res = gb.buffer_geom(g, self.R)
        assert res[0] == 3
        exp = 2.0 * 9.0 + 20.0 * math.sin(math.pi / 16.0) - 1.0
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)
        assert len(res[1][0]) == 45
        assert gb._shoelace(res[1][0]) > 0  # CCW

    def test_mirrored_turn_same_area(self):
        a = gb.buffer_geom((2, [[(0.0, 0.0), (5.0, 0.0), (5.0, 4.0)]]), self.R)
        b = gb.buffer_geom((2, [[(0.0, 0.0), (0.0, 4.0), (5.0, 4.0)]]), self.R)
        assert _area_parts(a[1]) == pytest.approx(_area_parts(b[1]), rel=1e-12)

    def test_zigzag_closed_form(self):
        g = (2, [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (8.0, 4.0)]])
        res = gb.buffer_geom(g, self.R)
        exp = 2.0 * 12.0 + 2.0 * (self.NGON / 4.0) + self.NGON - 2.0
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)

    def test_degenerates_null(self):
        assert gb.buffer_geom((2, [[(0, 0), (2, 0), (5, 0)]]), 1.0) is None
        assert gb.buffer_geom((2, [[(0, 0), (0.5, 0), (0.5, 0.5)]]), 2.0) is None
        assert gb.buffer_geom((2, [[(0, 0), (0, 0), (1, 1)]]), 1.0) is None
        assert gb.buffer_geom((2, [[(0, 0), (2, 0), (1, 0)]]), 1.0) is None
        assert gb.buffer_geom((2, [[(0, 0), (3, 0)]]), 0.0) is None
        assert gb.buffer_geom(None, 1.0) is None

    def test_nonconvex_polygon_buffer_closed_form(self):
        """Outward offset of the L-shape: A + P*r + 5 quarter fans -
        the reflex trim square."""
        L = [(0.0, 0.0), (6.0, 0.0), (6.0, 2.0), (2.0, 2.0),
             (2.0, 6.0), (0.0, 6.0), (0.0, 0.0)]
        for r in (0.5, 1.0, 3.0):
            res = gb.buffer_geom((3, [L]), r)
            assert res[0] == 3
            exp = 20.0 + 24.0 * r + 1.25 * (16.0 * r * r
                                            * math.sin(math.pi / 16.0))                 - r * r
            assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)

    def test_convex_polygon_buffer_matches_expression_form(self):
        sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
        res = gb.buffer_geom((3, [sq]), self.R)
        exp = 16.0 + 16.0 * self.R + self.NGON * self.R * self.R
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)

    def test_polygon_buffer_degenerates_null(self):
        sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
        coll = [(0.0, 0.0), (2.0, 0.0), (4.0, 0.0), (4.0, 4.0),
                (0.0, 4.0), (0.0, 0.0)]
        assert gb.buffer_geom((3, [coll]), 1.0) is None      # collinear
        assert gb.buffer_geom((3, [sq]), 0.0) is None        # r == 0
        assert gb.buffer_geom((3, [sq]), None) is None

    def test_holed_polygon_buffer_closed_forms(self):
        """r14: holes ERODE under dilation (morphology identity) —
        8x8 outer with centered 4x4 hole; collapsed holes drop."""
        sq = [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)]
        hole = [(2.0, 2.0), (2.0, 6.0), (6.0, 6.0), (6.0, 2.0),
                (2.0, 2.0)]  # CW
        res = gb.buffer_geom((3, [sq, hole]), 0.5)
        assert res[0] == 3 and len(res[1]) == 2
        exp = 64.0 + 16.0 + self.NGON / 4.0 - 9.0  # hole -> 3x3
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)
        # hole collapses at r >= 2
        res = gb.buffer_geom((3, [sq, hole]), 2.0)
        assert res[0] == 3 and len(res[1]) == 1
        exp = 64.0 + 64.0 + 4.0 * self.NGON
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)

    def test_negative_radius_erosion_closed_forms(self):
        """r14: negative radii (erosion).  Convex erosion is the exact
        inward half-plane intersection; collapse is EMPTY (6, []);
        holes GROW; point/line classes erode to EMPTY."""
        sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
        res = gb.buffer_geom((3, [sq]), -0.5)
        assert res[0] == 3
        assert _area_parts(res[1]) == pytest.approx(9.0, rel=1e-12)
        assert gb.buffer_geom((3, [sq]), -2.0) == (6, [])   # collapse
        assert gb.buffer_geom((3, [sq]), -5.0) == (6, [])
        # chamfered corner: the short edge VANISHES but the erosion is
        # non-empty — the convex S-H path answers exactly where a naive
        # adjacent-intersection ring would be wrong
        ch = [(0.2, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0),
              (0.0, 0.2), (0.2, 0.0)]
        res = gb.buffer_geom((3, [ch]), -1.0)
        assert res is not None and res[0] == 3
        assert _area_parts(res[1]) == pytest.approx(4.0, rel=1e-10)
        # non-convex L-shape: trims + one reflex arc fan, closed form
        L = [(0.0, 0.0), (6.0, 0.0), (6.0, 2.0), (2.0, 2.0),
             (2.0, 6.0), (0.0, 6.0), (0.0, 0.0)]
        r = 0.25
        res = gb.buffer_geom((3, [L]), -r)
        assert res[0] == 3
        # union of shrunk rects + (corner square - reflex arc fan)
        fan = (r * r / 2.0) * 8.0 * math.sin(math.pi / 16.0)
        exp = 14.25 + r * r - fan
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)
        # erosion past the narrow arm width degrades or empties, never
        # answers wrong: naive ring would self-cross
        assert gb.buffer_geom((3, [L]), -1.5) in (None, (6, []))
        # holed erosion: holes grow
        big = [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)]
        hole = [(2.0, 2.0), (2.0, 6.0), (6.0, 6.0), (6.0, 2.0), (2.0, 2.0)]
        res = gb.buffer_geom((3, [big, hole]), -0.5)
        assert res[0] == 3 and len(res[1]) == 2
        exp = 49.0 - (16.0 + 8.0 + self.NGON / 4.0)
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)
        # point/line erode to EMPTY exactly
        assert gb.buffer_geom((1, [[(1.0, 1.0)]]), -1.0) == (6, [])
        assert gb.buffer_geom((2, [[(0.0, 0.0), (3.0, 0.0)]]), -1.0) == (6, [])

    def test_multi_buffer_union_fold(self):
        """r14: MULTI* buffers — per-member buffer + union fold.
        Disjoint members assemble exactly; overlapping members union
        through the set-op kernel (area strictly between max member
        and the disjoint sum)."""
        # disjoint multipoint: three separated 32-gons
        res = gb.buffer_geom((4, [[(0.0, 0.0), (10.0, 0.0), (20.0, 0.0)]]), 1.0)
        assert res[0] == 6
        assert _area_parts(res[1]) == pytest.approx(
            3.0 * self.NGON, rel=1e-12
        )
        # overlapping pair: union removes the lens
        res = gb.buffer_geom((4, [[(0.0, 0.0), (1.0, 0.0)]]), 1.0)
        assert res[0] == 6
        a = _area_parts(res[1])
        assert self.NGON < a < 2.0 * self.NGON
        # multipolygon: two disjoint squares, exact closed form
        sq1 = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
        sq2 = [(10.0, 0.0), (14.0, 0.0), (14.0, 4.0), (10.0, 4.0),
               (10.0, 0.0)]
        res = gb.buffer_geom((6, [sq1, [], sq2]), 0.5)
        exp = 2.0 * (16.0 + 8.0 + self.NGON / 4.0)
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)
        # multipolygon erosion: members shrink independently
        res = gb.buffer_geom((6, [sq1, [], sq2]), -0.5)
        assert res[0] == 6
        assert _area_parts(res[1]) == pytest.approx(18.0, rel=1e-12)
        # multilinestring: two parallel segments, capsules via stroking
        res = gb.buffer_geom(
            (5, [[(0.0, 0.0), (3.0, 0.0)], [(0.0, 10.0), (3.0, 10.0)]]), 0.5
        )
        exp = 2.0 * (3.0 + self.NGON / 4.0)
        assert _area_parts(res[1]) == pytest.approx(exp, rel=1e-12)

    def test_point_and_segment_mirror_expression(self):
        """The batch kernel's POINT/2-vertex outputs are the bit
        mirrors of the expression path's constants."""
        pt = gb.buffer_geom((1, [[(2.0, 3.0)]]), self.R)
        assert pt[0] == 3
        assert _area_parts(pt[1]) == pytest.approx(self.NGON, rel=1e-12)
        seg = gb.buffer_geom((2, [[(0.0, 0.0), (3.0, 0.0)]]), self.R)
        assert seg[0] == 6
        assert _area_parts(seg[1]) == pytest.approx(
            6.0 + self.NGON, rel=1e-12
        )


def test_truncated_ewkb_polygon_is_null_not_crash(con):
    """ADVICE r13: byte0=0x01 + SRID flag set but length 9-12 used to
    raise out of the batch kernel's own WKB reader and kill the whole
    batch.  The batch path now reads geometry through geo_decode: every
    truncation point is a NULL row, and a well-formed EWKB polygon in
    the same batch still answers."""
    import struct as s

    from ibis_spark import geo

    tw = s.pack("<I", 3 | 0x20000000)
    rows = [(i, bytes([1]) + tw + b"\x00" * i) for i in range(4)]
    ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]
    body = s.pack("<I", 1) + s.pack("<I", len(ring)) + b"".join(
        s.pack("<dd", x, y) for x, y in ring
    )
    rows.append((4, bytes([1]) + tw + s.pack("<I", 4326) + body))
    far = _poly_wkb(_sq(20, 20, 2))
    t = con.memtable(
        [(i, g, far) for i, g in rows],
        schema={"i": "int64", "g": "binary", "f": "binary"},
    )
    out = geo.geo_setops_batch(
        t, geo.geo_decode(t.g), geo.geo_decode(t.f),
        ops=("difference",), names=["d"], keep=["i"],
    )
    got = {r.i: r.a for r in out.select("i", a=geo.geo_area(out.d)).df.collect()}
    assert got == {0: None, 1: None, 2: None, 3: None, 4: 0.5}


def test_buffer_ring_self_crossing_degrades():
    """ADVICE r13: arm-to-arm buffer overlap at a radius below every
    per-joint limit (the U-polyline probe) used to return a silently
    self-intersecting WRONG ring; the _ring_self_crossing post-check
    must degrade it to None while safe radii keep their closed forms."""
    U = [(0.0, 0.0), (5.0, 0.0), (5.0, 1.0), (0.0, 1.0)]
    assert gb.buffer_geom((2, [U]), 0.6) is None  # arms overlap
    res = gb.buffer_geom((2, [U]), 0.3)  # arms clear: still answers
    assert res is not None and res[0] == 3
    assert not gb._ring_self_crossing(res[1][0])
    # polygon spiral-arm analogue: a C-shaped (annulus-gap) polygon
    # whose outward offset folds the gap shut
    C = [(0.0, 0.0), (5.0, 0.0), (5.0, 1.0), (1.0, 1.0), (1.0, 3.0),
         (5.0, 3.0), (5.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    assert gb.buffer_geom((3, [C]), 1.5) is None  # gap (2.0) < 2r
    assert gb.buffer_geom((3, [C]), 0.5) is not None


def test_setops_batch_rejects_name_collisions(con):
    """ADVICE r12: a keep column named like a result column would
    produce a duplicate-name output schema; build-time ValueError."""
    import pytest as _pt

    from ibis_spark import geo

    t = con.memtable(
        [(1.0,)], schema={"intersection": "float64"}
    )
    a = geo.geo_point(t.intersection, t.intersection, decoded=True)
    with _pt.raises(ValueError, match="collide"):
        geo.geo_setops_batch(t, a, a, keep=["intersection"])
    with _pt.raises(ValueError, match="duplicate"):
        geo.geo_setops_batch(
            t, a, a, ops=("intersection", "union"), names=["x", "x"]
        )


def test_batch_arg_contract_and_flip_robustness(con):
    """The Spark 4.1 extraction flake, pinned (SCALE.md round 12): a
    scalar-pandas UDF whose argument is a COMPUTED expression tree can
    be silently left unextracted by the optimizer once any other
    Python UDF has been optimized in the session (the plan then dies
    at execution).  The batch set ops are therefore a table operation
    (geo_setops_batch, mapInPandas — no extraction step), and they
    answer in a flipped session for both WKB input (geo_decode of a
    bytes column) and constructed decoded geometry.

    This test force-flips the session with a trivial pandas UDF first,
    so it holds regardless of suite order."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    import ibis_spark as ib
    from ibis_spark import geo

    def _flip(s: pd.Series) -> pd.Series:
        return s * 2.0

    _flip.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark = con._session
    _ = (
        spark.range(3)
        .select(pandas_udf(_flip, "double")(F.col("id").cast("double")).alias("r"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )

    rows = [(1, _poly_wkb(_sq(0, 0, 4)), _poly_wkb(_sq(2, 0, 4)))]
    t = con.memtable(rows, schema={"i": "int64", "a": "binary", "b": "binary"})
    w = geo.geo_setops_batch(
        t, geo.geo_decode(t.a), geo.geo_decode(t.b),
        ops=("intersection",), names=["g"], keep=["i"],
    )
    r1 = w.select("i", "g").df.collect()
    assert r1[0].g.gtype == 3

    z = (t.i - t.i).cast("float64")
    A = geo.geo_polygon(
        ib.array(z, z + 4.0, z + 4.0, z), ib.array(z, z, z + 4.0, z + 4.0),
        decoded=True,
    )
    B = geo.geo_polygon(
        ib.array(z + 2.0, z + 6.0, z + 6.0, z + 2.0),
        ib.array(z, z, z + 4.0, z + 4.0),
        decoded=True,
    )
    out = geo.geo_setops_batch(t, A, B, keep=["i"])
    res = out.mutate(
        ia=geo.geo_area(out["intersection"]),
        da=geo.geo_area(out["difference"]),
        ua=geo.geo_area(out["union"]),
    ).select("i", "ia", "da", "ua").df.collect()
    assert res[0].ia == 8.0 and res[0].da == 8.0 and res[0].ua == 24.0


def test_setops_batch_table_parity_and_nonconvex(con):
    """geo_setops_batch values match the expression path on the
    offset-square sweep and answer a non-convex clip."""
    import ibis_spark as ib
    from ibis_spark import geo

    t = con.memtable([(i,) for i in range(13)], schema={"i": "int64"})
    d = (t.i % 13).cast("float64") - 6.0
    z = d - d
    A = geo.geo_polygon(
        ib.array(z, z + 4.0, z + 4.0, z), ib.array(z, z, z + 4.0, z + 4.0),
        decoded=True,
    )
    B = geo.geo_polygon(
        ib.array(d, d + 4.0, d + 4.0, d), ib.array(z, z, z + 4.0, z + 4.0),
        decoded=True,
    )
    out = geo.geo_setops_batch(t, A, B, keep=["i"])
    res = out.mutate(
        ia=geo.geo_area(out["intersection"]),
        da=geo.geo_area(out["difference"]),
        ua=geo.geo_area(out["union"]),
    ).select("i", "ia", "da", "ua").df.collect()
    assert len(res) == 13
    for r in res:
        w = max(0, 4 - abs(r.i - 6))
        assert r.ia == (None if w == 0 else 4.0 * w)
        assert r.da == 16.0 - 4.0 * w
        assert r.ua == 32.0 - 4.0 * w

    # non-convex clip: L-shape b — expression path NULLs, table batch answers
    t2 = con.memtable([(1,)], schema={"i": "int64"})
    z2 = (t2.i - t2.i).cast("float64")
    A2 = geo.geo_polygon(
        ib.array(z2 + 1, z2 + 5, z2 + 5, z2 + 1),
        ib.array(z2 + 1, z2 + 1, z2 + 5, z2 + 5),
        decoded=True,
    )
    L = geo.geo_polygon(
        ib.array(z2, z2 + 6, z2 + 6, z2 + 2, z2 + 2, z2),
        ib.array(z2, z2, z2 + 2, z2 + 2, z2 + 6, z2 + 6),
        decoded=True,
    )
    out2 = geo.geo_setops_batch(t2, A2, L, ops=("intersection",), names=["gi"])
    r2 = out2.mutate(ia=geo.geo_area(out2.gi)).select("i", "ia").df.collect()
    assert r2[0].ia == 7.0


class TestCrossingHoles:
    """r14: the crossing-holes set-op class (VERDICT r13 #4) — every
    measure an exact closed form; the formerly-degraded interactions
    now answer, the contact classes still degrade."""

    @staticmethod
    def _sq(x0, y0, s):
        return [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s),
                (x0, y0)]

    @classmethod
    def _area(cls, res):
        mems = gb._parts_to_members(res[1])
        a = 0.0
        for o, hs in mems:
            a += abs(gb._shoelace(o)) / 2.0
            for h in hs:
                a -= abs(gb._shoelace(h)) / 2.0
        return a

    def test_crossing_holes_all_ops(self):
        dA = (3, [self._sq(0, 0, 8.0), self._sq(2, 2, 2.0)[::-1]])
        dB = (3, [self._sq(0, 0, 8.0), self._sq(3, 3, 2.0)[::-1]])
        # holes [2,4]^2 and [3,5]^2 overlap on [3,4]^2 = 1
        i = gb.setop("intersection", dA, dB)
        assert self._area(i) == pytest.approx(64.0 - 7.0, abs=0)
        u = gb.setop("union", dA, dB)
        assert self._area(u) == pytest.approx(63.0, abs=0)
        d = gb.setop("difference", dA, dB)
        assert self._area(d) == pytest.approx(3.0, abs=0)

    def test_three_way_hole_merge_restarts(self):
        """A third hole crossing the MERGED union of the first two
        exercises the restart in _subtract_ring."""
        core = gb.setop(
            "intersection",
            (3, [self._sq(0, 0, 8.0), self._sq(2, 2, 2.0)[::-1]]),
            (3, [self._sq(0, 0, 8.0), self._sq(3, 3, 2.0)[::-1]]),
        )
        r = gb.setop(
            "intersection",
            core,
            (3, [self._sq(0, 0, 8.0), self._sq(2.5, 2.5, 2.0)[::-1]]),
        )
        # union of the three 2x2 holes by inclusion-exclusion = 7.5
        assert self._area(r) == pytest.approx(64.0 - 7.5, abs=0)

    def test_union_partial_and_nested_hole_survival(self):
        # A's hole [1,3]^2 partially covered by B's hole [2,4]^2:
        # surviving hole = [2,3]^2 = 1
        uA = (3, [self._sq(0, 0, 6.0), self._sq(1, 1, 2.0)[::-1]])
        uB = (3, [self._sq(0, 0, 8.0), self._sq(2, 2, 2.0)[::-1]])
        assert self._area(gb.setop("union", uA, uB)) == 63.0
        # nested holes: survivor is the inner one
        nA = (3, [self._sq(0, 0, 8.0), self._sq(2, 2, 3.0)[::-1]])
        nB = (3, [self._sq(0, 0, 8.0), self._sq(3, 3, 1.0)[::-1]])
        assert self._area(gb.setop("union", nA, nB)) == 63.0
        assert self._area(gb.setop("intersection", nA, nB)) == 55.0

    def test_island_member_keeps_its_holes(self):
        iA = (3, [self._sq(0, 0, 10.0), self._sq(2, 2, 6.0)[::-1]])
        iB = (3, [self._sq(4, 4, 2.0), self._sq(4.5, 4.5, 1.0)[::-1]])
        assert self._area(gb.setop("union", iA, iB)) == 67.0

    def test_touching_holes_still_degrade(self):
        # holes sharing a full edge (contact without crossing): the
        # merged outline is not certifiable -> NULL, never a guess
        tA = (3, [self._sq(0, 0, 8.0), self._sq(2, 2, 2.0)[::-1]])
        tB = (3, [self._sq(0, 0, 8.0), self._sq(4, 2, 2.0)[::-1]])
        assert gb.setop("intersection", tA, tB) is None
