"""The DE-9IM answer contract: every predicate, every geo_relate field.

Pins the answers of the nine single-predicate functions (geo_intersects
.. geo_contains_properly) and of all ten geo_relate fields on the
pairing matrix of ``tests/test_geo_predicates.py``, as WKB and as
constructor-tagged decoded input, plus NULL input, undecodable bytes,
a polygon with no ring and identical polygons.  The single functions
and geo_relate share one lowering, so one expected answer serves both.

Answers are recorded per case as one character per predicate, in
``NAMES`` order: T(rue), F(alse) or N(ULL).
"""

from __future__ import annotations

import struct

import pytest

from ibis_spark import geo
from tests.test_geo_predicates import MATRIX, SQ4, _line, _poly, _pt

NAMES = (
    "intersects",
    "disjoint",
    "touches",
    "crosses",
    "overlaps",
    "covers",
    "covered_by",
    "contains",
    "within",
    "contains_properly",
)

NO_RING = struct.pack("<BII", 1, 3, 0)
JUNK = b"\x00junk"

CASES = [(name, a, b) for name, a, b, *_ in MATRIX] + [
    ("null_a", None, _poly(SQ4)),
    ("null_b", _poly(SQ4), None),
    ("junk_a", JUNK, _poly(SQ4)),
    ("junk_b", _line([(0.0, 0.0), (4.0, 4.0)]), JUNK),
    ("no_ring_a", NO_RING, _poly(SQ4)),
    ("no_ring_b", _pt(1.0, 1.0), NO_RING),
    ("identical", _poly(SQ4), _poly(SQ4)),
    ("identical_rev", _poly(SQ4), _poly(list(reversed(SQ4)))),
]

EXPECTED = {
    "pt_eq": "TFFFFTTTTT",
    "pt_far": "FTFFFFFFFF",
    "pt_on_ring": "TFTFFTFFFF",
    "pt_inside": "TFFFFTFTFT",
    "pt_line_end": "TFTFFTFFFF",
    "pt_line_mid": "TFFFFTFTFT",
    "ll_X": "TFFTFFFFFF",
    "ll_T": "TFTFFFFFFF",
    "ll_shared_end": "TFTFFFFFFF",
    "ll_col_overlap": "TFFFTFFFFF",
    "ll_covered": "TFFFFTFTFF",
    "poly_adj": "TFTFFFFFFF",
    "poly_overlap": "TFFFTFFFFF",
    "poly_in": "TFFFFTFTFT",
    "poly_far": "FTFFFFFFFF",
    "line_thru_poly": "TFFTFFFFFF",
    "line_in_poly": "TFFFFTFTFT",
    "line_on_ring": "TFTFFTFFFF",
    "null_a": "NNNNNNNNNN",
    "null_b": "NNNNNNNNNN",
    "junk_a": "NNNNNNNNNN",
    "junk_b": "NNNNNNNNNN",
    "no_ring_a": "FTFFFFTFTF",
    "no_ring_b": "FTFFFFFFFF",
    "identical": "TFFFFTTTTF",
    "identical_rev": "TFFFFTTTTF",
}

# The one deliberate change against the former per-predicate lowering:
# geo_crosses, geo_overlaps and geo_contains_properly gated unknown
# pairs with ``when(~known, NULL)``, and ``~NULL`` fell through to the
# type dispatch's False, so NULL or undecodable input answered False
# there while geo_relate and the other six answered NULL.  Now every
# predicate answers NULL.
FORMER_SINGLE = {
    (case, name): False
    for case in ("null_a", "null_b", "junk_a", "junk_b")
    for name in ("crosses", "overlaps", "contains_properly")
}

_CHAR = {True: "T", False: "F", None: "N"}


def _single(name):
    return getattr(geo, f"geo_{name}")


def _check(got, where):
    bad = {
        (case, name): (got[case][i], EXPECTED[case][i])
        for case in got
        for i, name in enumerate(NAMES)
        if got[case][i] != EXPECTED[case][i]
    }
    assert bad == {}, f"{where}: (got, expected) {bad}"


def _wkb_table(con):
    return con.memtable(
        [(i, a, b) for i, (_, a, b) in enumerate(CASES)],
        schema={"i": "int64", "a": "binary", "b": "binary"},
    )


def _relate_answers(t, a, b):
    rel = t.mutate(rel=geo.geo_relate(a, b))
    rows = rel.select(
        "i", **{n: rel.rel[n] for n in NAMES}
    ).df.collect()
    return {r.i: "".join(_CHAR[r[n]] for n in NAMES) for r in rows}


def test_relate_fields_on_wkb(con):
    t = _wkb_table(con)
    got = _relate_answers(t, t.a, t.b)
    _check({CASES[i][0]: v for i, v in got.items()}, "geo_relate")


@pytest.mark.parametrize("name", [n for n in NAMES if n != "contains"])
def test_single_predicate_on_wkb(con, name):
    """One projection per predicate: an untagged pair builds the full
    type dispatch, and several of them in one projection multiply the
    driver-side build."""
    t = _wkb_table(con)
    rows = t.select("i", v=_single(name)(t.a, t.b)).df.collect()
    k = NAMES.index(name)
    bad = {}
    for r in rows:
        case = CASES[r.i][0]
        want = {"T": True, "F": False, "N": None}[EXPECTED[case][k]]
        if r.v is not want:
            bad[case] = (r.v, want, FORMER_SINGLE.get((case, name), want))
    assert bad == {}, f"geo_{name}: (got, expected, former) {bad}"


def _coords(wkb):
    """(gtype, xs, ys) of a one-part WKB point/line/polygon (first ring,
    open)."""
    gtype = struct.unpack_from("<I", wkb, 1)[0]
    if gtype == 1:
        x, y = struct.unpack_from("<dd", wkb, 5)
        return 1, x, y
    off = 9 if gtype == 2 else 13
    n = struct.unpack_from("<I", wkb, off - 4)[0]
    pts = [struct.unpack_from("<dd", wkb, off + 16 * k) for k in range(n)]
    if gtype == 3:
        pts = pts[:-1]
    return gtype, [p[0] for p in pts], [p[1] for p in pts]


def _tagged(gtype, x, y):
    ctor = {1: geo.geo_point, 2: geo.geo_linestring, 3: geo.geo_polygon}
    return ctor[gtype](x, y, decoded=True)


def test_tagged_matrix(con):
    """Constructor-tagged decoded input prunes the type dispatch at
    build time; every predicate and relate field must answer as on
    WKB.  Cases are grouped by type pair, one memtable each."""
    groups = {}
    for name, a, b, *_ in MATRIX:
        ca, cb = _coords(a), _coords(b)
        groups.setdefault((ca[0], cb[0]), []).append((name, ca, cb))
    for (ta, tb), cases in sorted(groups.items()):
        kind = {1: "float64", 2: "array<float64>", 3: "array<float64>"}
        t = con.memtable(
            [(i, *ca[1:], *cb[1:]) for i, (_, ca, cb) in enumerate(cases)],
            schema={
                "i": "int64",
                "ax": kind[ta],
                "ay": kind[ta],
                "bx": kind[tb],
                "by": kind[tb],
            },
        )
        a = _tagged(ta, t.ax, t.ay)
        b = _tagged(tb, t.bx, t.by)
        got = _relate_answers(t, a, b)
        _check({cases[i][0]: v for i, v in got.items()}, f"relate {ta}/{tb}")
        rows = t.select(
            "i",
            **{
                n: _single(n)(a, b)
                for n in NAMES
                if n != "contains"
            },
        ).df.collect()
        singles = {
            cases[r.i][0]: "".join(
                _CHAR[r[n]] if n != "contains" else EXPECTED[cases[r.i][0]][k]
                for k, n in enumerate(NAMES)
            )
            for r in rows
        }
        _check(singles, f"singles {ta}/{tb}")
