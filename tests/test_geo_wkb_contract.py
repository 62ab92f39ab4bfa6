"""WKB-input contract of the coordinate folds, pinned as literals.

Every coordinate fold (area, perimeter, length, bbox and its four
extremes, envelope, centroid, contains, intersects, line_locate_point,
line_substring, max_distance, d_fully_within) reads WKB input by
decoding it once and running the decoded fold.  The parity matrix in
test_geo_decoded compares that against decoded input, which is now the
same code on both sides, so it no longer pins what WKB input answers.
This file does: each fold over malformed, foreign and out-of-domain
WKB, with the answers given as literals.

The literals were first recorded with the former byte-walk branches
(one per fold, which hex-decoded the WKB inside the fold's lambdas).
Every answer is the one the byte walks gave, except those listed in
BYTE_WALK: polygons and points that hold a NaN or out-of-domain
coordinate, and a truncated polygon.  The walks read such input
vertex by vertex, so a bbox skipped the bad vertex, a length was 0.0
from the header alone, and a centroid copied the point's bytes.  The
decoder refuses the whole geometry, and every fold over it is NULL.

Geometry results are compared as hex WKB, floats by ``repr`` (so the
sign of zero and every ulp count).
"""

from __future__ import annotations

import math
import struct

import pytest


def _le_ring(ring):
    return struct.pack("<I", len(ring)) + b"".join(
        struct.pack("<dd", x, y) for x, y in ring
    )


def _poly(*rings):
    return struct.pack("<BII", 1, 3, len(rings)) + b"".join(
        _le_ring(r) for r in rings
    )


def _line(pts):
    return struct.pack("<BII", 1, 2, len(pts)) + b"".join(
        struct.pack("<dd", x, y) for x, y in pts
    )


def _pt(x, y):
    return struct.pack("<BIdd", 1, 1, x, y)


SQ = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
SQ2 = [(6.0, 0.0), (8.0, 0.0), (8.0, 2.0), (6.0, 2.0), (6.0, 0.0)]
BIG = [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)]
HOLE = [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)]

INPUTS = {
    "null": None,
    "empty": b"",
    "truncated": _poly(SQ)[:30],
    "big_endian": struct.pack(">BII", 0, 3, 1)
    + struct.pack(">I", len(SQ))
    + b"".join(struct.pack(">dd", x, y) for x, y in SQ),
    "ewkb": b"\x01"
    + struct.pack("<I", 3 | 0x20000000)
    + struct.pack("<I", 4326)
    + _poly(SQ)[5:],
    "collection": struct.pack("<BII", 1, 7, 2) + _pt(1.0, 1.0) + _poly(SQ),
    "ring0": struct.pack("<BII", 1, 3, 1) + struct.pack("<I", 0),
    "no_rings": struct.pack("<BII", 1, 3, 0),
    # the count word cut off: no count, or part of it (such polygons
    # once decoded to a polygon with no ring, area 0.0)
    "no_count": struct.pack("<BI", 1, 3),
    "count_cut": struct.pack("<BI", 1, 3) + b"\x01\x00",
    "line_count_cut": struct.pack("<BI", 1, 2) + b"\x02",
    "out_of_domain": _poly(
        [(0.0, 0.0), (2.0**62, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    ),
    "nan": _poly(
        [(0.0, 0.0), (math.nan, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    ),
    "nan_point": _pt(math.nan, 1.0),
    "multipolygon": struct.pack("<BII", 1, 6, 2) + _poly(SQ) + _poly(SQ2),
    "multilinestring": struct.pack("<BII", 1, 5, 2)
    + _line([(0.0, 0.0), (3.0, 4.0)])
    + _line([(1.0, 1.0), (1.0, 5.0), (4.0, 1.0)]),
    # well-formed controls: the answers every fold gives on valid WKB
    "point": _pt(1.0, 3.0),
    "line": _line([(0.0, 0.0), (3.0, 4.0), (9.0, -4.0)]),
    "holed": _poly(BIG, HOLE),
}

P = _pt(1.0, 1.0)
Q = _poly([(2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (2.0, 6.0), (2.0, 2.0)])
L = _line([(0.0, 1.0), (8.0, 1.0)])


def _answers(con):
    """{input name: {fold name: answer}} over every input."""
    from ibis_spark import geo

    t = con.memtable(
        [(k, g, P, Q, L) for k, g in INPUTS.items()],
        schema={
            "k": "string", "g": "binary", "p": "binary", "q": "binary",
            "l": "binary",
        },
    )
    g = t.g
    folds = {
        "area": geo.geo_area(g),
        "perimeter": geo.geo_perimeter(g),
        "length": geo.geo_length(g),
        "bbox": geo.geo_bbox(g),
        "x_min": geo.geo_x_min(g),
        "y_max": geo.geo_y_max(g),
        "envelope": geo.geo_envelope(g),
        "centroid": geo.geo_centroid(g),
        "contains_g_p": geo.geo_contains(g, t.p),
        "contains_q_g": geo.geo_contains(t.q, g),
        "intersects_g_q": geo.geo_intersects(g, t.q),
        "intersects_q_g": geo.geo_intersects(t.q, g),
        "locate_g_p": geo.geo_line_locate_point(g, t.p),
        "locate_l_g": geo.geo_line_locate_point(t.l, g),
        "substring": geo.geo_line_substring(g, 0.25, 0.75),
        "max_distance_g_p": geo.geo_max_distance(g, t.p),
        "max_distance_q_g": geo.geo_max_distance(t.q, g),
        "d_fully_within": geo.geo_d_fully_within(g, t.p, 10.0),
    }
    rows = t.select("k", **folds).df.collect()

    def lit(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        if isinstance(v, float):
            return repr(v)
        if hasattr(v, "asDict"):
            return tuple(lit(x) for x in v)
        return v

    return {r.k: {f: lit(r[f]) for f in folds} for r in rows}


# Non-NULL answers per input; every fold not listed is NULL (the bbox
# a struct of four NULL fields).
EXPECTED = {'big_endian': {},
 'collection': {},
 'count_cut': {},
 'empty': {},
 'ewkb': {},
 'holed': {'area': '60.0',
           'bbox': ('0.0', '8.0', '0.0', '8.0'),
           'centroid': '010100000044444444444410404444444444441040',
           'contains_g_p': True,
           'd_fully_within': True,
           'envelope': '010300000001000000050000000000000000000000000000000000000000000000000020400000000000000000000000000000204000000000000020400000000000000000000000000000204000000000000000000000000000000000',
           'intersects_g_q': True,
           'intersects_q_g': True,
           'length': '0.0',
           'max_distance_g_p': '9.899494936611665',
           'max_distance_q_g': '8.48528137423857',
           'perimeter': '40.0',
           'x_min': '0.0',
           'y_max': '8.0'},
 'line': {'bbox': ('0.0', '9.0', '-4.0', '4.0'),
          'centroid': '01010000000000000000001240555555555555e53f',
          'd_fully_within': True,
          'envelope': '01030000000100000005000000000000000000000000000000000010c0000000000000224000000000000010c00000000000002240000000000000104000000000000000000000000000001040000000000000000000000000000010c0',
          'intersects_g_q': True,
          'intersects_q_g': True,
          'length': '15.0',
          'locate_g_p': '0.09333333333333334',
          'max_distance_g_p': '9.433981132056603',
          'max_distance_q_g': '12.206555615733702',
          'perimeter': '0.0',
          'substring': '01020000000300000000000000000002400000000000000840000000000000084000000000000010400000000000001b40000000000000f0bf',
          'x_min': '0.0',
          'y_max': '4.0'},
 'multilinestring': {'length': '14.0'},
 'multipolygon': {'area': '20.0', 'length': '0.0', 'perimeter': '24.0'},
 'nan': {},
 'nan_point': {},
 'no_rings': {'area': '0.0',
              'contains_g_p': False,
              'intersects_g_q': False,
              'intersects_q_g': False,
              'length': '0.0',
              'perimeter': '0.0'},
 'line_count_cut': {},
 'no_count': {},
 'null': {},
 'out_of_domain': {},
 'point': {'bbox': ('1.0', '1.0', '3.0', '3.0'),
           'centroid': '0101000000000000000000f03f0000000000000840',
           'contains_q_g': False,
           'd_fully_within': True,
           'envelope': '0101000000000000000000f03f0000000000000840',
           'intersects_g_q': False,
           'intersects_q_g': False,
           'length': '0.0',
           'locate_l_g': '0.125',
           'max_distance_g_p': '2.0',
           'max_distance_q_g': '5.830951894845301',
           'perimeter': '0.0',
           'x_min': '1.0',
           'y_max': '3.0'},
 'ring0': {'area': '0.0',
           'contains_g_p': False,
           'intersects_g_q': False,
           'intersects_q_g': False,
           'length': '0.0',
           'perimeter': '0.0'},
 'truncated': {}}

# The former byte walks' answers where they differ from EXPECTED.
BYTE_WALK = {'nan': {'bbox': ('0.0', '4.0', '0.0', '4.0'),
         'envelope': '010300000001000000050000000000000000000000000000000000000000000000000010400000000000000000000000000000104000000000000010400000000000000000000000000000104000000000000000000000000000000000',
         'intersects_g_q': True,
         'intersects_q_g': True,
         'length': '0.0',
         'x_min': '0.0',
         'y_max': '4.0'},
 'nan_point': {'bbox': (None, None, '1.0', '1.0'),
               'centroid': '0101000000000000000000f87f000000000000f03f',
               'intersects_g_q': False,
               'intersects_q_g': False,
               'length': '0.0',
               'perimeter': '0.0',
               'y_max': '1.0'},
 'out_of_domain': {'bbox': ('0.0', '4.0', '0.0', '4.0'),
                   'envelope': '010300000001000000050000000000000000000000000000000000000000000000000010400000000000000000000000000000104000000000000010400000000000000000000000000000104000000000000000000000000000000000',
                   'intersects_g_q': True,
                   'intersects_q_g': True,
                   'length': '0.0',
                   'x_min': '0.0',
                   'y_max': '4.0'},
 'truncated': {'bbox': ('0.0', '0.0', '0.0', '0.0'),
               'envelope': '010100000000000000000000000000000000000000',
               'intersects_g_q': False,
               'intersects_q_g': False,
               'length': '0.0',
               'x_min': '0.0',
               'y_max': '0.0'}}


@pytest.fixture(scope="module")
def answers(con):
    return _answers(con)


@pytest.mark.parametrize("name", sorted(INPUTS))
def test_wkb_contract(answers, name):
    want = {f: None for f in answers[name]}
    want["bbox"] = (None, None, None, None)
    want.update(EXPECTED[name])
    assert answers[name] == want



def test_decode_cut_count_is_null(con):
    """geo_decode, the EWKB ingest point, gives NULL for a header cut
    inside its count word — also for an EWKB header cut inside its
    SRID word, which is such a header once the SRID is stripped."""
    from ibis_spark import geo

    ewkb_cut = b"\x01" + struct.pack("<I", 3 | 0x20000000) + b"\xe6\x10"
    rows = [(k, INPUTS[k]) for k in ("no_count", "count_cut", "line_count_cut")]
    rows.append(("ewkb_cut", ewkb_cut))
    t = con.memtable(rows, schema={"k": "string", "g": "binary"})
    got = {r.k: r.d for r in t.select("k", d=geo.geo_decode(t.g)).df.collect()}
    assert got == {k: None for k, _ in rows}
