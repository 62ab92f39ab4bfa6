"""GEOMETRYCOLLECTION (WKB type 7) + EWKB input — round 13.

Reference surface: ibis GeometryCollection type and GeoTransform
reading the source SRID from the geometry
(ibis/expr/datatypes/core.py GeoSpatial family;
ibis/expr/operations/geospatial.py:450).

Decoded representation under test: the header-part encoding
(geo._gc_parts) — parts[0] carries one (member_gtype, member_part_count)
vertex per member, parts[1:] are the members' parts laid out
consecutively.  Every test decodes REAL WKB bytes built here with
struct.pack, and the encode tests demand BYTE-EXACT round-trips.
"""

from __future__ import annotations

import struct

import pyspark.sql.functions as F
import pytest

from ibis_spark import geo


def wkb_point(x, y):
    return b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", x, y)


def wkb_line(pts):
    return (
        b"\x01"
        + struct.pack("<I", 2)
        + struct.pack("<I", len(pts))
        + b"".join(struct.pack("<dd", *p) for p in pts)
    )


def wkb_poly(rings):
    out = b"\x01" + struct.pack("<I", 3) + struct.pack("<I", len(rings))
    for r in rings:
        out += struct.pack("<I", len(r)) + b"".join(
            struct.pack("<dd", *p) for p in r
        )
    return out


def wkb_mpoint(pts):
    return (
        b"\x01"
        + struct.pack("<I", 4)
        + struct.pack("<I", len(pts))
        + b"".join(wkb_point(*p) for p in pts)
    )


def wkb_mline(lines):
    return (
        b"\x01"
        + struct.pack("<I", 5)
        + struct.pack("<I", len(lines))
        + b"".join(wkb_line(ln) for ln in lines)
    )


def wkb_mpoly(polys):
    return (
        b"\x01"
        + struct.pack("<I", 6)
        + struct.pack("<I", len(polys))
        + b"".join(polys)
    )


def wkb_gc(members):
    return (
        b"\x01"
        + struct.pack("<I", 7)
        + struct.pack("<I", len(members))
        + b"".join(members)
    )


def ewkb(wkb, srid):
    tw = struct.unpack_from("<I", wkb, 1)[0] | 0x20000000
    return (
        wkb[:1]
        + struct.pack("<I", tw)
        + struct.pack("<I", srid)
        + wkb[5:]
    )


SQ = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
TRI = [(10.0, 10.0), (12.0, 10.0), (12.0, 12.0), (10.0, 10.0)]
HOLE = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)]


def _kitchen_sink_gc():
    """One member of every supported type — 6 members, all shapes."""
    return wkb_gc(
        [
            wkb_point(1.0, 2.0),
            wkb_line([(0.0, 0.0), (3.0, 4.0)]),
            wkb_poly([SQ, HOLE]),
            wkb_mpoint([(5.0, 6.0), (7.0, 8.0)]),
            wkb_mline([[(0.0, 0.0), (1.0, 1.0)], [(2.0, 2.0), (3.0, 3.0)]]),
            wkb_mpoly([wkb_poly([SQ]), wkb_poly([TRI])]),
        ]
    )


def _decode_row(con, payload, cols):
    t = con.memtable([(1, payload)], schema={"id": "int64", "g": "binary"})
    t = t.mutate(d=geo.geo_decode(t.g, collections=True))
    sel = {k: f(geo.decoded(t.d)) for k, f in cols.items()}
    return t.select("id", **sel).df.collect()[0]


class TestCollectionDecode:
    def test_kitchen_sink_type_npoints_wkt(self, con):
        r = _decode_row(
            con,
            _kitchen_sink_gc(),
            {
                "typ": geo.geo_geometry_type,
                "np": geo.geo_n_points,
                "wkt": geo.geo_as_text,
            },
        )
        assert r.typ == "GEOMETRYCOLLECTION"
        # 1 + 2 + (5+5) + 2 + (2+2) + (5+4) vertices
        assert r.np == 28
        assert r.wkt == (
            "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 3 4), "
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
            "(1 1, 2 1, 2 2, 1 2, 1 1)), "
            "MULTIPOINT (5 6, 7 8), "
            "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3)), "
            "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
            "((10 10, 12 10, 12 12, 10 10))))"
        )

    def test_empty_collection(self, con):
        r = _decode_row(
            con,
            wkb_gc([]),
            {
                "typ": geo.geo_geometry_type,
                "np": geo.geo_n_points,
                "wkt": geo.geo_as_text,
            },
        )
        assert r.typ == "GEOMETRYCOLLECTION"
        assert r.np == 0
        assert r.wkt == "GEOMETRYCOLLECTION EMPTY"

    def test_nested_collection_nulls(self, con):
        nested = wkb_gc([wkb_gc([wkb_point(1.0, 1.0)])])
        r = _decode_row(con, nested, {"typ": geo.geo_geometry_type})
        assert r.typ is None

    def test_out_of_domain_member_nulls_whole(self, con):
        bad = wkb_gc([wkb_point(1.0, 2.0), wkb_point(1e300, 0.0)])
        r = _decode_row(con, bad, {"typ": geo.geo_geometry_type})
        assert r.typ is None

    def test_truncated_collection_nulls(self, con):
        r = _decode_row(
            con, _kitchen_sink_gc()[:40], {"typ": geo.geo_geometry_type}
        )
        assert r.typ is None


class TestCollectionEncode:
    def test_byte_exact_round_trip(self, con):
        src = _kitchen_sink_gc()
        t = con.memtable([(1, src)], schema={"id": "int64", "g": "binary"})
        t = t.mutate(d=geo.geo_decode(t.g, collections=True))
        out = t.select(
            "id",
            rt=geo.wrap(
                F.hex(geo.unwrap(geo.geo_encode(geo.decoded(t.d))))
            ),
        ).df.collect()[0]
        assert out.rt == src.hex().upper()

    def test_empty_round_trip(self, con):
        src = wkb_gc([])
        t = con.memtable([(1, src)], schema={"id": "int64", "g": "binary"})
        t = t.mutate(d=geo.geo_decode(t.g, collections=True))
        out = t.select(
            "id",
            rt=geo.wrap(
                F.hex(geo.unwrap(geo.geo_encode(geo.decoded(t.d))))
            ),
        ).df.collect()[0]
        assert out.rt == src.hex().upper()

    def test_constructor_matches_wkb_decode(self, con):
        """geo_collection over decoded ctors encodes to the same bytes
        as the hand-built WKB collection."""
        import ibis_spark as ib

        src = wkb_gc([wkb_point(1.0, 2.0), wkb_poly([SQ])])
        t = con.memtable([(1.0,)], schema={"v": "float64"})
        z = t.v - t.v
        pt = geo.geo_point(z + 1.0, z + 2.0, decoded=True)
        pl = geo.geo_polygon(
            ib.array(z, z + 4.0, z + 4.0, z),
            ib.array(z, z, z + 4.0, z + 4.0),
            decoded=True,
        )
        gc_built = geo.geo_collection(pt, pl)
        out = t.select(
            hx=geo.wrap(F.hex(geo.unwrap(geo.geo_encode(gc_built))))
        ).df.collect()[0]
        assert out.hx == src.hex().upper()

    def test_collection_as_ewkb(self, con):
        src = wkb_gc([wkb_point(1.0, 2.0)])
        t = con.memtable([(1, src)], schema={"id": "int64", "g": "binary"})
        t = t.mutate(d=geo.geo_decode(t.g, collections=True))
        out = t.select(
            "id",
            e=geo.wrap(
                F.hex(
                    geo.unwrap(
                        geo.geo_as_ewkb(geo.decoded(t.d), 4326)
                    )
                )
            ),
        ).df.collect()[0]
        assert out.e == ewkb(src, 4326).hex().upper()


class TestEwkbInput:
    def test_decode_strips_srid(self, con):
        rows = [
            (1, ewkb(wkb_point(2.0, 3.0), 4326)),
            (2, wkb_point(2.0, 3.0)),
            (3, ewkb(wkb_poly([SQ]), 3857)),
        ]
        t = con.memtable(rows, schema={"id": "int64", "g": "binary"})
        t = t.mutate(d=geo.geo_decode(t.g), s=geo.geo_ewkb_srid(t.g))
        got = {
            r.id: r
            for r in t.select(
                "id",
                s=t.s,
                wkt=geo.geo_as_text(geo.decoded(t.d)),
            ).df.collect()
        }
        assert got[1].wkt == got[2].wkt == "POINT (2 3)"
        assert got[1].s == 4326 and got[2].s is None
        assert got[3].s == 3857
        assert got[3].wkt.startswith("POLYGON")

    def test_zm_flagged_nulls(self, con):
        """Z/M EWKB dimensions are unsupported — NULL, never garbage."""
        pt = wkb_point(1.0, 2.0)
        tw = struct.unpack_from("<I", pt, 1)[0] | 0x80000000
        z_pt = (
            pt[:1]
            + struct.pack("<I", tw)
            + pt[5:]
            + struct.pack("<d", 9.0)
        )
        t = con.memtable([(1, z_pt)], schema={"id": "int64", "g": "binary"})
        t = t.mutate(d=geo.geo_decode(t.g), s=geo.geo_ewkb_srid(t.g))
        r = t.select(
            "id", s=t.s, typ=geo.geo_geometry_type(geo.decoded(t.d))
        ).df.collect()[0]
        assert r.typ is None and r.s is None

    def test_transform_reads_embedded_srid(self, con):
        """geo_transform with no source_srid dispatches per row on the
        embedded SRID: 4326 projects, target-SRID passes through
        unchanged, plain WKB defaults to 4326, foreign SRIDs NULL."""
        lonlat = wkb_point(12.0, 55.0)
        already = ewkb(wkb_point(1335833.8895192828, 7361866.113051186), 3857)
        rows = [
            (1, ewkb(lonlat, 4326)),
            (2, lonlat),
            (3, already),
            (4, ewkb(lonlat, 32631)),
        ]
        t = con.memtable(rows, schema={"id": "int64", "g": "binary"})
        out = t.mutate(w=geo.geo_transform(t.g, 3857))
        got = {
            r.id: r
            for r in out.select(
                "id",
                x=geo.geo_x(geo.decoded(out.w)),
                y=geo.geo_y(geo.decoded(out.w)),
            ).df.collect()
        }
        # 4326 (embedded or default) -> web mercator forward
        assert got[1].x == pytest.approx(1335833.8895192828, rel=1e-12)
        assert got[2].x == got[1].x and got[2].y == got[1].y
        # already in target: identity (exact)
        assert got[3].x == 1335833.8895192828
        assert got[3].y == 7361866.113051186
        # UTM source without explicit source_srid: NULL, not wrong
        assert got[4].x is None

    def test_transform_explicit_source_still_wins(self, con):
        g = ewkb(wkb_point(1335833.8895192828, 7361866.113051186), 3857)
        t = con.memtable([(1, g)], schema={"id": "int64", "g": "binary"})
        # explicit source_srid keeps geo_convert semantics; the
        # embedded SRID is ignored (and here they agree)
        out = t.mutate(b=geo.geo_transform(t.g, 4326, source_srid=3857))
        r = out.select(
            "id",
            x=geo.geo_x(geo.decoded(out.b)),
            y=geo.geo_y(geo.decoded(out.b)),
        ).df.collect()[0]
        assert r.x == pytest.approx(12.0, abs=1e-9)
        assert r.y == pytest.approx(55.0, abs=1e-9)

    def test_batch_setop_accepts_ewkb(self, con):
        """The batch set ops read EWKB through geo_decode, which strips
        the SRID header: a tagged polygon answers like its plain twin."""
        plain = wkb_poly([SQ])
        tagged = ewkb(plain, 4326)
        far = wkb_poly([[(x + 20.0, y + 20.0) for x, y in SQ]])
        t = con.memtable(
            [(1, plain, far), (2, tagged, far)],
            schema={"id": "int64", "g": "binary", "f": "binary"},
        )
        out = geo.geo_setops_batch(
            t, geo.geo_decode(t.g), geo.geo_decode(t.f),
            ops=("union",), names=["u"], keep=["id"],
        )
        r = out.select("id", a=geo.geo_area(out.u)).df.collect()
        assert {x.id: x.a for x in r} == {1: 32.0, 2: 32.0}


class TestCollectionTransform:
    def test_convert_skips_header_part(self, con):
        """geo_convert over a decoded collection maps member vertices
        but must NOT map the header bookkeeping part."""
        src = wkb_gc([wkb_point(12.0, 55.0), wkb_point(12.0, 55.0)])
        t = con.memtable([(1, src)], schema={"id": "int64", "g": "binary"})
        t = t.mutate(d=geo.geo_decode(t.g, collections=True))
        out = t.mutate(w=geo.geo_convert(geo.decoded(t.d), 4326, 3857))
        r = out.select(
            "id",
            typ=geo.geo_geometry_type(geo.decoded(out.w)),
            wkt=geo.geo_as_text(geo.decoded(out.w)),
        ).df.collect()[0]
        assert r.typ == "GEOMETRYCOLLECTION"
        # both members projected; header intact (else typ/wkt break)
        assert r.wkt.count("POINT (1335833.8895192828") == 2
