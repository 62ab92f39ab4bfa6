"""Only the decoder and the header/slice readers may read WKB bytes.

Every fold over coordinates reads WKB input by decoding it once
(``geo._as_dec``) and running the decoded fold.  A fold that walks the
bytes itself re-decodes them inside its lambdas, which made such folds
2-6x slower than decoding first (SCALE.md, "One coordinate lowering")
and gave a second answer to keep in parity.  This guard fails when a
new top-level function in ``ibis_spark`` calls the byte codec helpers
outside the allow-list below, and when an allow-listed function no
longer calls them (so the list shrinks with the code).

Spark-free: the check parses the source.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "ibis_spark"

CODEC = {"_hexle_double", "_le_uint32", "_wkb_double", "_pt_double"}

ALLOWED = {
    "ibis_spark/geo.py": {
        # the codec itself
        "_wkb_double",
        "_pt_double",
        # the decoder
        "_decode_parts",
        "_vertex_at",
        "_child_len",
        "_gc_parts",
        "_ewkb_norm",
        # readers of a header, a count or one vertex, which never
        # decode a coordinate run
        "_pt_x_expr",
        "_pt_y_expr",
        "geo_within_join",
        "geo_geometry_type",
        "geo_n_points",
        "geo_n_rings",
        "geo_start_point",
        "geo_end_point",
        "geo_point_n",
        "geo_flip_coordinates",
        "_is_multi",
        "_child_meta",
        "geo_geometry_n",
        "geo_ewkb_srid",
        "geo_as_ewkb",
    },
}


def _codec_callers(src: str, filename: str = "<src>") -> set[str]:
    """Top-level functions (and classes) whose body calls a codec
    helper, by bare name or as a module attribute."""
    out = set()
    for node in ast.parse(src, filename).body:
        if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            continue
        for call in ast.walk(node):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in CODEC:
                out.add(node.name)
                break
    return out


def _callers():
    return {
        str(p.relative_to(PKG.parent)): _codec_callers(p.read_text(), str(p))
        for p in sorted(PKG.rglob("*.py"))
    }


def test_only_allowed_functions_read_wkb_bytes():
    extra = {
        mod: sorted(names - ALLOWED.get(mod, set()))
        for mod, names in _callers().items()
        if names - ALLOWED.get(mod, set())
    }
    assert extra == {}, (
        f"byte codec called outside the allow-list: {extra}; fold over "
        "the decoded form (geo._as_dec) instead of walking WKB bytes"
    )


def test_allow_list_has_no_stale_entries():
    callers = _callers()
    stale = {
        mod: sorted(names - callers.get(mod, set()))
        for mod, names in ALLOWED.items()
        if names - callers.get(mod, set())
    }
    assert stale == {}, f"allow-listed but no longer a codec caller: {stale}"


def test_guard_trips_on_a_byte_walk_fold():
    src = (
        "from ibis_spark import geo\n"
        "def geo_area2(poly):\n"
        "    def step(s, h):\n"
        "        return s + _hexle_double(h, 0)\n"
        "    return step\n"
        "def geo_area3(poly):\n"
        "    return geo._le_uint32(poly, 6)\n"
        "def geo_area4(poly):\n"
        "    return _let(_as_dec(poly), _dec_area)\n"
    )
    assert _codec_callers(src) == {"geo_area2", "geo_area3"}
