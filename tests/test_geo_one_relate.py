"""Every DE-9IM predicate builds through the one ``geo._relate``.

Each predicate's formula is spelled once, in ``geo._DE9IM`` over the
named cores of ``geo._CORES``, and ``_relate`` binds the pair context
and the shared cores once.  A predicate that builds the pair context or
calls a core itself is a second lowering: it rebuilds cores that
``_relate`` binds once, and its answers drift from ``geo_relate``'s (the
former per-predicate bodies answered False where geo_relate answered
NULL).  This guard fails when a top-level function or table in
``ibis_spark`` other than those below calls the cores or builds the
pair context, when an allowed caller no longer does (so the lists
shrink with the code), and when a public predicate's body is more than
one ``_relate`` call.

Spark-free: the check parses the source.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "ibis_spark"

GUARDED = {
    # the cores: only the core table builds them
    "_c_intersects": {"_CORES"},
    "_c_interiors_intersect": {"_CORES"},
    "_c_covers": {"_CORES"},
    # the pair context: only the one builder binds it
    "_pair_ctx": {"_relate"},
}

PREDICATES = {
    "geo_intersects",
    "geo_disjoint",
    "geo_touches",
    "geo_crosses",
    "geo_overlaps",
    "geo_covers",
    "geo_covered_by",
    "geo_within",
    "geo_contains_properly",
    "geo_relate",
}


def _top_level(tree):
    """(name, node) of each top-level function, class and assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id, node


def _callers(src: str, filename: str = "<src>") -> dict[str, set[str]]:
    """guarded name -> top-level names whose body calls or passes it on
    (a table entry is a call deferred), by bare name or as a module
    attribute."""
    out = {g: set() for g in GUARDED}
    for name, node in _top_level(ast.parse(src, filename)):
        for ref in ast.walk(node):
            if isinstance(ref, ast.Name) and isinstance(ref.ctx, ast.Load):
                fn = ref.id
            elif isinstance(ref, ast.Attribute):
                fn = ref.attr
            else:
                continue
            if fn in out:
                out[fn].add(name)
    return out


def _all_callers():
    merged = {g: set() for g in GUARDED}
    for p in sorted(PKG.rglob("*.py")):
        for g, names in _callers(p.read_text(), str(p)).items():
            merged[g] |= names
    return merged


def test_only_the_relate_builder_lowers_a_predicate():
    extra = {
        g: sorted(names - GUARDED[g])
        for g, names in _all_callers().items()
        if names - GUARDED[g]
    }
    assert extra == {}, (
        f"a DE-9IM core or the pair context is built outside _relate: "
        f"{extra}; add the formula to geo._DE9IM and call _relate"
    )


def test_allow_list_has_no_stale_entries():
    callers = _all_callers()
    stale = {
        g: sorted(allowed - callers[g])
        for g, allowed in GUARDED.items()
        if allowed - callers[g]
    }
    assert stale == {}, f"allowed but no longer a caller: {stale}"


def _non_relate_predicates(src: str) -> set[str]:
    """Public predicates whose body, after the docstring, is not one
    ``return _relate(...)``."""
    bad = set()
    for name, node in _top_level(ast.parse(src)):
        if name not in PREDICATES or not isinstance(node, ast.FunctionDef):
            continue
        body = node.body
        if body and isinstance(body[0], ast.Expr) and isinstance(
            getattr(body[0], "value", None), ast.Constant
        ):
            body = body[1:]
        ok = (
            len(body) == 1
            and isinstance(body[0], ast.Return)
            and isinstance(body[0].value, ast.Call)
            and getattr(body[0].value.func, "id", None) == "_relate"
        )
        if not ok:
            bad.add(name)
    return bad


def test_each_predicate_is_one_relate_call():
    src = (PKG / "geo.py").read_text()
    defined = {n for n, _ in _top_level(ast.parse(src))}
    assert PREDICATES <= defined
    assert _non_relate_predicates(src) == set()


def test_guard_trips_on_a_twin_lowering():
    src = (
        "from ibis_spark import geo\n"
        "def geo_crosses2(a, b):\n"
        "    return wrap(_let(_pair_ctx(a, b), lambda s: geo._c_covers(s, S)))\n"
        "_TWIN = {'ii': _c_interiors_intersect}\n"
        "def geo_touches(a, b):\n"
        "    '''doc'''\n"
        "    s = 1\n"
        "    return _relate(a, b, 'touches')\n"
        "def geo_covers(a, b):\n"
        "    '''doc'''\n"
        "    return _relate(a, b, 'covers')\n"
    )
    got = _callers(src)
    assert got["_pair_ctx"] == {"geo_crosses2"}
    assert got["_c_covers"] == {"geo_crosses2"}
    assert got["_c_interiors_intersect"] == {"_TWIN"}
    assert _non_relate_predicates(src) == {"geo_touches"}
