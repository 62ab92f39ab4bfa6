"""No ibis_spark module may call a module-level name that shadows a builtin.

ibis_spark mirrors the reference's API, so some modules define public
names after builtins: ``ibis_spark.range``, ``ibis_spark.map``,
``ibis_spark.selectors.all``.  Inside such a module a bare ``range(...)``
is the module's own function, not the builtin.  read_parquet's footer
read once called ``range(len(schema))`` there: it built a Spark Column,
hit a TypeError that a bare ``except`` swallowed, and the
TIMESTAMP(NANOS) shim never ran.  Call the builtin as ``builtins.range``.

Spark-free: the check parses the source.
"""

from __future__ import annotations

import ast
import builtins
import pathlib
import symtable

PKG = pathlib.Path(__file__).resolve().parent.parent / "ibis_spark"
BUILTINS = set(dir(builtins))


def _shadowing_names(src: str, filename: str = "<src>") -> set[str]:
    """Builtin names the module binds at module scope (def, class,
    assignment or import, at any nesting of if/try)."""
    top = symtable.symtable(src, filename, "exec")
    bound = {
        s.get_name()
        for s in top.get_symbols()
        if s.is_assigned() or s.is_imported() or s.is_namespace()
    }
    return bound & BUILTINS


def _shadowing_calls(src: str, filename: str = "<src>") -> list[tuple[int, str]]:
    """(line, name) of every bare call to a shadowing name."""
    shadow = _shadowing_names(src, filename)
    return sorted(
        (node.lineno, node.func.id)
        for node in ast.walk(ast.parse(src, filename))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in shadow
    )


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield str(path.relative_to(PKG.parent)), path.read_text()


def test_no_module_calls_a_shadowed_builtin():
    found = {}
    for name, src in _sources():
        calls = _shadowing_calls(src, name)
        if calls:
            found[name] = calls
    assert found == {}, (
        f"bare calls to module-level names that shadow builtins: {found}; "
        "call the builtin through the builtins module"
    )


def test_guard_sees_the_package_shadowing_names():
    names = {name: _shadowing_names(src, name) for name, src in _sources()}
    assert {"range", "map"} <= names["ibis_spark/__init__.py"]
    assert "all" in names["ibis_spark/selectors.py"]


def test_guard_trips_on_a_shadowed_call():
    src = (
        "import builtins\n"
        "def range(start, stop=None):\n"
        "    return start\n"
        "def columns(schema):\n"
        "    return [i for i in range(len(schema))]\n"
        "def fixed(schema):\n"
        "    return [i for i in builtins.range(len(schema))]\n"
    )
    assert _shadowing_calls(src) == [(5, "range")]


def test_guard_sees_imported_and_conditional_bindings():
    src = (
        "from functools import reduce as all\n"
        "try:\n"
        "    from os import sep as map\n"
        "except ImportError:\n"
        "    map = None\n"
        "def f(xs):\n"
        "    return all(xs), map(xs), len(xs)\n"
    )
    assert _shadowing_calls(src) == [(7, "all"), (7, "map")]
