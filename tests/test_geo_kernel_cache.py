"""The geometry kernel cache: ``geo._let`` builds the JVM lambda of a
constant body once per live SparkContext and reuses it.

Evidence, all against closed forms:

1. the cache key (Spark-free): constants of different type or sign
   never share a key, and anything that is not a plain constant —
   a Column above all — makes a body uncacheable;
2. the guard: a second build of the same decoded measure makes a small
   fixed number of py4j calls instead of rebuilding every body;
3. safety: a Column-capturing body is never shared, distinct constant
   parameters in one projection keep their own results, a kernel nested
   in itself and reused on either side of a batch stage stays right, the
   size cap holds, also under concurrent builds, and a restarted
   SparkContext rebuilds its kernels.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from ibis_spark import geo

REPO = Path(__file__).resolve().parents[1]


# -- 1. the key ----------------------------------------------------------------


def _const_body(c):
    return lambda x: x + c


def test_kernel_key_separates_type_and_sign():
    keys = [geo._kernel_key(_const_body(c)) for c in (1, 1.0, True, 0.0, -0.0, "1")]
    assert None not in keys
    assert len(set(keys)) == len(keys)
    # the same code and the same constant share one key
    assert geo._kernel_key(_const_body(2.5)) == geo._kernel_key(_const_body(2.5))


def test_kernel_key_follows_nested_functions_and_tuples():
    inner = _const_body(3)
    outer_a = lambda x: inner(x) * (1, 2)[0]  # noqa: E731
    assert geo._kernel_key(outer_a) is not None
    assert geo._kernel_key(_const_body((1, 2.0))) != geo._kernel_key(
        _const_body((1, 2))
    )


def test_kernel_key_refuses_non_constants():
    class Thing:
        pass

    for v in ([1], {"a": 1}, Thing(), (1, [2])):
        assert geo._kernel_key(_const_body(v)) is None
    assert geo._kernel_key(_const_body(_const_body([1]))) is None

    def rec(x):  # a def that names itself: its own cell
        return rec

    assert geo._kernel_key(rec) is None


def test_kernel_key_refuses_a_column(spark):
    from pyspark.sql import functions as F

    assert geo._kernel_key(_const_body(F.lit(1))) is None


# -- 2. the guard ----------------------------------------------------------------


def _xy_table(con):
    return con.memtable(
        [(1, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 3.0, 3.0])],
        schema={"i": "int64", "xs": "array<float64>", "ys": "array<float64>"},
    )


def test_rebuilt_measure_makes_few_py4j_calls(con, count_py4j):
    """Rebuilding geo_area(geo_polygon(..., decoded=True)) re-runs only
    the constructor's own Column calls and the LET bindings: ~330 py4j
    calls, against ~2,260 when every measure body was rebuilt."""
    t = _xy_table(con)

    def build():
        return geo.geo_area(geo.geo_polygon(t.xs, t.ys, decoded=True))

    build()
    with count_py4j() as first:
        e = build()
    with count_py4j() as second:
        build()
    assert first["calls"] == second["calls"]
    assert second["calls"] <= 400
    assert t.select(a=e).df.collect()[0].a == 12.0


# -- 3. safety -----------------------------------------------------------------


def _line_table(con, n_rows=4):
    # (k, 0) -> (k + 4, 0) -> (k + 4, 4): length 8
    return con.memtable(
        [(k, (k % 3) + 1) for k in range(n_rows)],
        schema={"k": "int64", "n": "int64"},
    )


def _line(t):
    import ibis_spark as ib

    x = t.k.cast("float64")
    z = x - x
    return geo.geo_linestring(
        ib.array(x, x + 4.0, x + 4.0), ib.array(z, z, z + 4.0), decoded=True
    )


def test_column_capturing_body_is_not_shared(con):
    """geo_point_n's body captures the per-row index column: every row
    must get its own vertex, and a constant index in the same
    projection must not be served the column body (or vice versa)."""
    t = _line_table(con)
    g = _line(t)
    rows = (
        t.select(
            "k",
            "n",
            px=geo.geo_x(geo.geo_point_n(g, t.n)),
            py=geo.geo_y(geo.geo_point_n(g, t.n)),
            p2=geo.geo_x(geo.geo_point_n(g, 2)),
        )
        .df.collect()
    )
    verts = lambda k: [(k, 0.0), (k + 4.0, 0.0), (k + 4.0, 4.0)]  # noqa: E731
    assert len(rows) == 4
    for r in rows:
        assert (r.px, r.py) == verts(r.k)[r.n - 1]
        assert r.p2 == r.k + 4.0


def test_distinct_constants_keep_their_own_kernels(con):
    """Three line_substring kernels (float constants in the closure)
    in ONE projection, plus a repeat of the first: each returns its
    own closed-form piece."""
    t = _line_table(con)
    g = _line(t)
    pieces = {"a": (0.0, 0.25), "b": (0.5, 1.0), "c": (0.25, 0.75), "d": (0.0, 0.25)}
    cols = {}
    for name, (s, e) in pieces.items():
        sub = geo.geo_line_substring(g, s, e)
        cols[f"{name}_len"] = geo.geo_length(sub)
        cols[f"{name}_sx"] = geo.geo_x(geo.geo_start_point(sub))
        cols[f"{name}_ey"] = geo.geo_y(geo.geo_end_point(sub))
    rows = t.select("k", **cols).df.collect()
    for r in rows:
        k = float(r.k)
        assert (r.a_len, r.a_sx, r.a_ey) == (2.0, k, 0.0)
        assert (r.b_len, r.b_sx, r.b_ey) == (4.0, k + 4.0, 4.0)
        assert (r.c_len, r.c_sx, r.c_ey) == (4.0, k + 2.0, 2.0)
        assert (r.d_len, r.d_sx, r.d_ey) == (r.a_len, r.a_sx, r.a_ey)


def test_kernel_nested_in_itself(con):
    """flip(flip(g)) is g: the cached flip lambda bound over its own
    output; and a flip of a flip inside one projection beside a
    single flip."""
    t = _line_table(con)
    g = _line(t)
    rows = t.select(
        "k",
        g0=g,
        g2=geo.geo_flip_coordinates(geo.geo_flip_coordinates(g)),
        fy=geo.geo_y(geo.geo_end_point(geo.geo_flip_coordinates(g))),
    ).df.collect()
    for r in rows:
        assert r.g2 == r.g0 and r.g0 is not None
        assert r.fy == r.k + 4.0


def test_area_kernel_on_both_sides_of_a_batch_stage(con):
    """geo_area's cached lambda below the batch stage (on the inputs)
    and above it (on the outputs): square (1..5)^2 against an L-shape
    of area 20 — intersection 7, difference 9, union 29."""
    import ibis_spark as ib

    def shapes(tt):
        z = (tt.i - tt.i).cast("float64")
        a = geo.geo_polygon(
            ib.array(z + 1, z + 5, z + 5, z + 1),
            ib.array(z + 1, z + 1, z + 5, z + 5),
            decoded=True,
        )
        ell = geo.geo_polygon(
            ib.array(z, z + 6, z + 6, z + 2, z + 2, z),
            ib.array(z, z, z + 2, z + 2, z + 6, z + 6),
            decoded=True,
        )
        return a, ell

    t = con.memtable([(1,)], schema={"i": "int64"})
    a, ell = shapes(t)
    t = t.mutate(aa=geo.geo_area(a), la=geo.geo_area(ell))
    a, ell = shapes(t)
    out = geo.geo_setops_batch(t, a, ell, keep=["i", "aa", "la"])
    r = out.select(
        "aa",
        "la",
        ia=geo.geo_area(out["intersection"]),
        da=geo.geo_area(out["difference"]),
        ua=geo.geo_area(out["union"]),
    ).df.collect()[0]
    assert (r.aa, r.la, r.ia, r.da, r.ua) == (16.0, 20.0, 7.0, 9.0, 29.0)


def test_kernel_cache_is_capped(con, monkeypatch):
    """Distinct constant parameters cannot grow the cache past its cap;
    evicted kernels rebuild and stay right."""
    monkeypatch.setattr(geo, "_KERNEL_CAP", 2)
    sc = con._session.sparkContext
    t = _line_table(con, n_rows=1)
    g = _line(t)
    ends = [0.125, 0.25, 0.375, 0.5, 0.125]
    lens = t.select(
        **{f"l{i}": geo.geo_length(geo.geo_line_substring(g, 0.0, e))
           for i, e in enumerate(ends)}
    ).df.collect()[0]
    assert len(sc._ibis_spark_kernels) <= 2
    assert list(lens) == [8.0 * e for e in ends]


def test_kernel_cache_concurrent_builds(con, monkeypatch):
    """Threads building distinct and shared kernels at once, with a cap
    far below the number of keys and a short switch interval: no build
    fails and the cap holds (the eviction is check-then-act)."""
    import threading

    monkeypatch.setattr(geo, "_KERNEL_CAP", 3)
    sc = con._session.sparkContext
    t = _line_table(con, n_rows=1)
    g = _line(t)
    errors = []

    def work(i):
        try:
            for j in range(3):
                geo.geo_line_substring(g, 0.0, (1 + (i + j) % 6) / 8.0)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(sc._ibis_spark_kernels) <= 3


_RESTART = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession
    import ibis_spark as isp
    from ibis_spark import geo

    def session():
        return (SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "1")
                .config("spark.driver.memory", "512m").getOrCreate())

    def area(spark):
        con = isp.connect(spark)
        t = con.memtable([(1, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 3.0, 3.0])],
                         schema={"i": "int64", "xs": "array<float64>",
                                 "ys": "array<float64>"})
        e = geo.geo_area(geo.geo_polygon(t.xs, t.ys, decoded=True))
        return t.select(a=e).df.collect()[0].a

    s1 = session()
    sc1 = s1.sparkContext
    assert area(s1) == 12.0 and sc1._ibis_spark_kernels
    s1.stop()
    assert geo._kernel(lambda x: x) is None  # stopped: uncached path
    s2 = session()
    sc2 = s2.sparkContext
    assert sc2 is not sc1 and not hasattr(sc2, "_ibis_spark_kernels")
    assert area(s2) == 12.0 and sc2._ibis_spark_kernels
    s2.stop()
    print("RESTART-OK")
    """
)


def test_restarted_context_rebuilds_kernels():
    """Stop the SparkContext and start a new one in a child process (the
    suite's shared session is untouched): kernels rebuild on the new
    gateway and answer right; none is taken from the dead one."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART],
        cwd=str(REPO),
        env=dict(os.environ, PYTHONPATH=str(REPO)),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESTART-OK" in proc.stdout
