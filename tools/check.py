"""Local oracle cross-check — mirrors the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at sf0.01 and the
matching ``oracle_sql()`` on DuckDB over the same parquet tables, then
compares row count, column names, and values (order-insensitive; exact for
non-floats, and both exact and 1e-9-relative for floats so we can spot
entries that need explicit rounding to survive a strict value-hash).

Usage: python tools/check.py [--strict] [name ...]

The checkout that holds this script is put first on ``sys.path``, so a
second checkout (a parent commit, a scratch copy) checks its own code.

``--strict`` mirrors the driver's byte-hash exactly (VERDICT r7 item 2):
every float is canonicalized to ``repr`` (so a single-ulp difference, or
-0.0 vs 0.0, is a FAIL) and the 1e-9 approx fallback is disabled.  A
float-emitting query must prove hash-stability under --strict, not mere
value-closeness — anything that only passes the default mode would be
APPROX-ONLY under the driver and may flip red on a different libm.
"""

from __future__ import annotations

import math
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
STRICT = False


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if STRICT:
            # repr distinguishes every ulp AND the sign of zero — the
            # same discrimination the driver's value-hash has.
            return f"f:{v!r}"
        return v
    return v


def _rows_to_sorted(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _approx_eq(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        if a == "NaN" or b == "NaN":
            return a == b
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return a == b
    return a == b


def main():
    global STRICT
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    STRICT = len(argv) != len(sys.argv) - 1
    only = set(argv)
    import duckdb

    from pyspark.sql import SparkSession

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        # planning-only tax; can only ADD inferred predicates, never
        # change results (see bench.py note) — keeps full sweeps fast
        .config("spark.sql.constraintPropagation.enabled", "false")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    ddb = duckdb.connect()
    for t in TABLES:
        ddb.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    passed = failed = weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            failed += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"weak  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            weak += 1
            continue
        try:
            res = ddb.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failed += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs oracle {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs oracle {sorted(ocols)}")
        if not problems:
            s_sorted = _rows_to_sorted(srows, scols)
            o_sorted = _rows_to_sorted(orows, ocols)
            exact = s_sorted == o_sorted
            if exact:
                # value-equality can hide a cell-TYPE divergence the
                # driver's strict hash still rejects (Decimal('0') == 0.0
                # in Python, but hashes differently) — compare classes too
                for sr, orow in zip(s_sorted, o_sorted):
                    for a, b in zip(sr, orow):
                        if a is not None and b is not None and type(a) is not type(b) \
                                and not (isinstance(a, bool) is isinstance(b, bool)
                                         and isinstance(a, int) and isinstance(b, int)):
                            problems.append(
                                f"TYPE-DIVERGENT: spark {type(a).__name__}"
                                f"({a!r}) vs oracle {type(b).__name__}({b!r})"
                                " — cast the oracle column"
                            )
                            break
                    if problems:
                        break
            if not exact and STRICT:
                bad = next(
                    (i, sr, orow)
                    for i, (sr, orow) in enumerate(zip(s_sorted, o_sorted))
                    if sr != orow
                )
                problems.append(
                    f"STRICT hash mismatch, e.g. row {bad[0]}: spark={bad[1]} oracle={bad[2]}"
                )
            elif not exact:
                ok = all(
                    all(_approx_eq(a, b) for a, b in zip(sr, orow))
                    for sr, orow in zip(s_sorted, o_sorted)
                )
                if ok:
                    problems.append("APPROX-ONLY (floats differ in last ulps — add rounding)")
                else:
                    bad = next(
                        (i, sr, orow)
                        for i, (sr, orow) in enumerate(zip(s_sorted, o_sorted))
                        if not all(_approx_eq(a, b) for a, b in zip(sr, orow))
                    )
                    problems.append(f"values differ, e.g. row {bad[0]}: spark={bad[1]} oracle={bad[2]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}  ({time.time()-t0:.1f}s)")
            failed += 1
        else:
            print(f"ok    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            passed += 1
    print(f"\n{passed} ok, {failed} fail, {weak} rows-only")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
