"""Generated inputs.  Everything lands under ``perfbench/_work`` (ignored
by git), so a checkout regenerates it on its first run:

- ``tpch/``: TPC-H at scale factor 0.1 from DuckDB's built-in ``dbgen``,
  DECIMAL columns stored as DOUBLE, one row group per file.  It does not
  depend on the seed and is generated once.
- ``geo_<seed>_<pairs>.parquet``: the `geo` workload's rows.  Row 0 is the fixed
  polygon pair on which ``geo_batch.setop`` returns a union smaller than
  one of its inputs; the other rows are seeded random simple star-shaped
  8-gon pairs plus an integer ``k`` that drives the closed-form shapes.

Regenerate by hand with ``python3 perfbench/data.py [--seed N]``.
"""

from __future__ import annotations

import argparse
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
TPCH_DIR = os.path.join(WORK, "tpch")
TPCH_TABLES = ["lineitem", "orders", "customer", "part", "supplier", "nation",
               "region"]

GEO_PAIRS = 500

# The pair from ROADMAP's kernel fuzz (open rings): the kernel's union has
# area 82.06 while area(B) alone is 129.15.
FIXED_A = [(5.8, 1.0), (-0.146723, 4.675759), (-3.5, 7.5), (-4.0, 4.4),
           (2.6, -4.06844), (3.9, -3.0), (6.4, -2.1), (7.873074, -3.0)]
FIXED_B = [(5.5, 3.0), (4.401761, 3.0), (2.3, 7.0), (0.1, 8.9), (-6.0, 2.0),
           (-6.109126, -1.6), (-0.095591, -8.0), (6.4, -3.0)]


def tpch():
    """Write the sf0.1 TPC-H parquet files once; return their directory."""
    if all(os.path.exists(os.path.join(TPCH_DIR, f"{t}.parquet")) for t in TPCH_TABLES):
        return TPCH_DIR
    import duckdb

    tmp = TPCH_DIR + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute("CALL dbgen(sf=0.1)")
    for t in TPCH_TABLES:
        cols = con.execute(f"DESCRIBE {t}").fetchall()
        sel = ", ".join(
            f"CAST({c[0]} AS DOUBLE) AS {c[0]}" if c[1].startswith("DECIMAL") else c[0]
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM {t}) TO '{tmp}/{t}.parquet' "
            "(FORMAT parquet, ROW_GROUP_SIZE 100000000)"
        )
    con.close()
    try:
        os.rename(tmp, TPCH_DIR)
    except OSError:  # another process finished first
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return TPCH_DIR


def star_polygon(rng, n=8):
    """A simple star-shaped polygon: n vertices at sorted random angles
    with every angular gap below pi, radii in [2, 8], around a random
    centre in [-2, 2]^2."""
    while True:
        angles = sorted(rng.uniform(0.0, 2.0 * math.pi) for _ in range(n))
        gaps = [b - a for a, b in zip(angles, angles[1:])]
        gaps.append(2.0 * math.pi - angles[-1] + angles[0])
        if max(gaps) < math.pi:
            break
    cx, cy = rng.uniform(-2.0, 2.0), rng.uniform(-2.0, 2.0)
    pts = []
    for a in angles:
        r = rng.uniform(2.0, 8.0)
        pts.append((round(cx + r * math.cos(a), 6), round(cy + r * math.sin(a), 6)))
    return pts


def geo(seed):
    """Write the `geo` rows for ``seed``; return the file path."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(WORK, f"geo_{seed}_{GEO_PAIRS}.parquet")
    if os.path.exists(path):
        return path
    rng = random.Random(f"geo-{seed}")
    pairs = [(FIXED_A, FIXED_B)] + [
        (star_polygon(rng), star_polygon(rng)) for _ in range(GEO_PAIRS - 1)
    ]
    table = pa.table({
        "id": pa.array(range(len(pairs)), pa.int64()),
        "k": pa.array([rng.randrange(1_000_000) for _ in pairs], pa.int64()),
        "ax": [[x for x, _ in a] for a, _ in pairs],
        "ay": [[y for _, y in a] for a, _ in pairs],
        "bx": [[x for x, _ in b] for _, b in pairs],
        "by": [[y for _, y in b] for _, b in pairs],
    })
    os.makedirs(WORK, exist_ok=True)
    tmp = path + f".tmp{os.getpid()}"
    pq.write_table(table, tmp, row_group_size=len(pairs))
    os.replace(tmp, path)
    return path


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    print(tpch())
    print(geo(a.seed))
