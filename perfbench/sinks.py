"""The export operations of the `tpch` workload: one lineitem x orders
filtered projection, built fresh for each sink and delivered through
``to_pyarrow``, ``to_pandas`` and ``to_parquet`` (read back with
pyarrow), plus Spark's noop sink as the execution floor.  Each delivered
result is checked against DuckDB's row count and per-column sums over
the same parquet.
"""

from __future__ import annotations

import functools

from common import Op

SINKS = ["noop", "to_pyarrow", "to_pandas", "to_parquet"]

# (name, kind) of the delivered columns; kind picks the per-column sum,
# or is the SQL of a computed column
_COLS = [
    ("l_orderkey", "num"), ("l_linenumber", "num"), ("l_quantity", "num"),
    ("l_extendedprice", "num"), ("l_discount", "num"),
    ("revenue", "l_extendedprice * (1 - l_discount)"),
    ("l_shipdate", "date"), ("l_returnflag", "str"), ("o_orderdate", "date"),
    ("o_totalprice", "num"), ("o_orderpriority", "str"),
]


def draw(rng):
    # a sixteenth of the parts by key: about 37.5k lineitem rows whatever
    # the bucket, so the delivered volume does not depend on the seed
    bucket = rng.randrange(16)
    return {f"export_{sink}": {"bucket": bucket} for sink in SINKS}


def projection(ib, t, p):
    li, o = t["lineitem"], t["orders"]
    j = li.filter(li.l_partkey % 16 == p["bucket"]).join(o, [("l_orderkey", "o_orderkey")])
    return j.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        revenue=j.l_extendedprice * (1 - j.l_discount),
        l_shipdate=j.l_shipdate, l_returnflag=j.l_returnflag,
        o_orderdate=j.o_orderdate, o_totalprice=j.o_totalprice,
        o_orderpriority=j.o_orderpriority,
    )


def _oracle_sql(p):
    aggs = []
    for name, kind in _COLS:
        expr = {"num": name, "date": f"date_diff('day', DATE '1970-01-01', {name})",
                "str": f"length({name})"}.get(kind, kind)
        aggs.append(f"CAST(SUM({expr}) AS DOUBLE) AS {name}")
    return f"""
    SELECT COUNT(*) AS n_rows, {', '.join(aggs)}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_partkey % 16 = {p['bucket']}"""


def _sums(table):
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {"n_rows": table.num_rows}
    for name, kind in _COLS:
        col = table.column(name)
        if kind == "date":
            col = pc.cast(pc.cast(col, pa.date32()), pa.int32())
        elif kind == "str":
            col = pc.utf8_length(col)
        out[name] = pc.sum(pc.cast(col, pa.float64())).as_py()
    return out


@functools.lru_cache(maxsize=None)
def _oracle(duck, bucket):
    res = duck.execute(_oracle_sql({"bucket": bucket}))
    return dict(zip([d[0] for d in res.description], res.fetchone()))


def check(result, p, duck):
    import pyarrow as pa

    if result is None:  # noop sink: nothing is delivered
        return True, {}
    if not isinstance(result, pa.Table):
        result = pa.Table.from_pandas(result, preserve_index=False)
    got = _sums(result)
    want = _oracle(duck, p["bucket"])
    bad = [k for k in want if k not in got or not (
        got[k] == want[k] or abs(got[k] - want[k]) <= 1e-9 * max(abs(want[k]), 1.0))]
    if bad:
        return False, {"reason": f"sums differ on {bad}: {[(got.get(k), want[k]) for k in bad]}"}
    return True, {}


def ops():
    return [Op(f"export_{sink}", projection, sink, check=check) for sink in SINKS]
