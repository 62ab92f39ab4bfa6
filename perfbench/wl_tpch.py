"""`tpch` workload: TPC-H queries written against ibis_spark, each with
its DuckDB oracle SQL bound to the same substitution parameters,
followed by the export operations of ``sinks``.

Parameters follow the TPC-H substitution rules (clause 2.4 of the
specification) and are drawn from the pass's random generator, so every
pass builds every query fresh with new values.  Ties under ORDER BY ...
LIMIT are broken by a key column on both sides, so the top-k row set is
unique.
"""

from __future__ import annotations

import datetime as dt

import sinks
from common import Op

# minimum one-shot and steady passes in a run
PASSES = (1, 1)

TABLES = ["lineitem", "orders", "customer", "part", "supplier", "nation", "region"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
_CONT_S1 = ["SM", "LG", "MED", "JUMBO", "WRAP"]
_CONT_S2 = ["CASE", "BOX", "BAG", "JAR", "PKG", "PACK", "CAN", "DRUM"]
_Q13_W1 = ["special", "pending", "unusual", "express"]
_Q13_W2 = ["packages", "requests", "accounts", "deposits"]


def _brand(rng):
    return f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}"


def draw(rng):
    """One pass's substitution parameters, keyed by operation name."""
    return sinks.draw(rng) | {
        "q1": {"delta": rng.randint(60, 120)},
        "q5": {"region": rng.choice(_REGIONS),
               "date": dt.date(rng.randint(1993, 1997), 1, 1)},
        "q6": {"date": dt.date(rng.randint(1993, 1997), 1, 1),
               "discount": rng.randint(2, 9) / 100,
               "quantity": rng.randint(24, 25)},
        "q13": {"w1": rng.choice(_Q13_W1), "w2": rng.choice(_Q13_W2)},
        "q17": {"brand": _brand(rng),
                "container": f"{rng.choice(_CONT_S1)} {rng.choice(_CONT_S2)}"},
        "q18": {"quantity": rng.randint(312, 315)},
        "q21": {"nation": rng.choice(_NATIONS)},
    }


def _d(x):
    return f"DATE '{x.isoformat()}'"


# -- queries ---------------------------------------------------------------

def q1(ib, t, p):
    li = t["lineitem"]
    li = li.filter(li.l_shipdate <= dt.date(1998, 12, 1) - dt.timedelta(days=p["delta"]))
    disc = li.l_extendedprice * (1 - li.l_discount)
    return (
        li.group_by("l_returnflag", "l_linestatus")
        .aggregate(
            sum_qty=li.l_quantity.sum(),
            sum_base_price=li.l_extendedprice.sum(),
            sum_disc_price=disc.sum(),
            sum_charge=(disc * (1 + li.l_tax)).sum(),
            avg_qty=li.l_quantity.mean(),
            avg_price=li.l_extendedprice.mean(),
            avg_disc=li.l_discount.mean(),
            count_order=li.l_orderkey.count(),
        )
        .order_by("l_returnflag", "l_linestatus")
    )


def q1_sql(p):
    return f"""
    SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
           SUM(l_extendedprice) AS sum_base_price,
           SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price,
           AVG(l_discount) AS avg_disc, COUNT(l_orderkey) AS count_order
    FROM lineitem
    WHERE l_shipdate <= {_d(dt.date(1998, 12, 1) - dt.timedelta(days=p['delta']))}
    GROUP BY l_returnflag, l_linestatus"""


def q5(ib, t, p):
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    s, n, r = t["supplier"], t["nation"], t["region"]
    d = p["date"]
    o = o.filter(o.o_orderdate >= d, o.o_orderdate < dt.date(d.year + 1, 1, 1))
    j = (
        o.join(li, [("o_orderkey", "l_orderkey")])
        .join(c, [("o_custkey", "c_custkey")])
        .join(s, [("l_suppkey", "s_suppkey")])
        .join(n, [("s_nationkey", "n_nationkey")])
        .join(r.filter(r.r_name == p["region"]), [("n_regionkey", "r_regionkey")])
    )
    j = j.filter(j.c_nationkey == j.s_nationkey)
    return (
        j.group_by("n_name")
        .aggregate(revenue=(j.l_extendedprice * (1 - j.l_discount)).sum())
        .order_by(ib.desc("revenue"))
    )


def q5_sql(p):
    d = p["date"]
    return f"""
    SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = '{p['region']}' AND o_orderdate >= {_d(d)}
      AND o_orderdate < {_d(dt.date(d.year + 1, 1, 1))}
    GROUP BY n_name"""


def q6(ib, t, p):
    li = t["lineitem"]
    d, disc = p["date"], p["discount"]
    li = li.filter(
        li.l_shipdate >= d,
        li.l_shipdate < dt.date(d.year + 1, 1, 1),
        li.l_discount.between(round(disc - 0.01, 2), round(disc + 0.01, 2)),
        li.l_quantity < p["quantity"],
    )
    return li.aggregate(revenue=(li.l_extendedprice * li.l_discount).sum())


def q6_sql(p):
    d, disc = p["date"], p["discount"]
    return f"""
    SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem
    WHERE l_shipdate >= {_d(d)} AND l_shipdate < {_d(dt.date(d.year + 1, 1, 1))}
      AND l_discount BETWEEN CAST({round(disc - 0.01, 2)!r} AS DOUBLE)
                         AND CAST({round(disc + 0.01, 2)!r} AS DOUBLE)
      AND l_quantity < {p['quantity']}"""


def q13(ib, t, p):
    c, o = t["customer"], t["orders"]
    o = o.filter(~o.o_comment.like(f"%{p['w1']}%{p['w2']}%"))
    j = c.left_join(o, [("c_custkey", "o_custkey")])
    per = j.group_by("c_custkey").aggregate(c_count=j.o_orderkey.count())
    return (
        per.group_by("c_count")
        .aggregate(custdist=per.c_custkey.count())
        .order_by(ib.desc("custdist"), ib.desc("c_count"))
    )


def q13_sql(p):
    return f"""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        AND o_comment NOT LIKE '%{p['w1']}%{p['w2']}%'
      GROUP BY c_custkey) GROUP BY c_count"""


def q17(ib, t, p):
    li, part = t["lineitem"], t["part"]
    pf = part.filter(part.p_brand == p["brand"], part.p_container == p["container"])
    j = li.join(pf, [("l_partkey", "p_partkey")])
    avg = li.view()
    avg = avg.group_by("l_partkey").aggregate(avg_qty=avg.l_quantity.mean())
    avg = avg.select(a_partkey=avg.l_partkey, avg_qty=avg.avg_qty)
    j = j.join(avg, [("l_partkey", "a_partkey")])
    j = j.filter(j.l_quantity < 0.2 * j.avg_qty)
    return j.aggregate(avg_yearly=j.l_extendedprice.sum() / 7.0)


def q17_sql(p):
    return f"""
    SELECT SUM(l_extendedprice) / 7.0 AS avg_yearly FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = '{p['brand']}'
      AND p_container = '{p['container']}'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)"""


def q18(ib, t, p):
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    big = li.group_by("l_orderkey").aggregate(qty=li.l_quantity.sum())
    big = big.filter(big.qty > p["quantity"]).select(b_orderkey=big.l_orderkey)
    j = (
        o.semi_join(big, [("o_orderkey", "b_orderkey")])
        .join(c, [("o_custkey", "c_custkey")])
        .join(li.view(), [("o_orderkey", "l_orderkey")])
    )
    return (
        j.group_by("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .aggregate(sum_qty=j.l_quantity.sum())
        .order_by(ib.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


def q18_sql(p):
    return f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           SUM(l_quantity) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                         HAVING SUM(l_quantity) > {p['quantity']})
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"""


def q21(ib, t, p):
    s, li, o, n = t["supplier"], t["lineitem"], t["orders"], t["nation"]
    l1 = li.filter(li.l_receiptdate > li.l_commitdate)
    j = (
        s.join(n.filter(n.n_name == p["nation"]), [("s_nationkey", "n_nationkey")])
        .join(l1, [("s_suppkey", "l_suppkey")])
        .join(o.filter(o.o_orderstatus == "F"), [("l_orderkey", "o_orderkey")])
    )
    l2 = li.view()
    l3 = li.view()
    l3 = l3.filter(l3.l_receiptdate > l3.l_commitdate)
    j = j.filter(
        ib.exists(l2, lambda a, b: (a.l_orderkey == b.l_orderkey)
                  & (a.l_suppkey != b.l_suppkey)),
        ~ib.exists(l3, lambda a, b: (a.l_orderkey == b.l_orderkey)
                   & (a.l_suppkey != b.l_suppkey)),
    )
    return (
        j.group_by("s_name")
        .aggregate(numwait=j.l_orderkey.count())
        .order_by(ib.desc("numwait"), "s_name")
        .limit(100)
    )


def q21_sql(p):
    return f"""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate
      AND EXISTS (SELECT * FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT * FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_receiptdate > l3.l_commitdate)
      AND s_nationkey = n_nationkey AND n_name = '{p['nation']}'
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""


_QUERIES = [q1, q5, q6, q13, q17, q18, q21]


def ops():
    sql = globals()
    return [
        Op(q.__name__, q, "to_pyarrow", oracle_sql=sql[q.__name__ + "_sql"])
        for q in _QUERIES
    ] + sinks.ops()
