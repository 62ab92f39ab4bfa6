"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship TPC-H Q1-style aggregate at sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (plus the LLM-pipeline operators); ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL for each, with every computed column aliased
identically on both sides. Float aggregates are rounded on both sides so
the order-insensitive value hash is stable across engines.

All queries go through the ``ibis_spark`` public API (no raw pyspark
DataFrame calls except the final ``.to_spark()`` handoff).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import ibis_spark as ib
from ibis_spark import _

_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _t(spark: SparkSession, sf_dir: str, name: str):
    # epoch/unix conversions assume UTC wall time, matching DuckDB's
    # treatment of naive timestamps — enforce regardless of driver session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # read_parquet takes the schema from the file footer (no Spark job)
    # and each call builds a FRESH DataFrame: one shared DataFrame would
    # make every self-join reference the same plan, failing Spark's
    # ambiguous-self-join check (q8) and degrading q21's plan 8x.
    if sf_dir.startswith("catalog:"):
        # "catalog:<prefix>" reads registered tables "<prefix><name>"
        # instead of parquet paths — the bucketed-fixture path
        # (bench.py registers a bucketed directory's CLUSTERED BY
        # tables, whose storage-partitioned joins skip the
        # exchange+sort).
        # refreshTable first: repeated spark.table() calls share the
        # catalog's cached attribute IDs, so a self-join built from
        # two _t calls (q8's nation x nation) trips Spark's ambiguous
        # self-join check; refreshing mints a fresh relation per call,
        # matching the parquet path's fresh-DataFrame contract.
        tn = sf_dir[len("catalog:"):] + name
        spark.catalog.refreshTable(tn)
        return ib.Table(spark.table(tn))
    return ib.connect(spark).read_parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """TPC-H Q1 (pricing summary report) on sf0.001."""
    return _q1(spark, "/root/testdata/sf0.001")


def _q1(spark, sf_dir) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem")
    t = t.filter(t.l_shipdate <= "1998-09-02")
    return (
        t.group_by("l_returnflag", "l_linestatus")
        .aggregate(
            sum_qty=t.l_quantity.sum().round(2),
            sum_base_price=t.l_extendedprice.sum().round(2),
            sum_disc_price=(t.l_extendedprice * (1 - t.l_discount)).sum().round(2),
            sum_charge=(t.l_extendedprice * (1 - t.l_discount) * (1 + t.l_tax)).sum().round(2),
            avg_qty=t.l_quantity.mean().round(4),
            avg_price=t.l_extendedprice.mean().round(4),
            avg_disc=t.l_discount.mean().round(4),
            count_order=t.l_quantity.count(),
        )
        .order_by("l_returnflag", "l_linestatus")
        .to_spark()
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(l_quantity) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# TPC-H derivatives (adapted to the synthetic schema's columns)
# ---------------------------------------------------------------------------

def _q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    seg = c.filter(c.c_mktsegment == "BUILDING")
    j = seg.join(o, [("c_custkey", "o_custkey")]).join(
        li, [("o_orderkey", "l_orderkey")]
    )
    j = j.filter(j.o_orderdate < "1998-01-01", j.l_shipdate > "1998-01-01")
    return (
        j.group_by("l_orderkey", "o_orderdate")
        .aggregate(revenue=(j.l_extendedprice * (1 - j.l_discount)).sum().round(2))
        .order_by(ib.desc("revenue"), "l_orderkey")
        .limit(10)
        .to_spark()
    )


def _q4_order_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    filtered = o.filter(o.o_orderdate >= "1996-01-01", o.o_orderdate < "1997-01-01")
    ex = filtered.filter(
        ib.exists(li, lambda oo, l: (oo.o_orderkey == l.l_orderkey) & (l.l_shipdate > oo.o_orderdate))
    )
    return (
        ex.group_by("o_orderpriority")
        .aggregate(order_count=ex.o_orderkey.count())
        .order_by("o_orderpriority")
        .to_spark()
    )


def _q5_local_supplier_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # orders<->lineitem FIRST: the one big join runs on the orderkey
    # layout (bucketed fixtures: storage-partitioned, no exchange on
    # either side; plain parquet: one co-partitioned exchange pair) —
    # the former customer-first order shuffled orders TWICE (by
    # custkey, then the joined result by orderkey).  customer joins
    # as a broadcast build side (2 pruned columns).  At true 100 TB
    # customer stops being broadcastable and the custkey-bucketed
    # customer-first plan wins instead — the broadcast= knob is the
    # per-deployment choice (SCALE.md r14).
    j = (
        o.join(li, [("o_orderkey", "l_orderkey")])
        .join(c, [("o_custkey", "c_custkey")], broadcast=True)
        .join(s, [("l_suppkey", "s_suppkey")], broadcast=True)
        .join(n, [("s_nationkey", "n_nationkey")], broadcast=True)
    )
    j = j.filter(j.c_nationkey == j.s_nationkey)
    return (
        j.group_by("n_name")
        .aggregate(revenue=(j.l_extendedprice * (1 - j.l_discount)).sum().round(2))
        .to_spark()
    )


def _q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    t = li.filter(
        li.l_shipdate >= "1996-01-01",
        li.l_shipdate < "1997-01-01",
        li.l_discount.between(0.03, 0.07),
        li.l_quantity < 24,
    )
    return t.aggregate(revenue=(t.l_extendedprice * t.l_discount).sum().round(2)).to_spark()


def _q7_volume_shipping(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    j = (
        li.join(o, [("l_orderkey", "o_orderkey")])
        .join(c, [("o_custkey", "c_custkey")])
        .join(s, [("l_suppkey", "s_suppkey")], broadcast=True)
    )
    j = j.filter(
        ((j.c_nationkey == 0) & (j.s_nationkey == 1))
        | ((j.c_nationkey == 1) & (j.s_nationkey == 0)),
        j.l_shipdate.between("1996-01-01", "1997-12-31"),
    )
    return (
        j.group_by("c_nationkey", "s_nationkey", l_year=j.l_shipdate.year())
        .aggregate(revenue=(j.l_extendedprice * (1 - j.l_discount)).sum().round(2))
        .to_spark()
    )


def _q20_big_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    eco = li.join(p.filter(p.p_type == "ECONOMY"), [("l_partkey", "p_partkey")], broadcast=True)
    big = (
        eco.group_by("l_suppkey")
        .having(eco.l_quantity.sum() > 400)
        .aggregate(total_qty=eco.l_quantity.sum().round(2))
    )
    return (
        s.semi_join(big, s.s_suppkey == big.l_suppkey)
        .select("s_suppkey", "s_name", "s_nationkey")
        .to_spark()
    )


def _q22_global_sales_opportunity(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(c.c_acctbal > 0).to_scalar(c.c_acctbal.mean())
    rich = c.filter(c.c_acctbal > avg_bal)
    urgent = o.filter(o.o_orderpriority == "1-URGENT")
    never_ordered = rich.anti_join(urgent, rich.c_custkey == urgent.o_custkey)
    return (
        never_ordered.group_by("c_nationkey")
        .aggregate(
            numcust=never_ordered.c_custkey.count(),
            totacctbal=never_ordered.c_acctbal.sum().round(2),
        )
        .to_spark()
    )


def _q10_returned_items(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # orders<->lineitem first (the orderkey layout: storage-partitioned
    # on bucketed fixtures), PRE-AGGREGATE by custkey (custkey is the
    # group key — c_name is functionally dependent), THEN join the
    # 1.5M-row aggregate to customer as a broadcast.  The former
    # customer-first order shuffled the full 15M-row R-flag join twice
    # (custkey, then the group-by keys).  This is the 100 TB plan too:
    # the pre-aggregate shrinks the exchange to one row per customer
    # BEFORE any customer-table traffic.
    j = o.join(li, [("o_orderkey", "l_orderkey")])
    j = j.filter(j.l_returnflag == "R")
    pre = j.group_by("o_custkey").aggregate(
        revenue=(j.l_extendedprice * (1 - j.l_discount)).sum().round(2)
    )
    res = pre.join(c, [("o_custkey", "c_custkey")], broadcast=True)
    return (
        res.select("c_custkey", "c_name", "revenue")
        .order_by(ib.desc("revenue"), "c_custkey")
        .limit(20)
        .to_spark()
    )


def _q14_promo_revenue(spark, sf_dir):
    # r14: PRE-AGGREGATE the one-month lineitem slice by partkey and
    # broadcast THAT (~0.5M rows x 2 cols) into a single part scan —
    # the r13 spelling broadcast the full 2M-row part dimension
    # (p_partkey + p_type) onto lineitem instead.  The smaller build
    # side flips with scale: at 100 TB neither fits, and the pre-agg
    # is exactly what makes the partkey SMJ exchange minimal.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    lf = li.filter(li.l_shipdate >= "1997-01-01", li.l_shipdate < "1997-02-01")
    disc = lf.l_extendedprice * (1 - lf.l_discount)
    pre = lf.group_by("l_partkey").aggregate(rev=disc.sum())
    j = p.join(pre, [("p_partkey", "l_partkey")], broadcast=True)
    promo = j.rev.sum(where=j.p_type.startswith("ECO"))
    return j.aggregate(
        promo_revenue=(100 * promo / j.rev.sum()).round(4)
    ).to_spark()


def _q8_market_share(spark, sf_dir):
    # TPC-H Q8 family: NATION_1 suppliers' revenue share among ASIA-region
    # customers, per year. Two independent nation dimensions; all four
    # dimension joins broadcast.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation")
    n2 = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        li.join(o, [("l_orderkey", "o_orderkey")])
        .join(c, [("o_custkey", "c_custkey")])
        .join(n1, [("c_nationkey", "n_nationkey")], broadcast=True)
        .join(r, [("n_regionkey", "r_regionkey")], broadcast=True)
        .join(s, [("l_suppkey", "s_suppkey")], broadcast=True)
        .join(n2, [("s_nationkey", "n_nationkey")], broadcast=True)
    )
    j = j.filter(j.r_name == "ASIA")
    vol = j.l_extendedprice * (1 - j.l_discount)
    supp_nation = j.n_name_right
    num = (supp_nation == "NATION_1").ifelse(vol, 0.0).sum()
    return (
        j.group_by(o_year=j.o_orderdate.year())
        .aggregate(mkt_share=(num / vol.sum()).round(4))
        .to_spark()
    )


def _q9_product_profit(spark, sf_dir):
    # TPC-H Q9 family (no partsupp table: supply cost proxied by 10% of
    # retail price): profit by supplier nation and year over 'red' parts
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.join(s, [("l_suppkey", "s_suppkey")], broadcast=True)
        .join(p, [("l_partkey", "p_partkey")], broadcast=True)
        .join(o, [("l_orderkey", "o_orderkey")])
        .join(n, [("s_nationkey", "n_nationkey")], broadcast=True)
    )
    j = j.filter(j.p_name.contains("red"))
    profit = (
        j.l_extendedprice * (1 - j.l_discount)
        - j.p_retailprice * j.l_quantity * 0.1
    )
    return (
        j.group_by(nation=j.n_name, o_year=j.o_orderdate.year())
        .aggregate(profit=profit.sum().round(2))
        .to_spark()
    )


def _q12_priority_shipping(spark, sf_dir):
    # TPC-H Q12 family (no l_shipmode column: grouped by l_linestatus):
    # per line status, count urgent vs non-urgent order lines in 1997
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, [("l_orderkey", "o_orderkey")])
    j = j.filter(j.l_shipdate >= "1997-01-01", j.l_shipdate < "1998-01-01")
    urgent = j.o_orderpriority.isin(["1-URGENT", "2-HIGH"])
    return (
        j.group_by("l_linestatus")
        .aggregate(
            high_line_count=urgent.ifelse(1, 0).sum(),
            low_line_count=urgent.ifelse(0, 1).sum(),
        )
        .order_by("l_linestatus")
        .to_spark()
    )


def _q13_customer_distribution(spark, sf_dir):
    # TPC-H Q13: orders-per-customer histogram (left join keeps
    # zero-order customers; COUNT of a null key counts 0)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = c.left_join(o, [("c_custkey", "o_custkey")])
    per = j.group_by("c_custkey").aggregate(c_count=j.o_orderkey.count())
    return (
        per.group_by("c_count")
        .aggregate(custdist=per.c_custkey.count())
        .order_by("-custdist", "-c_count")
        .to_spark()
    )


def _q15_top_supplier(spark, sf_dir):
    # TPC-H Q15: supplier(s) with the max quarterly revenue — the
    # rev == rev.max() comparison auto-lifts to a broadcast scalar subquery
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(li.l_shipdate >= "1997-01-01", li.l_shipdate < "1997-04-01")
        .group_by("l_suppkey")
        .aggregate(total_rev=(li.l_extendedprice * (1 - li.l_discount)).sum().round(2))
    )
    top = rev.filter(rev.total_rev == rev.total_rev.max())
    j = s.join(top, [("s_suppkey", "l_suppkey")], broadcast=True)
    return j.select("s_suppkey", "s_name", "total_rev").to_spark()


def _q16_supplier_cnt(spark, sf_dir):
    # TPC-H Q16 family (lineitem stands in for partsupp): distinct
    # supplier count per part attribute group, excluding negative-balance
    # suppliers via NOT IN subquery
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    bad = s.filter(s.s_acctbal < 0)
    j = p.filter(
        p.p_brand != "Brand#1", p.p_size.isin([1, 5, 9, 13, 17, 21, 25, 29])
    ).join(li, [("p_partkey", "l_partkey")])
    j = j.filter(~j.l_suppkey.isin(bad.s_suppkey))
    return (
        j.group_by("p_brand", "p_type", "p_size")
        .aggregate(supplier_cnt=j.l_suppkey.nunique())
        .order_by("-supplier_cnt", "p_brand", "p_type", "p_size")
        .limit(20)
        .to_spark()
    )


def _q19_discounted_revenue(spark, sf_dir):
    # TPC-H Q19: disjunction of bracketed brand/size/quantity predicates —
    # exercises OR-of-ANDs pushdown through a broadcast join
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, [("l_partkey", "p_partkey")], broadcast=True)
    c1 = (j.p_brand == "Brand#12") & j.p_size.between(1, 5) & j.l_quantity.between(1, 11)
    c2 = (j.p_brand == "Brand#23") & j.p_size.between(1, 10) & j.l_quantity.between(10, 20)
    c3 = (j.p_brand == "Brand#34") & j.p_size.between(1, 15) & j.l_quantity.between(20, 30)
    j = j.filter(c1 | c2 | c3)
    return j.aggregate(
        revenue=(j.l_extendedprice * (1 - j.l_discount)).sum().round(2)
    ).to_spark()


def _q18_large_volume_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.group_by("l_orderkey")
        .having(li.l_quantity.sum() > 200)
        .aggregate(sum_qty=li.l_quantity.sum().round(2))
    )
    j = o.join(big, [("o_orderkey", "l_orderkey")])
    return j.select("o_orderkey", "o_custkey", "o_totalprice", "sum_qty").to_spark()


def _q2_min_cost_supplier(spark, sf_dir):
    # TPC-H Q2 family (no partsupp: lineitem links parts to suppliers,
    # s_acctbal stands in for the supply-cost criterion, maximised instead
    # of minimised): for STANDARD small parts, the best-balance EUROPEAN
    # supplier of each part. The correlated "= (SELECT MAX(..) per part)"
    # subquery becomes a group-max + join-back — one shuffle on p_partkey,
    # all dimension joins broadcast.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    pf = p.filter(p.p_type == "STANDARD", p.p_size <= 10)
    eur = (
        s.join(n, [("s_nationkey", "n_nationkey")], broadcast=True)
        .join(r.filter(r.r_name == "EUROPE"), [("n_regionkey", "r_regionkey")], broadcast=True)
    )
    pairs = (
        li.join(pf, [("l_partkey", "p_partkey")], broadcast=True)
        .join(eur, [("l_suppkey", "s_suppkey")], broadcast=True)
        .select("p_partkey", "s_suppkey", "s_acctbal", "s_name", "n_name")
        .distinct()
    )
    best = pairs.group_by("p_partkey").aggregate(max_bal=pairs.s_acctbal.max())
    j = pairs.join(best, [("p_partkey", "p_partkey")])
    j = j.filter(j.s_acctbal == j.max_bal)
    return (
        j.select(s_acctbal=j.s_acctbal.round(2), s_name=j.s_name, n_name=j.n_name, p_partkey=j.p_partkey)
        .order_by(ib.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .to_spark()
    )


def _q11_important_stock(spark, sf_dir):
    # TPC-H Q11 family (no partsupp: lineitem revenue stands in for stock
    # value): per-part revenue from low-key-nation suppliers, keeping parts
    # whose share exceeds a fraction of the total — HAVING against a
    # broadcast scalar subquery over the same aggregate.
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    j = li.join(s.filter(s.s_nationkey < 13), [("l_suppkey", "s_suppkey")], broadcast=True)
    vals = j.group_by("l_partkey").aggregate(value=j.l_extendedprice.sum())
    total = vals.to_scalar(vals.value.sum())
    return (
        vals.filter(vals.value > total * 0.0007)
        .select(l_partkey=vals.l_partkey, value=vals.value.round(2))
        .order_by(ib.desc("value"), "l_partkey")
        .to_spark()
    )


def _q21_suppliers_kept_waiting(spark, sf_dir):
    # TPC-H Q21 family (no l_commitdate/l_receiptdate: "late" means shipped
    # more than 60 days after the order date): suppliers who were the SOLE
    # late supplier on a multi-supplier finished order. EXISTS + NOT EXISTS
    # correlated on the same fact table, both lowered to semi/anti joins.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    lo = li.join(o.filter(o.o_orderstatus == "F"), [("l_orderkey", "o_orderkey")])
    late = lo.filter(lo.l_shipdate > lo.o_orderdate + ib.interval(days=60)).select(
        "l_orderkey", "l_suppkey"
    )
    t1 = late.filter(
        ib.exists(li, lambda a, l: (a.l_orderkey == l.l_orderkey) & (a.l_suppkey != l.l_suppkey))
    )
    t1 = t1.filter(
        ~ib.exists(
            late.view(),  # self-reference: NOT EXISTS against the same derived table
            lambda a, l3: (a.l_orderkey == l3.l_orderkey) & (a.l_suppkey != l3.l_suppkey),
        )
    )
    j = t1.join(s, [("l_suppkey", "s_suppkey")], broadcast=True)
    return (
        j.group_by("s_name")
        .aggregate(numwait=j.l_orderkey.nunique())
        .order_by(ib.desc("numwait"), "s_name")
        .limit(20)
        .to_spark()
    )


# ---------------------------------------------------------------------------
# relational core
# ---------------------------------------------------------------------------

def _filter_sort_limit(spark, sf_dir):
    t = _t(spark, sf_dir, "orders")
    return (
        t.filter(t.o_totalprice > 100000, t.o_orderstatus == "O")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .order_by(t.o_totalprice.desc(), "o_orderkey")
        .limit(50)
        .to_spark()
    )


def _agg_filtered(spark, sf_dir):
    t = _t(spark, sf_dir, "lineitem")
    return (
        t.group_by("l_returnflag")
        .aggregate(
            n=t.l_orderkey.count(),
            n_disc=t.l_orderkey.count(where=t.l_discount > 0.05),
            sum_hi=t.l_extendedprice.sum(where=t.l_quantity > 25).round(2),
            min_q=t.l_quantity.min(),
            max_q=t.l_quantity.max(),
            nuniq=t.l_suppkey.nunique(),
        )
        .to_spark()
    )


def _agg_having(spark, sf_dir):
    t = _t(spark, sf_dir, "orders")
    return (
        t.group_by("o_custkey")
        .having(t.o_orderkey.count() >= 15)
        .aggregate(n=t.o_orderkey.count(), total=t.o_totalprice.sum().round(2))
        .to_spark()
    )


def _distinct_rows(spark, sf_dir):
    t = _t(spark, sf_dir, "orders")
    return t.select("o_orderstatus", "o_orderpriority").distinct().to_spark()


def _distinct_keep_none(spark, sf_dir):
    t = _t(spark, sf_dir, "orders")
    return (
        t.select("o_custkey", "o_orderkey")
        .distinct(on="o_custkey", keep=None)
        .to_spark()
    )


def _distinct_keep_last(spark, sf_dir):
    t = _t(spark, sf_dir, "orders")
    return (
        t.select("o_custkey", "o_orderkey", "o_totalprice")
        .order_by("o_custkey", "o_orderkey")
        .distinct(on="o_custkey", keep="last")
        .to_spark()
    )


def _value_counts(spark, sf_dir):
    t = _t(spark, sf_dir, "orders")
    return t.select("o_orderpriority").value_counts(name="n").to_spark()


def _topk(spark, sf_dir):
    t = _t(spark, sf_dir, "documents")
    return t.lang.topk(3, name="n").to_spark()


def _drop_fill_null(spark, sf_dir):
    t = _t(spark, sf_dir, "orders")
    t = t.mutate(st=t.o_orderstatus.nullif("O"))
    return (
        t.mutate(st_filled=t.st.fill_null("none"))
        .select("o_orderkey", "st", "st_filled")
        .to_spark()
    )


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

def _join_inner_chain(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(n, c.c_nationkey == n.n_nationkey, broadcast=True).join(
        r, [("n_regionkey", "r_regionkey")], broadcast=True
    )
    return (
        j.group_by("r_name")
        .aggregate(n_cust=j.c_custkey.count(), avg_bal=j.c_acctbal.mean().round(4))
        .to_spark()
    )


def _join_left(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = o.filter(o.o_totalprice > 150000)
    j = big.left_join(c, [("o_custkey", "c_custkey")])
    return j.select("o_orderkey", "o_custkey", "c_name", "c_mktsegment").to_spark()


def _join_semi(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = o.filter(o.o_totalprice > 200000)
    return (
        c.semi_join(big, c.c_custkey == big.o_custkey)
        .select("c_custkey", "c_name")
        .to_spark()
    )


def _join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.anti_join(o, c.c_custkey == o.o_custkey)
        .select("c_custkey", "c_name")
        .to_spark()
    )


def _join_theta(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    n2 = _t(spark, sf_dir, "nation").view()
    j = n.join(
        n2,
        (n.n_regionkey == n2.n_regionkey) & (n.n_nationkey < n2.n_nationkey),
    )
    return j.select(
        a=j.n_nationkey, b=j.n_nationkey_right, rk=j.n_regionkey
    ).to_spark()


def _join_asof(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    views = e.filter(e.event_type == "view").select("event_id", "user_id", "ts", "value")
    buys = e.filter(e.event_type == "purchase").select("user_id", "ts", "value")
    j = views.asof_join(buys, on="ts", by="user_id")
    return j.select(
        "event_id", "user_id", "ts", "value", "value_right", "ts_right"
    ).to_spark()


def _join_asof_forward(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    views = e.filter(e.event_type == "view").select("event_id", "user_id", "ts")
    buys = e.filter(e.event_type == "purchase").select("user_id", "ts", "value")
    j = views.asof_join(buys, on="ts", by="user_id", direction="forward")
    return j.select("event_id", "user_id", "ts", "value", "ts_right").to_spark()


def _join_asof_nearest(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    views = e.filter(e.event_type == "view").select("event_id", "user_id", "ts")
    buys = e.filter(e.event_type == "purchase").select("user_id", "ts", "value")
    j = views.asof_join(buys, on="ts", by="user_id", direction="nearest")
    return j.select("event_id", "user_id", "ts", "value", "ts_right").to_spark()


def _describe_table(spark, sf_dir):
    # Select the deterministic subset of describe() output (the approx
    # columns — unique/mode/quantiles — are scale-safe sketches and cannot
    # hash-match an exact oracle; SURVEY §8).
    t = _t(spark, sf_dir, "customer").describe()
    return t.select(
        "name",
        "pos",
        "type",
        "count",
        "nulls",
        mean=t["mean"].round(4),
        std=t["std"].round(4),
        min=t["min"],
        max=t["max"],
    ).to_spark()


def _info_table(spark, sf_dir):
    return _t(spark, sf_dir, "orders").info().to_spark()


def _join_positional(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return r.positional_join(n).to_spark()


# ---------------------------------------------------------------------------
# set ops
# ---------------------------------------------------------------------------

def _set_union_all(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(nk=c.c_nationkey).union(s.select(nk=s.s_nationkey)).to_spark()
    )


def _set_union_distinct(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(nk=c.c_nationkey)
        .union(s.select(nk=s.s_nationkey), distinct=True)
        .to_spark()
    )


def _set_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.select(nk=c.c_nationkey).intersect(s.select(nk=s.s_nationkey)).to_spark()
    )


def _set_difference(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    return (
        n.select(nk=n.n_nationkey).difference(s.select(nk=s.s_nationkey)).to_spark()
    )


def _set_difference_all(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(li.l_orderkey < 3000).select(sk=li.l_suppkey)
    b = li.filter(li.l_discount > 0.05).select(sk=li.l_suppkey)
    return a.difference(b, distinct=False).to_spark()


# ---------------------------------------------------------------------------
# window / analytic
# ---------------------------------------------------------------------------

def _window_rank(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = ib.window(group_by=c.c_nationkey, order_by=c.c_acctbal.desc())
    return c.mutate(rnk=ib.rank().over(w)).select(
        "c_custkey", "c_nationkey", "rnk"
    ).to_spark()


def _window_lag(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = ib.window(group_by=o.o_custkey, order_by=[o.o_orderdate.asc(), o.o_orderkey.asc()])
    return o.mutate(
        prev_price=o.o_totalprice.lag(1).over(w),
        next_key=o.o_orderkey.lead(1).over(w),
    ).select("o_orderkey", "o_custkey", "prev_price", "next_key").to_spark()


def _window_cumsum(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = ib.cumulative_window(group_by=e.user_id, order_by=[e.ts.asc(), e.event_id.asc()])
    return e.mutate(run_total=e.value.sum().over(w).round(4)).select(
        "event_id", "user_id", "run_total"
    ).to_spark()


def _window_moving_avg(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = ib.window(
        group_by=e.user_id, order_by=[e.ts.asc(), e.event_id.asc()]
    ).rows(-2, 0)
    return e.mutate(mavg=e.value.mean().over(w).round(4)).select(
        "event_id", "user_id", "mavg"
    ).to_spark()


def _window_ntile(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = ib.window(
        group_by=c.c_nationkey, order_by=[c.c_acctbal.desc(), c.c_custkey.asc()]
    )
    return c.mutate(quartile=ib.ntile(4).over(w)).select(
        "c_custkey", "c_nationkey", "quartile"
    ).to_spark()


def _window_percent(spark, sf_dir):
    # PercentRank / CumeDist (2.6): exact rational outputs, so the hash
    # matches without rounding
    c = _t(spark, sf_dir, "customer")
    w = ib.window(
        group_by=c.c_nationkey, order_by=[c.c_acctbal.asc(), c.c_custkey.asc()]
    )
    return c.mutate(
        pr=ib.percent_rank().over(w), cd=ib.cume_dist().over(w)
    ).select("c_custkey", "c_nationkey", "pr", "cd").to_spark()


def _window_nth(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = ib.window(
        group_by=o.o_custkey, order_by=[o.o_orderdate.asc(), o.o_orderkey.asc()]
    ).rows(None, None)
    return o.mutate(second_key=o.o_orderkey.nth_value(1).over(w)).select(
        "o_orderkey", "o_custkey", "second_key"
    ).to_spark()


def _substitute(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        st=o.o_orderstatus.substitute({"O": "open", "F": "filled"}, else_="other"),
    ).to_spark()


def _window_first_last(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = ib.window(
        group_by=o.o_custkey, order_by=[o.o_orderdate.asc(), o.o_orderkey.asc()]
    ).rows(None, None)
    return o.mutate(
        first_key=o.o_orderkey.first_value().over(w),
        last_key=o.o_orderkey.last_value().over(w),
    ).select("o_orderkey", "o_custkey", "first_key", "last_key").to_spark()


# ---------------------------------------------------------------------------
# subqueries
# ---------------------------------------------------------------------------

def _in_subquery(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    asia = n.filter(n.n_regionkey == 2)
    return (
        c.filter(c.c_nationkey.isin(asia.n_nationkey))
        .select("c_custkey", "c_nationkey")
        .to_spark()
    )


def _scalar_subquery(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    avg_q = li.to_scalar(li.l_quantity.mean())
    return (
        li.filter(li.l_quantity < avg_q * 0.5)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .to_spark()
    )


def _q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 style: correlated scalar subquery decorrelated into a
    PARTITIONED WINDOW mean (r14 — the r13 spelling re-aggregated the
    fact table and broadcast the 2M-row per-part aggregate back onto a
    second full scan: two 60M-row scans + a 2M-entry hash build,
    5.1 s at sf10; the window plan is one scan + one partkey exchange,
    2M+ partitions wide, no driver-side build — the plan that scales)."""
    li = _t(spark, sf_dir, "lineitem")
    w = ib.window(group_by=li.l_partkey)
    out = li.mutate(avg_q=li.l_quantity.mean().over(w))
    out = out.filter(out.l_quantity < 0.2 * out.avg_q)
    return out.aggregate(total=out.l_extendedprice.sum().round(2)).to_spark()


def _exists_subquery(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.filter(
            ib.exists(
                li,
                lambda o_, l: (o_.o_orderkey == l.l_orderkey) & (l.l_discount > 0.09),
            )
        )
        .select("o_orderkey", "o_totalprice")
        .to_spark()
    )


def _not_exists_subquery(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.filter(
            ~ib.exists(
                li,
                lambda o_, l: (o_.o_orderkey == l.l_orderkey) & (l.l_discount > 0.09),
            )
        )
        .select("o_orderkey", "o_totalprice")
        .to_spark()
    )


def _notin_subquery(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    asia = n.filter(n.n_regionkey == 2)
    return (
        c.filter(~c.c_nationkey.isin(asia.n_nationkey))
        .select("c_custkey", "c_nationkey")
        .to_spark()
    )


# ---------------------------------------------------------------------------
# scalar functions
# ---------------------------------------------------------------------------

def _scalar_strings(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        up=p.p_name.upper(),
        sub3=p.p_name.substr(0, 3),
        nlen=p.p_name.length(),
        idx_e=p.p_name.find("e"),
        repl=p.p_name.replace("e", "3"),
        padded=p.p_brand.lpad(10, "*"),
        is_econ=p.p_type.startswith("ECON"),
        cat=p.p_name.concat("_", p.p_brand),
        has_red=p.p_name.contains("red"),
        revd=p.p_name.reverse(),
    ).to_spark()


def _scalar_temporal(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        yr=o.o_orderdate.year(),
        mo=o.o_orderdate.month(),
        dy=o.o_orderdate.day(),
        qtr=o.o_orderdate.quarter(),
        dow=o.o_orderdate.day_of_week.index(),
        mstart=o.o_orderdate.truncate("M").cast("timestamp"),
        epoch=o.o_orderdate.epoch_seconds(),
        ym=o.o_orderdate.strftime("%Y-%m"),
    ).to_spark()


def _scalar_numeric(spark, sf_dir):
    from pyspark.sql import functions as F

    from ibis_spark.pipeline import _with_det_ln_int

    li = _t(spark, sf_dir, "lineitem")
    t = li.filter(li.l_orderkey < 1000)
    df = t.select(
        "l_orderkey",
        "l_linenumber",
        absd=(t.l_discount - 0.05).abs().round(4),
        ceilp=t.l_extendedprice.ceil(),
        floorp=t.l_extendedprice.floor().cast("int64"),
        sq=t.l_quantity.sqrt().round(6),
        # r9 (VERDICT r8 item 8): the user-facing libm ln() is still
        # EXERCISED end-to-end, but its raw value no longer reaches the
        # hash — the emission is |libm ln(price) - det ln(price)| < 1e-6,
        # a boolean with a 100x margin over the det polynomial's ~1e-8
        # error, so a cross-libm 1-ulp drift cannot flip it while a
        # genuinely broken ln() on either engine still fails the row.
        # det ln(price) = det_ln_int(cents) - ln(100) (prices are 2dp).
        lg_raw=t.l_extendedprice.ln(),
        price=t.l_extendedprice,
        sgn=(t.l_discount - 0.05).sign().cast("int32"),
        md=t.l_orderkey % 7,
        fd=t.l_orderkey // 7,
        dv=(t.l_quantity / 2).round(4),
        pw=(t.l_discount ** 2).round(8),
        clipped=t.l_quantity.clip(5, 40),
    ).to_spark()
    df = df.withColumn(
        "__cents__", F.round(F.col("price") * F.lit(100.0)).cast("bigint")
    )
    df = _with_det_ln_int(df, "__cents__", "__dln__")
    lg_ok = (
        F.abs(
            F.col("lg_raw")
            - (F.col("__dln__") - F.lit(4.605170185988092))
        )
        < F.lit(1e-6)
    )
    return df.withColumn("lg_ok", lg_ok).drop(
        "lg_raw", "price", "__cents__", "__dln__"
    )


def _misc_scalars(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        lev=p.p_name.levenshtein(p.p_brand),
        tr=p.p_name.translate("aeiou", "AEIOU"),
        rep3=p.p_brand.repeat(2),
        asc0=p.p_name.ascii_str(),
        wk=p.p_name.length().greatest(ib.literal(5)),
        least_len=p.p_name.length().least(p.p_brand.length()),
    ).to_spark()


def _week_doy(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        wk=o.o_orderdate.week_of_year(),
        doy=o.o_orderdate.day_of_year(),
        dname=o.o_orderdate.day_of_week.full_name(),
    ).to_spark()


def _case_when(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        tier=o.o_orderpriority.cases(
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            else_="cold",
        ),
        size=(o.o_totalprice > 150000).ifelse("big", "small"),
    ).to_spark()


def _bucket_histogram(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    b = c.mutate(bin=c.c_acctbal.bucket([0, 1000, 5000, 10000]))
    return b.group_by("bin").aggregate(n=b.c_custkey.count()).to_spark()


def _quantiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag")
        .aggregate(
            med=li.l_quantity.median().round(4),
            q90=li.l_quantity.quantile(0.9).round(4),
        )
        .to_spark()
    )


def _stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag")
        .aggregate(
            sd=li.l_quantity.std().round(6),
            vp=li.l_quantity.var(how="pop").round(6),
            cr=li.l_extendedprice.corr(li.l_quantity).round(6),
        )
        .to_spark()
    )


def _count_distinct_star(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.group_by("o_orderstatus")
        .aggregate(n=ib.struct(a=o.o_custkey, b=o.o_orderpriority).nunique())
        .to_spark()
    )


def _group_concat(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    t = li.filter(li.l_orderkey <= 200)
    return (
        t.group_by("l_orderkey")
        .aggregate(
            lines=t.l_linenumber.group_concat(",", order_by=t.l_linenumber.asc())
        )
        .to_spark()
    )


def _ordered_reductions_desc(spark, sf_dir):
    # descending + mixed-direction sort keys in ordered reductions
    # (first/last/group_concat/collect) — VERDICT r4 gap #2
    li = _t(spark, sf_dir, "lineitem")
    t = li.filter(li.l_orderkey <= 200)
    return (
        t.group_by("l_orderkey")
        .aggregate(
            lines_desc=t.l_linenumber.group_concat(
                ",", order_by=t.l_linenumber.desc()
            ),
            first_desc=t.l_linenumber.first(order_by=t.l_linenumber.desc()),
            last_desc=t.l_linenumber.last(order_by=t.l_linenumber.desc()),
            status_mixed=t.l_linestatus.first(
                order_by=[
                    t.l_returnflag.asc(),
                    t.l_linenumber.desc(),
                    t.l_linestatus.asc(),
                ]
            ),
        )
        .to_spark()
    )


# ---------------------------------------------------------------------------
# arrays / unnest / json / pivot
# ---------------------------------------------------------------------------

def _array_ops(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.text.split(" ")
    return d.select(
        "doc_id",
        n_tok=toks.array_length(),
        n_uniq=toks.array_distinct().array_length(),
        has_the=toks.array_contains("the"),
        first_tok=toks.array_index(0),
    ).to_spark()


def _unnest_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = d.select(word=d.text.split(" ")).unnest("word")
    return (
        words.group_by("word")
        .aggregate(cnt=words.word.count())
        .order_by(ib.desc("cnt"), "word")
        .limit(20)
        .to_spark()
    )


def _json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", k=e.props.json_get("k").cast("int64")
    ).to_spark()


def _array_named_reductions(spark, sf_dir):
    """ibis-native array reduction spellings (ArrayValue.sums/means/mins/
    maxs/anys/alls, reference expr/types/arrays.py:1112-1342) — per-row JVM
    lambda reductions, no shuffle, no UDF.

    The split+map token-length array is materialized in its own projection
    step: HOF lambdas are interpreted with no common-subexpression
    elimination, so inlining it would re-run the split per reduction
    (CollapseProject keeps the two projections separate because the array
    expression is non-cheap and multiply referenced — plan-asserted in
    tests/test_plans.py)."""
    d = _t(spark, sf_dir, "documents")
    step = d.select(
        "doc_id", lens=d.text.split(" ").map(lambda w: w.length())
    )
    return step.select(
        "doc_id",
        tok_sum=step.lens.sums().cast("int64"),
        tok_mean=step.lens.means(),
        tok_min=step.lens.mins().cast("int64"),
        tok_max=step.lens.maxs().cast("int64"),
        any_long=step.lens.map(lambda n: n > 8).anys(),
        all_short=step.lens.map(lambda n: n < 20).alls(),
    ).to_spark()


def _bool_cum_windows(spark, sf_dir):
    """BooleanColumn.cumany/cumall (logical.py:460,:506): running OR/AND
    per order — window max/min over rows unbounded-preceding, partitioned
    on the group key (shuffles once on l_orderkey, scales)."""
    e = _t(spark, sf_dir, "events")
    w = ib.window(group_by=e.user_id, order_by=e.ts)
    return e.select(
        "event_id",
        big_seen=(e.value > 40).cumany().over(w),
        all_small=(e.value < 40).cumall().over(w),
    ).to_spark()


def _bool_agg_not(spark, sf_dir):
    """BooleanColumn.notany/notall (logical.py:346,:421) incl. where=."""
    li = _t(spark, sf_dir, "lineitem")
    return li.aggregate(
        no_huge=(li.l_quantity > 200).notany(),
        not_all_small=(li.l_quantity < 10).notall(),
        no_cheap_returns=(li.l_extendedprice < 1000).notany(
            where=li.l_returnflag == "R"
        ),
    ).to_spark()


def _interval_unit_views(spark, sf_dir):
    """IntervalValue unit views (expr/types/temporal.py:1281-1333):
    timestamp subtraction yields a Spark day-time interval; the accessors
    are interval-type casts (pure expressions, codegen-friendly)."""
    e = _t(spark, sf_dir, "events")
    t2 = e.mutate(delta=e.ts - ib.timestamp("2024-01-01 00:00:00"))
    return t2.select(
        "event_id",
        d_day=t2.delta.days,
        d_hour=t2.delta.hours,
        d_min=t2.delta.minutes,
        d_sec=t2.delta.seconds,
        d_ms=t2.delta.milliseconds,
    ).to_spark()


def _parse_roundtrip(spark, sf_dir):
    """String→temporal parse spellings (StringValue.as_date/as_time/
    as_timestamp, strings.py:1285-1343) + iso_year/epoch_days extraction."""
    o = _t(spark, sf_dir, "orders")
    s = o.o_orderdate.strftime("%Y-%m-%d %H:%M:%S")
    return o.select(
        "o_orderkey",
        back_ts=s.as_timestamp("%Y-%m-%d %H:%M:%S"),
        back_d=s.as_date("%Y-%m-%d %H:%M:%S"),
        back_t=s.as_time("%Y-%m-%d %H:%M:%S"),
        iy=o.o_orderdate.iso_year().cast("int64"),
        ed=o.o_orderdate.epoch_days(),
    ).to_spark()


def _histogram_bins(spark, sf_dir):
    """NumericColumn.histogram (numeric.py): data-derived fixed-width bins.
    min/max computed as ONE 1-row aggregate broadcast-cross-joined (never a
    global unordered window) — the same plan shape at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    binned = li.mutate(hb=li.l_quantity.histogram(nbins=10))
    return (
        binned.group_by("hb")
        .aggregate(n=binned.l_orderkey.count())
        .order_by("hb")
        .to_spark()
    )


def _grouped_fraction(spark, sf_dir):
    """Grouped scalar-lift semantics (GroupedTable.mutate with
    x / x.sum()): the bare reduction re-binds to the group window —
    agg OVER (PARTITION BY keys), one shuffle, no cross join."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.group_by("l_returnflag").mutate(
        frac=(li.l_extendedprice / li.l_extendedprice.sum()).round(9)
    )
    return out.select("l_orderkey", "l_linenumber", "l_returnflag", "frac").to_spark()


def _rowid_contract(spark, sf_dir):
    """The distributed zip-by-index numbering (Table.with_row_number /
    rowid, table.py) is order-arbitrary but contract-bound: exactly N
    distinct values covering [0, N). Those invariants ARE SQL-expressible
    even though the assignment isn't."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.with_row_number("rid")
    return r.aggregate(
        n=r.l_orderkey.count(),
        d=r.rid.nunique(),
        mn=r.rid.min(),
        mx=r.rid.max(),
    ).to_spark()


def _salted_join_agg(spark, sf_dir):
    """Skew-resistant salted join (ibis_spark/expr/table.py:779) must be
    RESULT-IDENTICAL to the plain equi-join — the oracle is the unsalted
    SQL join. The salt only changes the shuffle distribution (hot keys
    split across `salt` reducers), never the answer."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.salted_join(o, [("l_orderkey", "o_orderkey")], salt=8)
    return (
        j.group_by("o_orderpriority")
        .aggregate(
            n=j.l_orderkey.count(),
            qty=j.l_quantity.sum().round(2),
        )
        .order_by("o_orderpriority")
        .to_spark()
    )


def _selector_if_any(spark, sf_dir):
    """Module-level API composition: s.if_any over a column selection
    (reference selectors.py:546) + ibis.and_ fold — both lower to plain
    JVM predicates, fully pushdown-eligible."""
    import ibis_spark.selectors as s

    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(
        ib.and_(
            s.if_any(s.cols("l_tax", "l_discount"), lambda c: c > 0.07)(li),
            li.l_quantity < 30,
        )
    )
    return f.aggregate(
        n=f.l_orderkey.count(),
        rev=f.l_extendedprice.sum().round(2),
    ).to_spark()


def _json_typed_accessors(spark, sf_dir):
    """JSONValue typed accessor properties (.int/.float/.str/.bool and
    .map, expr/types/json.py:255-408) — JVM-side regex+cast unwrap."""
    e = _t(spark, sf_dir, "events")
    k = e.props.json_get("k")
    return e.select(
        "event_id",
        k_int=k.int,
        k_float=k.float,
        k_str=k.str,
        k_bool=k.bool,
        k_via_map=e.props.map.get("k", "?"),
    ).to_spark()


def _pivot_wider(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority", "o_orderstatus", "o_orderkey")
        .pivot_wider(
            names_from="o_orderstatus", values_from="o_orderkey", values_agg="count"
        )
        .fill_null(0)
        .to_spark()
    )


def _pivot_wider_explicit(spark, sf_dir):
    # names= hands the pivot-key list straight to Spark's pivot(col, values)
    # — no plan-time distinct-values discovery job (the hidden driver action
    # pivot_wider's docstring warns about); names_sort orders the columns
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority", "o_orderstatus", "o_orderkey")
        .pivot_wider(
            names_from="o_orderstatus",
            values_from="o_orderkey",
            values_agg="sum",
            names=["O", "F", "P"],
            names_sort=True,
        )
        .fill_null(0)
        .to_spark()
    )


def _pivot_longer(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    t = c.select("c_custkey", "c_acctbal", "c_nationkey")
    return t.pivot_longer(
        ["c_acctbal", "c_nationkey"], names_to="metric", values_to="val"
    ).to_spark()


def _temporal_arith(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        plus_day=o.o_orderdate + ib.interval(days=1),
        minus_week=o.o_orderdate - ib.interval(weeks=1),
        plus_hours=o.o_orderdate + ib.interval(hours=36),
    ).to_spark()


def _timestamp_bucket(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.select("event_id", b=e.ts.bucket("15 minutes"))
        .group_by("b")
        .aggregate(n=lambda t: t.event_id.count())
        .to_spark()
    )


def _in_values(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        seg_hit=c.c_mktsegment.isin(["BUILDING", "AUTOMOBILE"]),
        none_hit=c.c_nationkey.isin([]),
    ).to_spark()


def _between_time(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        in_window=e.ts.between_time("09:00:00", "17:00:00"),
        tod=e.ts.time(),
    ).to_spark()


def _table_cast(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    t = li.select("l_orderkey", "l_quantity", "l_discount").cast(
        {"l_quantity": "int32", "l_discount": "string"}
    )
    return t.to_spark()


def _map_struct_ops(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    st = ib.struct(key=n.n_nationkey, name=n.n_name)
    mp = ib.map_({"rk": n.n_regionkey})
    return n.select(
        "n_nationkey",
        sk=st.get_field("key"),
        sn=st.get_field("name"),
        rk=mp.map_get("rk"),
        has_rk=mp.map_contains("rk"),
        n_keys=mp.map_length(),
    ).to_spark()


def _array_hof(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.text.split(" ")
    return d.select(
        "doc_id",
        n_long=toks.array_filter(lambda x: x.length() > 4).array_length(),
        lens_sum=toks.array_map(lambda x: x.length()).array_sum().cast("int64"),
        any_the=toks.array_any(lambda x: x == "the"),
        pos_the=toks.array_position("the"),
    ).to_spark()


def _regex_ops(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        has_vowel2=p.p_name.re_search("[aeiou]{2}"),
        first_word=p.p_name.re_extract("^(\\w+)", 1),
        digits=p.p_brand.re_extract("(\\d+)", 1),
        no_vowels=p.p_name.re_replace("[aeiou]", "_"),
        n_parts=p.p_name.re_split("\\s+").array_length(),
    ).to_spark()


def _hash_ops(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        h_md5=d.text.hexdigest("md5"),
        h_sha256=d.text.hexdigest("sha256"),
    ).to_spark()


def _bitwise_ops(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    k = o.o_orderkey
    return o.select(
        "o_orderkey",
        b_and=k.bitwise_and(255),
        b_or=k.bitwise_or(16),
        b_xor=k.bitwise_xor(o.o_custkey),
        b_shl=(k % 1024).bitwise_left_shift(2),
        b_shr=k.bitwise_right_shift(3),
    ).to_spark()


def _temporal_ctors(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    yr = o.o_orderdate.year()
    mo = o.o_orderdate.month()
    dy = o.o_orderdate.day()
    return o.select(
        "o_orderkey",
        d=ib.date(yr, mo, dy),
        ts=ib.timestamp(yr, mo, dy, ib.literal(12), ib.literal(30), ib.literal(0)),
        from_unix=ib.timestamp_from_unix(o.o_orderkey * 1000 + 1_500_000_000, unit="s"),
    ).to_spark()


def _temporal_delta(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    base = ib.timestamp("2024-01-01 00:00:00")
    return e.select(
        "event_id",
        days_in=e.ts.delta(base, "day"),
        hours_in=e.ts.delta(base, "hour"),
        date_diff_days=e.ts.date_diff(base),
    ).to_spark()


def _integer_range_unnest(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    t = r.select("r_regionkey", seq=ib.integer_range(r.r_regionkey + 1))
    return t.unnest("seq").to_spark()


def _sql_escape_hatch(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    return n.sql(
        "SELECT n_regionkey, COUNT(*) AS n FROM t GROUP BY n_regionkey"
    ).to_spark()


# ---------------------------------------------------------------------------
# UDFs
# ---------------------------------------------------------------------------

def _udf_pandas(spark, sf_dir):
    from ibis_spark import udf

    @udf.scalar.pandas
    def norm_text(s) -> str:
        return s.str.strip().str.lower().str.replace("widget", "gadget", regex=False)

    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", normed=norm_text(p.p_name)).to_spark()


def _udf_python(spark, sf_dir):
    from ibis_spark import udf

    @udf.scalar.python
    def price_band(x: float) -> int:
        return int(x // 500)

    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", band=price_band(p.p_retailprice)).to_spark()


def _udf_builtin(spark, sf_dir):
    from ibis_spark import udf

    @udf.scalar.builtin
    def bit_length(s: str) -> int:
        ...

    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", bits=bit_length(p.p_name)).to_spark()


def _udf_pyarrow(spark, sf_dir):
    from ibis_spark import udf

    @udf.scalar.pyarrow(returns="int64")
    def add_size_bonus(size, price):
        return size + (price > 1000)

    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey", bonus=add_size_bonus(p.p_size, p.p_retailprice)
    ).to_spark()


def _arg_reductions(spark, sf_dir):
    # ArgMax/ArgMin (reductions.py:381) via max_by/min_by; uid keys are
    # unique within each group so ties cannot make the answer ambiguous
    o = _t(spark, sf_dir, "orders")
    return (
        o.group_by("o_orderpriority")
        .aggregate(
            priciest=o.o_orderkey.argmax(o.o_totalprice),
            cheapest=o.o_orderkey.argmin(o.o_totalprice),
            pricey_open=o.o_orderkey.argmax(
                o.o_totalprice, where=o.o_orderstatus == "O"
            ),
        )
        .to_spark()
    )


def _collect_ordered(spark, sf_dir):
    # ArrayCollect with an explicit ordering (reductions.py:59). The driver's
    # canonicalizer sorts every output column with pandas, which cannot
    # factorize list cells — so the ordered arrays are emitted as
    # comma-joined strings (ordering is still fully under test: any order
    # change changes the string). Elements are cast to int64 before joining
    # so no float-repr divergence can leak into the hash.
    li = _t(spark, sf_dir, "lineitem")
    t = li.filter(li.l_orderkey <= 100)
    t = t.mutate(q=t.l_quantity.cast("int64"))
    agg = t.group_by("l_orderkey").aggregate(
        qtys_arr=t.q.collect(order_by=[t.l_linenumber.asc(), t.l_quantity.asc()]),
        qtys_desc_arr=t.q.collect(
            order_by=[t.l_linenumber.desc(), t.l_quantity.asc()]
        ),
    )
    return agg.select(
        "l_orderkey",
        qtys=ib.literal(",").join(agg.qtys_arr.map(lambda x: x.cast("string"))),
        qtys_desc=ib.literal(",").join(
            agg.qtys_desc_arr.map(lambda x: x.cast("string"))
        ),
    ).to_spark()


def _selectors_across(spark, sf_dir):
    # selectors + across (reference ibis/selectors.py): sum every numeric
    # column per market segment in one declaration
    from ibis_spark import selectors as s

    c = _t(spark, sf_dir, "customer")
    return (
        c.group_by("c_mktsegment")
        .aggregate(
            s.across(
                s.numeric(),
                lambda col: col.cast("float64").sum().round(2),
                names="{col}_sum",
            )
        )
        .to_spark()
    )


def _udf_grouped_agg(spark, sf_dir):
    from ibis_spark import udf

    @udf.agg.pandas
    def mean_sq(v) -> float:
        return float((v * v).mean())

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag")
        .aggregate(msq=mean_sq(li.l_discount).round(8))
        .to_spark()
    )


# ---------------------------------------------------------------------------
# streaming-style windows (batch-mode check; streaming smoke in tests/)
# ---------------------------------------------------------------------------

def _tumble(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.window_by(e.ts)
        .tumble("1 hour")
        .aggregate(n=e.event_id.count(), total=e.value.sum().round(4), by="event_type")
        .to_spark()
    )


def _hop(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = (
        e.window_by(e.ts)
        .hop("1 hour", "30 minutes")
        .aggregate(n=e.event_id.count(), by="event_type")
    )
    return out.select("window_start", "event_type", "n").to_spark()


def _session_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.window_by(e.ts)
        .session("2 hours")
        .aggregate(n=e.event_id.count(), by="user_id")
        .to_spark()
    )


def _rollup_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .aggregate(n=o.o_orderkey.count(), total=o.o_totalprice.sum().round(2))
        .to_spark()
    )


def _cube_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .aggregate(n=o.o_orderkey.count())
        .to_spark()
    )


def _interval_range_window(spark, sf_dir):
    import datetime

    o = _t(spark, sf_dir, "orders")
    w = ib.window(group_by=o.o_custkey, order_by=o.o_orderdate).range(
        -datetime.timedelta(days=30), 0
    )
    return o.mutate(avg30=o.o_totalprice.mean().over(w).round(4)).select(
        "o_orderkey", "o_custkey", "avg30"
    ).to_spark()


# ---------------------------------------------------------------------------
# LLM-pipeline operators (dedup / text analysis / fingerprinting)
# ---------------------------------------------------------------------------

def _dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    h = d.mutate(h=d.text.hexdigest("md5"))
    return h.group_by("h").aggregate(doc_id=h.doc_id.min()).to_spark()


def _fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", fp=d.text.hexdigest("md5").substr(0, 8)
    ).to_spark()


def _dedup_minhash(spark, sf_dir):
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return pl.minhash_dedup(d, "text", "doc_id", num_hashes=64, bands=16).to_spark()


def _dedup_minhash_verified(spark, sf_dir):
    # verify="exact" gates candidates on the exact char-4-shingle Jaccard, so
    # the answer is DuckDB-reproducible (all-pairs exact Jaccard + one-hop
    # min-rep); 16 bands of r=4 give ~1-4e-10 per-pair miss probability at
    # the planted-dup similarity (j >= 0.92). The est_jaccard column is
    # dropped: its max-over-star-candidates is banding-dependent.
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    out = pl.minhash_dedup_verified(
        d, "text", "doc_id", num_hashes=64, bands=16, threshold=0.7,
        verify="exact",
    )
    return out.select("doc_id", "rep_id", "is_dup").to_spark()


def _dedup_ngram_jaccard(spark, sf_dir):
    # bands=16/r=2 → per-pair miss ~1e-12 at the planted word-3-gram
    # similarity (j >= 0.90); jaccard column dropped (star-candidate max is
    # banding-dependent), leaving the oracle-checkable dedup answer.
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    out = pl.ngram_jaccard_dedup(
        d, "text", "doc_id", n=3, threshold=0.6, num_hashes=32, bands=16
    )
    return out.select("doc_id", "rep_id", "is_dup").to_spark()


def _dedup_embedding(spark, sf_dir):
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "embeddings")
    # dim passed explicitly: fully lazy build (no plan-time probe);
    # 4 independent bands of 6 planes for banded recall. cosine column
    # dropped (star-candidate max is banding-dependent); the remaining
    # answer is oracle-checkable against DuckDB all-pairs exact cosine —
    # at sf0.01 no pair reaches 0.99, so this verifies the exact-cosine
    # gate rejects every random bucket collision (no false positives).
    out = pl.embedding_dedup(e, threshold=0.99, n_planes=6, bands=4, dim=64)
    return out.select("vec_id", "rep_id", "is_dup").to_spark()


def _simhash(spark, sf_dir):
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", sh=pl.simhash(d.text)).to_spark()


def _ann_cosine_topk(spark, sf_dir):
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in e.filter(e.vec_id == 0).to_spark().first()["embedding"]]
    sim = pl.cosine_similarity(e.embedding, ib.array(*qvec))
    return (
        e.select("vec_id", sim=sim.round(6))
        .order_by(ib.desc("sim"), "vec_id")
        .limit(10)
        .to_spark()
    )


def _ann_lsh_topk(spark, sf_dir):
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in e.filter(e.vec_id == 0).to_spark().first()["embedding"]]
    return pl.ann_lsh_topk(e, qvec, 10, n_planes=4).to_spark()


def _ann_ivf_topk(spark, sf_dir):
    # IVF-Flat scale path (pipeline.ann_ivf_topk): probing ALL centroids
    # makes the search exhaustive, so the result provably equals the
    # brute-force baseline and the same DuckDB oracle hash-checks the whole
    # machinery (deterministic centroid sample, JVM argmin assignment
    # filter, exact cosine re-rank); recall at n_probe < n_centroids is
    # covered by tests/test_pipeline.py
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in e.filter(e.vec_id == 0).to_spark().first()["embedding"]]
    out = pl.ann_ivf_topk(e, qvec, 10, n_centroids=8, n_probe=8)
    return out.select("vec_id", sim=out.sim.round(6)).to_spark()


def _ann_recall(spark, sf_dir):
    """Recall@k of the IVF index (pipeline.ann_recall): centroids are the
    embeddings of vec_id 0..7 and queries those of vec_id 8..12 (disjoint
    from the centroids, so pruning is real) — a deterministic index DuckDB
    can rebuild in pure SQL, so the recall numbers themselves (not just
    row counts) are oracle-checked. n_probe=2 of 8 yields recalls in the
    0.3-0.6 range at sf0.01: the measurement discriminates."""
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "embeddings")
    crows = e.filter(e.vec_id < 8).to_spark().collect()
    cents = [
        list(map(float, r["embedding"]))
        for r in sorted(crows, key=lambda r: r["vec_id"])
    ]
    qs = e.filter((e.vec_id >= 8) & (e.vec_id < 13)).select(
        q_id=e.vec_id, qvec=e.embedding
    )
    return pl.ann_recall(e, qs, 10, centroids=cents, n_probe=2).to_spark()


def _ann_recall_lsh(spark, sf_dir):
    """Recall@k of the hyperplane-LSH bucket prune (pipeline.ann_recall
    method='lsh'): the planes come from the same seeded construction on
    both sides — embedded as literals in the oracle SQL — so the recall
    values themselves hash-check."""
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter((e.vec_id >= 8) & (e.vec_id < 13)).select(
        q_id=e.vec_id, qvec=e.embedding
    )
    return pl.ann_recall(
        e, qs, 10, method="lsh", dim=64, n_planes=4, seed=42
    ).to_spark()


def _lsh_recall_oracle():
    """DuckDB mirror of ann_recall(method='lsh'): the seeded hyperplanes
    are generated by the ENGINE's own _hyperplanes and embedded as
    double literals (repr round-trips exactly), so the bucket keys and
    therefore the candidate sets are engine-identical."""
    from ibis_spark.pipeline import _hyperplanes

    planes = _hyperplanes(64, 4, 42)

    def bucket(col):
        cases = "||".join(
            "(CASE WHEN list_dot_product(" + col + ", ["
            + ", ".join(repr(float(x)) for x in p)
            + "]) >= 0 THEN '1' ELSE '0' END)"
            for p in planes
        )
        return "(" + cases + ")"

    return f"""
        WITH qs AS (
          SELECT vec_id AS q_id, embedding::DOUBLE[] AS qvec
          FROM embeddings WHERE vec_id >= 8 AND vec_id < 13
        ),
        d AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        scored AS (
          SELECT q.q_id, d.vec_id,
                 list_cosine_similarity(d.vec, q.qvec) AS sim,
                 {bucket('d.vec')} = {bucket('q.qvec')} AS cand
          FROM d CROSS JOIN qs q
        ),
        ranked AS (
          SELECT q_id, cand,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY sim DESC, vec_id ASC) AS rk,
                 SUM(CASE WHEN cand THEN 1 ELSE 0 END) OVER (
                   PARTITION BY q_id ORDER BY sim DESC, vec_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crk
          FROM scored
        )
        SELECT q_id,
               SUM(CASE WHEN rk <= 10 AND cand AND crk <= 10
                        THEN 1 ELSE 0 END) / 10.0 AS recall
        FROM ranked GROUP BY q_id
    """


def _lang_id(spark, sf_dir):
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", pred=pl.lang_id(d.text)).to_spark()


def _quality_score(spark, sf_dir):
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", q=pl.quality_score(d.text)).to_spark()


def _token_count_bpe(spark, sf_dir):
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        n_ws=pl.token_count(d.text),
        n_bpe=pl.token_count(d.text, bpe_estimate=True),
    ).to_spark()


def _text_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.text.split(" ")
    stop = toks.array_filter(lambda x: x.isin(["the", "a", "value", "row"]))
    return d.select(
        "doc_id",
        n_tok=toks.array_length(),
        n_char=d.text.length(),
        avg_tok_len=(d.text.length() / toks.array_length()).round(4),
        stop_ratio=(
            stop.array_length().cast("float64") / toks.array_length()
        ).round(4),
    ).to_spark()


def _winnow_fingerprint(spark, sf_dir):
    # MOSS winnowing over a Horner-mod polynomial rolling hash
    # (pipeline.winnow_fingerprint) — plain arithmetic, so DuckDB
    # reproduces every fingerprint member bit-for-bit; exploded to rows so
    # the driver canonicalizer can sort/hash them
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return pl.winnow_fingerprint(d, "text", "doc_id").to_spark()


def _pretokenize(spark, sf_dir):
    # GPT-2-style BPE pretokenizer (pipeline.pretokenize) — lookahead-free
    # pattern, so DuckDB's RE2 reproduces the identical token stream; the
    # counts (not the arrays) are emitted so the driver can hash them
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        n_pre=pl.pretoken_count(d.text),
        n_all=pl.pretokenize(d.text).array_length(),
    ).to_spark()


# demo BPE merge list for the oracle-checked bpe_encode query: well-formed
# (every multi-char side is produced by an earlier rule), small enough for
# the JVM replace-chain path
_BPE_DEMO_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("o", "n"),
    ("a", "n"), ("an", "d"), (" ", "t"), (" t", "h"), (" th", "e"),
    ("r", "e"), ("e", "d"), (" ", "a"), (" a", "n"), (" an", "d"),
]


def _bpe_encode(spark, sf_dir):
    """Exact BPE token stream (pipeline.bpe_encode): separator-encoded
    pretokens + one literal replace per merge rule — a pure scan-local
    string plan whose construction DuckDB reproduces verbatim, so the
    token stream itself (count + first-8 prefix) is hash-checked."""
    import pyspark.sql.functions as F

    from ibis_spark import pipeline as pl
    from ibis_spark.expr.core import unwrap, wrap

    d = _t(spark, sf_dir, "documents")
    toks = unwrap(pl.bpe_encode(d.text, _BPE_DEMO_MERGES))
    return d.select(
        "doc_id",
        n_bpe=wrap(F.array_size(toks)),
        head=wrap(F.array_join(F.slice(toks, 1, 8), "\x1f")),
    ).to_spark()


def _hash_oracles():
    """hash_sample / hash_split oracles share the engine's own hex
    thresholds (pipeline._hex_threshold) so the comparison constant can
    never drift between the Spark plan and the DuckDB SQL."""
    from ibis_spark.pipeline import _hex_threshold

    t20 = _hex_threshold(0.2)
    t80, t90 = _hex_threshold(0.8), _hex_threshold(0.9)
    m100, m50, m25, m10 = (
        _hex_threshold(1.0),
        _hex_threshold(0.5),
        _hex_threshold(0.25),
        _hex_threshold(0.1),
    )
    return {
        "mixture_sample": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     substr(md5('mx' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
              FROM documents)
            WHERE h < CASE source
                        WHEN 'src0' THEN '{m100}'
                        WHEN 'src1' THEN '{m50}'
                        WHEN 'src2' THEN '{m25}'
                        WHEN 'src3' THEN '{m10}'
                        ELSE '00000000' END
        """,
        "hash_sample": f"""
            SELECT doc_id FROM documents
            WHERE substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8) < '{t20}'
        """,
        "hash_split": f"""
            SELECT doc_id,
                   CASE WHEN h < '{t80}' THEN 'train'
                        WHEN h < '{t90}' THEN 'valid'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         substr(md5('v1' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
                  FROM documents)
        """,
    }


def _bpe_oracle_sql():
    """Build the DuckDB mirror of bpe_encode's replace chain: same
    separator encoding (chr(1)), same rule order, same final split."""

    def lit(s):
        parts, buf = [], ""
        for ch in s:
            if ch == "\x01":
                if buf:
                    parts.append("'" + buf.replace("'", "''") + "'")
                    buf = ""
                parts.append("chr(1)")
            else:
                buf += ch
        if buf:
            parts.append("'" + buf.replace("'", "''") + "'")
        return "||".join(parts)

    pretok_re = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
    expr = (
        "array_to_string(list_transform(regexp_extract_all("
        "replace(text, chr(1), ''), '" + pretok_re.replace("'", "''") + "'), "
        "t -> chr(1)||chr(1)||regexp_replace(t, '(?s)(.)', "
        "'\\1'||chr(1)||chr(1), 'g')), '')"
    )
    S = "\x01"
    for a, b in _BPE_DEMO_MERGES:
        expr = (
            f"replace({expr}, {lit(S + a + S + S + b + S)}, "
            f"{lit(S + a + b + S)})"
        )
    return f"""
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n_bpe,
               COALESCE(array_to_string(toks[1:8], chr(31)), '') AS head
        FROM (
          SELECT doc_id,
                 list_filter(string_split_regex({expr}, chr(1)||'+'),
                             x -> x <> '') AS toks
          FROM documents
        )
    """


def _hash_sample(spark, sf_dir):
    """Deterministic md5-bucket sample (pipeline.hash_sample): pure scan
    filter, reproducible across engines/runs/cluster sizes — DuckDB
    replays the identical hex-threshold comparison, so membership itself
    is the oracle."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return pl.hash_sample(d, 0.2, "doc_id", salt="s1").select("doc_id").to_spark()


def _hash_split(spark, sf_dir):
    """Deterministic train/valid/test assignment (pipeline.hash_split)."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    out = pl.hash_split(
        d, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1}, salt="v1"
    )
    return out.select("doc_id", "split").to_spark()


def _chunk_text(spark, sf_dir):
    """Context-window chunking (pipeline.chunk_text): 40-token windows,
    8-token overlap — scan + explode of start offsets, no shuffle."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = pl.chunk_text(d, "text", max_tokens=40, overlap=8)
    return out.select("doc_id", "chunk_idx", "chunk").to_spark()


def _redact(spark, sf_dir):
    """PII scrubbing (pipeline.redact): urls → emails → phones, chained
    JVM regexp_replace in the RE2∩Java dialect so DuckDB replays the
    identical substitutions. Synthetic PII is appended per-row so the
    replacements demonstrably fire."""
    import pyspark.sql.functions as F

    from ibis_spark import pipeline as pl
    from ibis_spark.expr.core import wrap

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    pii = wrap(
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did, F.lit("@example.com or http://ex.io/p?id="),
            did, F.lit(" tel +1 (555) 010-"), did,
        )
    )
    return d.select("doc_id", red=pl.redact(pii)).to_spark()


def _sessionize(spark, sf_dir):
    """Gap-based sessionization (pipeline.sessionize): 30-minute gap per
    user over events — one exchange, lag + running sum in one sort."""
    import datetime

    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = pl.sessionize(e, "ts", "user_id", datetime.timedelta(minutes=30))
    return out.select("event_id", "user_id", "session_id").to_spark()


def _sessionize_tws(spark, sf_dir):
    """Gap-based session AGGREGATION on Spark 4's transformWithState
    runtime (pipeline.sessionize_tws) — executable here because the
    vendored protobuf wire codec (ibis_spark/_vendor/pbshim.py) stands
    in for google.protobuf on the workers; the JVM state server
    validates every byte with real protobuf-java. Batch input = one
    giant micro-batch with empty initial state, so the emitted rows are
    exactly the batch session aggregate the SQL oracle computes."""
    import datetime

    from ibis_spark import pipeline as pl

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    out = pl.sessionize_tws(e, "ts", "user_id",
                            datetime.timedelta(minutes=30))
    return out.select(
        "user_id", "session_start", "session_end", "n_events"
    ).to_spark()


def _top_ngrams(spark, sf_dir):
    """Corpus-wide top-k word bigrams (pipeline.top_ngrams): scan +
    explode + ONE count exchange (map-side partial agg) + TakeOrdered."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return pl.top_ngrams(d, "text", n=2, k=25).to_spark()


def _tfidf(spark, sf_dir):
    """Per-(doc, term) TF-IDF (pipeline.tfidf); restricted to doc_id < 50
    to keep the driver compare tractable while exercising the full
    corpus-level df/N statistics."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    out = pl.tfidf(d, "text", "doc_id")
    return out.filter(out.doc_id < 50).to_spark()


def _repetition_score(spark, sf_dir):
    # within-doc duplicate-bigram fraction (pipeline.repetition_score) —
    # the Gopher-style repetition quality signal, scan-only JVM lambdas
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rep2=pl.repetition_score(d.text, n=2),
        rep3=pl.repetition_score(d.text, n=3),
    ).to_spark()


def _retention(spark, sf_dir):
    """Daily cohort retention over events (pipeline.retention): first-
    activity-day cohorts x day offsets, count of active users. Two
    key-partitioned aggregates + one join, nothing per-event after the
    first distinct."""
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "events")
    return pl.retention(e, "ts", "user_id", period="day").to_spark()


def _funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel per user (pipeline.funnel):
    chained conditional-minimum semantics computed as ONE key exchange +
    a sorted JVM fold — no N-pass joins. Oracle: the literal chained
    MIN(CASE ...) formulation."""
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "events")
    return pl.funnel(e, "ts", "user_id", ["view", "click", "purchase"]).to_spark()


def _embedding_clusters(spark, sf_dir):
    """Transitive embedding-cosine clustering (pipeline.embedding_clusters):
    LSH-verified cosine>=0.99 edges through connected components. DuckDB
    oracle: all-pairs cosine edges + recursive-CTE components (full-recall
    assumption as for dedup_embedding)."""
    from ibis_spark import pipeline as pl

    e = _t(spark, sf_dir, "embeddings")
    return pl.embedding_clusters(e, "embedding", "vec_id", threshold=0.99, dim=64).to_spark()


def _key_skew_stats(spark, sf_dir):
    """Heavy-hitter diagnostic (pipeline.key_skew_stats): top-10 l_suppkey
    values by lineitem row count with corpus fraction — one partial-agg
    exchange + TakeOrdered + broadcast 1-row total."""
    from ibis_spark import pipeline as pl

    li = _t(spark, sf_dir, "lineitem")
    return pl.key_skew_stats(li, "l_suppkey", top_n=10).to_spark()


def _mixture_sample(spark, sf_dir):
    """Deterministic data-mix weighting (pipeline.mixture_sample): keep
    src0 at 100%, src1 at 50%, src2 at 25%, src3 at 10%, everything else
    dropped — per-domain md5-bucket thresholds, pure scan filter."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    out = pl.mixture_sample(
        d,
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1},
        "doc_id",
        salt="mx",
    )
    return out.select("doc_id", "source").to_spark()


def _ngram_lm_score(spark, sf_dir):
    """Corpus-trained bigram-LM perplexity per document
    (pipeline.ngram_lm_score): add-1-smoothed P(w2|w1) trained on the
    whole corpus, then each doc scored by mean negative log-prob. Two
    training count exchanges + model join + one group-by-doc mean. r8:
    deterministic ln/exp + ascending-order fold -> raw bit-identical
    doubles."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    # CPU-heavy per-row work over a single-split scan: spread it
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return pl.ngram_lm_score(d, "text", "doc_id").to_spark()


def _dedup_clusters(spark, sf_dir):
    """Transitive near-dup clustering (pipeline.dedup_clusters): verified
    MinHash-LSH edges (exact char-4-shingle Jaccard >= 0.7) fed through
    min-label-propagation connected components; cluster_id = smallest id
    in the transitive cluster. DuckDB oracle: all-pairs exact Jaccard
    edges + recursive-CTE components (the band parameters put per-pair
    LSH miss probability at ~1e-10 for >=0.7 similarity, so full recall
    is the oracle assumption, as for dedup_minhash_verified)."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    return pl.dedup_clusters(d, "text", "doc_id", threshold=0.7).to_spark()


def _remove_duplicated_spans(spark, sf_dir):
    """Exact substring dedup (pipeline.remove_duplicated_spans): spans of
    >=8 consecutive tokens occurring more than once corpus-wide keep only
    their globally-first occurrence; later copies are excised and docs
    reassembled. Three key-partitioned exchanges, no suffix array."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    # CPU-heavy per-row work over a single-split scan: spread it
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return pl.remove_duplicated_spans(d, "text", "doc_id", k=8).to_spark()


def _line_dedup(spark, sf_dir):
    """CCNet-style cross-corpus line dedup (pipeline.line_dedup): docs are
    first rebuilt as three ~18-token lines (the corpus has no newlines),
    then every line that occurs anywhere else keeps only its first
    (doc_id, pos) occurrence and docs are reassembled. Two key-partitioned
    shuffles: line-hash window + doc-id regroup."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    prep = d.sql(
        "SELECT doc_id, concat_ws('\\n', "
        " array_join(slice(split(text, ' '), 1, 18), ' '), "
        " array_join(slice(split(text, ' '), 19, 18), ' '), "
        " array_join(slice(split(text, ' '), 37, size(split(text, ' '))), ' ')) AS text "
        "FROM t"
    )
    return pl.line_dedup(prep, "text", "doc_id").to_spark()


def _gopher_filter(spark, sf_dir):
    """Gopher quality-rule bundle (pipeline.gopher_filter, flag mode):
    five boolean rules + the combined pass flag, scan-only JVM lambdas."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    out = pl.gopher_filter(d, "text")
    return out.select(
        "doc_id",
        "ok_words",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_alpha_words",
        "ok_stopwords",
        "gopher_pass",
    ).to_spark()


def _domain_quota_sample(spark, sf_dir):
    """Deterministic per-domain quota sampling (pipeline.
    domain_quota_sample): at most 10 docs per source, chosen by
    md5(salt||doc_id) hash order — ONE window exchange on the domain,
    reproducible across runs and cluster sizes."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    out = pl.domain_quota_sample(d, "source", 10, "doc_id", salt="r7")
    return out.select("doc_id", "source").to_spark()


def _decontaminate(spark, sf_dir):
    """Benchmark decontamination (pipeline.decontaminate): docs whose
    doc_id % 10 == 0 stand in for the eval set; every other doc is
    flagged when any of its word 6-grams appears in that set. Broadcast
    semi-join of exploded n-grams — the corpus never shuffles."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    # CPU-heavy per-row work over a single-split scan: spread it
    d = d.repartition(spark.sparkContext.defaultParallelism)
    bench = d.filter(d.doc_id % 10 == 0)
    corp = d.filter(d.doc_id % 10 != 0)
    out = pl.decontaminate(corp, bench, "text", "doc_id", n=6)
    return out.select("doc_id", "contaminated").to_spark()


def _connected_components(spark, sf_dir):
    """Connected components by min-label propagation (pipeline.
    connected_components) over a deterministic sparse supplier–part
    co-occurrence graph (part nodes offset by 100000): the glue step
    that turns pairwise dedup candidate edges into duplicate clusters.
    Iterative join + min-agg with per-iteration localCheckpoint; the
    DuckDB oracle rebuilds the same components via a recursive CTE."""
    from ibis_spark import pipeline as pl

    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(li.l_quantity > 49.0, li.l_discount > 0.08)
    edges = f.select(a=f.l_suppkey, b=f.l_partkey + 100000).distinct()
    return pl.connected_components(edges, "a", "b").to_spark()


def _pagerank(spark, sf_dir):
    """Fixed-iteration simplified PageRank (pipeline.pagerank) over the
    directed part->supplier supply graph: the link-graph centrality
    signal a web-corpus pipeline uses to weight crawl sources. 3
    iterations at damping 0.85; per-iteration shape is one key join +
    one groupBy(dst) shuffle + a node-list left join, lineage cut by
    localCheckpoint. Ranks are ~1/N (~1e-4 here) so the oracle compares
    at 9 decimal places — float sum-order drift is ~1e-18 absolute,
    ten orders of magnitude below the rounding quantum."""
    from ibis_spark import pipeline as pl

    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(li.l_quantity > 45.0)
    edges = f.select(src=f.l_partkey + 100000, dst=f.l_suppkey).distinct()
    pr = pl.pagerank(edges, "src", "dst", iters=3, damping=0.85,
                     id_name="node", rank_name="pr")
    return pr.select("node", pr=pr.pr.round(9)).to_spark()


def _connected_components_isolated(spark, sf_dir):
    """connected_components with the r8 ``nodes=`` vertex-set contract
    (VERDICT r7 item 7): the FULL supplier list is supplied as the
    vertex table, so degree-0 suppliers (no qualifying lineitem edge)
    appear as singleton components (component = self) instead of
    silently vanishing — real link graphs have isolated vertices."""
    from ibis_spark import pipeline as pl

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    f = li.filter(li.l_quantity > 49.0, li.l_discount > 0.08)
    edges = f.select(a=f.l_suppkey, b=f.l_partkey + 100000).distinct()
    return pl.connected_components(
        edges, "a", "b", nodes=s.select(id=s.s_suppkey)
    ).to_spark()


def _pagerank_isolated(spark, sf_dir):
    """pagerank with the r8 ``nodes=`` vertex-set contract (VERDICT r7
    item 7): all suppliers join the vertex set, so degree-0 suppliers
    enter N (lowering every base share) and settle at (1-d)/N — the
    dangling-leak rule — instead of being absent."""
    from ibis_spark import pipeline as pl

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    f = li.filter(li.l_quantity > 45.0)
    edges = f.select(src=f.l_partkey + 100000, dst=f.l_suppkey).distinct()
    pr = pl.pagerank(edges, "src", "dst", iters=3, damping=0.85,
                     id_name="node", rank_name="pr",
                     nodes=s.select(node=s.s_suppkey))
    return pr.select("node", pr=pr.pr.round(9)).to_spark()


def _range_join(spark, sf_dir):
    """Bucketed interval-containment join (Table.range_join): every order
    whose total price falls inside a sampled order's ±5% price band.
    With bucket=5000 the inequality join runs as a hash equi-join on the
    price bucket (intervals exploded to their overlapping buckets, range
    predicate as residual) instead of Spark's O(n*m)
    BroadcastNestedLoopJoin — the pair meets in exactly one bucket, so
    no dedup pass. The DuckDB oracle is the plain BETWEEN join."""
    o = _t(spark, sf_dir, "orders")
    iv = o.filter(o.o_orderkey % 97 == 0)
    iv = iv.select(
        i_key=iv.o_orderkey,
        lo=iv.o_totalprice * 0.95,
        hi=iv.o_totalprice * 1.05,
    )
    pts = o.select(p_key=o.o_orderkey, val=o.o_totalprice)
    out = pts.range_join(iv, "val", ("lo", "hi"), bucket=5000.0)
    return out.select("p_key", "i_key", "val").to_spark()


def _gap_fill(spark, sf_dir):
    """Time-series densification (Table.gap_fill): per-user 6-hour grid
    over events with avg(value) per bucket, empty buckets forward-filled
    — pandas resample().agg().ffill() as three keyed exchanges. Rounded
    to 6dp AFTER the fill (both engines propagate then round, so float
    sum-order drift cannot survive the fill boundary differently)."""
    import datetime as dt

    ev = _t(spark, sf_dir, "events")
    out = ev.gap_fill(
        "ts", dt.timedelta(hours=6), {"value": "avg"}, by="user_id"
    )
    return out.select("user_id", "ts", value=out.value.round(6)).to_spark()


def _weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (pipeline.weighted_sample, Efraimidis–Spirakis): top-500 orders by
    ln(u)/w with a reproducible md5-derived uniform u and w =
    o_totalprice. Scan + TakeOrderedAndProject, no shuffle. r8: ln is
    the engine's libm-free polynomial (correctly-rounded IEEE ops only),
    so score, ordering, and the selected SET are bit-identical across
    engines — no rounding, no libm anywhere in the hashed output."""
    from ibis_spark import pipeline as pl

    o = _t(spark, sf_dir, "orders")
    out = pl.weighted_sample(o, "o_orderkey", "o_totalprice", 500, salt="ws7")
    return out.select("o_orderkey", "score").to_spark()


def _quantile_filter(spark, sf_dir):
    """Distribution-relative outlier trim (pipeline.quantile_filter):
    keep documents whose length sits inside the corpus's own [p05, p95]
    band. One exact-percentile 1-row aggregate broadcast back into the
    scan filter; DuckDB's QUANTILE_CONT interpolates identically."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    dd = d.select("doc_id", ln=d.text.length())
    out = pl.quantile_filter(dd, "ln", 0.05, 0.95)
    return out.select("doc_id", "ln").to_spark()


def _corpus_divergence(spark, sf_dir):
    """Token-level Jensen–Shannon divergence between the even- and
    odd-doc_id halves of the documents corpus
    (pipeline.corpus_divergence): the data-mix diagnostic. Top-25
    tokens by contribution; ln is the engine's libm-free deterministic
    polynomial so probabilities and contributions are emitted raw,
    bit-identical cross-engine (r8)."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    a = d.filter(d.doc_id % 2 == 0)
    b = d.filter(d.doc_id % 2 == 1)
    return pl.corpus_divergence(a, b, "text", top_k=25).to_spark()


def _cross_dedup(spark, sf_dir):
    """Fuzzy decontamination (pipeline.cross_dedup): flag train docs
    (doc_id % 7 != 0) that are near-dups of any reference doc
    (doc_id % 7 == 0) at exact shingle-Jaccard >= 0.7. Candidates via a
    banded MinHash-LSH join BETWEEN corpora, verified exactly — the
    DuckDB oracle is the all-pairs train x ref Jaccard with the same
    length-ratio prefilter as the intra-corpus dedup oracles. The
    all-pairs oracle demands the flagged SET be identical while LSH at
    the default bands=16 (r=4) misses a pair AT j=threshold with
    p~1.2% (ADVICE r7) -- sound here because the gate data has no
    near-threshold pairs: measured at sf0.01, every true pair has
    j >= 0.9286 and none fall in [0.55, 0.85), so the worst-case miss
    is (1-0.9286^4)^16 ~ 4e-10. (bands=32/r=2 would close the gap
    data-independently but triples the verify cost: r=2 bands collide
    ~95% of the time even at j=0.3.)"""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    train = d.filter(d.doc_id % 7 != 0)
    ref = d.filter(d.doc_id % 7 == 0)
    out = pl.cross_dedup(train, ref, "text", "doc_id", threshold=0.7)
    return out.select(
        "doc_id", "matched_ref", sim=out.sim.round(6), contaminated=out.contaminated
    ).to_spark()


def _table_diff(spark, sf_dir):
    """Data reconciliation (Table.diff): orders vs a perturbed version
    (every 17th key removed, every 13th price bumped 10%, every 19th
    re-keyed as an addition). One full outer key join, null-safe
    codegen comparisons; changed_cols joined to a string for the
    driver's canonicalizer (array cells don't hash)."""
    o = _t(spark, sf_dir, "orders")
    mod = o.filter(o.o_orderkey % 17 != 0)
    mod = mod.mutate(
        o_totalprice=(mod.o_orderkey % 13 == 0).ifelse(
            mod.o_totalprice * 1.1, mod.o_totalprice
        )
    )
    extra = o.filter(o.o_orderkey % 19 == 0)
    extra = extra.mutate(o_orderkey=extra.o_orderkey + 10000000)
    b = mod.union(extra, distinct=False)
    d = o.diff(b, "o_orderkey")
    return d.select(
        "o_orderkey", "diff_status", changed=ib.literal(",").join(d.changed_cols)
    ).to_spark()


def _grouped_topk(spark, sf_dir):
    """Skew-safe per-group top-k (Table.grouped_topk): the 5 richest
    customers per nation, two-phase local/global rank so a hot group
    never funnels its full row list into one window partition; custkey
    tiebreak makes metric ties deterministic on both engines."""
    c = _t(spark, sf_dir, "customer")
    out = c.grouped_topk("c_nationkey", "c_acctbal", 5, tiebreak="c_custkey")
    return out.select("c_nationkey", "c_custkey", "c_acctbal").to_spark()


def _quantile_bucket(spark, sf_dir):
    """CCNet-style quality binning (pipeline.quantile_bucket): documents
    split into length QUINTILES of the corpus's own distribution. One
    exact-percentile 1-row aggregate broadcast back into the scan +
    size(filter(thresholds)) per row — no ntile, no global sort (ntile
    at corpus grain is a single-partition total sort). Value-split
    semantics: ties share a bucket, deterministically."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    t2 = d.select("doc_id", ln=d.text.length())
    return pl.quantile_bucket(t2, "ln", 5).to_spark()


def _pack_sequences(spark, sf_dir):
    """Greedy sequence packing (pipeline.pack_sequences): documents of
    each doc_id%8 shard walked in doc_id order, packed first-fit into
    512-token bins. The resetting fill level is a prefix-dependent
    recursion — applyInPandas per shard (ONE hash exchange), mirrored by
    a DuckDB recursive CTE; output is all ints, strict-hash-safe."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    t2 = d.select("doc_id", shard=d.doc_id % 8, cnt=pl.token_count(d.text))
    out = pl.pack_sequences(t2, "cnt", "doc_id", 512, by="shard")
    return out.to_spark()


def _contamination_score(spark, sf_dir):
    """Soft decontamination (pipeline.contamination_score): per-document
    fraction of its word 6-gram stream found in the doc_id%10==0
    benchmark slice — decontaminate's boolean rule upgraded to a
    triage/threshold score. Broadcast gram set + one id-keyed fold;
    score is an int/int double division, deterministic without
    rounding."""
    from ibis_spark import pipeline as pl

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(d.doc_id % 10 == 0)
    corp = d.filter(d.doc_id % 10 != 0)
    return pl.contamination_score(corp, bench, "text", "doc_id", n=6).to_spark()


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# The driver's correctness harness samples the FIRST 50 queries() entries.
# Round-9 window (VERDICT r8 item 3 freshness rotation): the 16
# never-sampled r9 entries first (geo slice x3, TPC-DS-derived x13),
# then ALL 28 entries whose latest driver sample was still r5, then 6
# r6-era fillers. After CORRECTNESS_r09 no query's latest evidence is
# older than r6 (r6-era queries remain at r6, which meets the bar), the
# two late-round additions geo_within_join / ds_returns_net take the
# final slots, and the four queries whose EMISSION was rewritten this
# round (tfidf / corpus_divergence / ngram_lm_score det-ln unit-domain
# fast path; scalar_numeric boolean ln emission) are re-sampled rather
# than resting on now-stale r8 green rows.
# --------------------------------------------------------------------------
# Pure-Spark geospatial slice (VERDICT r8 item 5): GeoPoint/GeoX/GeoY/
# GeoDistance/GeoDWithin/bbox-contains over WKB points with EXACT IEEE
# bit (de)serialization (ibis_spark/geo.py r9) — the engine path goes
# through real WKB bytes; the oracle recomputes directly from the raw
# numerics, and matches bit-for-bit because the round-trip is exact.


def _geo_lonlat(t):
    lon = (t.c_custkey % 360).cast("float64") - 180.0 + t.c_acctbal / 1000000.0
    lat = (t.c_custkey % 180).cast("float64") - 90.0 + t.c_acctbal / 2000000.0
    return lon, lat


def _geo_point_roundtrip(spark, sf_dir):
    """GeoPoint -> WKB bytes -> GeoX/GeoY (reference geospatial.py
    GeoPoint/GeoX/GeoY): emitted coordinates must be BIT-IDENTICAL to
    the oracle's direct arithmetic — proves the exact encode/decode."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    lon, lat = _geo_lonlat(c)
    c = c.mutate(pt=geo.geo_point(lon, lat))
    return c.select(
        "c_custkey", x=geo.geo_x(c.pt), y=geo.geo_y(c.pt)
    ).to_spark()


def _geo_distance_filter(spark, sf_dir):
    """Planar GeoDistance + GeoDWithin between per-customer points and a
    per-nation anchor point, both carried as WKB (reference GeoDistance
    semantics: Cartesian, as PostGIS ST_Distance on geometry)."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    # CPU-heavy projection over a single-split scan: spread it
    c = c.repartition(spark.sparkContext.defaultParallelism)
    n = _t(spark, sf_dir, "nation")
    j = c.inner_join(n, [("c_nationkey", "n_nationkey")])
    lon, lat = _geo_lonlat(j)
    j = j.mutate(
        cpt=geo.geo_point(lon, lat),
        npt=geo.geo_point(
            (j.n_nationkey * 14).cast("float64") - 175.0,
            (j.n_nationkey * 7).cast("float64") - 87.0,
        ),
    )
    j = j.mutate(
        dist=geo.geo_distance(j.cpt, j.npt),
        near=geo.geo_dwithin(j.cpt, j.npt, 60.0),
    )
    return j.select("c_custkey", "n_name", "dist", "near").to_spark()


def _geo_bbox_count(spark, sf_dir):
    """Points-in-rectangle containment (the bbox slice of reference
    GeoContains/GeoIntersects) as a filter, counted per nation."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    lon, lat = _geo_lonlat(c)
    c = c.mutate(pt=geo.geo_point(lon, lat))
    inb = c.filter(geo.geo_within_bbox(c.pt, -90.0, -45.0, 90.0, 45.0))
    return inb.group_by("c_nationkey").aggregate(
        n_in=inb.c_custkey.count()
    ).to_spark()


def _geo_envelope_agg(spark, sf_dir):
    """Per-group point-set envelope (the aggregate slice of reference
    GeoEnvelope): min/max x/y over each nation's customer points, plus a
    geo_equals self-check count (re-encoded point == original, exact).
    min/max are order-insensitive, so the emission is bit-exact with no
    rounding."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    lon, lat = _geo_lonlat(c)
    c = c.mutate(pt=geo.geo_point(lon, lat))
    # stage decode into columns FIRST: x/y are non-cheap and referenced
    # multiple times below, so CollapseProject keeps them as a separate
    # projection — inlining the full encode(decode(pt)) composition into
    # selfeq in one expression OOM'd plan canonicalization. The
    # self-check is BYTE equality (stronger than geo_equals: canonical
    # re-encode must reproduce the exact WKB), which costs one encode
    # per row instead of decoding a freshly-encoded point — reflect is
    # CodegenFallback + non-CSE-able, so decode-of-encode evaluates ~18
    # reflections/row (measured 11 s for 15k rows)
    c = c.mutate(x=geo.geo_x(c.pt), y=geo.geo_y(c.pt))
    c = c.mutate(selfeq=c.pt == geo.geo_point(c.x, c.y))
    return c.group_by("c_nationkey").aggregate(
        xmin=c.x.min(), xmax=c.x.max(), ymin=c.y.min(), ymax=c.y.max(),
        n_eq=c.selfeq.cast("int").sum(),
    ).to_spark()


def _geo_within_join(spark, sf_dir):
    """Grid-bucketed distance join (geo.geo_within_join): every
    (customer point, nation anchor) pair within planar distance 25 —
    engine runs the 3x3 cell-neighborhood equi-join (never all-pairs);
    the oracle IS the all-pairs formulation, so a green row proves the
    bucketing loses no pairs (the minhash-vs-all-pairs oracle pattern)."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    # CPU-heavy per-row work over a single-split scan: spread it
    c = c.repartition(spark.sparkContext.defaultParallelism)
    lon, lat = _geo_lonlat(c)
    c = c.mutate(cpt=geo.geo_point(lon, lat))
    n = _t(spark, sf_dir, "nation")
    n = n.mutate(
        npt=geo.geo_point(
            (n.n_nationkey * 14).cast("float64") - 175.0,
            (n.n_nationkey * 7).cast("float64") - 87.0,
        )
    )
    j = geo.geo_within_join(c, n, 25.0, left_point="cpt", right_point="npt")
    return j.select("c_custkey", "n_nationkey", "dist").to_spark()


def _geo_cluster(spark, sf_dir):
    """Single-linkage spatial clustering (geo.geo_cluster): grid-join
    edges -> min-label components, vs an all-pairs recursive-closure
    oracle (the connected_components oracle pattern). Isolated points
    must appear as singleton clusters (nodes= contract)."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    # blob layout (NOT the diagonal-lattice _geo_lonlat): points sharing
    # c_custkey mod 1000 land within ~0.003 of each other, grid spacing
    # 7/8 degrees keeps blobs > d apart -> many compact clusters, the
    # realistic spatial shape (a chain layout is the documented
    # worst case for propagation depth; unit-tested separately)
    lon = (c.c_custkey % 50).cast("float64") * 7.0 - 175.0 + c.c_acctbal / 1000000.0
    lat = ((c.c_custkey // 50) % 20).cast("float64") * 8.0 - 80.0 + c.c_acctbal / 2000000.0
    c = c.mutate(pt=geo.geo_point(lon, lat))
    return geo.geo_cluster(c, "c_custkey", 2.0).to_spark()


def _geo_dbscan(spark, sf_dir):
    """DBSCAN mode of geo.geo_cluster (min_pts=2) on the blob layout:
    2-point blobs become 2-clusters (both members core), singleton blobs
    become NOISE (NULL cluster). Oracle: all-pairs neighbor counts ->
    core set -> recursive closure over core-core edges -> border/noise
    attach — the engine's grid/banded path must match it row-for-row."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    lon = (c.c_custkey % 50).cast("float64") * 7.0 - 175.0 + c.c_acctbal / 1000000.0
    lat = ((c.c_custkey // 50) % 20).cast("float64") * 8.0 - 80.0 + c.c_acctbal / 2000000.0
    c = c.mutate(pt=geo.geo_point(lon, lat))
    return geo.geo_cluster(c, "c_custkey", 2.0, min_pts=2).to_spark()


def _geo_polygon_contains(spark, sf_dir):
    """Point-in-POLYGON (reference GeoContains/GeoWithin,
    geospatial.py:28-80) via the engine's even-odd ray cast over real
    multi-ring WKB: each nation gets a HOLED diamond (outer radius 30.5,
    hole radius 8.25 in L1 metric) built by geo.geo_polygon, each
    customer point is tested with geo.geo_contains. The oracle is the
    INDEPENDENT closed form |dx|+|dy| — diamond interior in the L1
    metric — so a green row proves the ray cast itself, not a shared
    implementation. Radii are chosen so no point can land exactly on a
    ring (acctbal-cent fractions can never sum to .5/.25).

    r11: the polygon is built DECODED on the 25-row dim side and the
    point is constructed decoded on the fact scan — the ray cast runs
    as an arithmetic fold with zero byte codec (the r10 per-row
    interpreted-hex tax is gone; results bit-identical, parity-tested
    in tests/test_geo_decoded.py)."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    # CPU-heavy projection over a single-split scan: spread it
    c = c.repartition(spark.sparkContext.defaultParallelism)
    n = _t(spark, sf_dir, "nation")
    # Build each nation's polygon ON THE 25-ROW DIM SIDE, before the
    # join: the broadcast join ships 25 finished decoded structs — the
    # shape that holds at 100 TB (geometry on the dim, ray cast on the
    # fact scan).
    cx = (n.n_nationkey * 14).cast("float64") - 175.0
    cy = (n.n_nationkey * 7).cast("float64") - 87.0
    R, r = 30.5, 8.25
    poly = geo.geo_polygon(
        ib.array(cx + R, cx, cx - R, cx),
        ib.array(cy, cy + R, cy, cy - R),
        holes=[(ib.array(cx + r, cx, cx - r, cx),
                ib.array(cy, cy + r, cy, cy - r))],
        decoded=True,
    )
    n = n.mutate(poly=poly)
    j = c.inner_join(n, [("c_nationkey", "n_nationkey")])
    lon, lat = _geo_lonlat(j)
    j = j.mutate(pt=geo.geo_point(lon, lat, decoded=True))
    j = j.mutate(inside=geo.geo_contains(j.poly, j.pt))
    return j.select("c_custkey", "n_nationkey", "inside").to_spark()


def _geo_polygon_area(spark, sf_dir):
    """Shoelace polygon area with holes (reference GeoArea): per-nation
    holed diamond, outer radius 10.5 + nationkey, hole radius 2.25.
    All vertices are quarter-integers, so every cross product and
    partial sum is exact in FP and the emission matches the oracle's
    closed form 2R^2 - 2r^2 bit-for-bit."""
    import ibis_spark.geo as geo

    n = _t(spark, sf_dir, "nation")
    cx = (n.n_nationkey * 14).cast("float64") - 175.0
    cy = (n.n_nationkey * 7).cast("float64") - 87.0
    R = n.n_nationkey.cast("float64") + 10.5
    r = 2.25
    poly = geo.geo_polygon(
        ib.array(cx + R, cx, cx - R, cx),
        ib.array(cy, cy + R, cy, cy - R),
        holes=[(ib.array(cx + r, cx, cx - r, cx),
                ib.array(cy, cy + r, cy, cy - r))],
    )
    n = n.mutate(poly=poly)
    return n.select("n_nationkey", area=geo.geo_area(n.poly)).to_spark()


def _geo_line_metrics(spark, sf_dir):
    """LINESTRING slice (reference GeoLength/GeoStartPoint/GeoEndPoint/
    GeoPointN/GeoNPoints/GeoGeometryType/GeoFlipCoordinates,
    geospatial.py:92-345): per-order 3-vertex linestring built from
    3-4-5 right triangles, so every measure is EXACT in FP — length
    5 + 10 = 15, vertex coordinates are small integers.

    r11: the line is constructed DECODED and materialized once; all 7
    measures run as arithmetic folds over the one decoded struct — the
    decode-once path that retired the r10 `weak` label (was 25.5 s at
    sf0.1 through the WKB codec, ~0.9 s decoded; bit-identical
    results, parity-tested)."""
    import ibis_spark.geo as geo

    o = _t(spark, sf_dir, "orders")
    # CPU-heavy projection over a single-split scan: spread it
    o = o.repartition(spark.sparkContext.defaultParallelism)
    k = (o.o_orderkey % 100).cast("float64")
    line = geo.geo_linestring(
        ib.array(k, k + 3.0, k + 9.0),
        ib.array(k - k, k - k + 4.0, k - k - 4.0),
        decoded=True,
    )
    o = o.mutate(line=line)
    o = o.mutate(flipped=geo.geo_flip_coordinates(o.line))
    return o.select(
        "o_orderkey",
        length=geo.geo_length(o.line),
        npts=geo.geo_n_points(o.line),
        sx=geo.geo_x(geo.geo_start_point(o.line)),
        ey=geo.geo_y(geo.geo_end_point(o.line)),
        p2x=geo.geo_x(geo.geo_point_n(o.line, 2)),
        fy=geo.geo_y(geo.geo_end_point(o.flipped)),
        typ=geo.geo_geometry_type(o.line),
    ).to_spark()


def _geo_line_locate(spark, sf_dir):
    """GeoLineLocatePoint + GeoLineSubstring (reference
    geospatial.py:116,144) over the per-order 3-4-5 linestring: the
    tie point (k+3, 8) is equidistant from both edges and must resolve
    to the FIRST (deterministic argmin -> 5/15); (k+6, 0) projects
    exactly onto edge 2's midpoint (10/15); the [0.25, 0.75] substring
    interpolates at t=0.75 / t=0.625 — all dyadic, so its vertex
    coordinates and 7.5 length are exact closed forms.

    r11: decoded construction end-to-end (line, probe points, and the
    substring all stay in the decoded form; no byte codec anywhere)."""
    import ibis_spark.geo as geo

    o = _t(spark, sf_dir, "orders")
    k = (o.o_orderkey % 100).cast("float64")
    line = geo.geo_linestring(
        ib.array(k, k + 3.0, k + 9.0),
        ib.array(k - k, k - k + 4.0, k - k - 4.0),
        decoded=True,
    )
    o = o.mutate(line=line)
    o = o.mutate(
        tie_pt=geo.geo_point(k + 3.0, k - k + 8.0, decoded=True),
        mid_pt=geo.geo_point(k + 6.0, k - k, decoded=True),
        sub=geo.geo_line_substring(o.line, 0.25, 0.75),
    )
    return o.select(
        "o_orderkey",
        loc_tie=geo.geo_line_locate_point(o.line, o.tie_pt),
        loc_mid=geo.geo_line_locate_point(o.line, o.mid_pt),
        sub_npts=geo.geo_n_points(o.sub),
        sub_len=geo.geo_length(o.sub),
        sub_sx=geo.geo_x(geo.geo_start_point(o.sub)),
        sub_ey=geo.geo_y(geo.geo_end_point(o.sub)),
    ).to_spark()


def _geo_union_agg(spark, sf_dir):
    """GeoUnaryUnion (reference geospatial.py:186 — the pointwise-union
    REDUCTION) per nation over customer points, then MULTI* accessors
    on the result: union of points = the distinct point set, emitted as
    one MULTIPOINT in sorted-WKB-byte order (partitioning-independent).
    The oracle restates it relationally: COUNT(DISTINCT point) and the
    order-insensitive MIN/MAX extremes over the same distinct set —
    centroid/geometry_n stay fixture-tested (their oracle would need
    DuckDB to reproduce the byte sort order / summation order)."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    # CPU-heavy projection over a single-split scan: spread it
    c = c.repartition(spark.sparkContext.defaultParallelism)
    lon, lat = _geo_lonlat(c)
    c = c.mutate(pt=geo.geo_point(lon, lat))
    agg = c.group_by("c_nationkey").aggregate(mp=geo.geo_unary_union(c.pt))
    agg = agg.mutate(b=geo.geo_bbox(agg.mp))
    return agg.select(
        "c_nationkey",
        npts=geo.geo_n_points(agg.mp),
        typ=geo.geo_geometry_type(agg.mp),
        uxmin=agg.b["xmin"],
        uxmax=agg.b["xmax"],
        uymin=agg.b["ymin"],
        uymax=agg.b["ymax"],
    ).to_spark()


def _geo_max_dist_report(spark, sf_dir):
    """GeoMaxDistance + GeoDFullyWithin (reference geospatial.py:223,
    :380): per customer point vs the nation diamond, the max distance
    is attained at one of the diamond's 4 vertices (convexity), so the
    oracle is GREATEST of four exact-operand square roots; the
    fully-within flag compares in the squared domain on BOTH sides, so
    the boundary is bit-exact.  r11: decoded construction on both
    sides — the vertex-pair max fold runs with no byte codec."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    c = c.filter(c.c_nationkey < 10)
    n = _t(spark, sf_dir, "nation")
    cx = (n.n_nationkey * 14).cast("float64") - 175.0
    cy = (n.n_nationkey * 7).cast("float64") - 87.0
    R = 30.5
    poly = geo.geo_polygon(
        ib.array(cx + R, cx, cx - R, cx),
        ib.array(cy, cy + R, cy, cy - R),
        decoded=True,
    )
    n = n.mutate(poly=poly)
    j = c.inner_join(n, [("c_nationkey", "n_nationkey")])
    lon, lat = _geo_lonlat(j)
    j = j.mutate(pt=geo.geo_point(lon, lat, decoded=True))
    return j.select(
        "c_custkey",
        "n_nationkey",
        md=geo.geo_max_distance(j.pt, j.poly),
        fw=geo.geo_d_fully_within(j.pt, j.poly, 120.0),
    ).to_spark()


def _geo_envelope_box(spark, sf_dir):
    """GeoEnvelope + GeoXMin..GeoYMax + GeoPerimeter over the
    per-nation diamond polygon (reference geospatial.py:202-282,398):
    the envelope of a diamond with L1 radius R centered (cx, cy) is the
    axis-aligned square [cx-R, cx+R] x [cy-R, cy+R] — area (2R)^2,
    perimeter 8R, 1 ring — all exact dyadic closed forms.  The envelope
    corners are re-encoded through the arithmetic codec, so geo_area
    over the emitted envelope proves constructor->measure composition
    end-to-end."""
    import ibis_spark.geo as geo

    n = _t(spark, sf_dir, "nation")
    cx = (n.n_nationkey * 14).cast("float64") - 175.0
    cy = (n.n_nationkey * 7).cast("float64") - 87.0
    R = n.n_nationkey.cast("float64") + 10.5
    poly = geo.geo_polygon(
        ib.array(cx + R, cx, cx - R, cx),
        ib.array(cy, cy + R, cy, cy - R),
    )
    n = n.mutate(poly=poly)
    # ONE bbox walk via geo_bbox instead of four scalar accessors: the
    # x_min..y_max accessors share the _dec_bbox fold verbatim (field reads of
    # this same struct — unit-tested individually), and four copies of
    # the walk tree cost ~12 s of py4j expression BUILD time alone
    n = n.mutate(env=geo.geo_envelope(n.poly), b=geo.geo_bbox(n.poly))
    return n.select(
        "n_nationkey",
        exmin=n.b["xmin"],
        exmax=n.b["xmax"],
        eymin=n.b["ymin"],
        eymax=n.b["ymax"],
        env_area=geo.geo_area(n.env),
        env_perim=geo.geo_perimeter(n.env),
        env_rings=geo.geo_n_rings(n.env),
        env_type=geo.geo_geometry_type(n.env),
    ).to_spark()


def _geo_triangle_report(spark, sf_dir):
    """GeoCentroid + GeoPerimeter (reference geospatial.py:209,373) on
    a per-nation 6-8-10 right triangle (a,0)-(a+6,0)-(a,8): perimeter
    24 and area 24 are exact; the shoelace centroid is (a+2, 64/24) —
    the x moment divides out exactly, the y moment is ONE correctly
    rounded division, identical in any IEEE engine.  The centroid
    round-trips through WKB point bytes (encode then geo_x/geo_y
    decode), proving the moment math AND the codec in one row."""
    import ibis_spark.geo as geo

    n = _t(spark, sf_dir, "nation")
    a = (n.n_nationkey * 3).cast("float64")
    tri = geo.geo_polygon(
        ib.array(a, a + 6.0, a),
        ib.array(a - a, a - a, a - a + 8.0),
    )
    n = n.mutate(tri=tri)
    n = n.mutate(c=geo.geo_centroid(n.tri))
    return n.select(
        "n_nationkey",
        cx=geo.geo_x(n.c),
        cy=geo.geo_y(n.c),
        perim=geo.geo_perimeter(n.tri),
        area=geo.geo_area(n.tri),
        npts=geo.geo_n_points(n.tri),
        nrings=geo.geo_n_rings(n.tri),
    ).to_spark()


def _geo_intersects_pt_poly(spark, sf_dir):
    """GeoIntersects dispatch, point/polygon and point/point pairings
    (reference geospatial.py:99): the same holed-diamond fixture as
    geo_polygon_contains (radii exclude boundary hits, so intersects ==
    contains here and the oracle is the independent L1 closed form),
    plus a point-point branch that must collapse to coordinate
    equality.  Restricted to 10 nations to keep the per-row O(edges)
    ray-cast cost a bounded share of the bench."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    c = c.filter(c.c_nationkey < 10)
    n = _t(spark, sf_dir, "nation")
    cx = (n.n_nationkey * 14).cast("float64") - 175.0
    cy = (n.n_nationkey * 7).cast("float64") - 87.0
    R, r = 30.5, 8.25
    poly = geo.geo_polygon(
        ib.array(cx + R, cx, cx - R, cx),
        ib.array(cy, cy + R, cy, cy - R),
        holes=[(ib.array(cx + r, cx, cx - r, cx),
                ib.array(cy, cy + r, cy, cy - r))],
    )
    n = n.mutate(poly=poly)
    j = c.inner_join(n, [("c_nationkey", "n_nationkey")])
    lon, lat = _geo_lonlat(j)
    j = j.mutate(pt=geo.geo_point(lon, lat))
    j = j.mutate(
        pt2=geo.geo_point(lon, lat + (j.c_custkey % 2).cast("float64"))
    )
    # (argument-order symmetry is unit-tested over 20 fixture pairs in
    # test_geo_measures; a second full intersects tree here would only
    # re-pay ~7 s of py4j expression-build time per run)
    return j.select(
        "c_custkey",
        "n_nationkey",
        hits=geo.geo_intersects(j.poly, j.pt),
        pteq=geo.geo_intersects(j.pt, j.pt2),
    ).to_spark()


def _geo_segment_cross(spark, sf_dir):
    """GeoIntersects, linestring/linestring pairing: per-customer
    integer-coordinate segment pair, engine result vs an INDEPENDENT
    SQL spelling of the orientation-sign test (CLRS 33.1 proper
    crossing + collinear-touch branches) — every orientation product is
    an exact small integer, so the comparison is bit-robust including
    the shared-endpoint and collinear edge cases the fixture
    deliberately produces (m=0, k+m=13)."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    # CPU-heavy projection over a single-split scan: spread it
    c = c.repartition(spark.sparkContext.defaultParallelism)
    k = (c.c_custkey % 13).cast("float64")
    m = (c.c_custkey % 7).cast("float64")
    # r11: decoded construction — the CLRS test runs on native doubles
    # with no byte codec (was 8.6 s at sf0.1, the round's slowest
    # headline query; ~0.4 s decoded, bit-identical results)
    segA = geo.geo_linestring(
        ib.array(k - k, k - k + 10.0), ib.array(k - k, k), decoded=True
    )
    segB = geo.geo_linestring(
        ib.array(m - m, m - m + 10.0), ib.array(m, 13.0 - m), decoded=True
    )
    c = c.mutate(a=segA, b=segB)
    return c.select(
        "c_custkey", crossed=geo.geo_intersects(c.a, c.b)
    ).to_spark()


def _geo_decode_roundtrip(spark, sf_dir):
    """geo_decode / geo_encode (r11 decode-once architecture): a WKB
    linestring built per order is decoded ONCE into the public
    struct<gtype, parts> form; measures run over the decoded column and
    geo_encode must reproduce the source bytes EXACTLY (rt_ok) — the
    engine-level guarantee that the decoded fast paths are a plan
    optimization, not a semantic fork.  Oracle: closed forms (length
    15, xmax k+9, 3 vertices, byte round-trip always true)."""
    import ibis_spark.geo as geo

    o = _t(spark, sf_dir, "orders")
    # CPU-heavy projection over a single-split scan: spread it
    o = o.repartition(spark.sparkContext.defaultParallelism)
    k = (o.o_orderkey % 100).cast("float64")
    wkb = geo.geo_linestring(
        ib.array(k, k + 3.0, k + 9.0),
        ib.array(k - k, k - k + 4.0, k - k - 4.0),
    )
    o = o.mutate(g=wkb)
    o = o.mutate(d=geo.geo_decode(o.g))
    return o.select(
        "o_orderkey",
        rt_ok=(geo.geo_encode(o.d) == o.g),
        ln=geo.geo_length(o.d),
        xmax=geo.geo_x_max(o.d),
        npts=geo.geo_n_points(o.d),
    ).to_spark()


def _geo_square_relations(spark, sf_dir):
    """DE-9IM predicate tranche (reference GeoTouches/GeoDisjoint/
    GeoOverlaps/GeoCovers/GeoWithin/GeoCrosses, geospatial.py:42-185)
    between two axis-aligned unit-integer squares whose horizontal
    offset d = (c_custkey % 13) - 6 sweeps every relation class: |d|>4
    disjoint, |d|=4 touches (shared edge), 0<|d|<4 overlaps, d=0 equal
    (covers both ways, within, no overlap).  The oracle is the CLOSED
    FORM on |d| — fully independent of the engine's orientation-test
    spelling."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    d = (c.c_custkey % 13).cast("float64") - 6.0
    zero = d - d
    sq_a = geo.geo_polygon(
        ib.array(zero, zero + 4.0, zero + 4.0, zero),
        ib.array(zero, zero, zero + 4.0, zero + 4.0),
        decoded=True,
    )
    sq_b = geo.geo_polygon(
        ib.array(d, d + 4.0, d + 4.0, d),
        ib.array(zero, zero, zero + 4.0, zero + 4.0),
        decoded=True,
    )
    # ONE geo_relate pass (static ctor tags prune to the poly/poly
    # branch; shared cores computed once) + field reads — six separate
    # predicate columns rebuilt the interiors/coverage cores ~15x and
    # cost ~30 s of expression build alone
    c = c.mutate(rel=geo.geo_relate(sq_a, sq_b))
    return c.select(
        "c_custkey",
        touches=c.rel["touches"],
        disjoint=c.rel["disjoint"],
        overlaps=c.rel["overlaps"],
        covers=c.rel["covers"],
        within=c.rel["within"],
        crosses=c.rel["crosses"],
    ).to_spark()


def _geo_line_cross_report(spark, sf_dir):
    """Line-vs-polygon DE-9IM slice (reference GeoCrosses/GeoCovers/
    GeoWithin/GeoContainsProperly): a length-3 horizontal line at y=2
    sliding across the unit square [0,4]^2 with x0 = (c_custkey%13)-6.
    Closed forms on x0: crosses when the interior run is partial,
    covered when [x0, x0+3] within [0,4], properly contained when
    strictly within — each an independent interval predicate in SQL."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    # CPU-heavy projection over a single-split scan: spread it
    c = c.repartition(spark.sparkContext.defaultParallelism)
    x0 = (c.c_custkey % 13).cast("float64") - 6.0
    zero = x0 - x0
    sq = geo.geo_polygon(
        ib.array(zero, zero + 4.0, zero + 4.0, zero),
        ib.array(zero, zero, zero + 4.0, zero + 4.0),
        decoded=True,
    )
    ln = geo.geo_linestring(
        ib.array(x0, x0 + 3.0), ib.array(zero + 2.0, zero + 2.0),
        decoded=True,
    )
    # ONE geo_relate pass on the (poly, line) pair; `within` asks for
    # line-within-poly, which is relate's covered_by+interiors combo
    c = c.mutate(rel=geo.geo_relate(sq, ln))
    return c.select(
        "c_custkey",
        crosses=c.rel["crosses"],
        covers=c.rel["covers"],
        within=c.rel["contains"],  # poly contains line == line within poly
        cp=c.rel["contains_properly"],
        touches=c.rel["touches"],
    ).to_spark()


def _geo_wkt_export(spark, sf_dir):
    """GeoAsText (reference geospatial.py:490): WKT of an
    integer-coordinate point and linestring per order; the oracle
    builds the exact same strings with SQL concatenation (integer
    coordinates print without a decimal part — DuckDB-spatial
    spelling)."""
    import ibis_spark.geo as geo

    o = _t(spark, sf_dir, "orders")
    # CPU-heavy projection over a single-split scan: spread it
    o = o.repartition(spark.sparkContext.defaultParallelism)
    k = (o.o_orderkey % 100).cast("float64")
    pt = geo.geo_point(k, k - 50.0, decoded=True)
    ln = geo.geo_linestring(
        ib.array(k, k + 3.0), ib.array(k - k, k - k + 4.0), decoded=True
    )
    # EWKB (r12): a point at (2^(k%5), 1.0) — power-of-two coordinates
    # have 2-nibble IEEE images, so the oracle rebuilds the exact hex
    # with a 5-way CASE; hex via the geo wrap (printable for the
    # driver's value hash, binary columns stay out of the compare)
    from pyspark.sql import functions as F

    # decoded ctor: the EWKB splice encodes through the arithmetic
    # bit-encoder (the WKB ctor's default reflect path cost ~3 s of
    # the entry's r12 wall — reflect is CodegenFallback and CSE-exempt)
    e = (o.o_orderkey % 5).cast("float64")
    pt2 = geo.geo_point(
        geo.wrap(F.pow(F.lit(2.0), geo.unwrap(e))), (k - k) + 1.0,
        decoded=True,
    )
    o = o.mutate(pt=pt, ln=ln, e2=geo.geo_as_ewkb(pt2, 4326))
    return o.select(
        "o_orderkey",
        wkt_pt=geo.geo_as_text(o.pt),
        wkt_line=geo.geo_as_text(o.ln),
        ewkt_pt=geo.geo_as_ewkt(o.pt, 4326),
        ewkb_hex=geo.wrap(F.hex(geo.unwrap(o.e2))),
    ).to_spark()


def _geo_simplify_tolerance(spark, sf_dir):
    """GeoSimplify (reference geospatial.py:440), Douglas-Peucker with
    tolerance 1.0 over a 3-vertex zigzag whose middle deviation is
    (o_orderkey % 5) * 0.4: the perpendicular distance to the chord is
    exactly the deviation, so the midpoint is dropped iff dev <= 1.0 —
    npts and the simplified length have closed forms (2*sqrt(25+dev^2)
    is the same correctly-rounded IEEE value in both engines)."""
    import ibis_spark.geo as geo

    o = _t(spark, sf_dir, "orders")
    # CPU-heavy projection over a single-split scan: spread it
    o = o.repartition(spark.sparkContext.defaultParallelism)
    dev = (o.o_orderkey % 5).cast("float64") * 0.4
    zero = dev - dev
    # decoded ctor -> expression-path DP (r12): the whole query is pure
    # JVM arithmetic — no Python worker, no Arrow serialization (the
    # r11 spelling ran the Arrow-batched UDF at 12.9 s sf0.1 vs a
    # 0.078 s closed-form oracle); the simplified struct materializes
    # once and both measures fold over it
    ln = geo.geo_linestring(
        ib.array(zero, zero + 5.0, zero + 10.0),
        ib.array(zero, dev, zero),
        decoded=True,
    )
    o = o.mutate(s=geo.geo_simplify(ln, 1.0))
    return o.select(
        "o_orderkey",
        npts=geo.geo_n_points(o.s),
        slen=geo.geo_length(o.s),
    ).to_spark()


def _geo_validity_report(spark, sf_dir):
    """GeoIsValid + GeoOrderingEquals (reference geospatial.py:109,
    161): structural validity of constructed vs corrupt WKB, and
    ordered coordinate equality of a line against itself / its
    coordinate flip.  Closed forms: constructed geometry is always
    valid, the 4-byte junk literal never is; a line ordering-equals
    itself and never equals its x/y flip on this fixture (the
    coordinates never coincide)."""
    import ibis_spark.geo as geo

    o = _t(spark, sf_dir, "orders")
    k = (o.o_orderkey % 100).cast("float64")
    ln = geo.geo_linestring(ib.array(k, k + 3.0), ib.array(k - k, k - k + 4.0))
    ln2 = geo.geo_linestring(ib.array(k, k + 3.0), ib.array(k - k, k - k + 4.0))
    o = o.mutate(ln=ln, junk=ib.literal(b"\x00bad"))
    o = o.mutate(fl=geo.geo_flip_coordinates(o.ln))
    return o.select(
        "o_orderkey",
        v_line=geo.geo_is_valid(o.ln),
        v_junk=geo.geo_is_valid(o.junk),
        oe_same=geo.geo_ordering_equals(o.ln, ln2),
        oe_flip=geo.geo_ordering_equals(o.ln, o.fl),
    ).to_spark()


def _geo_multipolygon_report(spark, sf_dir):
    """MULTIPOLYGON decode/encode/WKT (r12 — reference MultiPolygon
    inputs, geospatial.py Multi* types): a 2-member multipolygon per
    order (holed 4x4 square at x=k plus a 2x2 square at (k+10,10)),
    built by geo_multipolygon in the flattened separator encoding.
    Closed forms: 15 vertices, 3 rings, type name, structural
    validity, the full WKT string (integer coordinates), and the
    encode(decode(encode(g))) == encode(g) byte round-trip through
    real WKB bytes."""
    import ibis_spark.geo as geo

    o = _t(spark, sf_dir, "orders")
    # CPU-heavy projection over a single-split scan: spread it
    o = o.repartition(spark.sparkContext.defaultParallelism)
    k = (o.o_orderkey % 50).cast("float64")
    zero = k - k
    holed = geo.geo_polygon(
        ib.array(k, k + 4.0, k + 4.0, k),
        ib.array(zero, zero, zero + 4.0, zero + 4.0),
        holes=[
            (
                ib.array(k + 1.0, k + 2.0, k + 2.0, k + 1.0),
                ib.array(zero + 1.0, zero + 1.0, zero + 2.0, zero + 2.0),
            )
        ],
        decoded=True,
    )
    sq = geo.geo_polygon(
        ib.array(k + 10.0, k + 12.0, k + 12.0, k + 10.0),
        ib.array(zero + 10.0, zero + 10.0, zero + 12.0, zero + 12.0),
        decoded=True,
    )
    o = o.mutate(mp=geo.geo_multipolygon(holed, sq))
    o = o.mutate(w=geo.geo_encode(o.mp))
    o = o.mutate(d2=geo.geo_decode(o.w))
    return o.select(
        "o_orderkey",
        npts=geo.geo_n_points(o.mp),
        nrings=geo.geo_n_rings(o.mp),
        gt=geo.geo_geometry_type(o.mp),
        valid=geo.geo_is_valid(o.w),
        wkt=geo.geo_as_text(o.mp),
        rt_ok=(geo.geo_encode(o.d2) == o.w),
    ).to_spark()


def _geo_clip_report(spark, sf_dir):
    """Geometric set operations (r12 — reference GeoIntersection/
    GeoDifference/GeoUnion, geospatial.py:362-468): two 4x4 squares
    with horizontal offset d = (c_custkey%13)-6 sweeping disjoint /
    touching / overlapping / equal.  Sutherland-Hodgman intersection
    polygon + prefix-decomposition difference/union multipolygons; all
    coordinates integer with power-of-two spans, so every measure has
    an exact closed form on |d| (overlap width w = 4-|d|): area
    4w / 16-4w / 32-4w, 5 closed vertices, bbox [max(0,d), min(4,4+d)].
    Touching (|d|=4) lowers the intersection to a line -> NULL (the
    engine's documented degenerate posture)."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer")
    # CPU-heavy projection over a single-split scan: spread it
    c = c.repartition(spark.sparkContext.defaultParallelism)
    d = (c.c_custkey % 13).cast("float64") - 6.0
    zero = d - d
    A = geo.geo_polygon(
        ib.array(zero, zero + 4.0, zero + 4.0, zero),
        ib.array(zero, zero, zero + 4.0, zero + 4.0),
        decoded=True,
    )
    B = geo.geo_polygon(
        ib.array(d, d + 4.0, d + 4.0, d),
        ib.array(zero, zero, zero + 4.0, zero + 4.0),
        decoded=True,
    )
    c = c.mutate(
        gi=geo.geo_intersection(A, B),
        gd=geo.geo_difference(A, B),
        gu=geo.geo_union(A, B),
    )
    return c.select(
        "c_custkey",
        ia=geo.geo_area(c.gi),
        ip=geo.geo_n_points(c.gi),
        ixmin=geo.geo_x_min(c.gi),
        ixmax=geo.geo_x_max(c.gi),
        da=geo.geo_area(c.gd),
        ua=geo.geo_area(c.gu),
    ).to_spark()


def _geo_line_merge_report(spark, sf_dir):
    """GeoLineMerge (reference geospatial.py:219, PostGIS ST_LineMerge):
    three unit chain segments in shuffled order plus one stray segment,
    assembled with geo_multilinestring.  The merge is deterministic
    (first-mergeable-pair order), so the full WKT has a closed form:
    the chain merges ascending from (k,0) to (k+3,0); with the stray
    the result stays MULTILINESTRING, without it it lowers to
    LINESTRING."""
    import ibis_spark.geo as geo

    o = _t(spark, sf_dir, "orders")
    # CPU-heavy projection over a single-split scan: spread it
    o = o.repartition(spark.sparkContext.defaultParallelism)
    k = (o.o_orderkey % 100).cast("float64")
    z = k - k

    def seg(x0, x1, y):
        return geo.geo_linestring(
            ib.array(x0, x1), ib.array(y, y), decoded=True
        )

    chain = geo.geo_multilinestring(
        seg(k + 1.0, k + 2.0, z), seg(k, k + 1.0, z), seg(k + 2.0, k + 3.0, z)
    )
    with_stray = geo.geo_multilinestring(
        seg(k + 1.0, k + 2.0, z),
        seg(k, k + 1.0, z),
        seg(k + 2.0, k + 3.0, z),
        seg(k + 10.0, k + 11.0, z + 5.0),
    )
    o = o.mutate(m1=geo.geo_line_merge(chain), m2=geo.geo_line_merge(with_stray))
    return o.select(
        "o_orderkey",
        ty1=geo.geo_geometry_type(o.m1),
        w1=geo.geo_as_text(o.m1),
        len1=geo.geo_length(o.m1),
        ty2=geo.geo_geometry_type(o.m2),
        np2=geo.geo_n_points(o.m2),
        w2=geo.geo_as_text(o.m2),
    ).to_spark()


def _geo_clip_batch_report(spark, sf_dir):
    """The geo_clip_report fixture through the BATCH set-op path
    (geo.geo_setops_batch, r12 — the SCALE.md-named mapInPandas lever):
    same closed-form oracle, native-loop kernels instead of the
    interpreted Sutherland-Hodgman folds, plus an explicit
    repartition so the CPU-heavy per-row work uses every core instead
    of the small scan's single input split."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    d = (c.c_custkey % 13).cast("float64") - 6.0
    zero = d - d
    A = geo.geo_polygon(
        ib.array(zero, zero + 4.0, zero + 4.0, zero),
        ib.array(zero, zero, zero + 4.0, zero + 4.0),
        decoded=True,
    )
    B = geo.geo_polygon(
        ib.array(d, d + 4.0, d + 4.0, d),
        ib.array(zero, zero, zero + 4.0, zero + 4.0),
        decoded=True,
    )
    out = geo.geo_setops_batch(c, A, B, keep=["c_custkey"])
    return out.select(
        "c_custkey",
        ia=geo.geo_area(out["intersection"]),
        ip=geo.geo_n_points(out["intersection"]),
        ixmin=geo.geo_x_min(out["intersection"]),
        ixmax=geo.geo_x_max(out["intersection"]),
        da=geo.geo_area(out["difference"]),
        ua=geo.geo_area(out["union"]),
    ).to_spark()


def _geo_clip_general_report(spark, sf_dir):
    """NON-CONVEX clipping (r12 batch path, Greiner-Hormann): square
    A = (1+s, 1+s)..(5+s, 5+s) against the fixed L-shape
    (0 0, 6 0, 6 2, 2 2, 2 6, 0 6) with s = (c_custkey % 5)/4 sweeping
    0..1.  For s < 1 the boundaries cross transversally and every
    measure has an exact closed form (ia = 8(1-s) - (1-s)^2, the
    intersection traces a hexagon, the difference is the (3+s)^2
    square); s = 1 makes A share BOTH its bottom and left edges with
    the L — the r13 degrade, now the r14 multi-edge-contact class:
    difference and union keep their continuous closed forms (16, 36)
    while the intersection is a line set -> NULL.  The expression
    path returns NULL for ALL of these (its clip side must be convex)
    — this entry exists precisely because the batch path answers
    them."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    s = (c.c_custkey % 5).cast("float64") / 4.0
    z = s - s
    A = geo.geo_polygon(
        ib.array(s + 1.0, s + 5.0, s + 5.0, s + 1.0),
        ib.array(s + 1.0, s + 1.0, s + 5.0, s + 5.0),
        decoded=True,
    )
    L = geo.geo_polygon(
        ib.array(z, z + 6.0, z + 6.0, z + 2.0, z + 2.0, z),
        ib.array(z, z, z + 2.0, z + 2.0, z + 6.0, z + 6.0),
        decoded=True,
    )
    out = geo.geo_setops_batch(c, A, L, keep=["c_custkey"])
    return out.select(
        "c_custkey",
        ia=geo.geo_area(out["intersection"]),
        ip=geo.geo_n_points(out["intersection"]),
        da=geo.geo_area(out["difference"]),
        dp=geo.geo_n_points(out["difference"]),
        ua=geo.geo_area(out["union"]),
    ).to_spark()


def _geo_clip_holed_report(spark, sf_dir):
    """Set ops over polygons WITH HOLES + the shared-edge degenerate
    class (r13 batch kernel extensions — reference GeoIntersection/
    GeoDifference/GeoUnion geospatial.py:362-468 on holed input).
    Four pairs per customer, w0 = custkey % 3, every measure an exact
    closed form:

    - donut [0,8]^2 \\ [3,5]^2 INTERSECT window [w0, w0+8]^2:
      ia1 = (8-w0)^2 - 4, 10 vertices (outer ring + hole ring);
    - square [0,8]^2 MINUS donut ([2+w0,10+w0]^2 \\ [4+w0,6+w0]^2):
      da2 = 64 - (6-w0)^2 + 4 (the part inside the subtrahend's hole
      survives);
    - donut ([0,8]^2 \\ [2,6]^2) UNION island [3,5]^2: ua3 = 52 (the
      island lives inside the hole);
    - L-shape UNION/MINUS/INTERSECT a triangle glued to one full edge
      (the single-shared-edge degenerate): su4 = 20 + 2(w0+1) (the
      splice), sd4 = 20 (subject unchanged), intersection NULL (line
      contact, the documented posture);
    - two donuts with CROSSING HOLES (r14 — the class r13 degraded:
      crossing holes now merge into their union outline; surviving
      union-holes are the pairwise hole intersections): holes [2,4]^2
      and [3, 4.5+w0]^2, s = w0+1.5: ia5 = 64 - (3 + s^2) with the
      14-vertex merged-hole polygon, da5 = s^2 - 1, ua5 = 63 (only
      the 1x1 hole overlap stays a hole);
    - a SHEARED U closed by a bar across both arm tops (r14
      MULTI-EDGE CONTACT, two full shared edges, sheared so the
      bbox fast path can't shortcut): union splices to one outer +
      the enclosed gap as a HOLE — ua6 = 26 exactly (shear is
      unimodular), 12 vertices; da6 = 20; intersection NULL (line
      set).

    r14: ONE geo_setops_batch_multi pass for all six pairs, computing
    only the ops the measures read, on a FIXED 100-row memtable (the
    geo_collection_report posture).  Decomposed measurement (r14): the
    row kernels are 1.4 ms/row total, but each GROUP's decoded
    constructors cost ~1.2 s of interpreted-HOF evaluation per 15k
    rows regardless of staging shape (4 chained stages: 3.8 s; one
    6-group stage: 9.1 s — consolidation can't help when the cost is
    per group).  Every measure is an exact closed form, so row count
    carries zero signal — a capability entry, deliberately bounded
    (VERDICT r13 itself: 'the oracle is closed-form so the ratio
    column is structurally meaningless')."""
    import ibis_spark.geo as geo

    c = ib.connect(spark).memtable(
        [(i,) for i in range(100)], schema={"c_custkey": "int64"}
    )
    w0 = (c.c_custkey % 3).cast("float64")
    z = w0 - w0

    def square(x0, y0, s):
        return geo.geo_polygon(
            ib.array(x0, x0 + s, x0 + s, x0),
            ib.array(y0, y0, y0 + s, y0 + s),
            decoded=True,
        )

    donut_a = geo.geo_polygon(
        ib.array(z, z + 8.0, z + 8.0, z),
        ib.array(z, z, z + 8.0, z + 8.0),
        holes=[
            (
                ib.array(z + 3.0, z + 5.0, z + 5.0, z + 3.0),
                ib.array(z + 3.0, z + 3.0, z + 5.0, z + 5.0),
            )
        ],
        decoded=True,
    )
    window = square(w0, w0, 8.0)
    a2 = square(z, z, 8.0)
    donut_b = geo.geo_polygon(
        ib.array(w0 + 2.0, w0 + 10.0, w0 + 10.0, w0 + 2.0),
        ib.array(w0 + 2.0, w0 + 2.0, w0 + 10.0, w0 + 10.0),
        holes=[
            (
                ib.array(w0 + 4.0, w0 + 6.0, w0 + 6.0, w0 + 4.0),
                ib.array(w0 + 4.0, w0 + 4.0, w0 + 6.0, w0 + 6.0),
            )
        ],
        decoded=True,
    )
    donut_c = geo.geo_polygon(
        ib.array(z, z + 8.0, z + 8.0, z),
        ib.array(z, z, z + 8.0, z + 8.0),
        holes=[
            (
                ib.array(z + 2.0, z + 6.0, z + 6.0, z + 2.0),
                ib.array(z + 2.0, z + 2.0, z + 6.0, z + 6.0),
            )
        ],
        decoded=True,
    )
    island = square(z + 3.0, z + 3.0, 2.0)
    ell = geo.geo_polygon(
        ib.array(z, z + 6.0, z + 6.0, z + 2.0, z + 2.0, z),
        ib.array(z, z, z + 2.0, z + 2.0, z + 6.0, z + 6.0),
        decoded=True,
    )
    tri = geo.geo_polygon(
        ib.array(z + 2.0, z + 2.0, w0 + 3.0),
        ib.array(z + 6.0, z + 2.0, z + 3.0),
        decoded=True,
    )
    donut_xa = geo.geo_polygon(
        ib.array(z, z + 8.0, z + 8.0, z),
        ib.array(z, z, z + 8.0, z + 8.0),
        holes=[
            (
                ib.array(z + 2.0, z + 4.0, z + 4.0, z + 2.0),
                ib.array(z + 2.0, z + 2.0, z + 4.0, z + 4.0),
            )
        ],
        decoded=True,
    )
    donut_xb = geo.geo_polygon(
        ib.array(z, z + 8.0, z + 8.0, z),
        ib.array(z, z, z + 8.0, z + 8.0),
        holes=[
            (
                ib.array(z + 3.0, w0 + 4.5, w0 + 4.5, z + 3.0),
                ib.array(z + 3.0, z + 3.0, w0 + 4.5, w0 + 4.5),
            )
        ],
        decoded=True,
    )
    # sheared U + bar (shear (x, y) -> (x, y + x) defeats the bbox
    # fast path; both shapes offset by w0 so the fixture is
    # row-dependent, areas translation-invariant)
    ux = [0.0, 6.0, 6.0, 4.0, 4.0, 2.0, 2.0, 0.0, 0.0]
    uy = [0.0, 0.0, 4.0, 4.0, 2.0, 2.0, 4.0, 4.0, 0.0]
    ushear = geo.geo_polygon(
        ib.array(*[w0 + x for x in ux[:-1]]),
        ib.array(*[w0 + (y + x) for x, y in zip(ux[:-1], uy[:-1])]),
        decoded=True,
    )
    bx = [0.0, 2.0, 4.0, 6.0, 6.0, 0.0, 0.0]
    by = [4.0, 4.0, 4.0, 4.0, 5.0, 5.0, 4.0]
    bshear = geo.geo_polygon(
        ib.array(*[w0 + x for x in bx[:-1]]),
        ib.array(*[w0 + (y + x) for x, y in zip(bx[:-1], by[:-1])]),
        decoded=True,
    )
    out = geo.geo_setops_batch_multi(
        c,
        [
            (donut_a, window, ("intersection",), ["i1"]),
            (a2, donut_b, ("difference",), ["d2"]),
            (donut_c, island, ("union",), ["u3"]),
            (ell, tri, ("union", "difference", "intersection"),
             ["u4", "d4", "i4"]),
            (donut_xa, donut_xb,
             ("intersection", "difference", "union"),
             ["i5", "d5", "u5"]),
            (ushear, bshear,
             ("union", "difference", "intersection"),
             ["u6", "d6", "i6"]),
        ],
        keep=["c_custkey"],
    )
    return out.select(
        "c_custkey",
        ia1=geo.geo_area(out["i1"]),
        ip1=geo.geo_n_points(out["i1"]),
        da2=geo.geo_area(out["d2"]),
        ua3=geo.geo_area(out["u3"]),
        su4=geo.geo_area(out["u4"]),
        sd4=geo.geo_area(out["d4"]),
        si4_null=geo.geo_area(out["i4"]).isnull(),
        ia5=geo.geo_area(out["i5"]),
        ip5=geo.geo_n_points(out["i5"]),
        da5=geo.geo_area(out["d5"]),
        ua5=geo.geo_area(out["u5"]),
        ua6=geo.geo_area(out["u6"]),
        un6=geo.geo_n_points(out["u6"]),
        da6=geo.geo_area(out["d6"]),
        si6_null=geo.geo_area(out["i6"]).isnull(),
    ).to_spark()

def _geo_transform_report(spark, sf_dir):
    """CRS transforms (r12 — reference GeoConvert geospatial.py:459 /
    GeoTransform :450): per customer, a lon/lat sweep projected to
    EPSG:3857 (spherical web mercator) and UTM zone 31N (Snyder
    transverse-Mercator series), plus round-trip closure booleans
    through the inverse maps.

    Hash posture (measured, SCALE.md round 12 late): Java and DuckDB
    agree BIT-EXACTLY on sin/cos/tan/atan/sqrt over this input range
    but differ in the last ulp on ln (1269/1500 values) and exp
    (75/1500) — so the mercator NORTHING (the one ln) is emitted
    quantized to millimeters, the easting and both UTM forwards are
    exact doubles, and the inverse maps (exp/atan) are proven by
    1e-9-closure booleans the oracle pins to TRUE."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    lon = (c.c_custkey % 360).cast("float64") - 179.5
    lat = ((c.c_custkey % 160).cast("float64") - 80.0) / 2.0 + 0.25
    lon_u = (c.c_custkey % 12).cast("float64") - 2.5  # inside zone 31
    p = geo.geo_point(lon, lat, decoded=True)
    pu = geo.geo_point(lon_u, lat, decoded=True)
    wm = geo.geo_convert(p, 4326, 3857)
    back = geo.geo_convert(wm, 3857, 4326)
    u31 = geo.geo_convert(pu, 4326, 32631)
    uback = geo.geo_convert(u31, 32631, 4326)
    c = c.mutate(
        wx=geo.geo_x(wm),
        wy=geo.geo_y(wm),
        bx=geo.geo_x(back),
        by=geo.geo_y(back),
        ue=geo.geo_x(u31),
        un=geo.geo_y(u31),
        rx=geo.geo_x(uback),
        ry=geo.geo_y(uback),
        lon=lon,
        lat=lat,
        lon_u=lon_u,
    )
    return c.select(
        "c_custkey",
        wx=c.wx,
        wy_mm=(c.wy * 1000.0).round(0).cast("int64"),
        ue=c.ue,
        un=c.un,
        rt_wm=((c.bx - c.lon).abs() < 1e-9) & ((c.by - c.lat).abs() < 1e-9),
        # 1e-6 deg (~0.1 m): the truncated series' honest round-trip
        # closure at the fixture's +-5.5 deg from the central meridian
        # (measured max 2.8e-7); in-zone inputs close at ~1e-9
        rt_utm=((c.rx - c.lon_u).abs() < 1e-6) & ((c.ry - c.lat).abs() < 1e-6),
    ).to_spark()


def _geo_buffer_report(spark, sf_dir):
    """geo_buffer (r12 — reference GeoBuffer geospatial.py:362): point
    buffers (regular 32-gon on the circle, PostGIS quad_segs=8
    convention) and convex-polygon buffers (exact offset polygon) with
    closed-form oracles: the 32-gon area is 16 r^2 sin(pi/16), a
    convex buffer adds perimeter*r, the vertex fans of any convex
    polygon sum to one full circle, and the bbox extremes land exactly
    at +-r (cos(pi) is exactly -1 in IEEE).  Areas are emitted rounded
    to 1e-4 — the expression-side shoelace and the oracle's closed
    form agree to ~1e-11 relative, not to the last ulp."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    r = (c.c_custkey % 8).cast("float64") / 4.0 + 1.0
    px = (c.c_custkey % 100).cast("float64")
    py = (c.c_custkey % 50).cast("float64")
    z = px - px
    p = geo.geo_point(px, py, decoded=True)
    sq = geo.geo_polygon(
        ib.array(z, z + 4.0, z + 4.0, z),
        ib.array(z, z, z + 4.0, z + 4.0),
        decoded=True,
    )
    # materialize-once (r13, the r12 `weak` fix): the buffer
    # construction is interpreted-HOF territory with NO CSE — passing
    # the same expression OBJECT into 6 measures rebuilt the 33-vertex
    # ring per measure per row (r12 wall 4.8-6.7 s).  Stage the
    # buffered structs in their OWN projection (CollapseProject keeps
    # non-cheap multi-referenced projections separate) and measure the
    # materialized columns — the `_geo_simplify_tolerance` pattern.
    c = c.mutate(bp=geo.geo_buffer(p, r), bs=geo.geo_buffer(sq, r))
    return c.select(
        "c_custkey",
        pa=geo.geo_area(c.bp).round(4),
        pn=geo.geo_n_points(c.bp),
        pxmin=geo.geo_x_min(c.bp),
        pxmax=geo.geo_x_max(c.bp),
        pymin=geo.geo_y_min(c.bp).round(6),
        pymax=geo.geo_y_max(c.bp).round(6),
        sa=geo.geo_area(c.bs).round(4),
        sn=geo.geo_n_points(c.bs),
    ).to_spark()


def _geo_buffer_line_report(spark, sf_dir):
    """Segment buffer (r13 — reference GeoBuffer geospatial.py:362 on
    LINESTRING input, the most common buffer shape in practice:
    corridors around routes): per customer an axis-aligned segment of
    length L = custkey%7+1 buffered by r = (custkey%8)/4+1, emitted as
    the disjoint MULTIPOLYGON decomposition (rectangle + two half-disc
    caps).  Closed forms: area = 2rL + 16 r^2 sin(pi/16) (the caps sum
    to the same 32-gon as a point buffer; axis-aligned keeps the
    shoelace exact to ~1e-12, emitted at 4 decimals), 41 vertices, the
    MULTIPOLYGON type tag, and NULL pins for the multi-segment and
    zero-length degenerates."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    L = (c.c_custkey % 7).cast("float64") + 1.0
    r = (c.c_custkey % 8).cast("float64") / 4.0 + 1.0
    x0 = (c.c_custkey % 100).cast("float64")
    y0 = (c.c_custkey % 50).cast("float64")
    seg = geo.geo_linestring(
        ib.array(x0, x0 + L), ib.array(y0, y0), decoded=True
    )
    multi = geo.geo_linestring(
        ib.array(x0, x0 + L, x0), ib.array(y0, y0, y0 + L), decoded=True
    )
    zlen = geo.geo_linestring(
        ib.array(x0, x0), ib.array(y0, y0), decoded=True
    )
    # materialize-once: the buffered struct feeds 3 measures
    c = c.mutate(b=geo.geo_buffer(seg, r))
    return c.select(
        "c_custkey",
        la=geo.geo_area(c.b).round(4),
        lnp=geo.geo_n_points(c.b),
        ltyp=geo.geo_geometry_type(c.b),
        null_multi=geo.geo_area(geo.geo_buffer(multi, r)).isnull(),
        null_zero=geo.geo_area(geo.geo_buffer(zlen, r)).isnull(),
    ).to_spark()


def _geo_buffer_polyline_report(spark, sf_dir):
    """General polyline buffer (r13 batch stroking — reference
    GeoBuffer geospatial.py:362 on multi-segment LINESTRING input,
    which the expression path NULLs): per customer, a right-angle
    L-polyline (axis-aligned, L1 = custkey%7+1 east then L2 =
    custkey%5+2 north) buffered by r = (custkey%4)/8 + 0.25 (below
    the feature size min(L1,L2) = 1, so the inner trim exists) via
    geo_buffer_batch.  Closed forms: the stroked boundary's area is
    2r(L1+L2) + 20 r^2 sin(pi/16) - r^2 (two end half-discs + the
    outer quarter fan - the inner trim square; derived in SCALE.md
    r13), 45 vertices (3 left-side + 17 end-cap + 10 right-side +
    15 start-cap + close), POLYGON type, and the collinear-joint
    degenerate pinned NULL."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    L1 = (c.c_custkey % 7).cast("float64") + 1.0
    L2 = (c.c_custkey % 5).cast("float64") + 2.0
    # r stays below min(L1, L2) = 1: the inner trim needs the offset
    # segments to actually intersect (r <= feature size)
    r = (c.c_custkey % 4).cast("float64") / 8.0 + 0.25
    x0 = (c.c_custkey % 100).cast("float64")
    y0 = (c.c_custkey % 50).cast("float64")
    ell = geo.geo_linestring(
        ib.array(x0, x0 + L1, x0 + L1),
        ib.array(y0, y0, y0 + L2),
        decoded=True,
    )
    out = geo.geo_buffer_batch(c, ell, r, keep=["c_custkey"])
    out = out.select(
        "c_custkey",
        ba=geo.geo_area(out["buffer"]).round(4),
        bnp=geo.geo_n_points(out["buffer"]),
        btyp=geo.geo_geometry_type(out["buffer"]),
    )
    # degenerate pin rebuilt over the batch output's columns (the
    # collinear 3-vertex line; L1 == 1 makes its second segment
    # zero-length — NULL either way)
    xb = (out.c_custkey % 100).cast("float64")
    yb = (out.c_custkey % 50).cast("float64")
    L1b = (out.c_custkey % 7).cast("float64") + 1.0
    coll2 = geo.geo_linestring(
        ib.array(xb, xb + 1.0, xb + L1b),
        ib.array(yb, yb, yb),
        decoded=True,
    )
    out2 = geo.geo_buffer_batch(
        out, coll2,
        (out.c_custkey % 4).cast("float64") / 8.0 + 0.25,
        keep=["c_custkey", "ba", "bnp", "btyp"],
        name="cbuf",
    )
    return out2.select(
        "c_custkey",
        "ba",
        "bnp",
        "btyp",
        null_collinear=geo.geo_area(out2["cbuf"]).isnull(),
    ).to_spark()


def _geo_buffer_polygon_report(spark, sf_dir):
    """NON-CONVEX polygon buffer (r13 batch stroking — reference
    GeoBuffer geospatial.py:362; the expression path handles convex
    only): per customer the L-shape polygon buffered by
    r = (custkey%4)/4 + 0.5.  Closed forms: area = A + P*r + five
    quarter-arc fans - the reflex trim square = 20 + 24r +
    1.25*(16 r^2 sin(pi/16)) - r^2, 47 vertices (5 nine-point convex
    fans + 1 trim + close), POLYGON type.  Parity column: the batch
    buffer of a CONVEX square byte-equals the expression path's
    geo_buffer (same fan constants by construction).  Degenerate
    pins: holed polygon and negative radius NULL."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    r = (c.c_custkey % 4).cast("float64") / 4.0 + 0.5
    x0 = (c.c_custkey % 100).cast("float64")
    z = x0 - x0
    ell = geo.geo_polygon(
        ib.array(x0, x0 + 6.0, x0 + 6.0, x0 + 2.0, x0 + 2.0, x0),
        ib.array(z, z, z + 2.0, z + 2.0, z + 6.0, z + 6.0),
        decoded=True,
    )
    out = geo.geo_buffer_batch(c, ell, r, keep=["c_custkey"], name="lb")
    out = out.select(
        "c_custkey",
        pa=geo.geo_area(out["lb"]).round(4),
        pn=geo.geo_n_points(out["lb"]),
        ptyp=geo.geo_geometry_type(out["lb"]),
    )
    r2 = (out.c_custkey % 4).cast("float64") / 4.0 + 0.5
    xb = (out.c_custkey % 100).cast("float64")
    zb = xb - xb
    sq = geo.geo_polygon(
        ib.array(xb, xb + 4.0, xb + 4.0, xb),
        ib.array(zb, zb, zb + 4.0, zb + 4.0),
        decoded=True,
    )
    out = geo.geo_buffer_batch(
        out, sq, r2, keep=["c_custkey", "pa", "pn", "ptyp"], name="sb"
    )
    # parity vs the expression path's convex buffer: byte-equal WKB —
    # every expression rebuilt over the batch OUTPUT's columns
    r2b = (out.c_custkey % 4).cast("float64") / 4.0 + 0.5
    xc = (out.c_custkey % 100).cast("float64")
    zc = xc - xc
    sq_expr = geo.geo_polygon(
        ib.array(xc, xc + 4.0, xc + 4.0, xc),
        ib.array(zc, zc, zc + 4.0, zc + 4.0),
        decoded=True,
    )
    # materialize the expression buffer first: geo_encode _lets its
    # input ~14x, and the convex fan tree is interpreted-HOF territory
    out = out.mutate(eb=geo.geo_buffer(sq_expr, r2b))
    out = out.mutate(
        parity=(
            geo.geo_encode(geo.decoded(out["sb"]))
            == geo.geo_encode(geo.decoded(out["eb"]))
        )
    ).select("c_custkey", "pa", "pn", "ptyp", "parity")
    r3 = (out.c_custkey % 4).cast("float64") / 4.0 + 0.5
    xb3 = (out.c_custkey % 100).cast("float64")
    zb3 = xb3 - xb3
    holed3 = geo.geo_polygon(
        ib.array(xb3, xb3 + 4.0, xb3 + 4.0, xb3),
        ib.array(zb3, zb3, zb3 + 4.0, zb3 + 4.0),
        holes=[
            (
                ib.array(xb3 + 1.0, xb3 + 2.0, xb3 + 2.0, xb3 + 1.0),
                ib.array(zb3 + 1.0, zb3 + 1.0, zb3 + 2.0, zb3 + 2.0),
            )
        ],
        decoded=True,
    )
    out = geo.geo_buffer_batch(
        out, holed3, r3,
        keep=["c_custkey", "pa", "pn", "ptyp", "parity"], name="hb"
    )
    # r14: the holed buffer ANSWERS now (holes erode under dilation;
    # this 1x1 hole always collapses at r >= 0.5) — the former
    # null_holed pin became a closed-form area: 16 + 16r + the 32-gon
    return out.select(
        "c_custkey",
        "pa",
        "pn",
        "ptyp",
        "parity",
        hba=geo.geo_area(out["hb"]).round(4),
        hbn=geo.geo_n_points(out["hb"]),
    ).to_spark()


def _geo_buffer_erosion_report(spark, sf_dir):
    """Negative-radius (EROSION), holed, and MULTI* buffers (r14 —
    reference GeoBuffer geospatial.py:362 is unrestricted GEOS; these
    were the r13 NULL classes).  Per row, r = (custkey%4)/8+0.25 and
    seven closed-form fixtures through ONE geo_buffer_batch_multi
    pass:

    - 4x4 square eroded by -r: exact inward half-plane intersection,
      area (4-2r)^2, 5 vertices, POLYGON;
    - the same square eroded past its inradius (-2.5): EMPTY
      MULTIPOLYGON (area 0, 0 vertices) — collapse, not NULL;
    - 8x8 outer with centered 4x4 hole buffered +r: the hole ERODES,
      area 64 + 32r + 16r^2 sin(pi/16) - (4-2r)^2, 42 vertices;
    - the same holed polygon eroded -r: the hole DILATES (morphology
      identity), area (8-2r)^2 - (16 + 16r + 16r^2 sin(pi/16)),
      42 vertices;
    - non-convex L-shape eroded -r: convex trims + one REFLEX arc fan,
      area 2(6-2r)(2-2r) - (2-2r)^2 + r^2 - 4r^2 sin(pi/16);
    - MULTIPOINT (two points 20 apart) buffered +r: per-member buffer
      + union fold (disjoint assembly), area 2 * 32-gon, 66 vertices;
    - MULTIPOLYGON (two 4x4 squares) eroded -r: per-member erosion,
      area 2(4-2r)^2, 10 vertices.

    Fixed 100 rows at every sf (the geo_collection_report posture): a
    correctness entry for the erosion/holed/multi kernel classes, not
    a bench signal — the decoded constructors and HOF measures cost
    far more plan interpretation than the 0.76 ms/row kernels
    (measured r14), deliberately bounded."""
    import ibis_spark.geo as geo

    c = ib.connect(spark).memtable(
        [(i,) for i in range(100)], schema={"c_custkey": "int64"}
    )
    r = (c.c_custkey % 4).cast("float64") / 8.0 + 0.25
    x0 = (c.c_custkey % 100).cast("float64")
    z = x0 - x0

    def _sq(xoff, side=4.0):
        return geo.geo_polygon(
            ib.array(xoff, xoff + side, xoff + side, xoff),
            ib.array(z, z, z + side, z + side),
            decoded=True,
        )

    holed = geo.geo_polygon(
        ib.array(x0, x0 + 8.0, x0 + 8.0, x0),
        ib.array(z, z, z + 8.0, z + 8.0),
        holes=[(
            ib.array(x0 + 2.0, x0 + 2.0, x0 + 6.0, x0 + 6.0),
            ib.array(z + 2.0, z + 6.0, z + 6.0, z + 2.0),
        )],
        decoded=True,
    )
    ell = geo.geo_polygon(
        ib.array(x0, x0 + 6.0, x0 + 6.0, x0 + 2.0, x0 + 2.0, x0),
        ib.array(z, z, z + 2.0, z + 2.0, z + 6.0, z + 6.0),
        decoded=True,
    )
    mpt = geo.geo_multipoint(
        ib.array(x0, x0 + 20.0), ib.array(z, z), decoded=True
    )
    mpoly = geo.geo_multipolygon(_sq(x0), _sq(x0 + 10.0))
    out = geo.geo_buffer_batch_multi(
        c,
        [
            (_sq(x0), -r, "se"),
            (_sq(x0), -2.5, "co"),
            (holed, r, "hb"),
            (holed, -r, "he"),
            (ell, -r, "le"),
            (mpt, r, "mb"),
            (mpoly, -r, "me"),
        ],
        keep=["c_custkey"],
    )
    return out.select(
        "c_custkey",
        sqa=geo.geo_area(out["se"]).round(4),
        sqn=geo.geo_n_points(out["se"]),
        sqt=geo.geo_geometry_type(out["se"]),
        ca=geo.geo_area(out["co"]).round(4),
        cn=geo.geo_n_points(out["co"]),
        ct=geo.geo_geometry_type(out["co"]),
        hba=geo.geo_area(out["hb"]).round(4),
        hbn=geo.geo_n_points(out["hb"]),
        hea=geo.geo_area(out["he"]).round(4),
        hen=geo.geo_n_points(out["he"]),
        la=geo.geo_area(out["le"]).round(4),
        ln2=geo.geo_n_points(out["le"]),
        mpa=geo.geo_area(out["mb"]).round(4),
        mpn=geo.geo_n_points(out["mb"]),
        mpt=geo.geo_geometry_type(out["mb"]),
        mea=geo.geo_area(out["me"]).round(4),
        men=geo.geo_n_points(out["me"]),
    ).to_spark()

def _geo_convert_osgb_report(spark, sf_dir):
    """EPSG:27700 British National Grid (r14 — reference GeoConvert
    geospatial.py:459; the engine's first DATUM-SHIFT CRS family):
    per customer a lon/lat sweep inside the British box projected
    WGS84 -> OSGB36/BNG through the full chain (geodetic->geocentric,
    7-parameter Helmert, Bowring, Airy transverse Mercator).  The
    oracle replays the IDENTICAL chain in SQL with the engine's own
    Python-computed coefficient literals; every primitive in the
    chain (sin/cos/tan/atan/sqrt and +,-,*,/) is in the measured
    Java==DuckDB bit-identical set, and easting/northing are emitted
    quantized to MILLIMETRES anyway.  The inverse chain (TM inverse
    series, inverse Helmert) is proven by a 1e-5-degree round-trip
    closure boolean the oracle pins TRUE (< 5 cm measured across the
    domain); the out-of-box NULL gate is pinned TRUE."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    lon = (c.c_custkey % 44).cast("float64") / 4.0 - 8.5
    lat = (c.c_custkey % 45).cast("float64") / 4.0 + 49.25
    p = geo.geo_point(lon, lat, decoded=True)
    bng = geo.geo_convert(p, 4326, 27700)
    back = geo.geo_convert(bng, 27700, 4326)
    pout = geo.geo_point(lon - 40.0, lat, decoded=True)  # west of box
    c = c.mutate(
        e=geo.geo_x(bng),
        n=geo.geo_y(bng),
        lon2=geo.geo_x(back),
        lat2=geo.geo_y(back),
        odom=geo.geo_x(geo.geo_convert(pout, 4326, 27700)),
    )
    return c.select(
        "c_custkey",
        e_mm=(c.e * 1000.0).round(0).cast("int64"),
        n_mm=(c.n * 1000.0).round(0).cast("int64"),
        rt=((c.lon2 - lon).abs() < 1e-5) & ((c.lat2 - lat).abs() < 1e-5),
        null_outside=c.odom.isnull(),
    ).to_spark()


def _geo_convert_l93_report(spark, sf_dir):
    """EPSG:2154 Lambert-93 (r14 — reference GeoConvert
    geospatial.py:459; the engine's first CONIC family): per customer
    a lon/lat sweep over France projected through the Snyder
    two-parallel Lambert Conformal Conic on GRS80 (RGF93 == WGS84 at
    the centimetre level, the standard identity treatment).  The
    oracle replays the identical formula in SQL with the engine's
    Python-computed constants; t(phi) and rho use pow (libm exp/ln —
    NOT bit-identical between Java and DuckDB), so easting/northing
    are quantized to MILLIMETRES (the geo_transform_report posture for
    its one ln).  The inverse (conformal-latitude series) is proven by
    a 1e-9-degree round-trip closure boolean pinned TRUE (measured
    3e-11 across the domain); the out-of-box NULL gate is pinned
    TRUE.  Validated against the defining vector (lon0, lat0) ->
    exactly (700000, 6600000) and the published Paris grid."""
    import ibis_spark.geo as geo

    c = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism
    )
    lon = (c.c_custkey % 20).cast("float64") / 2.0 - 4.75
    lat = (c.c_custkey % 41).cast("float64") / 4.0 + 41.25
    p = geo.geo_point(lon, lat, decoded=True)
    l93 = geo.geo_convert(p, 4326, 2154)
    back = geo.geo_convert(l93, 2154, 4326)
    pout = geo.geo_point(lon - 40.0, lat, decoded=True)
    c = c.mutate(
        e=geo.geo_x(l93),
        n=geo.geo_y(l93),
        lon2=geo.geo_x(back),
        lat2=geo.geo_y(back),
        odom=geo.geo_x(geo.geo_convert(pout, 4326, 2154)),
    )
    return c.select(
        "c_custkey",
        e_mm=(c.e * 1000.0).round(0).cast("int64"),
        n_mm=(c.n * 1000.0).round(0).cast("int64"),
        rt=((c.lon2 - lon).abs() < 1e-9) & ((c.lat2 - lat).abs() < 1e-9),
        null_outside=c.odom.isnull(),
    ).to_spark()


def _geo_collection_report(spark, sf_dir):
    """GEOMETRYCOLLECTION + EWKB input (r13 — reference
    GeometryCollection type + GeoTransform geospatial.py:450 reading
    the SRID from the geometry): per customer, a 3-member collection
    (point, 5-vertex square, 2-member multipolygon) built by
    geo_collection, byte-round-tripped through geo_encode/geo_decode
    AND through EWKB (geo_as_ewkb -> geo_decode strips the SRID
    flag+field).  Closed forms: the type name, member vertex total
    (16), the full WKT string (integer coordinates), the embedded
    SRID read-back, and the byte round-trip equality pinned TRUE.

    Fixed 100 rows at every sf (the audio_features_report posture): a
    correctness entry for the collection codec, not a bench signal —
    the round-trips decode COMPUTED binary per row, which is
    interpreted-HOF territory at ~ms/row, measured and deliberately
    bounded."""
    import ibis_spark.geo as geo

    c = ib.connect(spark).memtable(
        [(i,) for i in range(100)], schema={"c_custkey": "int64"}
    )
    k = (c.c_custkey % 50).cast("float64")
    z = k - k
    pt = geo.geo_point(k, k + 1.0, decoded=True)
    sq = geo.geo_polygon(
        ib.array(k, k + 4.0, k + 4.0, k),
        ib.array(z, z, z + 4.0, z + 4.0),
        decoded=True,
    )
    mp = geo.geo_multipolygon(
        geo.geo_polygon(
            ib.array(k + 10.0, k + 12.0, k + 12.0, k + 10.0),
            ib.array(z + 10.0, z + 10.0, z + 12.0, z + 12.0),
            decoded=True,
        ),
        geo.geo_polygon(
            ib.array(k + 20.0, k + 22.0, k + 22.0, k + 20.0),
            ib.array(z + 20.0, z + 20.0, z + 22.0, z + 22.0),
            decoded=True,
        ),
    )
    # materialize-once: the collection struct feeds 6 measures
    c = c.mutate(gc=geo.geo_collection(pt, sq, mp))
    c = c.mutate(
        wkb=geo.geo_encode(c.gc), e=geo.geo_as_ewkb(c.gc, 4326)
    )
    # ONE round-trip chain, through the EWKB spelling — it exercises
    # both ingest capabilities at once (SRID strip + collection
    # decode); materialized (geo_encode _lets its input ~14x) and
    # collections=True (the opt-in recursive decode walk)
    c = c.mutate(re=geo.geo_decode(c.e, collections=True))
    return c.select(
        "c_custkey",
        typ=geo.geo_geometry_type(c.gc),
        np=geo.geo_n_points(c.gc),
        wkt=geo.geo_as_text(c.gc),
        srid=geo.geo_ewkb_srid(c.e),
        ewkb_rt=(geo.geo_encode(c.re) == c.wkb),
    ).to_spark()


def _audio_features_report(spark, sf_dir):
    """Multimodal audio codec (r12-late, multimodal.decode_audio): 64
    deterministic 16-bit PCM WAVs — integer-cycle sines, f = 200(1+k%8)
    Hz, amplitude 0.25 + 0.05(k%5), 400 samples at 8 kHz — decoded for
    real (stdlib wave + numpy) through the Arrow mapInPandas plumbing.
    Closed forms: sample_rate/channels/duration are exact; an
    integer-cycle sine's rms is amp/sqrt(2) (1e-4 quantization noise,
    emitted at 2 decimals) and its spectral centroid is f to the Hz
    (broadband quantization floor is ~-96 dB).  Fixed 64 rows at every
    sf — a correctness entry for the codec, not a bench signal."""
    import io
    import math
    import wave as wavemod

    import numpy as np

    from ibis_spark import multimodal

    rows = []
    for k in range(64):
        f = 200.0 * (1 + k % 8)
        a = 0.25 + 0.05 * (k % 5)
        ts = np.arange(400) / 8000.0
        sine = a * np.sin(2 * math.pi * f * ts)
        buf = io.BytesIO()
        with wavemod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes((sine * 32767.0).astype("<i2").tobytes())
        rows.append((k, buf.getvalue()))
    t = ib.connect(spark).memtable(
        rows, schema={"k": "int64", "payload": "binary"}
    )
    m = multimodal.attach_media(t, "payload", "audio/wav")
    out = multimodal.decode_audio(m)
    out = out.mutate(
        rms=out["features"][0].cast("float64"),
        centroid=out["features"][3].cast("float64"),
    )
    return out.select(
        "k",
        sr=out.sample_rate.cast("int64"),
        ch=out.channels.cast("int64"),
        dur=out.duration_s,
        rms2=out.rms.round(2),
        chz=out.centroid.round(0),
    ).to_spark()


# --------------------------------------------------------------------------
# TPC-DS-derived slice (VERDICT r8 item 2). The reference tests all 99
# TPC-DS queries (/root/reference/ibis/backends/tests/tpc/queries/duckdb/ds/,
# harness tpc/conftest.py:40-60); the repo's testdata has no DS schema, so
# these port the query SHAPES TPC-H doesn't exercise — rollup/cube subtotal
# reports, GROUPING() labels, rank-over-rollup, multi-channel union rollups,
# year-over-year self-joins and lags, vs-group-average reports, channel
# INTERSECT/EXCEPT — onto the TPC-H tables, each oracle-backed.


def _ds_rollup_report(spark, sf_dir):
    """DS q18/q22 shape: multi-level ROLLUP subtotal report with several
    averages (ds/18.sql, ds/22.sql: GROUP BY ROLLUP over a dim hierarchy,
    avg metrics). Rollup = Spark-native DataFrame.rollup."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = c.inner_join(o, [("c_custkey", "o_custkey")]).inner_join(
        n, [("c_nationkey", "n_nationkey")]
    )
    j = j.filter(j.o_orderdate < "1997-01-01")
    return (
        j.rollup("n_name", "c_mktsegment")
        .aggregate(
            avg_price=j.o_totalprice.mean().round(4),
            avg_acctbal=j.c_acctbal.mean().round(4),
            total=j.o_totalprice.sum().round(2),
            n_orders=j.o_orderkey.count(),
        )
        .to_spark()
    )


def _ds_rank_over_rollup(spark, sf_dir):
    """DS q67 shape: rank() OVER a rollup'd aggregate, keep top-k per
    partition (ds/67.sql: rollup sumsales -> rank partition by category
    -> rk <= 100). Rank runs on the ROUNDED metric with the rollup key
    as tiebreak so the kept set is engine-deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.inner_join(p, [("l_partkey", "p_partkey")])
    agg = j.rollup("p_brand", "p_size").aggregate(
        sumsales=(j.l_extendedprice * (1 - j.l_discount)).sum().round(2)
    )
    w = ib.window(
        group_by=agg.p_brand,
        order_by=[agg.sumsales.desc(), agg.p_size.asc()],
    )
    r = agg.mutate(rk=ib.rank().over(w) + 1)
    return r.filter(r.rk <= 3).to_spark()


def _ds_cube_report(spark, sf_dir):
    """DS q27-style GROUPING() labels, on a CUBE (ds/27.sql uses rollup +
    grouping to tag subtotal levels): every (returnflag, linestatus)
    subtotal combination, labeled by which keys were aggregated away."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .aggregate(
            sum_qty=li.l_quantity.sum().round(2),
            n=li.l_orderkey.count(),
            g_rf=li.l_returnflag.grouping(),
            g_ls=li.l_linestatus.grouping(),
        )
        .to_spark()
    )


def _ds_multi_channel(spark, sf_dir):
    """DS q5/q77 shape: per-channel aggregates UNION ALL'd then rolled up
    into a cross-channel report (ds/05.sql: sales+returns per channel ->
    union -> rollup(channel, ...)). Channels here: order revenue vs
    returned-lineitem revenue, per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    cn = c.inner_join(n, [("c_nationkey", "n_nationkey")])
    sales = (
        cn.inner_join(o, [("c_custkey", "o_custkey")])
        .group_by("n_name")
        .aggregate(amount=o.o_totalprice.sum().round(2))
        .mutate(channel=ib.literal("orders"))
    )
    rets = (
        cn.inner_join(o, [("c_custkey", "o_custkey")])
        .inner_join(li, [("o_orderkey", "l_orderkey")])
        .filter(li.l_returnflag == "R")
        .group_by("n_name")
        .aggregate(amount=li.l_extendedprice.sum().round(2))
        .mutate(channel=ib.literal("returns"))
    )
    u = sales.union(rets)
    return (
        u.rollup("channel", "n_name")
        .aggregate(total=u.amount.sum().round(2), n_rows=u.amount.count())
        .to_spark()
    )


def _ds_year_over_year(spark, sf_dir):
    """DS q74/q11 shape: per-customer yearly totals self-joined across
    consecutive years, keep customers whose spend grew > 1.5x
    (ds/74.sql: year_total CTE joined to itself on customer across
    years, ratio filter)."""
    o = _t(spark, sf_dir, "orders")
    o = o.mutate(yr=o.o_orderdate.year())
    per = o.group_by("o_custkey", "yr").aggregate(
        total=o.o_totalprice.sum().round(2)
    )
    y96 = per.filter(per.yr == 1996).select("o_custkey", t96=per.total)
    y97 = per.filter(per.yr == 1997).select("o_custkey", t97=per.total)
    j = y96.inner_join(y97, [("o_custkey", "o_custkey")])
    j = j.mutate(ratio=(j.t97 / j.t96).round(4))
    return j.filter(j.ratio > 1.5).select(
        "o_custkey", "t96", "t97", "ratio"
    ).to_spark()


def _ds_vs_group_avg(spark, sf_dir):
    """DS q1 shape: entities whose metric exceeds 1.3x their group's
    average of the same aggregate (ds/01.sql: customers with returns >
    1.2 * avg over their store) — aggregate, window-average over the
    group, filter. The window mean runs over the per-customer ROUNDED
    totals so both engines average identical inputs."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = c.inner_join(o, [("c_custkey", "o_custkey")])
    j = j.filter(j.o_orderdate >= "1995-01-01", j.o_orderdate < "1996-01-01")
    per = j.group_by("c_custkey", "c_nationkey").aggregate(
        total=j.o_totalprice.sum().round(2)
    )
    w = ib.window(group_by=per.c_nationkey)
    per = per.mutate(nation_avg=per.total.mean().over(w).round(4))
    return per.filter(per.total > 1.3 * per.nation_avg).select(
        "c_custkey", "c_nationkey", "total", "nation_avg"
    ).to_spark()


def _ds_monthly_vs_avg(spark, sf_dir):
    """DS q53/q63 shape: monthly sums per brand compared against the
    brand's average month, keep months deviating > 30% (ds/53.sql:
    sum by quarter vs avg over the item's quarters)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.inner_join(p, [("l_partkey", "p_partkey")])
    j = j.filter(j.l_shipdate >= "1996-01-01", j.l_shipdate < "1997-01-01")
    j = j.mutate(mo=j.l_shipdate.month())
    m = j.group_by("p_brand", "mo").aggregate(
        rev=(j.l_extendedprice * (1 - j.l_discount)).sum().round(2)
    )
    w = ib.window(group_by=m.p_brand)
    m = m.mutate(brand_avg=m.rev.mean().over(w).round(4))
    m = m.mutate(dev=((m.rev - m.brand_avg) / m.brand_avg).round(4))
    return m.filter(m.dev.abs() > 0.3).select(
        "p_brand", "mo", "rev", "brand_avg", "dev"
    ).to_spark()


def _ds_channel_intersect(spark, sf_dir):
    """DS q38 shape: COUNT of the INTERSECT of multi-column customer
    identities active in every channel (ds/38.sql: three-channel
    intersect -> count). Channels: 1995 vs 1996 orderers."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = c.inner_join(o, [("c_custkey", "o_custkey")])

    def chan(year):
        return (
            j.filter(j.o_orderdate >= f"{year}-01-01",
                     j.o_orderdate < f"{year + 1}-01-01")
            .select("c_custkey", "c_mktsegment")
            .distinct()
        )

    both = chan(1995).intersect(chan(1996))
    return both.aggregate(n_both=both.c_custkey.count()).to_spark()


def _ds_channel_except(spark, sf_dir):
    """DS q87 shape: COUNT of the EXCEPT between channel customer sets
    (ds/87.sql: store EXCEPT catalog EXCEPT web -> count). Here: 1995
    orderers who did NOT order in 1996."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = c.inner_join(o, [("c_custkey", "o_custkey")])

    def chan(year):
        return (
            j.filter(j.o_orderdate >= f"{year}-01-01",
                     j.o_orderdate < f"{year + 1}-01-01")
            .select("c_custkey", "c_mktsegment")
            .distinct()
        )

    only95 = chan(1995).difference(chan(1996))
    return only95.aggregate(n_lost=only95.c_custkey.count()).to_spark()


def _ds_conditional_report(spark, sf_dir):
    """DS q9 shape: a one-row report whose columns switch between two
    aggregates based on a bucket's row count (ds/09.sql: CASE WHEN
    count(bucket) > N THEN avg(a) ELSE avg(b) per quantity bucket)."""
    li = _t(spark, sf_dir, "lineitem")
    t = li.mutate(
        b1=(li.l_quantity >= 1) & (li.l_quantity < 20),
        b2=(li.l_quantity >= 20) & (li.l_quantity < 35),
        b3=li.l_quantity >= 35,
    )
    agg = t.aggregate(
        c1=t.l_orderkey.count(where=t.b1),
        p1=t.l_extendedprice.mean(where=t.b1).round(4),
        d1=t.l_discount.mean(where=t.b1).round(6),
        c2=t.l_orderkey.count(where=t.b2),
        p2=t.l_extendedprice.mean(where=t.b2).round(4),
        d2=t.l_discount.mean(where=t.b2).round(6),
        c3=t.l_orderkey.count(where=t.b3),
        p3=t.l_extendedprice.mean(where=t.b3).round(4),
        d3=t.l_discount.mean(where=t.b3).round(6),
    )
    thr = 20000
    return agg.select(
        bucket1=(agg.c1 > thr).ifelse(agg.p1, agg.d1),
        bucket2=(agg.c2 > thr).ifelse(agg.p2, agg.d2),
        bucket3=(agg.c3 > thr).ifelse(agg.p3, agg.d3),
    ).to_spark()


def _ds_quarterly_share(spark, sf_dir):
    """Window-over-aggregate share report (DS q36-style ratio of a
    rollup cell to its parent, expressed as a window): each nation's
    quarterly share of its 1996 revenue. Shares divide exact BIGINT
    cents, so the emitted doubles are engine-deterministic without
    rounding."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = (
        c.inner_join(o, [("c_custkey", "o_custkey")])
        .inner_join(n, [("c_nationkey", "n_nationkey")])
    )
    j = j.filter(j.o_orderdate >= "1996-01-01", j.o_orderdate < "1997-01-01")
    j = j.mutate(qtr=j.o_orderdate.quarter())
    q = j.group_by("n_name", "qtr").aggregate(
        cents=(j.o_totalprice * 100).sum().round(0).cast("int64")
    )
    w = ib.window(group_by=q.n_name)
    q = q.mutate(share=q.cents / q.cents.sum().over(w))
    return q.select("n_name", "qtr", "cents", "share").to_spark()


def _ds_yoy_lag(spark, sf_dir):
    """DS q47-style prior-period comparison via LAG over an aggregate
    (ds/47.sql: v_sales with lag/lead over (item, store) by period):
    nation yearly revenue with previous-year value and growth."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = (
        c.inner_join(o, [("c_custkey", "o_custkey")])
        .inner_join(n, [("c_nationkey", "n_nationkey")])
    )
    j = j.mutate(yr=j.o_orderdate.year())
    a = j.group_by("n_name", "yr").aggregate(
        rev=j.o_totalprice.sum().round(2)
    )
    w = ib.window(group_by=a.n_name, order_by=a.yr.asc())
    a = a.mutate(prev=a.rev.lag(1).over(w))
    a = a.mutate(growth=((a.rev - a.prev) / a.prev).round(4))
    return a.select("n_name", "yr", "rev", "prev", "growth").to_spark()


def _ds_grouping_sets_union(spark, sf_dir):
    """DS q22-style multi-granularity report as explicit GROUPING SETS —
    Spark's DataFrame API has no grouping_sets, so the idiomatic
    spelling is a UNION ALL of the two grain aggregates (what Catalyst
    expands grouping sets into); here: revenue by (priority, status)
    and by (priority) with a grain label."""
    o = _t(spark, sf_dir, "orders")
    fine = o.group_by("o_orderpriority", "o_orderstatus").aggregate(
        rev=o.o_totalprice.sum().round(2), n=o.o_orderkey.count()
    ).mutate(grain=ib.literal("priority_status"))
    coarse = o.group_by("o_orderpriority").aggregate(
        rev=o.o_totalprice.sum().round(2), n=o.o_orderkey.count()
    ).mutate(o_orderstatus=ib.null().cast("string"),
             grain=ib.literal("priority"))
    return fine.union(coarse.select(*fine.columns)).to_spark()


def _ds_time_band_counts(spark, sf_dir):
    """DS q88 shape: one row of per-time-band conditional counts, all in
    ONE scan (ds/88.sql: 8 subqueries counting store sales by half-hour
    band x demographic; here 8 counts by 3-hour band x event_type
    condition over events)."""
    e = _t(spark, sf_dir, "events")
    t = e.mutate(hr=e.ts.hour())
    kw = {}
    for i in range(8):
        lo = i * 3
        band = (t.hr >= lo) & (t.hr < lo + 3)
        kw[f"h{lo}_{lo + 3}"] = t.event_id.count(
            where=band & (t.event_type != "error")
        )
    return t.aggregate(**kw).to_spark()


def _ds_returns_net(spark, sf_dir):
    """DS q93 shape: net revenue after backing out returned lines
    (ds/93.sql: ss_quantity minus sr_return_quantity per item/customer);
    here per supplier: returned lineitems contribute refund-adjusted
    revenue, others full revenue; top-20 suppliers by net."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    j = li.inner_join(s, [("l_suppkey", "s_suppkey")])
    rev = j.l_extendedprice * (1 - j.l_discount)
    net = (j.l_returnflag == "R").ifelse(rev * 0.1, rev)
    agg = j.group_by("s_name").aggregate(net_rev=net.sum().round(2))
    return (
        agg.order_by([agg.net_rev.desc(), agg.s_name.asc()]).head(20).to_spark()
    )


def _ds_cume_channels(spark, sf_dir):
    """DS q51 shape: two per-month channel series FULL-OUTER joined,
    cumulative sums over month order, keep months where one channel's
    running total leads the other (ds/51.sql: web vs store cumulative
    sales crossover)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    om = o.mutate(mon=o.o_orderdate.truncate("M"))
    a = om.group_by("mon").aggregate(orev=om.o_totalprice.sum().round(2))
    lm = li.mutate(mon=li.l_shipdate.truncate("M"))
    b = lm.group_by("mon").aggregate(
        srev=(lm.l_extendedprice * (1 - lm.l_discount)).sum().round(2)
    )
    j0 = a.outer_join(b, [("mon", "mon")])
    j = j0.select(
        mon=ib.coalesce(j0.mon, j0.mon_right),
        orev=ib.coalesce(j0.orev, ib.literal(0.0)),
        srev=ib.coalesce(j0.srev, ib.literal(0.0)),
    )
    w = ib.window(order_by=j.mon.asc(), preceding=None, following=0)
    j = j.mutate(
        cum_o=j.orev.sum().over(w).round(2), cum_s=j.srev.sum().over(w).round(2)
    )
    out = j.filter(j.cum_o > j.cum_s)
    # Spark truncate('M') yields timestamp; DuckDB DATE_TRUNC yields date
    return out.select(mon=out.mon.cast("date"), cum_o=out.cum_o, cum_s=out.cum_s).to_spark()


# ---------------------------------------------------------------------------
# round 10: TPC-DS correlated-subquery tranche (ds/01, ds/23, ds/30, ds/64)
# ---------------------------------------------------------------------------

def _ds_returns_above_avg(spark, sf_dir):
    """DS q1/q30 exact shape (reference ds/01.sql, ds/30.sql): a
    customer_total_return CTE, then keep customers whose return total
    exceeds 1.2x the average of the SAME CTE correlated on their group
    (store in q1, state in q30; nation here), then join back to the
    dimension and filter one region.

    The oracle states it as the genuine correlated scalar subquery;
    the engine decorrelates it into a grouped aggregate + broadcast
    join — the plan that survives 100 TB (no per-row subquery)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = o.inner_join(li, [("o_orderkey", "l_orderkey")])
    j = j.filter(
        j.l_returnflag == "R",
        j.o_orderdate >= "1996-01-01",
        j.o_orderdate < "1997-01-01",
    )
    jc = j.inner_join(c, [("o_custkey", "c_custkey")])
    ctr = jc.group_by("c_custkey", "c_nationkey").aggregate(
        total=(jc.l_extendedprice * (1 - jc.l_discount)).sum().round(4)
    )
    # correlated avg, decorrelated: one 25-row aggregate broadcast back
    avg = ctr.group_by("c_nationkey").aggregate(
        avg_ret=ctr.total.mean().round(4)
    )
    f = ctr.inner_join(avg, [("c_nationkey", "c_nationkey")], broadcast=True)
    f = f.filter(f.total > 1.2 * f.avg_ret)
    out = f.inner_join(n, [("c_nationkey", "n_nationkey")], broadcast=True)
    out = out.filter(out.n_regionkey <= 1)
    return out.select("c_custkey", "n_name", "total", "avg_ret").to_spark()


def _ds_frequent_items(spark, sf_dir):
    """DS q23 frequent_ss_items CTE shape (reference ds/23.sql): group
    by a SUBSTRING-derived item description + brand + sold period,
    HAVING count(*) above a threshold. One keyed shuffle; the HAVING
    is a post-aggregate filter, never a second pass."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.inner_join(p, [("l_partkey", "p_partkey")])
    j = j.mutate(
        tdesc=j.p_type.substr(0, 10),
        yr=j.l_shipdate.year(),
        mo=j.l_shipdate.month(),
    )
    g = j.group_by("tdesc", "p_brand", "yr", "mo").aggregate(
        cnt=j.l_orderkey.count()
    )
    return g.filter(g.cnt > 8).select(
        "tdesc", "p_brand", "yr", "mo", "cnt"
    ).to_spark()


def _ds_best_customers(spark, sf_dir):
    """DS q23 best_ss_customer CTE shape (reference ds/23.sql): per-
    customer sales HAVING sum > 50% of (SELECT max(per-customer
    sales)) — a scalar subquery inside HAVING. The engine's
    ScalarValue lift turns the max into a 1-row broadcast; the filter
    runs map-side against it."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.inner_join(o, [("l_orderkey", "o_orderkey")])
    per = j.group_by("o_custkey").aggregate(
        ssales=(j.l_quantity * j.l_extendedprice).sum().round(4)
    )
    mx = per.to_scalar(per.ssales.max())
    best = per.filter(per.ssales > 0.5 * mx)
    return best.select("o_custkey", "ssales").to_spark()


def _ds_cross_channel_best(spark, sf_dir):
    """DS q23 final shape (reference ds/23.sql): UNION ALL of two
    channel aggregates, each restricted to the frequent-items set AND
    the best-customers set (both CTEs reused via semi joins), grouped
    per customer. Channels = odd/even line numbers standing in for
    store/catalog."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")

    j = li.inner_join(o, [("l_orderkey", "o_orderkey")])
    per = j.group_by("o_custkey").aggregate(
        ssales=(j.l_quantity * j.l_extendedprice).sum().round(4)
    )
    mx = per.to_scalar(per.ssales.max())
    best = per.filter(per.ssales > 0.5 * mx).select("o_custkey")

    jp = li.inner_join(p, [("l_partkey", "p_partkey")])
    jp = jp.mutate(mo=jp.l_shipdate.month())
    freq = (
        jp.group_by("p_brand", "mo")
        .aggregate(cnt=jp.l_orderkey.count())
        .filter(_.cnt > 80)
        .select("p_brand", "mo")
    )

    def channel(parity, tag):
        ch = li.filter((li.l_linenumber % 2) == parity)
        ch = ch.inner_join(p, [("l_partkey", "p_partkey")])
        ch = ch.mutate(mo=ch.l_shipdate.month())
        ch = ch.semi_join(
            freq, [("p_brand", "p_brand"), ("mo", "mo")], broadcast=True
        )
        ch = ch.inner_join(o, [("l_orderkey", "o_orderkey")])
        ch = ch.filter(
            ch.o_orderdate >= "1997-03-01", ch.o_orderdate < "1997-04-01"
        )
        ch = ch.semi_join(best, [("o_custkey", "o_custkey")], broadcast=True)
        ch = ch.inner_join(c, [("o_custkey", "c_custkey")])
        g = ch.group_by("c_name").aggregate(
            sales=(ch.l_quantity * ch.l_extendedprice).sum().round(4)
        )
        return g.mutate(chan=ib.literal(tag)).select("c_name", "chan", "sales")

    return channel(1, "store").union(channel(0, "catalog")).to_spark()


def _ds_wide_multijoin(spark, sf_dir):
    """DS q64 cross_sales shape (reference ds/64.sql): a wide
    8-relation join — fact x returns-derived CTE x two dimension
    chains (customer->nation, supplier->nation) x filtered item dim —
    grouped into a per-(product, nations, year) report. The cs_ui CTE
    (items whose sales exceed 2x their refunds) gates the fact scan
    via a semi join, exactly like the reference's HAVING'd CTE."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")

    rf = li.mutate(
        rev=li.l_extendedprice * (1 - li.l_discount),
        is_r=(li.l_returnflag == "R"),
    )
    cs_ui = rf.group_by("l_partkey").aggregate(
        sale=rf.rev.sum(where=~rf.is_r).round(4),
        refund=rf.rev.sum(where=rf.is_r).round(4),
    )
    cs_ui = cs_ui.filter(
        cs_ui.refund.notnull(), cs_ui.sale > 2 * cs_ui.refund
    ).select("l_partkey")

    pd_ = p.filter(p.p_size >= 10, p.p_size <= 20)
    cn = n.select(c_nationkey="n_nationkey", c_nation="n_name")
    sn = n.select(s_nationkey="n_nationkey", s_nation="n_name")

    j = li.semi_join(cs_ui, [("l_partkey", "l_partkey")])
    j = j.inner_join(pd_, [("l_partkey", "p_partkey")], broadcast=True)
    j = j.inner_join(s, [("l_suppkey", "s_suppkey")], broadcast=True)
    j = j.inner_join(sn, [("s_nationkey", "s_nationkey")], broadcast=True)
    j = j.inner_join(o, [("l_orderkey", "o_orderkey")])
    j = j.inner_join(c, [("o_custkey", "c_custkey")])
    j = j.inner_join(cn, [("c_nationkey", "c_nationkey")], broadcast=True)
    j = j.mutate(syear=j.o_orderdate.year())
    g = j.group_by("p_name", "s_nation", "c_nation", "syear").aggregate(
        cnt=j.l_orderkey.count(),
        s1=j.l_quantity.sum().round(2),
        s2=(j.l_extendedprice * (1 - j.l_discount)).sum().round(4),
    )
    return g.select(
        "p_name", "s_nation", "c_nation", "syear", "cnt", "s1", "s2"
    ).to_spark()


def _ds_sales_growth_pairs(spark, sf_dir):
    """DS q64 final shape (reference ds/64.sql): the cross_sales CTE
    self-joined on item across two consecutive years, keeping items
    whose later-year sale count did not grow (cnt_y2 <= cnt_y1). One
    aggregate feeds both sides — Spark reuses the exchange."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.inner_join(o, [("l_orderkey", "o_orderkey")])
    j = j.mutate(yr=j.o_orderdate.year())
    cs = j.group_by("l_partkey", "yr").aggregate(
        cnt=j.l_orderkey.count(),
        rev=(j.l_extendedprice * (1 - j.l_discount)).sum().round(4),
    )
    y1 = cs.filter(cs.yr == 1996).select("l_partkey", cnt96="cnt", rev96="rev")
    y2 = cs.filter(cs.yr == 1997).select("l_partkey", cnt97="cnt", rev97="rev")
    out = y1.inner_join(y2, [("l_partkey", "l_partkey")])
    out = out.filter(out.cnt97 <= out.cnt96)
    return out.select(
        "l_partkey", "cnt96", "rev96", "cnt97", "rev97"
    ).to_spark()


_SAMPLE_WINDOW = [
    # r15 rotation: the nine entries whose latest sampled evidence is
    # still r9 — the alphabetical tail of the r14 backlog below, which
    # a 50-query sample did not reach — move to the front.
    "table_cast",
    "temporal_arith",
    "text_stats",
    "tfidf",
    "timestamp_bucket",
    "udf_pyarrow",
    "unnest_tokens",
    "week_doy",
    "window_percent",
    # r14 rotation. Slots: (1) the 3 NEW entries (erosion/holed/MULTI*
    # buffers; EPSG:27700; EPSG:2154), (2) 10 entries whose machinery
    # or emission changed this round (geo_buffer_polygon_report:
    # never driver-sampled before AND its null_holed pin became a
    # closed-form area; the batch-buffer/clip entries after the
    # flat-column staging, ring self-crossing and truncated-EWKB
    # guards, the crossing-holes and multi-edge kernel classes and
    # their new fixture groups incl. clip_general's s=1 answering;
    # q5/q10/q17/q14 after the join-order/pre-aggregate/window
    # rewrites), (3) the r9-stale oracled queries (46 in r14; the
    # nine of its alphabetical tail that a 50-query sample missed now
    # lead the window, the other 37 follow here).
    # -- (1) new r14 entries --
    "geo_buffer_erosion_report",
    "geo_convert_osgb_report",
    "geo_convert_l93_report",
    # -- (2) changed machinery: prove results --
    "geo_buffer_polygon_report",
    "geo_buffer_polyline_report",
    "geo_buffer_report",
    "geo_clip_batch_report",
    "geo_clip_holed_report",
    "geo_clip_general_report",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q17_small_quantity",
    "q14_promo_revenue",
    # -- (3) the rest of the r14 r9-stale backlog --
    "corpus_divergence",
    "ds_channel_except",
    "ds_channel_intersect",
    "ds_conditional_report",
    "ds_cube_report",
    "ds_grouping_sets_union",
    "ds_monthly_vs_avg",
    "ds_multi_channel",
    "ds_quarterly_share",
    "ds_rank_over_rollup",
    "ds_returns_net",
    "ds_rollup_report",
    "ds_vs_group_avg",
    "ds_year_over_year",
    "ds_yoy_lag",
    "misc_scalars",
    "ngram_lm_score",
    "ordered_reductions_desc",
    "parse_roundtrip",
    "pivot_longer",
    "pivot_wider",
    "q12_priority_shipping",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "q19_discounted_revenue",
    "q8_market_share",
    "q9_product_profit",
    "quantiles",
    "rowid_contract",
    "salted_join_agg",
    "scalar_numeric",
    "scalar_strings",
    "scalar_temporal",
    "selector_if_any",
    "selectors_across",
    "stats",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    d = {
        # -- new in round 9: pure-Spark geo slice ----------------------------
        "geo_point_roundtrip": _geo_point_roundtrip,
        "geo_distance_filter": _geo_distance_filter,
        "geo_bbox_count": _geo_bbox_count,
        "geo_envelope_agg": _geo_envelope_agg,
        "geo_within_join": _geo_within_join,
        "geo_cluster": _geo_cluster,
        "geo_dbscan": _geo_dbscan,
        # -- new in round 10: polygon slice ----------------------------------
        "geo_polygon_contains": _geo_polygon_contains,
        "geo_polygon_area": _geo_polygon_area,
        # -- new in round 10: linestring + measures slice --------------------
        "geo_line_metrics": _geo_line_metrics,
        "geo_line_locate": _geo_line_locate,
        "geo_union_agg": _geo_union_agg,
        "geo_max_dist_report": _geo_max_dist_report,
        "geo_envelope_box": _geo_envelope_box,
        "geo_triangle_report": _geo_triangle_report,
        "geo_intersects_pt_poly": _geo_intersects_pt_poly,
        "geo_segment_cross": _geo_segment_cross,
        # -- new in round 11: decode-once architecture -----------------------
        "geo_decode_roundtrip": _geo_decode_roundtrip,
        # -- new in round 11: DE-9IM predicates + WKT + simplify -------------
        "geo_square_relations": _geo_square_relations,
        "geo_line_cross_report": _geo_line_cross_report,
        "geo_wkt_export": _geo_wkt_export,
        "geo_simplify_tolerance": _geo_simplify_tolerance,
        "geo_validity_report": _geo_validity_report,
        # -- new in round 12: MULTIPOLYGON + EWKB + set operations -----------
        "geo_multipolygon_report": _geo_multipolygon_report,
        "geo_clip_report": _geo_clip_report,
        "geo_clip_batch_report": _geo_clip_batch_report,
        "geo_clip_general_report": _geo_clip_general_report,
        "geo_transform_report": _geo_transform_report,
        "geo_convert_osgb_report": _geo_convert_osgb_report,
        "geo_convert_l93_report": _geo_convert_l93_report,
        "geo_buffer_report": _geo_buffer_report,
        "audio_features_report": _audio_features_report,
        "geo_line_merge_report": _geo_line_merge_report,
        # -- new in round 13: GEOMETRYCOLLECTION + EWKB input, line buffer --
        "geo_collection_report": _geo_collection_report,
        "geo_buffer_line_report": _geo_buffer_line_report,
        "geo_clip_holed_report": _geo_clip_holed_report,
        "geo_buffer_polyline_report": _geo_buffer_polyline_report,
        "geo_buffer_polygon_report": _geo_buffer_polygon_report,
        "geo_buffer_erosion_report": _geo_buffer_erosion_report,
        # -- new in round 10: TPC-DS correlated tranche ----------------------
        "ds_returns_above_avg": _ds_returns_above_avg,
        "ds_frequent_items": _ds_frequent_items,
        "ds_best_customers": _ds_best_customers,
        "ds_cross_channel_best": _ds_cross_channel_best,
        "ds_wide_multijoin": _ds_wide_multijoin,
        "ds_sales_growth_pairs": _ds_sales_growth_pairs,
        # -- new in round 9: TPC-DS-derived shapes ---------------------------
        "ds_rollup_report": _ds_rollup_report,
        "ds_rank_over_rollup": _ds_rank_over_rollup,
        "ds_cube_report": _ds_cube_report,
        "ds_multi_channel": _ds_multi_channel,
        "ds_year_over_year": _ds_year_over_year,
        "ds_vs_group_avg": _ds_vs_group_avg,
        "ds_monthly_vs_avg": _ds_monthly_vs_avg,
        "ds_channel_intersect": _ds_channel_intersect,
        "ds_channel_except": _ds_channel_except,
        "ds_conditional_report": _ds_conditional_report,
        "ds_quarterly_share": _ds_quarterly_share,
        "ds_yoy_lag": _ds_yoy_lag,
        "ds_grouping_sets_union": _ds_grouping_sets_union,
        "ds_time_band_counts": _ds_time_band_counts,
        "ds_returns_net": _ds_returns_net,
        "ds_cume_channels": _ds_cume_channels,
        # -- new / changed in round 7 --------------------------------------
        "q2_min_cost_supplier": _q2_min_cost_supplier,
        "q11_important_stock": _q11_important_stock,
        "q21_suppliers_kept_waiting": _q21_suppliers_kept_waiting,
        "dedup_clusters": _dedup_clusters,
        "funnel": _funnel,
        "retention": _retention,
        "embedding_clusters": _embedding_clusters,
        "key_skew_stats": _key_skew_stats,
        "mixture_sample": _mixture_sample,
        "ngram_lm_score": _ngram_lm_score,
        "line_dedup": _line_dedup,
        "remove_duplicated_spans": _remove_duplicated_spans,
        "gopher_filter": _gopher_filter,
        "domain_quota_sample": _domain_quota_sample,
        "decontaminate": _decontaminate,
        "connected_components": _connected_components,
        "connected_components_isolated": _connected_components_isolated,
        "pagerank": _pagerank,
        "pagerank_isolated": _pagerank_isolated,
        "range_join": _range_join,
        "gap_fill": _gap_fill,
        "weighted_sample": _weighted_sample,
        "quantile_filter": _quantile_filter,
        "quantile_bucket": _quantile_bucket,
        "pack_sequences": _pack_sequences,
        "contamination_score": _contamination_score,
        "corpus_divergence": _corpus_divergence,
        "cross_dedup": _cross_dedup,
        "grouped_topk": _grouped_topk,
        "table_diff": _table_diff,
        "ann_recall": _ann_recall,
        "ann_recall_lsh": _ann_recall_lsh,
        "bpe_encode": _bpe_encode,
        "hash_sample": _hash_sample,
        "hash_split": _hash_split,
        "chunk_text": _chunk_text,
        "redact": _redact,
        "top_ngrams": _top_ngrams,
        "tfidf": _tfidf,
        "sessionize": _sessionize,
        "sessionize_tws": _sessionize_tws,
        "quality_score": _quality_score,
        "ann_ivf_topk": _ann_ivf_topk,
        "array_named_reductions": _array_named_reductions,
        # -- oldest driver evidence (last green r4) --------------------------
        "distinct_rows": _distinct_rows,
        "distinct_keep_none": _distinct_keep_none,
        "distinct_keep_last": _distinct_keep_last,
        "value_counts": _value_counts,
        "topk": _topk,
        "drop_fill_null": _drop_fill_null,
        "join_inner_chain": _join_inner_chain,
        "join_left": _join_left,
        "join_semi": _join_semi,
        "join_anti": _join_anti,
        "join_theta": _join_theta,
        "join_asof": _join_asof,
        "join_asof_forward": _join_asof_forward,
        "join_asof_nearest": _join_asof_nearest,
        "join_positional": _join_positional,
        "set_union_all": _set_union_all,
        "set_union_distinct": _set_union_distinct,
        "set_intersect": _set_intersect,
        "set_difference": _set_difference,
        "set_difference_all": _set_difference_all,
        "window_rank": _window_rank,
        "window_lag": _window_lag,
        "window_cumsum": _window_cumsum,
        "window_moving_avg": _window_moving_avg,
        "window_ntile": _window_ntile,
        "window_first_last": _window_first_last,
        "window_nth": _window_nth,
        "substitute": _substitute,
        "in_subquery": _in_subquery,
        "notin_subquery": _notin_subquery,
        "scalar_subquery": _scalar_subquery,
        "q17_small_quantity": _q17_small_quantity,
        "exists_subquery": _exists_subquery,
        "not_exists_subquery": _not_exists_subquery,
        # -- r5 refresh fill (window slots 40-50) ----------------------------
        "scalar_strings": _scalar_strings,
        "scalar_temporal": _scalar_temporal,
        "scalar_numeric": _scalar_numeric,
        # -- outside the 50-slot window: driver-green r5/r6 ------------------
        "describe_table": _describe_table,
        "q8_market_share": _q8_market_share,
        "q9_product_profit": _q9_product_profit,
        "selectors_across": _selectors_across,
        "pivot_longer": _pivot_longer,
        "pivot_wider": _pivot_wider,
        "json_typed_accessors": _json_typed_accessors,
        "udf_pyarrow": _udf_pyarrow,
        "map_struct_ops": _map_struct_ops,
        "array_hof": _array_hof,
        "regex_ops": _regex_ops,
        "hash_ops": _hash_ops,
        "bitwise_ops": _bitwise_ops,
        "temporal_ctors": _temporal_ctors,
        "temporal_delta": _temporal_delta,
        "integer_range_unnest": _integer_range_unnest,
        "sql_escape_hatch": _sql_escape_hatch,
        "dedup_minhash_verified": _dedup_minhash_verified,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_embedding": _dedup_embedding,
        "ann_cosine_topk": _ann_cosine_topk,
        "lang_id": _lang_id,
        "token_count_bpe": _token_count_bpe,
        "udf_pandas": _udf_pandas,
        "udf_python": _udf_python,
        "udf_builtin": _udf_builtin,
        "udf_grouped_agg": _udf_grouped_agg,
        "tumble": _tumble,
        "hop": _hop,
        "session_window": _session_window,
        "rollup_agg": _rollup_agg,
        "cube_agg": _cube_agg,
        "interval_range_window": _interval_range_window,
        "info_table": _info_table,
        "collect_ordered": _collect_ordered,
        "pivot_wider_explicit": _pivot_wider_explicit,
        "repetition_score": _repetition_score,
        "winnow_fingerprint": _winnow_fingerprint,
        "pretokenize": _pretokenize,
        "q1": _q1,
        "q3_shipping_priority": _q3_shipping_priority,
        "q4_order_priority": _q4_order_priority,
        "q5_local_supplier_volume": _q5_local_supplier_volume,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q7_volume_shipping": _q7_volume_shipping,
        "q20_big_suppliers": _q20_big_suppliers,
        "q22_global_sales_opportunity": _q22_global_sales_opportunity,
        "q10_returned_items": _q10_returned_items,
        "q14_promo_revenue": _q14_promo_revenue,
        "q18_large_volume_customer": _q18_large_volume_customer,
        "filter_sort_limit": _filter_sort_limit,
        "agg_filtered": _agg_filtered,
        "agg_having": _agg_having,
        "bool_cum_windows": _bool_cum_windows,
        "bool_agg_not": _bool_agg_not,
        "interval_unit_views": _interval_unit_views,
        "parse_roundtrip": _parse_roundtrip,
        "histogram_bins": _histogram_bins,
        "selector_if_any": _selector_if_any,
        "salted_join_agg": _salted_join_agg,
        "rowid_contract": _rowid_contract,
        "grouped_fraction": _grouped_fraction,
        "q12_priority_shipping": _q12_priority_shipping,
        "q13_customer_distribution": _q13_customer_distribution,
        "q15_top_supplier": _q15_top_supplier,
        "q16_supplier_cnt": _q16_supplier_cnt,
        "q19_discounted_revenue": _q19_discounted_revenue,
        "misc_scalars": _misc_scalars,
        "week_doy": _week_doy,
        "case_when": _case_when,
        "bucket_histogram": _bucket_histogram,
        "quantiles": _quantiles,
        "stats": _stats,
        "count_distinct_star": _count_distinct_star,
        "group_concat": _group_concat,
        "ordered_reductions_desc": _ordered_reductions_desc,
        "arg_reductions": _arg_reductions,
        "window_percent": _window_percent,
        "array_ops": _array_ops,
        "unnest_tokens": _unnest_tokens,
        "json_extract": _json_extract,
        "dedup_exact": _dedup_exact,
        "fingerprint": _fingerprint,
        "text_stats": _text_stats,
        "temporal_arith": _temporal_arith,
        "timestamp_bucket": _timestamp_bucket,
        "in_values": _in_values,
        "between_time": _between_time,
        "table_cast": _table_cast,
        # -- rows-only by design (hash not DuckDB-reproducible; SURVEY §8) ---
        "dedup_minhash": _dedup_minhash,
        "simhash": _simhash,
        "ann_lsh_topk": _ann_lsh_topk,
    }
    missing = [k for k in _SAMPLE_WINDOW if k not in d]
    assert not missing, f"sample window names unknown queries: {missing}"
    ordered = _SAMPLE_WINDOW + [k for k in d if k not in _SAMPLE_WINDOW]
    return {k: d[k] for k in ordered}


def _det_ln_sql(mm_expr: str, bits: int) -> str:
    """DuckDB SQL for the engine's libm-free ``ln(mm / 2**bits)``
    (ibis_spark.pipeline._det_ln_frac_cols): mm a BIGINT expression in
    [1, 2**bits]. Only correctly-rounded IEEE ops (+,-,*,/) and exact
    integer ops (bin-length floor-log2, shiftleft), with the identical
    parenthesization/Horner order as the Spark side, so both engines
    produce BIT-IDENTICAL doubles — the cross-libm determinism fix for
    every hashed value that used to flow through libm LN."""
    return f"""
      (SELECT 2.0 * z * ((((((0.07692307692307693 * z2 + 0.09090909090909091)
                 * z2 + 0.1111111111111111) * z2 + 0.14285714285714285)
                 * z2 + 0.2) * z2 + 0.3333333333333333) * z2 + 1.0)
              + CAST(e - {bits} AS DOUBLE) * 0.6931471805599453
       FROM (SELECT z, z*z AS z2, e FROM
             (SELECT (f - 1.0) / (f + 1.0) AS z, e FROM
              (SELECT CAST(mm AS DOUBLE) / CAST((1::BIGINT << e) AS DOUBLE) AS f, e FROM
               (SELECT mm, CAST(length(bin(mm)) - 1 AS INTEGER) AS e FROM
                (SELECT ({mm_expr}) AS mm))))))"""


def _det_ln_pos_sql(x_expr: str) -> str:
    """DuckDB SQL mirroring ibis_spark.pipeline._with_det_ln_pos: the
    general-domain deterministic ln of a positive DOUBLE expression.
    Binary normalization by exact power-of-two literals (identical
    branch predicates and op order as the Spark side), then the shared
    atanh polynomial — bit-identical doubles on both engines."""
    ks = (512, 256, 128, 64, 32, 16, 8, 4, 2, 1)
    q = f"(SELECT CAST(({x_expr}) AS DOUBLE) AS f, 0 AS e)"
    for k in ks:
        big = repr(float(2.0 ** k))
        thr = repr(float(2.0 ** (1 - k)))
        q = (
            f"(SELECT CASE WHEN f >= {big} THEN f / {big}"
            f" WHEN f < {thr} THEN f * {big} ELSE f END AS f,"
            f" CASE WHEN f >= {big} THEN e + {k}"
            f" WHEN f < {thr} THEN e - {k} ELSE e END AS e FROM {q})"
        )
    return f"""
      (SELECT 2.0 * z * ((((((0.07692307692307693 * z2 + 0.09090909090909091)
                 * z2 + 0.1111111111111111) * z2 + 0.14285714285714285)
                 * z2 + 0.2) * z2 + 0.3333333333333333) * z2 + 1.0)
              + CAST(e AS DOUBLE) * 0.6931471805599453
       FROM (SELECT z, z*z AS z2, e FROM
             (SELECT (f - 1.0) / (f + 1.0) AS z, e FROM {q})))"""


def _det_ln_unit_sql(x_expr: str) -> str:
    """DuckDB SQL mirroring ibis_spark.pipeline._with_det_ln_unit: the
    cheap deterministic ln for DOUBLE arguments in [2**-61, 2]
    (probability ratios p/m <= 2). Exponent via FLOOR(x * 2**61) then
    bit-length — FLOOR on both engines because a raw double->bigint
    cast truncates on Spark but rounds on DuckDB — then an exact
    power-of-two rescale and the shared atanh polynomial. Bit-identical
    doubles on both engines."""
    two61 = repr(float(2.0**61))
    return f"""
      (SELECT 2.0 * z * ((((((0.07692307692307693 * z2 + 0.09090909090909091)
                 * z2 + 0.1111111111111111) * z2 + 0.14285714285714285)
                 * z2 + 0.2) * z2 + 0.3333333333333333) * z2 + 1.0)
              + CAST(e AS DOUBLE) * 0.6931471805599453
       FROM (SELECT z, z*z AS z2, e FROM
             (SELECT (f - 1.0) / (f + 1.0) AS z, e FROM
              (SELECT CASE WHEN e >= 0
                           THEN x / CAST((1::BIGINT << e) AS DOUBLE)
                           ELSE x * CAST((1::BIGINT << (-e)) AS DOUBLE)
                      END AS f, e FROM
               (SELECT x, CAST(length(bin(m)) - 62 AS INTEGER) AS e FROM
                (SELECT x, CAST(FLOOR(x * {two61}) AS BIGINT) AS m FROM
                 (SELECT CAST(({x_expr}) AS DOUBLE) AS x)))))))"""


def _det_exp_sql(x_expr: str) -> str:
    """DuckDB SQL mirroring ibis_spark.pipeline._with_det_exp: the
    deterministic exp of a DOUBLE expression (|x| ≲ 43), bit-identical
    to the Spark side — shiftleft for 2**k (exact), 12-term Taylor on
    the reduced argument, reciprocal for negative inputs."""
    horner = "1.0"
    coeffs = (
        2.08767569878681e-09,
        2.505210838544172e-08,
        2.755731922398589e-07,
        2.7557319223985893e-06,
        2.48015873015873e-05,
        0.0001984126984126984,
        0.001388888888888889,
        0.008333333333333333,
        0.041666666666666664,
        0.16666666666666666,
        0.5,
        1.0,
        1.0,  # 1/1! then 1/0! — Horner needs BOTH trailing ones
    )
    horner = repr(coeffs[0])
    for c in coeffs[1:]:
        horner = f"({horner}) * r + {c!r}"
    return f"""
      (SELECT CASE WHEN s < 0 THEN 1.0 / pos ELSE pos END FROM
       (SELECT s, CASE WHEN a > 43.0 THEN CAST('Infinity' AS DOUBLE)
                       ELSE CAST((1::BIGINT << kk) AS DOUBLE) * ({horner})
                  END AS pos FROM
        (SELECT s, a, a - CAST(kk AS DOUBLE) * 0.6931471805599453 AS r, kk FROM
         (SELECT s, a, CAST(FLOOR(a * 1.4426950408889634 + 0.5) AS INTEGER) AS kk FROM
          (SELECT s, ABS(s) AS a FROM (SELECT CAST(({x_expr}) AS DOUBLE) AS s))))))"""


def _utm_oracle_sql() -> str:
    """DuckDB SQL for geo_transform_report: the Snyder series with the
    IDENTICAL operation order and the engine's own Python-computed
    coefficient literals (repr-embedded, so both sides parse the same
    doubles).  sin/cos/tan/sqrt are bit-identical between Java and
    DuckDB on this range (measured); ln is not, hence wy quantized to
    mm.  The round-trip booleans are Spark-side properties — the
    oracle pins them TRUE."""
    import math as m

    a = 6378137.0
    f = 1.0 / 298.257223563
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    C = {
        "A": repr(a),
        "K0": repr(0.9996),
        "E2": repr(e2),
        "EP2": repr(ep2),
        "LAM0": repr(m.radians(31 * 6 - 183)),
        "C0": repr(1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256),
        "C1": repr(3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024),
        "C2": repr(15 * e2**2 / 256 + 45 * e2**3 / 1024),
        "C3": repr(35 * e2**3 / 3072),
        "C58": repr(58.0 * ep2),
        "C330": repr(330.0 * ep2),
        "PI4": repr(m.pi / 4.0),
    }
    sql = """
        WITH s AS (
          SELECT c_custkey,
                 CAST(c_custkey % 360 AS DOUBLE) - 179.5 AS lon,
                 (CAST(c_custkey % 160 AS DOUBLE) - 80.0) / 2.0 + 0.25 AS lat,
                 CAST(c_custkey % 12 AS DOUBLE) - 2.5 AS lon_u
          FROM customer),
        t AS (
          SELECT c_custkey, lon, lat, lon_u,
                 sin(radians(lat)) AS sphi,
                 cos(radians(lat)) AS cphi,
                 tan(radians(lat)) AS tphi,
                 radians(lat) AS phi,
                 radians(lon_u) AS lam
          FROM s),
        u AS (
          SELECT c_custkey, lon, lat, phi, tphi,
                 {A} / sqrt(1.0 - {E2} * sphi * sphi) AS N,
                 tphi * tphi AS T,
                 {EP2} * cphi * cphi AS C,
                 cphi * (lam - {LAM0}) AS Aa,
                 {A} * ({C0} * phi - {C1} * sin(phi * 2)
                        + {C2} * sin(phi * 4) - {C3} * sin(phi * 6)) AS M
          FROM t),
        v AS (
          SELECT c_custkey, lon, lat, N, T, C, M, tphi, Aa,
                 Aa * Aa AS A2
          FROM u)
        SELECT c_custkey,
               radians(lon) * {A} AS wx,
               CAST(ROUND(ln(tan({PI4} + radians(lat) / 2.0)) * {A}
                          * 1000.0) AS BIGINT) AS wy_mm,
               {K0} * N * (Aa + (1.0 - T + C) * Aa * A2 / 6.0
                 + (5.0 - 18.0 * T + T * T + 72.0 * C - {C58})
                   * Aa * A2 * A2 / 120.0) + 500000.0 AS ue,
               {K0} * (M + N * tphi * (A2 / 2.0
                 + (5.0 - T + 9.0 * C + 4.0 * C * C) * A2 * A2 / 24.0
                 + (61.0 - 58.0 * T + T * T + 600.0 * C - {C330})
                   * A2 * A2 * A2 / 720.0)) AS un,
               TRUE AS rt_wm,
               TRUE AS rt_utm
        FROM v
    """
    for k, val in C.items():
        sql = sql.replace("{" + k + "}", val)
    return sql


def _l93_oracle_sql() -> str:
    """DuckDB SQL for geo_convert_l93_report: the Snyder two-parallel
    LCC with the engine's Python-computed constants (n, a*F, rho0
    repr-embedded so both sides parse the same doubles).  pow rides on
    libm exp/ln (last-ulp differences measured), so e/n are quantized
    to millimetres; the round-trip and domain booleans are Spark-side
    properties the oracle pins TRUE."""
    import math as m

    a = 6378137.0
    f = 1.0 / 298.257222101
    e2 = f * (2.0 - f)
    e = m.sqrt(e2)

    def mm_(phi):
        return m.cos(phi) / m.sqrt(1 - e2 * m.sin(phi) ** 2)

    def tf(phi):
        s = m.sin(phi)
        return m.tan(m.pi / 4 - phi / 2) / (
            (1 - e * s) / (1 + e * s)
        ) ** (e / 2)

    f1, f2, f0 = (m.radians(v) for v in (44.0, 49.0, 46.5))
    n = (m.log(mm_(f1)) - m.log(mm_(f2))) / (
        m.log(tf(f1)) - m.log(tf(f2))
    )
    Fc = mm_(f1) / (n * tf(f1) ** n)
    rho0 = a * Fc * tf(f0) ** n
    C = {
        "E": repr(e),
        "EH": repr(e / 2.0),
        "N": repr(n),
        "AF": repr(a * Fc),
        "RHO0": repr(rho0),
        "LAM0": repr(m.radians(3.0)),
        "PI4": repr(m.pi / 4.0),
        "FE": repr(700000.0),
        "FN": repr(6600000.0),
    }
    sql = """
        WITH s AS (
          SELECT c_custkey,
                 CAST(c_custkey % 20 AS DOUBLE)/2.0 - 4.75 AS lon,
                 CAST(c_custkey % 41 AS DOUBLE)/4.0 + 41.25 AS lat
          FROM customer),
        g AS (
          SELECT c_custkey, lon, lat,
                 sin(radians(lat)) AS sphi, radians(lat) AS phi
          FROM s),
        t AS (
          SELECT c_custkey, lon,
                 tan({PI4} - phi / 2.0)
                   / pow((1.0 - {E} * sphi) / (1.0 + {E} * sphi),
                         {EH}) AS tphi
          FROM g),
        u AS (
          SELECT c_custkey,
                 {AF} * pow(tphi, {N}) AS rho,
                 {N} * (radians(lon) - {LAM0}) AS th
          FROM t)
        SELECT c_custkey,
               CAST(ROUND(({FE} + rho * sin(th)) * 1000.0) AS BIGINT)
                 AS e_mm,
               CAST(ROUND(({FN} + {RHO0} - rho * cos(th)) * 1000.0)
                 AS BIGINT) AS n_mm,
               TRUE AS rt,
               TRUE AS null_outside
        FROM u
    """
    for k, val in C.items():
        sql = sql.replace("{" + k + "}", val)
    return sql


def _osgb_oracle_sql() -> str:
    """DuckDB SQL for geo_convert_osgb_report: the full WGS84 ->
    OSGB36/BNG chain (geocentric, Helmert, Bowring, Airy TM) with the
    engine's own Python-computed coefficient literals and the
    IDENTICAL operation order.  Every primitive is in the measured
    Java==DuckDB bit-identical set (sin/cos/tan/atan/sqrt, +,-,*,/);
    easting/northing are quantized to millimetres regardless.  The
    round-trip and domain booleans are Spark-side properties — the
    oracle pins them TRUE."""
    import math as m

    aw = 6378137.0
    fw = 1.0 / 298.257223563
    e2w = fw * (2.0 - fw)
    aa = 6377563.396
    fa = 1.0 / 299.3249646
    e2a = fa * (2.0 - fa)
    ba = aa * (1.0 - fa)
    ep2a = e2a / (1.0 - e2a)
    k0 = 0.9996012717
    phi0 = m.radians(49.0)
    c0 = 1 - e2a / 4 - 3 * e2a**2 / 64 - 5 * e2a**3 / 256
    c1 = 3 * e2a / 8 + 3 * e2a**2 / 32 + 45 * e2a**3 / 1024
    c2 = 15 * e2a**2 / 256 + 45 * e2a**3 / 1024
    c3 = 35 * e2a**3 / 3072
    m0 = aa * (
        c0 * phi0 - c1 * m.sin(2 * phi0)
        + c2 * m.sin(4 * phi0) - c3 * m.sin(6 * phi0)
    )
    C = {
        "AW": repr(aw),
        "E2W": repr(e2w),
        "OME2W": repr(1.0 - e2w),
        "TX": repr(-446.448),
        "TY": repr(125.157),
        "TZ": repr(-542.060),
        "RX": repr(m.radians(-0.1502 / 3600.0)),
        "RY": repr(m.radians(-0.2470 / 3600.0)),
        "RZ": repr(m.radians(-0.8421 / 3600.0)),
        "ONES": repr(1.0 + 20.4894e-6),
        "AA": repr(aa),
        "BA": repr(ba),
        "EP2B": repr(ep2a * ba),
        "E2ABOW": repr(e2a * aa),
        "E2A": repr(e2a),
        "EP2A": repr(ep2a),
        "K0": repr(k0),
        "LAM0": repr(m.radians(-2.0)),
        "C0": repr(c0),
        "C1": repr(c1),
        "C2": repr(c2),
        "C3": repr(c3),
        "M0": repr(m0),
        "C58": repr(58.0 * ep2a),
        "C330": repr(330.0 * ep2a),
        "FE": repr(400000.0),
        "FN": repr(-100000.0),
    }
    sql = """
        WITH s AS (
          SELECT c_custkey,
                 CAST(c_custkey % 44 AS DOUBLE)/4.0 - 8.5 AS lon,
                 CAST(c_custkey % 45 AS DOUBLE)/4.0 + 49.25 AS lat
          FROM customer),
        g AS (
          SELECT c_custkey, lon, lat,
                 sin(radians(lat)) AS sphi, cos(radians(lat)) AS cphi
          FROM s),
        xg AS (
          SELECT c_custkey, lon, lat, sphi, cphi,
                 {AW} / sqrt(1.0 - {E2W} * sphi * sphi) AS nu
          FROM g),
        xyz AS (
          SELECT c_custkey, lon, lat,
                 nu * cphi * cos(radians(lon)) AS GX,
                 nu * cphi * sin(radians(lon)) AS GY,
                 nu * {OME2W} * sphi AS GZ
          FROM xg),
        h AS (
          SELECT c_custkey, lon, lat,
                 {TX} + {ONES} * GX - {RZ} * GY + {RY} * GZ AS HX,
                 {TY} + {RZ} * GX + {ONES} * GY - {RX} * GZ AS HY,
                 {TZ} - {RY} * GX + {RX} * GY + {ONES} * GZ AS HZ
          FROM xyz),
        bp AS (
          SELECT c_custkey, lon, lat, HX, HY, HZ,
                 sqrt(HX * HX + HY * HY) AS p
          FROM h),
        bt AS (
          SELECT c_custkey, lon, lat, HX, HY, HZ, p,
                 atan(HZ * {AA} / (p * {BA})) AS th
          FROM bp),
        bs AS (
          SELECT c_custkey, lon, lat, HX, HY, HZ, p,
                 sin(th) AS st, cos(th) AS ct
          FROM bt),
        bl AS (
          SELECT c_custkey, lon, lat,
                 degrees(atan(HY / HX)) AS lon_o,
                 degrees(atan((HZ + {EP2B} * st * st * st)
                              / (p - {E2ABOW} * ct * ct * ct))) AS lat_o
          FROM bs),
        t2 AS (
          SELECT c_custkey,
                 sin(radians(lat_o)) AS s2, cos(radians(lat_o)) AS c2,
                 tan(radians(lat_o)) AS tt, radians(lon_o) AS lam,
                 radians(lat_o) AS phi
          FROM bl),
        u2 AS (
          SELECT c_custkey, tt, phi,
                 {AA} / sqrt(1.0 - {E2A} * s2 * s2) AS N,
                 tt * tt AS T,
                 {EP2A} * c2 * c2 AS C,
                 c2 * (lam - {LAM0}) AS Aa,
                 {AA} * ({C0} * phi - {C1} * sin(phi * 2)
                         + {C2} * sin(phi * 4)
                         - {C3} * sin(phi * 6)) AS M
          FROM t2),
        v2 AS (
          SELECT c_custkey, tt, N, T, C, M, Aa, Aa * Aa AS A2
          FROM u2)
        SELECT c_custkey,
               CAST(ROUND(({K0} * N * (Aa + (1.0 - T + C) * Aa * A2 / 6.0
                 + (5.0 - 18.0 * T + T * T + 72.0 * C - {C58})
                   * Aa * A2 * A2 / 120.0) + {FE}) * 1000.0) AS BIGINT)
                 AS e_mm,
               CAST(ROUND(({K0} * (M - {M0} + N * tt * (A2 / 2.0
                 + (5.0 - T + 9.0 * C + 4.0 * C * C) * A2 * A2 / 24.0
                 + (61.0 - 58.0 * T + T * T + 600.0 * C - {C330})
                   * A2 * A2 * A2 / 720.0)) + {FN}) * 1000.0) AS BIGINT)
                 AS n_mm,
               TRUE AS rt,
               TRUE AS null_outside
        FROM v2
    """
    for k, val in C.items():
        sql = sql.replace("{" + k + "}", val)
    return sql


def oracle_sql() -> dict[str, str]:
    return {
        "geo_transform_report": _utm_oracle_sql(),
        "geo_convert_osgb_report": _osgb_oracle_sql(),
        "geo_convert_l93_report": _l93_oracle_sql(),
        # -- pure-Spark geo slice (round 9): the oracle recomputes the
        # coordinates directly; bit-equality holds because the engine's
        # WKB encode/decode is exact --------------------------------------
        "geo_point_roundtrip": """
            SELECT c_custkey,
                   (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                     + (c_acctbal / 1000000.0) AS x,
                   (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                     + (c_acctbal / 2000000.0) AS y
            FROM customer
        """,
        "geo_distance_filter": """
            WITH p AS (
              SELECT c_custkey, n_name,
                     (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                       + (c_acctbal / 1000000.0) AS cx,
                     (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                       + (c_acctbal / 2000000.0) AS cy,
                     CAST(n_nationkey * 14 AS DOUBLE) - 175.0 AS nx,
                     CAST(n_nationkey * 7 AS DOUBLE) - 87.0 AS ny
              FROM customer JOIN nation ON c_nationkey = n_nationkey)
            SELECT c_custkey, n_name,
                   SQRT((cx - nx) * (cx - nx) + (cy - ny) * (cy - ny)) AS dist,
                   ((cx - nx) * (cx - nx) + (cy - ny) * (cy - ny))
                     <= 60.0 * 60.0 AS near
            FROM p
        """,
        "geo_bbox_count": """
            WITH p AS (
              SELECT c_custkey, c_nationkey,
                     (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                       + (c_acctbal / 1000000.0) AS x,
                     (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                       + (c_acctbal / 2000000.0) AS y
              FROM customer)
            SELECT c_nationkey, COUNT(c_custkey) AS n_in
            FROM p
            WHERE x >= -90.0 AND x <= 90.0 AND y >= -45.0 AND y <= 45.0
            GROUP BY c_nationkey
        """,
        "geo_envelope_agg": """
            WITH p AS (
              SELECT c_nationkey,
                     (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                       + (c_acctbal / 1000000.0) AS x,
                     (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                       + (c_acctbal / 2000000.0) AS y
              FROM customer)
            SELECT c_nationkey,
                   MIN(x) AS xmin, MAX(x) AS xmax,
                   MIN(y) AS ymin, MAX(y) AS ymax,
                   COUNT(*) AS n_eq
            FROM p
            GROUP BY c_nationkey
        """,
        "geo_within_join": """
            WITH c AS (
              SELECT c_custkey,
                     (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                       + (c_acctbal / 1000000.0) AS x,
                     (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                       + (c_acctbal / 2000000.0) AS y
              FROM customer),
            n AS (
              SELECT n_nationkey,
                     CAST(n_nationkey * 14 AS DOUBLE) - 175.0 AS x,
                     CAST(n_nationkey * 7 AS DOUBLE) - 87.0 AS y
              FROM nation)
            SELECT c.c_custkey, n.n_nationkey,
                   SQRT((c.x - n.x) * (c.x - n.x) + (c.y - n.y) * (c.y - n.y)) AS dist
            FROM c, n
            WHERE (c.x - n.x) * (c.x - n.x) + (c.y - n.y) * (c.y - n.y)
                  <= 25.0 * 25.0
        """,
        "geo_polygon_contains": """
            WITH p AS (
              SELECT c_custkey, n_nationkey,
                     (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                       + (c_acctbal / 1000000.0) AS x,
                     (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                       + (c_acctbal / 2000000.0) AS y,
                     CAST(n_nationkey * 14 AS DOUBLE) - 175.0 AS cx,
                     CAST(n_nationkey * 7 AS DOUBLE) - 87.0 AS cy
              FROM customer JOIN nation ON c_nationkey = n_nationkey)
            SELECT c_custkey, n_nationkey,
                   (ABS(x - cx) + ABS(y - cy) < 30.5)
                   AND NOT (ABS(x - cx) + ABS(y - cy) < 8.25) AS inside
            FROM p
        """,
        "geo_polygon_area": """
            SELECT n_nationkey,
                   2.0 * (CAST(n_nationkey AS DOUBLE) + 10.5)
                       * (CAST(n_nationkey AS DOUBLE) + 10.5)
                   - 2.0 * 2.25 * 2.25 AS area
            FROM nation
        """,
        "geo_line_metrics": """
            SELECT o_orderkey,
                   CAST(15.0 AS DOUBLE) AS length,
                   CAST(3 AS BIGINT) AS npts,
                   CAST(o_orderkey % 100 AS DOUBLE) AS sx,
                   CAST(-4.0 AS DOUBLE) AS ey,
                   CAST(o_orderkey % 100 AS DOUBLE) + 3.0 AS p2x,
                   CAST(o_orderkey % 100 AS DOUBLE) + 9.0 AS fy,
                   'LINESTRING' AS typ
            FROM orders
        """,
        "geo_line_locate": """
            SELECT o_orderkey,
                   5.0 / 15.0 AS loc_tie,
                   10.0 / 15.0 AS loc_mid,
                   CAST(3 AS BIGINT) AS sub_npts,
                   CAST(7.5 AS DOUBLE) AS sub_len,
                   CAST(o_orderkey % 100 AS DOUBLE) + 2.25 AS sub_sx,
                   CAST(-1.0 AS DOUBLE) AS sub_ey
            FROM orders
        """,
        "geo_union_agg": """
            WITH p AS (
              SELECT DISTINCT c_nationkey,
                     (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                       + (c_acctbal / 1000000.0) AS x,
                     (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                       + (c_acctbal / 2000000.0) AS y
              FROM customer)
            SELECT c_nationkey,
                   COUNT(*) AS npts,
                   'MULTIPOINT' AS typ,
                   MIN(x) AS uxmin, MAX(x) AS uxmax,
                   MIN(y) AS uymin, MAX(y) AS uymax
            FROM p GROUP BY c_nationkey
        """,
        "geo_max_dist_report": """
            WITH p AS (
              SELECT c_custkey, n_nationkey,
                     (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                       + (c_acctbal / 1000000.0) AS x,
                     (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                       + (c_acctbal / 2000000.0) AS y,
                     CAST(n_nationkey * 14 AS DOUBLE) - 175.0 AS cx,
                     CAST(n_nationkey * 7 AS DOUBLE) - 87.0 AS cy
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE c_nationkey < 10),
            d AS (
              SELECT c_custkey, n_nationkey,
                     GREATEST(
                       (x-(cx+30.5))*(x-(cx+30.5)) + (y-cy)*(y-cy),
                       (x-cx)*(x-cx) + (y-(cy+30.5))*(y-(cy+30.5)),
                       (x-(cx-30.5))*(x-(cx-30.5)) + (y-cy)*(y-cy),
                       (x-cx)*(x-cx) + (y-(cy-30.5))*(y-(cy-30.5))
                     ) AS m2
              FROM p)
            SELECT c_custkey, n_nationkey,
                   SQRT(m2) AS md,
                   m2 <= 120.0 * 120.0 AS fw
            FROM d
        """,
        "geo_envelope_box": """
            WITH g AS (
              SELECT n_nationkey,
                     CAST(n_nationkey * 14 AS DOUBLE) - 175.0 AS cx,
                     CAST(n_nationkey * 7 AS DOUBLE) - 87.0 AS cy,
                     CAST(n_nationkey AS DOUBLE) + 10.5 AS r
              FROM nation)
            SELECT n_nationkey,
                   cx - r AS exmin, cx + r AS exmax,
                   cy - r AS eymin, cy + r AS eymax,
                   (2.0 * r) * (2.0 * r) AS env_area,
                   8.0 * r AS env_perim,
                   CAST(1 AS BIGINT) AS env_rings,
                   'POLYGON' AS env_type
            FROM g
        """,
        "geo_triangle_report": """
            SELECT n_nationkey,
                   CAST(n_nationkey * 3 AS DOUBLE) + 2.0 AS cx,
                   64.0 / 24.0 AS cy,
                   CAST(24.0 AS DOUBLE) AS perim,
                   CAST(24.0 AS DOUBLE) AS area,
                   CAST(4 AS BIGINT) AS npts,
                   CAST(1 AS BIGINT) AS nrings
            FROM nation
        """,
        "geo_intersects_pt_poly": """
            WITH p AS (
              SELECT c_custkey, n_nationkey,
                     (CAST(c_custkey % 360 AS DOUBLE) - 180.0)
                       + (c_acctbal / 1000000.0) AS x,
                     (CAST(c_custkey % 180 AS DOUBLE) - 90.0)
                       + (c_acctbal / 2000000.0) AS y,
                     CAST(n_nationkey * 14 AS DOUBLE) - 175.0 AS cx,
                     CAST(n_nationkey * 7 AS DOUBLE) - 87.0 AS cy
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE c_nationkey < 10)
            SELECT c_custkey, n_nationkey,
                   (ABS(x - cx) + ABS(y - cy) < 30.5)
                   AND NOT (ABS(x - cx) + ABS(y - cy) < 8.25) AS hits,
                   (c_custkey % 2 = 0) AS pteq
            FROM p
        """,
        "geo_segment_cross": """
            -- independent SQL spelling of the CLRS 33.1 segment test:
            -- A = (0,0)-(10,k), B = (0,m)-(10,13-m); d1..d4 are exact
            -- integer orientation products
            WITH s AS (
              SELECT c_custkey,
                     CAST(c_custkey % 13 AS DOUBLE) AS k,
                     CAST(c_custkey % 7 AS DOUBLE) AS m
              FROM customer),
            d AS (
              SELECT c_custkey, k, m,
                     -10.0 * m AS d1,
                     10.0 * k + 10.0 * m - 130.0 AS d2,
                     10.0 * m AS d3,
                     130.0 - 10.0 * m - 10.0 * k AS d4
              FROM s)
            SELECT c_custkey,
                   (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
                    AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
                   OR (d1 = 0 AND 0.0 BETWEEN LEAST(m, 13.0 - m)
                                          AND GREATEST(m, 13.0 - m))
                   OR (d2 = 0 AND k BETWEEN LEAST(m, 13.0 - m)
                                        AND GREATEST(m, 13.0 - m))
                   OR (d3 = 0 AND m BETWEEN LEAST(0.0, k)
                                        AND GREATEST(0.0, k))
                   OR (d4 = 0 AND (13.0 - m) BETWEEN LEAST(0.0, k)
                                               AND GREATEST(0.0, k))
                   AS crossed
            FROM d
        """,
        "geo_decode_roundtrip": """
            -- decode-once closed forms: the 3-4-5 double-triangle line
            -- has exact length 15, xmax k+9, 3 vertices, and the byte
            -- round-trip is an identity for in-domain coordinates
            SELECT o_orderkey,
                   TRUE AS rt_ok,
                   CAST(15.0 AS DOUBLE) AS ln,
                   CAST(o_orderkey % 100 AS DOUBLE) + 9.0 AS xmax,
                   CAST(3 AS BIGINT) AS npts
            FROM orders
        """,
        "geo_square_relations": """
            -- closed-form DE-9IM relations of two 4x4 squares offset
            -- horizontally by d: |d|>4 disjoint, |d|=4 touches,
            -- 0<|d|<4 overlaps, d=0 equal (covers+within)
            WITH s AS (
              SELECT c_custkey, ABS((c_custkey % 13) - 6) AS ad
              FROM customer)
            SELECT c_custkey,
                   ad = 4 AS touches,
                   ad > 4 AS disjoint,
                   ad > 0 AND ad < 4 AS overlaps,
                   ad = 0 AS covers,
                   ad = 0 AS within,
                   FALSE AS crosses
            FROM s
        """,
        "geo_line_cross_report": """
            -- length-3 line at y=2 sliding over [0,4]^2: interval
            -- closed forms on x0 = (c_custkey%13)-6
            WITH s AS (
              SELECT c_custkey,
                     (c_custkey % 13) - 6 AS x0,
                     (c_custkey % 13) - 3 AS x1
              FROM customer)
            SELECT c_custkey,
                   (x1 > 0 AND x0 < 4) AND (x0 < 0 OR x1 > 4) AS crosses,
                   x0 >= 0 AND x1 <= 4 AS covers,
                   x0 >= 0 AND x1 <= 4 AS within,
                   x0 > 0 AND x1 < 4 AS cp,
                   (x1 = 0 OR x0 = 4) AS touches
            FROM s
        """,
        "geo_wkt_export": """
            -- exact WKT strings rebuilt by SQL concatenation (integer
            -- coordinates print with no decimal part)
            SELECT o_orderkey,
                   'POINT (' || CAST(o_orderkey % 100 AS VARCHAR) || ' '
                     || CAST((o_orderkey % 100) - 50 AS VARCHAR) || ')'
                     AS wkt_pt,
                   'LINESTRING (' || CAST(o_orderkey % 100 AS VARCHAR)
                     || ' 0, ' || CAST((o_orderkey % 100) + 3 AS VARCHAR)
                     || ' 4)' AS wkt_line,
                   'SRID=4326;POINT ('
                     || CAST(o_orderkey % 100 AS VARCHAR) || ' '
                     || CAST((o_orderkey % 100) - 50 AS VARCHAR) || ')'
                     AS ewkt_pt,
                   -- EWKB of POINT(2^(k%5), 1.0) with SRID 4326: header
                   -- 01 + (type|0x20000000 LE) + E6100000, then the two
                   -- LE IEEE images (powers of two = exponent-only hex)
                   CASE CAST(o_orderkey % 5 AS INT)
                     WHEN 0 THEN '0101000020E6100000000000000000F03F000000000000F03F'
                     WHEN 1 THEN '0101000020E61000000000000000000040000000000000F03F'
                     WHEN 2 THEN '0101000020E61000000000000000001040000000000000F03F'
                     WHEN 3 THEN '0101000020E61000000000000000002040000000000000F03F'
                     ELSE        '0101000020E61000000000000000003040000000000000F03F'
                   END AS ewkb_hex
            FROM orders
        """,
        "geo_simplify_tolerance": """
            -- Douglas-Peucker closed form: the midpoint's chord
            -- distance IS the deviation, dropped iff <= tolerance;
            -- CAST(0.4 AS DOUBLE) keeps DuckDB off its DECIMAL typing
            WITH s AS (
              SELECT o_orderkey,
                     CAST(o_orderkey % 5 AS DOUBLE)
                       * CAST(0.4 AS DOUBLE) AS dev
              FROM orders)
            SELECT o_orderkey,
                   CASE WHEN dev <= 1.0 THEN CAST(2 AS BIGINT)
                        ELSE CAST(3 AS BIGINT) END AS npts,
                   CASE WHEN dev <= 1.0 THEN CAST(10.0 AS DOUBLE)
                        ELSE CAST(2.0 AS DOUBLE)
                          * SQRT(CAST(25.0 AS DOUBLE) + dev * dev)
                   END AS slen
            FROM s
        """,
        "geo_validity_report": """
            SELECT o_orderkey,
                   TRUE AS v_line,
                   FALSE AS v_junk,
                   TRUE AS oe_same,
                   FALSE AS oe_flip
            FROM orders
        """,
        "geo_multipolygon_report": """
            -- closed forms: the 2-member multipolygon always has 15
            -- vertices / 3 rings; the WKT string is rebuilt by SQL
            -- concatenation (integer coordinates, DuckDB-spatial
            -- MULTIPOLYGON (((...)), ((...))) nesting)
            WITH s AS (
              SELECT o_orderkey,
                     CAST(o_orderkey % 50 AS VARCHAR) AS k0,
                     CAST((o_orderkey % 50) + 1 AS VARCHAR) AS k1,
                     CAST((o_orderkey % 50) + 2 AS VARCHAR) AS k2,
                     CAST((o_orderkey % 50) + 4 AS VARCHAR) AS k4,
                     CAST((o_orderkey % 50) + 10 AS VARCHAR) AS k10,
                     CAST((o_orderkey % 50) + 12 AS VARCHAR) AS k12
              FROM orders)
            SELECT o_orderkey,
                   CAST(15 AS BIGINT) AS npts,
                   CAST(3 AS BIGINT) AS nrings,
                   'MULTIPOLYGON' AS gt,
                   TRUE AS valid,
                   'MULTIPOLYGON (((' || k0 || ' 0, ' || k4 || ' 0, '
                     || k4 || ' 4, ' || k0 || ' 4, ' || k0 || ' 0), ('
                     || k1 || ' 1, ' || k2 || ' 1, ' || k2 || ' 2, '
                     || k1 || ' 2, ' || k1 || ' 1)), ((' || k10
                     || ' 10, ' || k12 || ' 10, ' || k12 || ' 12, '
                     || k10 || ' 12, ' || k10 || ' 10)))' AS wkt,
                   TRUE AS rt_ok
            FROM s
        """,
        "geo_clip_report": """
            -- 4x4 squares offset by d: overlap width w = 4-|d| when
            -- |d|<4; touching (|d|=4) lowers the intersection to a
            -- line -> NULLs; disjoint keeps difference/union trivial
            WITH s AS (
              SELECT c_custkey,
                     CAST((c_custkey % 13) - 6 AS DOUBLE) AS d
              FROM customer)
            SELECT c_custkey,
                   CASE WHEN ABS(d) < 4 THEN 4 * (4 - ABS(d)) END AS ia,
                   CASE WHEN ABS(d) < 4 THEN CAST(5 AS BIGINT) END AS ip,
                   CASE WHEN ABS(d) < 4
                        THEN CASE WHEN d > 0 THEN d ELSE CAST(0 AS DOUBLE) END
                   END AS ixmin,
                   CASE WHEN ABS(d) < 4
                        THEN CASE WHEN d < 0 THEN 4 + d ELSE CAST(4 AS DOUBLE) END
                   END AS ixmax,
                   CASE WHEN ABS(d) < 4 THEN 16 - 4 * (4 - ABS(d))
                        ELSE CAST(16 AS DOUBLE) END AS da,
                   CASE WHEN ABS(d) < 4 THEN 32 - 4 * (4 - ABS(d))
                        ELSE CAST(32 AS DOUBLE) END AS ua
            FROM s
        """,
        "geo_clip_batch_report": """
            -- identical closed form to geo_clip_report: the batch
            -- kernels replicate the expression S-H arithmetic exactly
            WITH s AS (
              SELECT c_custkey,
                     CAST((c_custkey % 13) - 6 AS DOUBLE) AS d
              FROM customer)
            SELECT c_custkey,
                   CASE WHEN ABS(d) < 4 THEN 4 * (4 - ABS(d)) END AS ia,
                   CASE WHEN ABS(d) < 4 THEN CAST(5 AS BIGINT) END AS ip,
                   CASE WHEN ABS(d) < 4
                        THEN CASE WHEN d > 0 THEN d ELSE CAST(0 AS DOUBLE) END
                   END AS ixmin,
                   CASE WHEN ABS(d) < 4
                        THEN CASE WHEN d < 0 THEN 4 + d ELSE CAST(4 AS DOUBLE) END
                   END AS ixmax,
                   CASE WHEN ABS(d) < 4 THEN 16 - 4 * (4 - ABS(d))
                        ELSE CAST(16 AS DOUBLE) END AS da,
                   CASE WHEN ABS(d) < 4 THEN 32 - 4 * (4 - ABS(d))
                        ELSE CAST(32 AS DOUBLE) END AS ua
            FROM s
        """,
        "geo_buffer_erosion_report": """
            -- r14 erosion/holed/multi buffers, all closed forms:
            -- erosion square (4-2r)^2; collapse EMPTY (0 area);
            -- holed +-r (hole erodes/dilates); L-shape erosion with
            -- one reflex arc fan; multipoint union; multipoly erosion
            WITH s AS (
                SELECT unnest(range(100))::BIGINT AS c_custkey,
                       CAST(unnest(range(100))::BIGINT % 4 AS DOUBLE)
                           /8.0 + 0.25 AS r
            ),
            g AS (
                SELECT c_custkey, r,
                       16.0*r*r*sin(pi()/16.0) AS ngon
                FROM s
            )
            SELECT c_custkey,
                   ROUND((4.0-2.0*r)*(4.0-2.0*r), 4) AS sqa,
                   CAST(5 AS BIGINT) AS sqn,
                   'POLYGON' AS sqt,
                   CAST(0.0 AS DOUBLE) AS ca,
                   CAST(0 AS BIGINT) AS cn,
                   'MULTIPOLYGON' AS ct,
                   ROUND(64.0 + 32.0*r + ngon
                         - (4.0-2.0*r)*(4.0-2.0*r), 4) AS hba,
                   CAST(42 AS BIGINT) AS hbn,
                   ROUND((8.0-2.0*r)*(8.0-2.0*r)
                         - (16.0 + 16.0*r + ngon), 4) AS hea,
                   CAST(42 AS BIGINT) AS hen,
                   ROUND(2.0*(6.0-2.0*r)*(2.0-2.0*r)
                         - (2.0-2.0*r)*(2.0-2.0*r)
                         + r*r - 4.0*r*r*sin(pi()/16.0), 4) AS la,
                   CAST(15 AS BIGINT) AS ln2,
                   ROUND(2.0*ngon, 4) AS mpa,
                   CAST(66 AS BIGINT) AS mpn,
                   'MULTIPOLYGON' AS mpt,
                   ROUND(2.0*(4.0-2.0*r)*(4.0-2.0*r), 4) AS mea,
                   CAST(10 AS BIGINT) AS men
            FROM g
        """,
        "geo_buffer_polygon_report": """
            -- outward offset of the L-shape: A + P*r + five quarter
            -- fans - the reflex trim square; convex parity TRUE
            WITH s AS (
                SELECT c_custkey,
                       CAST(c_custkey % 4 AS DOUBLE)/4.0 + 0.5 AS r
                FROM customer
            )
            SELECT c_custkey,
                   ROUND(20.0 + 24.0*r
                         + 1.25*(16.0*r*r*sin(pi()/16.0))
                         - r*r, 4) AS pa,
                   CAST(47 AS BIGINT) AS pn,
                   'POLYGON' AS ptyp,
                   TRUE AS parity,
                   -- r14: holed buffers answer (the 1x1 hole erodes
                   -- away at every r >= 0.5): 16 + 16r + the 32-gon
                   ROUND(16.0 + 16.0*r
                         + 16.0*r*r*sin(pi()/16.0), 4) AS hba,
                   CAST(37 AS BIGINT) AS hbn
            FROM s
        """,
        "geo_buffer_polyline_report": """
            -- stroked right-angle corridor: area 2r(L1+L2) +
            -- 20 r^2 sin(pi/16) - r^2, 45 vertices; collinear NULL
            WITH s AS (
                SELECT c_custkey,
                       CAST(c_custkey % 7 + 1 AS DOUBLE) AS L1,
                       CAST(c_custkey % 5 + 2 AS DOUBLE) AS L2,
                       CAST(c_custkey % 4 AS DOUBLE)/8.0 + 0.25 AS r
                FROM customer
            )
            SELECT c_custkey,
                   ROUND(2.0*r*(L1+L2)
                         + 20.0*r*r*sin(pi()/16.0) - r*r, 4) AS ba,
                   CAST(45 AS BIGINT) AS bnp,
                   'POLYGON' AS btyp,
                   TRUE AS null_collinear
            FROM s
        """,
        "geo_clip_holed_report": """
            -- holed set ops + shared-edge degenerates: exact closed
            -- forms on w0 = custkey %% 3 (see the entry docstring);
            -- fixed 100 rows (capability entry, r14)
            WITH s AS (
                SELECT unnest(range(100))::BIGINT AS c_custkey,
                       CAST(unnest(range(100))::BIGINT % 3 AS DOUBLE)
                           AS w0
            )
            SELECT c_custkey,
                   (8.0-w0)*(8.0-w0) - 4.0 AS ia1,
                   CAST(10 AS BIGINT) AS ip1,
                   64.0 - (6.0-w0)*(6.0-w0) + 4.0 AS da2,
                   CAST(52.0 AS DOUBLE) AS ua3,
                   20.0 + 2.0*(w0+1.0) AS su4,
                   CAST(20.0 AS DOUBLE) AS sd4,
                   TRUE AS si4_null,
                   -- r14 crossing holes: s = w0 + 1.5
                   64.0 - (3.0 + (w0+1.5)*(w0+1.5)) AS ia5,
                   CAST(14 AS BIGINT) AS ip5,
                   (w0+1.5)*(w0+1.5) - 1.0 AS da5,
                   CAST(63.0 AS DOUBLE) AS ua5,
                   -- r14 multi-edge contact: sheared U + bar
                   CAST(26.0 AS DOUBLE) AS ua6,
                   CAST(12 AS BIGINT) AS un6,
                   CAST(20.0 AS DOUBLE) AS da6,
                   TRUE AS si6_null
            FROM s
        """,
        "geo_buffer_line_report": """
            -- axis-aligned segment buffer decomposition: rectangle
            -- 2rL + two half-disc caps totalling the 32-gon
            -- 16 r^2 sin(pi/16); 41 vertices; degenerates NULL
            WITH s AS (
                SELECT c_custkey,
                       CAST(c_custkey % 7 + 1 AS DOUBLE) AS L,
                       CAST(c_custkey % 8 AS DOUBLE) / 4.0 + 1.0 AS r
                FROM customer
            )
            SELECT c_custkey,
                   ROUND(2.0*r*L + 16.0*r*r*sin(pi()/16.0), 4) AS la,
                   CAST(41 AS BIGINT) AS lnp,
                   'MULTIPOLYGON' AS ltyp,
                   TRUE AS null_multi,
                   TRUE AS null_zero
            FROM s
        """,
        "geo_collection_report": """
            -- closed forms: 3-member collection (point + 5-vertex
            -- square + 2-member multipolygon) -> type name, 16
            -- member vertices, the exact WKT (integer coordinates),
            -- embedded EWKB SRID read-back, byte round-trips TRUE
            WITH s AS (
                SELECT unnest(range(100))::BIGINT AS c_custkey,
                       unnest(range(100))::BIGINT % 50 AS k
            )
            SELECT c_custkey,
                   'GEOMETRYCOLLECTION' AS typ,
                   CAST(16 AS BIGINT) AS np,
                   'GEOMETRYCOLLECTION (POINT (' || k || ' ' || (k+1)
                   || '), POLYGON ((' || k || ' 0, ' || (k+4)
                   || ' 0, ' || (k+4) || ' 4, ' || k || ' 4, ' || k
                   || ' 0)), MULTIPOLYGON (((' || (k+10) || ' 10, '
                   || (k+12) || ' 10, ' || (k+12) || ' 12, '
                   || (k+10) || ' 12, ' || (k+10) || ' 10)), (('
                   || (k+20) || ' 20, ' || (k+22) || ' 20, '
                   || (k+22) || ' 22, ' || (k+20) || ' 22, '
                   || (k+20) || ' 20))))' AS wkt,
                   CAST(4326 AS BIGINT) AS srid,
                   TRUE AS ewkb_rt
            FROM s
        """,
        "audio_features_report": """
            -- integer-cycle 16-bit sines: exact container numbers,
            -- rms = amp/sqrt(2) at 2 decimals (quantization ~1e-5),
            -- spectral centroid = the tone to the Hz
            WITH s AS (SELECT unnest(range(64))::BIGINT AS k)
            SELECT k,
                   CAST(8000 AS BIGINT) AS sr,
                   CAST(1 AS BIGINT) AS ch,
                   CAST(0.05 AS DOUBLE) AS dur,
                   ROUND((0.25 + 0.05 * (k % 5)) / sqrt(2.0), 2) AS rms2,
                   CAST(200 * (1 + k % 8) AS DOUBLE) AS chz
            FROM s
        """,
        "geo_buffer_report": """
            -- 32-gon point buffer: area 16 r^2 sin(pi/16), bbox +- r
            -- exactly; convex square buffer adds 16 + perimeter*r
            WITH s AS (
              SELECT c_custkey,
                     CAST(c_custkey % 8 AS DOUBLE) / 4.0 + 1.0 AS r,
                     CAST(c_custkey % 100 AS DOUBLE) AS px,
                     CAST(c_custkey % 50 AS DOUBLE) AS py
              FROM customer)
            SELECT c_custkey,
                   ROUND(16.0 * r * r * sin(pi() / 16.0), 4) AS pa,
                   CAST(33 AS BIGINT) AS pn,
                   px - r AS pxmin,
                   px + r AS pxmax,
                   ROUND(py - r, 6) AS pymin,
                   ROUND(py + r, 6) AS pymax,
                   ROUND(16.0 + 16.0 * r
                         + 16.0 * r * r * sin(pi() / 16.0), 4) AS sa,
                   CAST(37 AS BIGINT) AS sn
            FROM s
        """,
        "geo_clip_general_report": """
            -- square (1+s..5+s)^2 against the L-shape: for s < 1 the
            -- intersection is the hexagon around the L's inner corner
            -- (area 8(1-s) - (1-s)^2, 6 distinct vertices + close),
            -- the difference is the (3+s)^2 square.  s = 1 is the
            -- TWO-full-shared-edge configuration: r14's multi-edge
            -- class answers difference (= A, the continuous limit 16)
            -- and union (36) while the intersection is a line set ->
            -- NULL (the r13 oracle predicted all-NULL at s = 1)
            WITH s AS (
              SELECT c_custkey,
                     CAST(c_custkey % 5 AS DOUBLE) / 4.0 AS sh
              FROM customer)
            SELECT c_custkey,
                   CASE WHEN sh < 1
                        THEN 8 * (1 - sh) - (1 - sh) * (1 - sh) END AS ia,
                   CASE WHEN sh < 1 THEN CAST(7 AS BIGINT) END AS ip,
                   16 - CASE WHEN sh < 1
                        THEN 8 * (1 - sh) - (1 - sh) * (1 - sh)
                        ELSE 0 END AS da,
                   CAST(5 AS BIGINT) AS dp,
                   36 - CASE WHEN sh < 1
                        THEN 8 * (1 - sh) - (1 - sh) * (1 - sh)
                        ELSE 0 END AS ua
            FROM s
        """,
        "geo_line_merge_report": """
            -- the chain merges ascending (first-mergeable-pair order
            -- is deterministic): LINESTRING (k 0 .. k+3 0); the stray
            -- keeps the second fixture a 2-member MULTILINESTRING
            WITH s AS (
              SELECT o_orderkey,
                     CAST(o_orderkey % 100 AS VARCHAR) AS k0,
                     CAST((o_orderkey % 100) + 1 AS VARCHAR) AS k1,
                     CAST((o_orderkey % 100) + 2 AS VARCHAR) AS k2,
                     CAST((o_orderkey % 100) + 3 AS VARCHAR) AS k3,
                     CAST((o_orderkey % 100) + 10 AS VARCHAR) AS ka,
                     CAST((o_orderkey % 100) + 11 AS VARCHAR) AS kb
              FROM orders)
            SELECT o_orderkey,
                   'LINESTRING' AS ty1,
                   'LINESTRING (' || k0 || ' 0, ' || k1 || ' 0, '
                     || k2 || ' 0, ' || k3 || ' 0)' AS w1,
                   CAST(3.0 AS DOUBLE) AS len1,
                   'MULTILINESTRING' AS ty2,
                   CAST(6 AS BIGINT) AS np2,
                   'MULTILINESTRING ((' || k0 || ' 0, ' || k1 || ' 0, '
                     || k2 || ' 0, ' || k3 || ' 0), (' || ka || ' 5, '
                     || kb || ' 5))' AS w2
            FROM s
        """,
        "ds_time_band_counts": """
            SELECT
              COUNT(CASE WHEN hr >= 0  AND hr < 3  AND event_type <> 'error' THEN 1 END) AS h0_3,
              COUNT(CASE WHEN hr >= 3  AND hr < 6  AND event_type <> 'error' THEN 1 END) AS h3_6,
              COUNT(CASE WHEN hr >= 6  AND hr < 9  AND event_type <> 'error' THEN 1 END) AS h6_9,
              COUNT(CASE WHEN hr >= 9  AND hr < 12 AND event_type <> 'error' THEN 1 END) AS h9_12,
              COUNT(CASE WHEN hr >= 12 AND hr < 15 AND event_type <> 'error' THEN 1 END) AS h12_15,
              COUNT(CASE WHEN hr >= 15 AND hr < 18 AND event_type <> 'error' THEN 1 END) AS h15_18,
              COUNT(CASE WHEN hr >= 18 AND hr < 21 AND event_type <> 'error' THEN 1 END) AS h18_21,
              COUNT(CASE WHEN hr >= 21 AND hr < 24 AND event_type <> 'error' THEN 1 END) AS h21_24
            FROM (SELECT EXTRACT(hour FROM ts) AS hr, event_type FROM events)
        """,
        "ds_returns_net": """
            SELECT s_name,
                   ROUND(SUM(CASE WHEN l_returnflag = 'R'
                                  THEN l_extendedprice * (1 - l_discount) * 0.1
                                  ELSE l_extendedprice * (1 - l_discount) END), 2) AS net_rev
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_name
            ORDER BY net_rev DESC, s_name ASC
            LIMIT 20
        """,
        "ds_cume_channels": """
            WITH a AS (
              SELECT DATE_TRUNC('month', o_orderdate) AS mon,
                     ROUND(SUM(o_totalprice), 2) AS orev
              FROM orders GROUP BY 1),
            b AS (
              SELECT DATE_TRUNC('month', l_shipdate) AS mon,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS srev
              FROM lineitem GROUP BY 1),
            j AS (
              SELECT COALESCE(a.mon, b.mon) AS mon,
                     COALESCE(a.orev, 0.0) AS orev,
                     COALESCE(b.srev, 0.0) AS srev
              FROM a FULL OUTER JOIN b ON a.mon = b.mon),
            c AS (
              SELECT mon,
                     ROUND(SUM(orev) OVER (ORDER BY mon
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_o,
                     ROUND(SUM(srev) OVER (ORDER BY mon
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_s
              FROM j)
            SELECT mon, cum_o, cum_s FROM c WHERE cum_o > cum_s
        """,
        "geo_cluster": """
            WITH RECURSIVE p AS (
              SELECT c_custkey,
                     CAST(c_custkey % 50 AS DOUBLE) * 7.0 - 175.0
                       + (c_acctbal / 1000000.0) AS x,
                     CAST((c_custkey // 50) % 20 AS DOUBLE) * 8.0 - 80.0
                       + (c_acctbal / 2000000.0) AS y
              FROM customer),
            e0 AS (
              SELECT a.c_custkey AS a, b.c_custkey AS b
              FROM p a, p b
              WHERE a.c_custkey <> b.c_custkey
                AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                    <= 2.0 * 2.0),
            reach(src, dst) AS (
              SELECT c_custkey, c_custkey FROM p
              UNION
              SELECT r.src, e.b FROM reach r JOIN e0 e ON r.dst = e.a)
            SELECT src AS c_custkey, MIN(dst) AS cluster
            FROM reach GROUP BY src
        """,
        "geo_dbscan": """
            WITH RECURSIVE p AS (
              SELECT c_custkey,
                     CAST(c_custkey % 50 AS DOUBLE) * 7.0 - 175.0
                       + (c_acctbal / 1000000.0) AS x,
                     CAST((c_custkey // 50) % 20 AS DOUBLE) * 8.0 - 80.0
                       + (c_acctbal / 2000000.0) AS y
              FROM customer),
            cnt AS (
              SELECT a.c_custkey AS id, COUNT(*) AS n
              FROM p a JOIN p b
                ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                   <= 2.0 * 2.0
              GROUP BY a.c_custkey),
            cores AS (SELECT id FROM cnt WHERE n >= 2),
            ce AS (
              SELECT a.c_custkey AS a, b.c_custkey AS b
              FROM p a
              JOIN p b ON a.c_custkey <> b.c_custkey
                AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                    <= 2.0 * 2.0
              JOIN cores ca ON a.c_custkey = ca.id
              JOIN cores cb ON b.c_custkey = cb.id),
            reach(src, dst) AS (
              SELECT id, id FROM cores
              UNION
              SELECT r.src, e.b FROM reach r JOIN ce e ON r.dst = e.a),
            comp AS (SELECT src AS id, MIN(dst) AS cl FROM reach GROUP BY src),
            attach AS (
              SELECT a.c_custkey AS id, MIN(comp.cl) AS cluster
              FROM p a
              JOIN p b ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                          <= 2.0 * 2.0
              JOIN comp ON b.c_custkey = comp.id
              GROUP BY a.c_custkey)
            SELECT p.c_custkey, attach.cluster
            FROM p LEFT JOIN attach ON p.c_custkey = attach.id
        """,
        # -- TPC-DS-derived shapes (round 9) ---------------------------------
        "ds_rollup_report": """
            SELECT n_name, c_mktsegment,
                   ROUND(AVG(o_totalprice), 4) AS avg_price,
                   ROUND(AVG(c_acctbal), 4) AS avg_acctbal,
                   ROUND(SUM(o_totalprice), 2) AS total,
                   COUNT(o_orderkey) AS n_orders
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate < '1997-01-01'
            GROUP BY ROLLUP(n_name, c_mktsegment)
        """,
        "ds_rank_over_rollup": """
            WITH agg AS (
              SELECT p_brand, p_size,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sumsales
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY ROLLUP(p_brand, p_size))
            SELECT p_brand, p_size, sumsales, rk FROM (
              SELECT *, CAST(RANK() OVER (PARTITION BY p_brand
                         ORDER BY sumsales DESC, p_size ASC NULLS FIRST)
                         AS BIGINT) AS rk
              FROM agg)
            WHERE rk <= 3
        """,
        "ds_cube_report": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   COUNT(l_orderkey) AS n,
                   CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
                   CAST(GROUPING(l_linestatus) AS INT) AS g_ls
            FROM lineitem
            GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        "ds_multi_channel": """
            WITH cn AS (
              SELECT c_custkey, n_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey),
            sales AS (
              SELECT n_name, ROUND(SUM(o_totalprice), 2) AS amount,
                     'orders' AS channel
              FROM cn JOIN orders ON c_custkey = o_custkey
              GROUP BY n_name),
            rets AS (
              SELECT n_name, ROUND(SUM(l_extendedprice), 2) AS amount,
                     'returns' AS channel
              FROM cn JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
              WHERE l_returnflag = 'R'
              GROUP BY n_name),
            u AS (SELECT * FROM sales UNION ALL SELECT * FROM rets)
            SELECT channel, n_name, ROUND(SUM(amount), 2) AS total,
                   COUNT(amount) AS n_rows
            FROM u GROUP BY ROLLUP(channel, n_name)
        """,
        "ds_year_over_year": """
            WITH per AS (
              SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr,
                     ROUND(SUM(o_totalprice), 2) AS total
              FROM orders GROUP BY o_custkey, yr)
            SELECT a.o_custkey AS o_custkey, a.total AS t96, b.total AS t97,
                   ROUND(b.total / a.total, 4) AS ratio
            FROM per a JOIN per b ON a.o_custkey = b.o_custkey
            WHERE a.yr = 1996 AND b.yr = 1997
              AND ROUND(b.total / a.total, 4) > 1.5
        """,
        "ds_vs_group_avg": """
            WITH per AS (
              SELECT c_custkey, c_nationkey,
                     ROUND(SUM(o_totalprice), 2) AS total
              FROM customer JOIN orders ON c_custkey = o_custkey
              WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
              GROUP BY c_custkey, c_nationkey),
            w AS (SELECT *, ROUND(AVG(total) OVER (PARTITION BY c_nationkey),
                                  4) AS nation_avg FROM per)
            SELECT c_custkey, c_nationkey, total, nation_avg
            FROM w WHERE total > 1.3 * nation_avg
        """,
        "ds_returns_above_avg": """
            WITH ctr AS (
              SELECT c_custkey, c_nationkey,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                   JOIN customer ON o_custkey = c_custkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
              GROUP BY c_custkey, c_nationkey)
            SELECT ctr1.c_custkey, n_name, ctr1.total,
                   (SELECT ROUND(AVG(total), 4) FROM ctr ctr2
                    WHERE ctr2.c_nationkey = ctr1.c_nationkey) AS avg_ret
            FROM ctr ctr1 JOIN nation ON ctr1.c_nationkey = n_nationkey
            WHERE ctr1.total > 1.2 * (SELECT ROUND(AVG(total), 4) FROM ctr ctr2
                                      WHERE ctr2.c_nationkey = ctr1.c_nationkey)
              AND n_regionkey <= 1
        """,
        "ds_frequent_items": """
            SELECT SUBSTRING(p_type, 1, 10) AS tdesc, p_brand,
                   CAST(EXTRACT(year FROM l_shipdate) AS INT) AS yr,
                   CAST(EXTRACT(month FROM l_shipdate) AS INT) AS mo,
                   COUNT(*) AS cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2, 3, 4
            HAVING COUNT(*) > 8
        """,
        "ds_best_customers": """
            WITH per AS (
              SELECT o_custkey,
                     ROUND(SUM(l_quantity * l_extendedprice), 4) AS ssales
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_custkey)
            SELECT o_custkey, ssales FROM per
            WHERE ssales > 0.5 * (SELECT MAX(ssales) FROM per)
        """,
        "ds_cross_channel_best": """
            WITH per AS (
              SELECT o_custkey,
                     ROUND(SUM(l_quantity * l_extendedprice), 4) AS ssales
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_custkey),
            best AS (
              SELECT o_custkey FROM per
              WHERE ssales > 0.5 * (SELECT MAX(ssales) FROM per)),
            freq AS (
              SELECT p_brand,
                     CAST(EXTRACT(month FROM l_shipdate) AS INT) AS mo
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1, 2
              HAVING COUNT(*) > 80),
            chan AS (
              SELECT l_quantity, l_extendedprice, l_linenumber, o_custkey,
                     p_brand, CAST(EXTRACT(month FROM l_shipdate) AS INT) AS mo
              FROM lineitem JOIN part ON l_partkey = p_partkey
                   JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderdate >= '1997-03-01' AND o_orderdate < '1997-04-01'
                AND o_custkey IN (SELECT o_custkey FROM best)),
            gated AS (
              SELECT * FROM chan c
              WHERE EXISTS (SELECT 1 FROM freq f
                            WHERE f.p_brand = c.p_brand AND f.mo = c.mo))
            SELECT c_name, 'store' AS chan,
                   ROUND(SUM(l_quantity * l_extendedprice), 4) AS sales
            FROM gated JOIN customer ON o_custkey = c_custkey
            WHERE l_linenumber % 2 = 1
            GROUP BY c_name
            UNION ALL
            SELECT c_name, 'catalog' AS chan,
                   ROUND(SUM(l_quantity * l_extendedprice), 4) AS sales
            FROM gated JOIN customer ON o_custkey = c_custkey
            WHERE l_linenumber % 2 = 0
            GROUP BY c_name
        """,
        "ds_wide_multijoin": """
            WITH cs_ui AS (
              SELECT l_partkey,
                     ROUND(SUM(CASE WHEN l_returnflag <> 'R'
                               THEN l_extendedprice * (1 - l_discount) END), 4)
                       AS sale,
                     ROUND(SUM(CASE WHEN l_returnflag = 'R'
                               THEN l_extendedprice * (1 - l_discount) END), 4)
                       AS refund
              FROM lineitem GROUP BY l_partkey
              HAVING refund IS NOT NULL AND sale > 2 * refund)
            SELECT p_name, sn.n_name AS s_nation, cn.n_name AS c_nation,
                   CAST(EXTRACT(year FROM o_orderdate) AS INT) AS syear,
                   COUNT(*) AS cnt,
                   ROUND(SUM(l_quantity), 2) AS s1,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS s2
            FROM lineitem
                 JOIN part ON l_partkey = p_partkey
                 JOIN supplier ON l_suppkey = s_suppkey
                 JOIN nation sn ON s_nationkey = sn.n_nationkey
                 JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
                 JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE p_size BETWEEN 10 AND 20
              AND l_partkey IN (SELECT l_partkey FROM cs_ui)
            GROUP BY 1, 2, 3, 4
        """,
        "ds_sales_growth_pairs": """
            WITH cs AS (
              SELECT l_partkey,
                     CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
                     COUNT(*) AS cnt,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS rev
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1, 2)
            SELECT a.l_partkey, a.cnt AS cnt96, a.rev AS rev96,
                   b.cnt AS cnt97, b.rev AS rev97
            FROM cs a JOIN cs b ON a.l_partkey = b.l_partkey
            WHERE a.yr = 1996 AND b.yr = 1997 AND b.cnt <= a.cnt
        """,
        "ds_monthly_vs_avg": """
            WITH m AS (
              SELECT p_brand, CAST(EXTRACT(month FROM l_shipdate) AS INT) AS mo,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
              GROUP BY p_brand, mo),
            w AS (SELECT *, ROUND(AVG(rev) OVER (PARTITION BY p_brand), 4)
                            AS brand_avg FROM m),
            d AS (SELECT *, ROUND((rev - brand_avg) / brand_avg, 4) AS dev
                  FROM w)
            SELECT p_brand, mo, rev, brand_avg, dev FROM d WHERE ABS(dev) > 0.3
        """,
        "ds_channel_intersect": """
            WITH j AS (
              SELECT c_custkey, c_mktsegment, o_orderdate
              FROM customer JOIN orders ON c_custkey = o_custkey)
            SELECT COUNT(c_custkey) AS n_both FROM (
              SELECT DISTINCT c_custkey, c_mktsegment FROM j
              WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
              INTERSECT
              SELECT DISTINCT c_custkey, c_mktsegment FROM j
              WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01')
        """,
        "ds_channel_except": """
            WITH j AS (
              SELECT c_custkey, c_mktsegment, o_orderdate
              FROM customer JOIN orders ON c_custkey = o_custkey)
            SELECT COUNT(c_custkey) AS n_lost FROM (
              SELECT DISTINCT c_custkey, c_mktsegment FROM j
              WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
              EXCEPT
              SELECT DISTINCT c_custkey, c_mktsegment FROM j
              WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01')
        """,
        "ds_conditional_report": """
            WITH t AS (
              SELECT *,
                     l_quantity >= 1 AND l_quantity < 20 AS b1,
                     l_quantity >= 20 AND l_quantity < 35 AS b2,
                     l_quantity >= 35 AS b3
              FROM lineitem),
            agg AS (
              SELECT COUNT(CASE WHEN b1 THEN l_orderkey END) AS c1,
                     ROUND(AVG(CASE WHEN b1 THEN l_extendedprice END), 4) AS p1,
                     ROUND(AVG(CASE WHEN b1 THEN l_discount END), 6) AS d1,
                     COUNT(CASE WHEN b2 THEN l_orderkey END) AS c2,
                     ROUND(AVG(CASE WHEN b2 THEN l_extendedprice END), 4) AS p2,
                     ROUND(AVG(CASE WHEN b2 THEN l_discount END), 6) AS d2,
                     COUNT(CASE WHEN b3 THEN l_orderkey END) AS c3,
                     ROUND(AVG(CASE WHEN b3 THEN l_extendedprice END), 4) AS p3,
                     ROUND(AVG(CASE WHEN b3 THEN l_discount END), 6) AS d3
              FROM t)
            SELECT CASE WHEN c1 > 20000 THEN p1 ELSE d1 END AS bucket1,
                   CASE WHEN c2 > 20000 THEN p2 ELSE d2 END AS bucket2,
                   CASE WHEN c3 > 20000 THEN p3 ELSE d3 END AS bucket3
            FROM agg
        """,
        "ds_quarterly_share": """
            WITH q AS (
              SELECT n_name,
                     CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
                     CAST(ROUND(SUM(o_totalprice * 100), 0) AS BIGINT) AS cents
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN nation ON c_nationkey = n_nationkey
              WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
              GROUP BY n_name, qtr)
            SELECT n_name, qtr, cents,
                   CAST(cents AS DOUBLE) /
                   CAST(SUM(cents) OVER (PARTITION BY n_name) AS DOUBLE)
                   AS share
            FROM q
        """,
        "ds_yoy_lag": """
            WITH a AS (
              SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
                     ROUND(SUM(o_totalprice), 2) AS rev
              FROM customer
              JOIN orders ON c_custkey = o_custkey
              JOIN nation ON c_nationkey = n_nationkey
              GROUP BY n_name, yr),
            l AS (SELECT *, LAG(rev) OVER (PARTITION BY n_name ORDER BY yr)
                            AS prev FROM a)
            SELECT n_name, yr, rev, prev,
                   ROUND((rev - prev) / prev, 4) AS growth
            FROM l
        """,
        "ds_grouping_sets_union": """
            SELECT o_orderpriority, o_orderstatus,
                   ROUND(SUM(o_totalprice), 2) AS rev,
                   COUNT(o_orderkey) AS n,
                   'priority_status' AS grain
            FROM orders GROUP BY o_orderpriority, o_orderstatus
            UNION ALL
            SELECT o_orderpriority, CAST(NULL AS VARCHAR) AS o_orderstatus,
                   ROUND(SUM(o_totalprice), 2) AS rev,
                   COUNT(o_orderkey) AS n,
                   'priority' AS grain
            FROM orders GROUP BY o_orderpriority
        """,
        "array_named_reductions": """
            SELECT doc_id,
                   CAST(list_sum(ll) AS BIGINT) AS tok_sum,
                   list_avg(ll) AS tok_mean,
                   CAST(list_min(ll) AS BIGINT) AS tok_min,
                   CAST(list_max(ll) AS BIGINT) AS tok_max,
                   list_bool_or(list_transform(ll, n -> n > 8)) AS any_long,
                   list_bool_and(list_transform(ll, n -> n < 20)) AS all_short
            FROM (SELECT doc_id,
                         list_transform(string_split(text, ' '),
                                        w -> length(w)) AS ll
                  FROM documents)
        """,
        "bool_cum_windows": """
            SELECT event_id,
                   bool_or(value > 40) OVER w AS big_seen,
                   bool_and(value < 40) OVER w AS all_small
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "bool_agg_not": """
            SELECT NOT bool_or(l_quantity > 200) AS no_huge,
                   NOT bool_and(l_quantity < 10) AS not_all_small,
                   NOT bool_or(CASE WHEN l_returnflag = 'R'
                                    THEN l_extendedprice < 1000 END)
                       AS no_cheap_returns
            FROM lineitem
        """,
        "interval_unit_views": """
            SELECT event_id,
                   CAST(floor(sec / 86400) AS BIGINT) AS d_day,
                   CAST(floor(sec / 3600) AS BIGINT) AS d_hour,
                   CAST(floor(sec / 60) AS BIGINT) AS d_min,
                   CAST(floor(sec) AS BIGINT) AS d_sec,
                   CAST(floor(sec * 1000) AS BIGINT) AS d_ms
            FROM (SELECT event_id,
                         extract(epoch FROM (ts - TIMESTAMP '2024-01-01'))
                             AS sec
                  FROM events)
        """,
        "parse_roundtrip": """
            SELECT o_orderkey,
                   strptime(s, '%Y-%m-%d %H:%M:%S') AS back_ts,
                   CAST(strptime(s, '%Y-%m-%d %H:%M:%S') AS DATE) AS back_d,
                   strftime(strptime(s, '%Y-%m-%d %H:%M:%S'), '%H:%M:%S')
                       AS back_t,
                   CAST(isoyear(o_orderdate) AS BIGINT) AS iy,
                   CAST(datediff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT) AS ed
            FROM (SELECT o_orderkey, o_orderdate,
                         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS s
                  FROM orders)
        """,
        "histogram_bins": """
            WITH stats AS (
                SELECT MIN(CAST(l_quantity AS DOUBLE)) - 1e-13 AS mn,
                       MAX(CAST(l_quantity AS DOUBLE)) AS mx
                FROM lineitem)
            SELECT CAST(LEAST(GREATEST(
                       FLOOR((CAST(l_quantity AS DOUBLE) - mn)
                             / ((mx - mn) / 10)), -1), 9) AS BIGINT) AS hb,
                   COUNT(*) AS n
            FROM lineitem, stats
            GROUP BY 1 ORDER BY 1
        """,
        "json_typed_accessors": """
            SELECT event_id,
                   CAST(k AS BIGINT) AS k_int,
                   CAST(k AS DOUBLE) AS k_float,
                   CAST(NULL AS VARCHAR) AS k_str,
                   CAST(NULL AS BOOLEAN) AS k_bool,
                   k AS k_via_map
            FROM (SELECT event_id,
                         json_extract_string(props, '$.k') AS k
                  FROM events)
        """,
        "selector_if_any": """
            SELECT COUNT(l_orderkey) AS n,
                   ROUND(SUM(l_extendedprice), 2) AS rev
            FROM lineitem
            WHERE (l_tax > 0.07 OR l_discount > 0.07) AND l_quantity < 30
        """,
        "salted_join_agg": """
            SELECT o_orderpriority, COUNT(l_orderkey) AS n,
                   ROUND(SUM(l_quantity), 2) AS qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "rowid_contract": """
            SELECT COUNT(*) AS n, COUNT(*) AS d,
                   CAST(0 AS BIGINT) AS mn,
                   CAST(COUNT(*) - 1 AS BIGINT) AS mx
            FROM lineitem
        """,
        "grouped_fraction": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   ROUND(l_extendedprice /
                         SUM(l_extendedprice) OVER (PARTITION BY l_returnflag),
                         9) AS frac
            FROM lineitem
        """,
        "q1": _Q1_SQL,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, COUNT(o_orderkey) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q5_local_supplier_volume": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE c_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "q6_forecast_revenue": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.03 AND 0.07
              AND l_quantity < 24
        """,
        "q7_volume_shipping": """
            SELECT c_nationkey, s_nationkey,
                   CAST(YEAR(l_shipdate) AS INT) AS l_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE ((c_nationkey = 0 AND s_nationkey = 1)
                   OR (c_nationkey = 1 AND s_nationkey = 0))
              AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
            GROUP BY c_nationkey, s_nationkey, YEAR(l_shipdate)
        """,
        "q20_big_suppliers": """
            SELECT s_suppkey, s_name, s_nationkey
            FROM supplier
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_type = 'ECONOMY'
              GROUP BY l_suppkey HAVING SUM(l_quantity) > 400)
        """,
        "q2_min_cost_supplier": """
            WITH pairs AS (
              SELECT DISTINCT p_partkey, s_suppkey, s_acctbal, s_name, n_name
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE p_type = 'STANDARD' AND p_size <= 10 AND r_name = 'EUROPE')
            SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey
            FROM pairs p1
            WHERE s_acctbal = (SELECT MAX(s_acctbal) FROM pairs p2
                               WHERE p2.p_partkey = p1.p_partkey)
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        """,
        "q11_important_stock": """
            WITH v AS (
              SELECT l_partkey, SUM(l_extendedprice) AS value
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              WHERE s_nationkey < 13
              GROUP BY l_partkey)
            SELECT l_partkey, ROUND(value, 2) AS value
            FROM v
            WHERE value > (SELECT SUM(value) FROM v) * 0.0007
            ORDER BY value DESC, l_partkey
        """,
        "q21_suppliers_kept_waiting": """
            WITH late AS (
              SELECT l_orderkey, l_suppkey
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            SELECT s_name, COUNT(DISTINCT l_orderkey) AS numwait
            FROM late l1
            JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM late l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "q22_global_sales_opportunity": """
            SELECT c_nationkey,
                   COUNT(c_custkey) AS numcust,
                   ROUND(SUM(c_acctbal), 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "q14_promo_revenue": """
            SELECT ROUND(100 * SUM(CASE WHEN STARTS_WITH(p_type, 'ECO')
                                        THEN l_extendedprice * (1 - l_discount) END)
                         / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-02-01'
        """,
        "q8_market_share": """
            SELECT o_year,
                   ROUND(SUM(CASE WHEN s_nation = 'NATION_1' THEN volume
                                  ELSE 0 END) / SUM(volume), 4) AS mkt_share
            FROM (SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
                         l_extendedprice * (1 - l_discount) AS volume,
                         n2.n_name AS s_nation
                  FROM lineitem
                  JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation n1 ON c_nationkey = n1.n_nationkey
                  JOIN region ON n1.n_regionkey = r_regionkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation n2 ON s_nationkey = n2.n_nationkey
                  WHERE r_name = 'ASIA')
            GROUP BY o_year
        """,
        "q9_product_profit": """
            SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)
                             - p_retailprice * l_quantity * 0.1), 2) AS profit
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE CONTAINS(p_name, 'red')
            GROUP BY n_name, YEAR(o_orderdate)
        """,
        "q12_priority_shipping": """
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        "q13_customer_distribution": """
            SELECT c_count, COUNT(c_custkey) AS custdist
            FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
                  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                  GROUP BY c_custkey)
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1997-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_rev
            FROM supplier JOIN rev ON s_suppkey = l_suppkey
            WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        """,
        "q16_supplier_cnt": """
            SELECT p_brand, p_type, p_size,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM part JOIN lineitem ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#1'
              AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20
        """,
        "q19_discounted_revenue": """
            SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q18_large_volume_customer": """
            SELECT o_orderkey, o_custkey, o_totalprice, sum_qty
            FROM orders
            JOIN (SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING SUM(l_quantity) > 200) big
              ON o_orderkey = big.l_orderkey
        """,
        "filter_sort_limit": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders WHERE o_totalprice > 100000 AND o_orderstatus = 'O'
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
        """,
        "agg_filtered": """
            SELECT l_returnflag,
                   COUNT(l_orderkey) AS n,
                   COUNT(CASE WHEN l_discount > 0.05 THEN l_orderkey END) AS n_disc,
                   ROUND(SUM(CASE WHEN l_quantity > 25 THEN l_extendedprice END), 2) AS sum_hi,
                   MIN(l_quantity) AS min_q,
                   MAX(l_quantity) AS max_q,
                   COUNT(DISTINCT l_suppkey) AS nuniq
            FROM lineitem GROUP BY l_returnflag
        """,
        "agg_having": """
            SELECT o_custkey, COUNT(o_orderkey) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders GROUP BY o_custkey HAVING COUNT(o_orderkey) >= 15
        """,
        "distinct_rows": """
            SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        """,
        "distinct_keep_none": """
            SELECT o_custkey, o_orderkey FROM (
              SELECT o_custkey, o_orderkey,
                     COUNT(*) OVER (PARTITION BY o_custkey) AS c
              FROM orders) WHERE c = 1
        """,
        "distinct_keep_last": """
            SELECT o_custkey, o_orderkey, o_totalprice FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
              FROM orders) WHERE rn = 1
        """,
        "value_counts": """
            SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority
        """,
        "topk": """
            SELECT lang, COUNT(*) AS n FROM documents
            GROUP BY lang ORDER BY n DESC LIMIT 3
        """,
        "drop_fill_null": """
            SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS st,
                   COALESCE(NULLIF(o_orderstatus, 'O'), 'none') AS st_filled
            FROM orders
        """,
        "join_inner_chain": """
            SELECT r_name, COUNT(c_custkey) AS n_cust,
                   ROUND(AVG(c_acctbal), 4) AS avg_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "join_left": """
            SELECT o_orderkey, o_custkey, c_name, c_mktsegment
            FROM (SELECT * FROM orders WHERE o_totalprice > 150000) o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "join_semi": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        """,
        "join_anti": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "join_theta": """
            SELECT a.n_nationkey AS a, b.n_nationkey AS b, a.n_regionkey AS rk
            FROM nation a JOIN nation b
              ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        """,
        "join_asof": """
            SELECT l.event_id, l.user_id, l.ts, l.value,
                   r.value AS value_right, r.ts AS ts_right
            FROM (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'view') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "join_asof_forward": """
            SELECT l.event_id, l.user_id, l.ts, r.value, r.ts AS ts_right
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'view') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts <= r.ts
        """,
        "join_asof_nearest": """
            SELECT l.event_id, l.user_id, l.ts,
                   CASE WHEN b.ts IS NULL THEN f.value
                        WHEN f.ts IS NULL THEN b.value
                        WHEN l.ts - b.ts <= f.ts - l.ts THEN b.value
                        ELSE f.value END AS value,
                   CASE WHEN b.ts IS NULL THEN f.ts
                        WHEN f.ts IS NULL THEN b.ts
                        WHEN l.ts - b.ts <= f.ts - l.ts THEN b.ts
                        ELSE f.ts END AS ts_right
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'view') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') b
              ON l.user_id = b.user_id AND l.ts >= b.ts
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') f
              ON l.user_id = f.user_id AND l.ts <= f.ts
        """,
        "describe_table": """
            SELECT name, pos, type, "count", nulls, mean, std, "min", "max"
            FROM (
              SELECT 'c_custkey' AS name, 0 AS pos, 'bigint' AS type,
                     COUNT(c_custkey) AS "count",
                     CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                     ROUND(AVG(CAST(c_custkey AS DOUBLE)), 4) AS mean,
                     ROUND(STDDEV_SAMP(CAST(c_custkey AS DOUBLE)), 4) AS std,
                     MIN(CAST(c_custkey AS DOUBLE)) AS "min",
                     MAX(CAST(c_custkey AS DOUBLE)) AS "max"
              FROM customer
              UNION ALL
              SELECT 'c_name', 1, 'string', COUNT(c_name),
                     CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
              FROM customer
              UNION ALL
              SELECT 'c_nationkey', 2, 'int', COUNT(c_nationkey),
                     CAST(SUM(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     ROUND(AVG(CAST(c_nationkey AS DOUBLE)), 4),
                     ROUND(STDDEV_SAMP(CAST(c_nationkey AS DOUBLE)), 4),
                     MIN(CAST(c_nationkey AS DOUBLE)),
                     MAX(CAST(c_nationkey AS DOUBLE))
              FROM customer
              UNION ALL
              SELECT 'c_acctbal', 3, 'double', COUNT(c_acctbal),
                     CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     ROUND(AVG(c_acctbal), 4), ROUND(STDDEV_SAMP(c_acctbal), 4),
                     MIN(c_acctbal), MAX(c_acctbal)
              FROM customer
              UNION ALL
              SELECT 'c_mktsegment', 4, 'string', COUNT(c_mktsegment),
                     CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                     CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
              FROM customer)
        """,
        "info_table": """
            -- outer casts: DuckDB SUM() yields HUGEINT (int128), which pandas
            -- materializes as object dtype and the driver's value-hash then
            -- diverges from Spark's int64 even when values are equal
            SELECT name, type, nullable,
                   CAST(nulls AS BIGINT) AS nulls,
                   CAST(non_nulls AS BIGINT) AS non_nulls,
                   CAST(total AS BIGINT) AS total,
                   CAST(pos AS INT) AS pos,
                   CAST(null_frac AS DOUBLE) AS null_frac
            FROM (
              SELECT 'o_orderkey' AS name, 'bigint' AS type, TRUE AS nullable,
                     SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nulls,
                     COUNT(o_orderkey) AS non_nulls, COUNT(*) AS total,
                     CAST(0 AS INT) AS pos,
                     SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS null_frac
              FROM orders
              UNION ALL
              SELECT 'o_custkey', 'bigint', TRUE,
                     SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                     COUNT(o_custkey), COUNT(*), 1,
                     SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
              FROM orders
              UNION ALL
              SELECT 'o_orderstatus', 'string', TRUE,
                     SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
                     COUNT(o_orderstatus), COUNT(*), 2,
                     SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
              FROM orders
              UNION ALL
              SELECT 'o_totalprice', 'double', TRUE,
                     SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
                     COUNT(o_totalprice), COUNT(*), 3,
                     SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
              FROM orders
              UNION ALL
              SELECT 'o_orderdate', 'timestamp_ntz', TRUE,
                     SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
                     COUNT(o_orderdate), COUNT(*), 4,
                     SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
              FROM orders
              UNION ALL
              SELECT 'o_orderpriority', 'string', TRUE,
                     SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
                     COUNT(o_orderpriority), COUNT(*), 5,
                     SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
              FROM orders)
        """,
        "join_positional": """
            SELECT r.r_regionkey, r.r_name, n.n_nationkey, n.n_name, n.n_regionkey
            FROM (SELECT *, ROW_NUMBER() OVER () AS rn FROM region) r
            JOIN (SELECT *, ROW_NUMBER() OVER () AS rn FROM nation) n USING (rn)
        """,
        "set_union_all": """
            SELECT c_nationkey AS nk FROM customer
            UNION ALL SELECT s_nationkey FROM supplier
        """,
        "set_union_distinct": """
            SELECT c_nationkey AS nk FROM customer
            UNION SELECT s_nationkey FROM supplier
        """,
        "set_intersect": """
            SELECT c_nationkey AS nk FROM customer
            INTERSECT SELECT s_nationkey FROM supplier
        """,
        "set_difference": """
            SELECT n_nationkey AS nk FROM nation
            EXCEPT SELECT s_nationkey FROM supplier
        """,
        "set_difference_all": """
            SELECT l_suppkey AS sk FROM lineitem WHERE l_orderkey < 3000
            EXCEPT ALL
            SELECT l_suppkey FROM lineitem WHERE l_discount > 0.05
        """,
        "window_rank": """
            SELECT c_custkey, c_nationkey,
                   RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) - 1 AS rnk
            FROM customer
        """,
        "window_lag": """
            SELECT o_orderkey, o_custkey,
                   LAG(o_totalprice) OVER w AS prev_price,
                   LEAD(o_orderkey) OVER w AS next_key
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "window_cumsum": """
            SELECT event_id, user_id,
                   ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_total
            FROM events
        """,
        "window_moving_avg": """
            SELECT event_id, user_id,
                   ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
            FROM events
        """,
        "window_ntile": """
            SELECT c_custkey, c_nationkey,
                   NTILE(4) OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) - 1 AS quartile
            FROM customer
        """,
        "window_first_last": """
            SELECT o_orderkey, o_custkey,
                   FIRST_VALUE(o_orderkey) OVER w AS first_key,
                   LAST_VALUE(o_orderkey) OVER w AS last_key
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
        "window_nth": """
            SELECT o_orderkey, o_custkey,
                   NTH_VALUE(o_orderkey, 2) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
            FROM orders
        """,
        "substitute": """
            SELECT o_orderkey,
                   CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'filled'
                        ELSE 'other' END AS st
            FROM orders
        """,
        "in_subquery": """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        """,
        "notin_subquery": """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        """,
        "scalar_subquery": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_quantity < (SELECT AVG(l_quantity) FROM lineitem) * 0.5
        """,
        "q17_small_quantity": """
            SELECT ROUND(SUM(l.l_extendedprice), 2) AS total
            FROM lineitem l
            JOIN (SELECT l_partkey, AVG(l_quantity) AS avg_q
                  FROM lineitem GROUP BY l_partkey) a USING (l_partkey)
            WHERE l.l_quantity < 0.2 * a.avg_q
        """,
        "exists_subquery": """
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        """,
        "not_exists_subquery": """
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        """,
        "scalar_strings": """
            SELECT p_partkey,
                   UPPER(p_name) AS up,
                   SUBSTR(p_name, 1, 3) AS sub3,
                   LENGTH(p_name) AS nlen,
                   STRPOS(p_name, 'e') - 1 AS idx_e,
                   REPLACE(p_name, 'e', '3') AS repl,
                   LPAD(p_brand, 10, '*') AS padded,
                   STARTS_WITH(p_type, 'ECON') AS is_econ,
                   p_name || '_' || p_brand AS cat,
                   CONTAINS(p_name, 'red') AS has_red,
                   REVERSE(p_name) AS revd
            FROM part
        """,
        "scalar_temporal": """
            SELECT o_orderkey,
                   CAST(YEAR(o_orderdate) AS INT) AS yr,
                   CAST(MONTH(o_orderdate) AS INT) AS mo,
                   CAST(DAY(o_orderdate) AS INT) AS dy,
                   CAST(QUARTER(o_orderdate) AS INT) AS qtr,
                   CAST(ISODOW(o_orderdate) - 1 AS INT) AS dow,
                   CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS mstart,
                   CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch,
                   STRFTIME(o_orderdate, '%Y-%m') AS ym
            FROM orders
        """,
        "scalar_numeric": f"""
            -- lg_ok (r9): libm LN is exercised but hashed only as a
            -- boolean vs the det polynomial (100x tolerance margin) --
            -- zero cross-libm flip risk in the artifact
            SELECT l_orderkey, l_linenumber,
                   ROUND(ABS(l_discount - 0.05), 4) AS absd,
                   CAST(CEIL(l_extendedprice) AS BIGINT) AS ceilp,
                   CAST(FLOOR(l_extendedprice) AS BIGINT) AS floorp,
                   ROUND(SQRT(l_quantity), 6) AS sq,
                   ABS(LN(l_extendedprice) -
                       ({_det_ln_sql("CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)", 0)}
                        - 4.605170185988092)) < 1e-6 AS lg_ok,
                   CAST(SIGN(l_discount - 0.05) AS INT) AS sgn,
                   l_orderkey % 7 AS md,
                   CAST(l_orderkey // 7 AS BIGINT) AS fd,
                   ROUND(l_quantity / 2, 4) AS dv,
                   ROUND(POWER(l_discount, 2), 8) AS pw,
                   LEAST(GREATEST(l_quantity, 5), 40) AS clipped
            FROM lineitem WHERE l_orderkey < 1000
        """,
        "misc_scalars": """
            SELECT p_partkey,
                   CAST(LEVENSHTEIN(p_name, p_brand) AS INT) AS lev,
                   TRANSLATE(p_name, 'aeiou', 'AEIOU') AS tr,
                   REPEAT(p_brand, 2) AS rep3,
                   CAST(ASCII(p_name) AS INT) AS asc0,
                   CAST(GREATEST(LENGTH(p_name), 5) AS INT) AS wk,
                   CAST(LEAST(LENGTH(p_name), LENGTH(p_brand)) AS INT) AS least_len
            FROM part
        """,
        "week_doy": """
            SELECT o_orderkey,
                   CAST(WEEKOFYEAR(o_orderdate) AS INT) AS wk,
                   CAST(DAYOFYEAR(o_orderdate) AS INT) AS doy,
                   DAYNAME(o_orderdate) AS dname
            FROM orders
        """,
        "case_when": """
            SELECT o_orderkey,
                   CASE o_orderpriority
                     WHEN '1-URGENT' THEN 'hot'
                     WHEN '2-HIGH' THEN 'hot'
                     WHEN '3-MEDIUM' THEN 'warm'
                     ELSE 'cold' END AS tier,
                   CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS size
            FROM orders
        """,
        "bucket_histogram": """
            SELECT CASE
                     WHEN c_acctbal >= 0 AND c_acctbal < 1000 THEN 0
                     WHEN c_acctbal >= 1000 AND c_acctbal < 5000 THEN 1
                     WHEN c_acctbal >= 5000 AND c_acctbal <= 10000 THEN 2
                   END AS bin,
                   COUNT(c_custkey) AS n
            FROM customer GROUP BY 1
        """,
        "quantiles": """
            SELECT l_returnflag,
                   ROUND(MEDIAN(l_quantity), 4) AS med,
                   ROUND(QUANTILE_CONT(l_quantity, 0.9), 4) AS q90
            FROM lineitem GROUP BY l_returnflag
        """,
        "stats": """
            SELECT l_returnflag,
                   ROUND(STDDEV_SAMP(l_quantity), 6) AS sd,
                   ROUND(VAR_POP(l_quantity), 6) AS vp,
                   ROUND(CORR(l_extendedprice, l_quantity), 6) AS cr
            FROM lineitem GROUP BY l_returnflag
        """,
        "count_distinct_star": """
            SELECT o_orderstatus, COUNT(DISTINCT (o_custkey, o_orderpriority)) AS n
            FROM orders GROUP BY o_orderstatus
        """,
        "group_concat": """
            SELECT l_orderkey,
                   STRING_AGG(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS lines
            FROM lineitem WHERE l_orderkey <= 200 GROUP BY l_orderkey
        """,
        "selectors_across": """
            SELECT c_mktsegment,
                   ROUND(SUM(CAST(c_custkey AS DOUBLE)), 2) AS c_custkey_sum,
                   ROUND(SUM(CAST(c_nationkey AS DOUBLE)), 2) AS c_nationkey_sum,
                   ROUND(SUM(c_acctbal), 2) AS c_acctbal_sum
            FROM customer GROUP BY c_mktsegment
        """,
        "arg_reductions": """
            SELECT o_orderpriority,
                   ARG_MAX(o_orderkey, o_totalprice) AS priciest,
                   ARG_MIN(o_orderkey, o_totalprice) AS cheapest,
                   ARG_MAX(o_orderkey, o_totalprice)
                     FILTER (WHERE o_orderstatus = 'O') AS pricey_open
            FROM orders GROUP BY o_orderpriority
        """,
        "collect_ordered": """
            SELECT l_orderkey,
                   array_to_string(
                     LIST(CAST(l_quantity AS BIGINT)
                          ORDER BY l_linenumber, l_quantity), ',') AS qtys,
                   array_to_string(
                     LIST(CAST(l_quantity AS BIGINT)
                          ORDER BY l_linenumber DESC, l_quantity), ',') AS qtys_desc
            FROM lineitem WHERE l_orderkey <= 100 GROUP BY l_orderkey
        """,
        "udf_pyarrow": """
            SELECT p_partkey,
                   CAST(p_size + CASE WHEN p_retailprice > 1000 THEN 1 ELSE 0 END
                        AS BIGINT) AS bonus
            FROM part
        """,
        "window_percent": """
            SELECT c_custkey, c_nationkey,
                   PERCENT_RANK() OVER w AS pr,
                   CUME_DIST() OVER w AS cd
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey
                         ORDER BY c_acctbal, c_custkey)
        """,
        "ordered_reductions_desc": """
            SELECT l_orderkey,
                   STRING_AGG(CAST(l_linenumber AS VARCHAR), ','
                              ORDER BY l_linenumber DESC) AS lines_desc,
                   MAX(l_linenumber) AS first_desc,
                   MIN(l_linenumber) AS last_desc,
                   FIRST(l_linestatus ORDER BY l_returnflag, l_linenumber DESC, l_linestatus) AS status_mixed
            FROM lineitem WHERE l_orderkey <= 200 GROUP BY l_orderkey
        """,
        "array_ops": """
            SELECT doc_id,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tok,
                   CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS INT) AS n_uniq,
                   LIST_CONTAINS(STRING_SPLIT(text, ' '), 'the') AS has_the,
                   STRING_SPLIT(text, ' ')[1] AS first_tok
            FROM documents
        """,
        "unnest_tokens": """
            SELECT word, COUNT(*) AS cnt FROM (
              SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents)
            GROUP BY word ORDER BY cnt DESC, word LIMIT 20
        """,
        "json_extract": """
            SELECT event_id,
                   CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "pivot_wider": """
            SELECT o_orderpriority,
                   COUNT(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END) AS F,
                   COUNT(CASE WHEN o_orderstatus = 'O' THEN o_orderkey END) AS O,
                   COUNT(CASE WHEN o_orderstatus = 'P' THEN o_orderkey END) AS P
            FROM orders GROUP BY o_orderpriority
        """,
        "pretokenize": """
            SELECT doc_id,
                   CAST(len(list_filter(g,
                        t -> NOT regexp_matches(t, '^\\s+$'))) AS INT) AS n_pre,
                   CAST(len(g) AS INT) AS n_all
            FROM (
              SELECT doc_id,
                     regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'
                     ) AS g
              FROM documents
            )
        """,
        "winnow_fingerprint": """
            SELECT doc_id,
                   unnest(list_sort(list_distinct(
                     list_transform(range(1, GREATEST(len(kh) - 3, 1) + 1),
                                    i -> list_min(kh[i:i+3]))
                   ))) AS fp
            FROM (
              SELECT doc_id,
                     list_transform(
                       range(1, GREATEST(length(text) - 4, 1) + 1),
                       i -> list_reduce(cs[i:i+4],
                                        (a, b) -> (a * 257 + b) % 1000000007)
                     ) AS kh
              FROM (
                SELECT doc_id,
                       list_transform(range(1, GREATEST(length(text), 1) + 1),
                                      i -> CAST(ascii(text[i:i]) AS BIGINT)) AS cs,
                       text
                FROM documents
              )
            )
        """,
        "repetition_score": """
            SELECT doc_id,
                   ROUND(1.0 - len(list_distinct(g2)) * 1.0
                             / GREATEST(len(g2), 1), 4) AS rep2,
                   ROUND(1.0 - len(list_distinct(g3)) * 1.0
                             / GREATEST(len(g3), 1), 4) AS rep3
            FROM (
              SELECT doc_id,
                     list_transform(range(1, GREATEST(len(t) - 1, 1) + 1),
                                    i -> array_to_string(t[i:i+1], ' ')) AS g2,
                     list_transform(range(1, GREATEST(len(t) - 2, 1) + 1),
                                    i -> array_to_string(t[i:i+2], ' ')) AS g3
              FROM (SELECT doc_id,
                           regexp_split_to_array(lower(text), '\\s+') AS t
                    FROM documents)
            )
        """,
        "pivot_wider_explicit": """
            SELECT o_orderpriority,
                   CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
                                          THEN o_orderkey END), 0) AS BIGINT) AS F,
                   CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
                                          THEN o_orderkey END), 0) AS BIGINT) AS O,
                   CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
                                          THEN o_orderkey END), 0) AS BIGINT) AS P
            FROM orders GROUP BY o_orderpriority
        """,
        "pivot_longer": """
            SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS val FROM customer
            UNION ALL
            SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
        """,
        "dedup_exact": """
            SELECT MD5(text) AS h, MIN(doc_id) AS doc_id
            FROM documents GROUP BY MD5(text)
        """,
        "fingerprint": """
            SELECT doc_id, SUBSTR(MD5(text), 1, 8) AS fp FROM documents
        """,
        "dedup_minhash_verified": """
            WITH sh AS (
              SELECT doc_id, grams, len(grams) AS n FROM (
                SELECT doc_id, list_distinct(list_transform(
                         range(1, greatest(length(text) - 3, 1) + 1),
                         i -> text[i:i+3])) AS grams
                FROM documents)
            ), pairs AS (
              -- length-ratio prefilter: jaccard >= t forces
              -- min(|A|,|B|) >= t * max(|A|,|B|); the expensive
              -- list_intersect runs only on surviving pairs
              SELECT a.doc_id AS x, b.doc_id AS y
              FROM sh a JOIN sh b
                ON a.doc_id <> b.doc_id
               AND a.n >= 0.7 * b.n AND b.n >= 0.7 * a.n
              WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
                    greatest(a.n + b.n
                             - len(list_intersect(a.grams, b.grams)), 1) >= 0.7
            )
            SELECT d.doc_id,
                   LEAST(d.doc_id, COALESCE(MIN(p.y), d.doc_id)) AS rep_id,
                   LEAST(d.doc_id, COALESCE(MIN(p.y), d.doc_id)) <> d.doc_id AS is_dup
            FROM documents d LEFT JOIN pairs p ON p.x = d.doc_id
            GROUP BY d.doc_id
        """,
        "dedup_embedding": """
            WITH pairs AS (
              SELECT a.vec_id AS x, b.vec_id AS y
              FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
              WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
            )
            SELECT e.vec_id,
                   LEAST(e.vec_id, COALESCE(MIN(p.y), e.vec_id)) AS rep_id,
                   LEAST(e.vec_id, COALESCE(MIN(p.y), e.vec_id)) <> e.vec_id AS is_dup
            FROM embeddings e LEFT JOIN pairs p ON p.x = e.vec_id
            GROUP BY e.vec_id
        """,
        "dedup_ngram_jaccard": """
            WITH ng AS (
              SELECT doc_id, grams, len(grams) AS n FROM (
                SELECT doc_id, list_distinct(list_transform(
                         range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
                         i -> array_to_string(string_split_regex(lower(text), '\\s+')[i:i+2], ' ')
                       )) AS grams
                FROM documents)
            ), pairs AS (
              SELECT a.doc_id AS x, b.doc_id AS y
              FROM ng a JOIN ng b
                ON a.doc_id <> b.doc_id
               AND a.n >= 0.6 * b.n AND b.n >= 0.6 * a.n
              WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
                    greatest(a.n + b.n
                             - len(list_intersect(a.grams, b.grams)), 1) >= 0.6
            )
            SELECT d.doc_id,
                   LEAST(d.doc_id, COALESCE(MIN(p.y), d.doc_id)) AS rep_id,
                   LEAST(d.doc_id, COALESCE(MIN(p.y), d.doc_id)) <> d.doc_id AS is_dup
            FROM documents d LEFT JOIN pairs p ON p.x = d.doc_id
            GROUP BY d.doc_id
        """,
        "temporal_arith": """
            SELECT o_orderkey,
                   o_orderdate + INTERVAL '1 day' AS plus_day,
                   o_orderdate - INTERVAL '7 days' AS minus_week,
                   o_orderdate + INTERVAL '36 hours' AS plus_hours
            FROM orders
        """,
        "timestamp_bucket": """
            SELECT TIME_BUCKET(INTERVAL '15 minutes', ts) AS b, COUNT(event_id) AS n
            FROM events GROUP BY 1
        """,
        "in_values": """
            SELECT c_custkey,
                   c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AS seg_hit,
                   FALSE AS none_hit
            FROM customer
        """,
        "between_time": """
            SELECT event_id,
                   STRFTIME(ts, '%H:%M:%S') BETWEEN '09:00:00' AND '17:00:00' AS in_window,
                   STRFTIME(ts, '%H:%M:%S') AS tod
            FROM events
        """,
        "table_cast": """
            SELECT l_orderkey,
                   CAST(l_quantity AS INT) AS l_quantity,
                   CAST(l_discount AS VARCHAR) AS l_discount
            FROM lineitem
        """,
        "map_struct_ops": """
            SELECT n_nationkey,
                   n_nationkey AS sk,
                   n_name AS sn,
                   n_regionkey AS rk,
                   TRUE AS has_rk,
                   CAST(1 AS INT) AS n_keys
            FROM nation
        """,
        "array_hof": """
            SELECT doc_id,
                   CAST(LEN(LIST_FILTER(STRING_SPLIT(text,' '), x -> LENGTH(x) > 4)) AS INT) AS n_long,
                   CAST(LIST_SUM(LIST_TRANSFORM(STRING_SPLIT(text,' '), x -> LENGTH(x))) AS BIGINT) AS lens_sum,
                   LEN(LIST_FILTER(STRING_SPLIT(text,' '), x -> x = 'the')) > 0 AS any_the,
                   CAST(COALESCE(LIST_POSITION(STRING_SPLIT(text,' '), 'the'), 0) - 1 AS BIGINT) AS pos_the
            FROM documents
        """,
        "regex_ops": """
            SELECT p_partkey,
                   REGEXP_MATCHES(p_name, '[aeiou]{2}') AS has_vowel2,
                   REGEXP_EXTRACT(p_name, '^(\\w+)', 1) AS first_word,
                   REGEXP_EXTRACT(p_brand, '(\\d+)', 1) AS digits,
                   REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS no_vowels,
                   CAST(LEN(REGEXP_SPLIT_TO_ARRAY(p_name, '\\s+')) AS INT) AS n_parts
            FROM part
        """,
        "hash_ops": """
            SELECT doc_id, MD5(text) AS h_md5, SHA256(text) AS h_sha256 FROM documents
        """,
        "bitwise_ops": """
            SELECT o_orderkey,
                   o_orderkey & 255 AS b_and,
                   o_orderkey | 16 AS b_or,
                   XOR(o_orderkey, o_custkey) AS b_xor,
                   (o_orderkey % 1024) << 2 AS b_shl,
                   o_orderkey >> 3 AS b_shr
            FROM orders
        """,
        "temporal_ctors": """
            SELECT o_orderkey,
                   MAKE_DATE(YEAR(o_orderdate), MONTH(o_orderdate), DAY(o_orderdate)) AS d,
                   MAKE_TIMESTAMP(YEAR(o_orderdate), MONTH(o_orderdate), DAY(o_orderdate), 12, 30, 0) AS ts,
                   EPOCH_MS((o_orderkey * 1000 + 1500000000) * 1000) AS from_unix
            FROM orders
        """,
        "temporal_delta": """
            SELECT event_id,
                   CAST(DATE_DIFF('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT) AS days_in,
                   CAST(DATE_DIFF('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS BIGINT) AS hours_in,
                   CAST(DATE_DIFF('day', CAST(TIMESTAMP '2024-01-01 00:00:00' AS DATE), CAST(ts AS DATE)) AS INT) AS date_diff_days
            FROM events
        """,
        "integer_range_unnest": """
            SELECT r_regionkey, UNNEST(RANGE(0, r_regionkey + 1)) AS seq FROM region
        """,
        "sql_escape_hatch": """
            SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey
        """,
        "ann_cosine_topk": """
            SELECT vec_id,
                   ROUND(LIST_COSINE_SIMILARITY(embedding::DOUBLE[],
                         (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim
            FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10
        """,
        "ann_ivf_topk": """
            -- ORDER BY the UNROUNDED similarity: the engine ranks by exact
            -- sim then vec_id and rounds only for display, while a bare
            -- `ORDER BY sim` here would resolve to the rounded output alias
            -- and could pick a different rank-10 row when sims differ only
            -- past 6 decimals
            SELECT vec_id,
                   ROUND(LIST_COSINE_SIMILARITY(embedding::DOUBLE[],
                         (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim
            FROM embeddings
            ORDER BY LIST_COSINE_SIMILARITY(embedding::DOUBLE[],
                     (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]) DESC,
                     vec_id
            LIMIT 10
        """,
        "bpe_encode": _bpe_oracle_sql(),
        "hash_sample": _hash_oracles()["hash_sample"],
        "hash_split": _hash_oracles()["hash_split"],
        "embedding_clusters": """
            WITH RECURSIVE pairs AS (
              SELECT a.vec_id AS x, b.vec_id AS y
              FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
              WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
            ), reach(src, dst) AS (
              SELECT x, x FROM (SELECT DISTINCT x FROM pairs)
              UNION
              SELECT r.src, p.y FROM reach r JOIN pairs p ON r.dst = p.x
            ), comp AS (
              SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
            )
            SELECT e.vec_id,
                   COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
                   COALESCE(c.cluster_id, e.vec_id) <> e.vec_id AS is_dup
            FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
        """,
        "retention": """
            WITH activity AS (
              SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS p
              FROM events),
            cohort AS (
              SELECT user_id, MIN(p) AS c FROM activity GROUP BY user_id)
            SELECT c AS cohort,
                   CAST(DATE_DIFF('day', c, p) AS INT) AS offset,
                   COUNT(*) AS n_active
            FROM activity JOIN cohort USING (user_id)
            GROUP BY c, DATE_DIFF('day', c, p)
        """,
        "funnel": """
            WITH e AS (
              SELECT user_id, ts, event_type FROM events
              WHERE event_type IN ('view', 'click', 'purchase')),
            a AS (
              SELECT user_id,
                     MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
              FROM e GROUP BY user_id),
            b AS (
              SELECT e.user_id,
                     MIN(CASE WHEN event_type = 'click' AND ts >= t1
                              THEN ts END) AS t2
              FROM e JOIN a USING (user_id) GROUP BY e.user_id),
            c AS (
              SELECT e.user_id,
                     MIN(CASE WHEN event_type = 'purchase' AND ts >= t2
                              THEN ts END) AS t3
              FROM e JOIN b USING (user_id) GROUP BY e.user_id)
            SELECT a.user_id,
                   CASE WHEN t3 IS NOT NULL THEN 3
                        WHEN t2 IS NOT NULL THEN 2
                        WHEN t1 IS NOT NULL THEN 1
                        ELSE 0 END AS depth,
                   a.t1 AS t_view, b.t2 AS t_click, c.t3 AS t_purchase
            FROM a JOIN b USING (user_id) JOIN c USING (user_id)
        """,
        "key_skew_stats": """
            SELECT l_suppkey, cnt,
                   ROUND(cnt * 1.0 / (SELECT COUNT(*) FROM lineitem), 6) AS frac
            FROM (SELECT l_suppkey, COUNT(*) AS cnt
                  FROM lineitem GROUP BY l_suppkey)
            ORDER BY cnt DESC, l_suppkey LIMIT 10
        """,
        "mixture_sample": _hash_oracles()["mixture_sample"],
        "ngram_lm_score": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
            bg AS (
              SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
              FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
                    FROM toks)),
            c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
            uni AS (SELECT doc_id, UNNEST(toks) AS w1 FROM toks),
            c1 AS (SELECT w1, COUNT(*) AS c1 FROM uni GROUP BY w1),
            v AS (SELECT COUNT(DISTINCT w1) AS v FROM uni),
            scored AS (
              -- nll via the engine's libm-free deterministic ln; mean
              -- folds terms in ASCENDING order (SUM(x ORDER BY x) ==
              -- Spark's sorted-array left fold) -> bit-identical doubles
              SELECT doc_id,
                     ("""
        + _det_ln_sql("c1 + CAST(1 AS BIGINT) * v", 0)
        + """
                      - """
        + _det_ln_sql("c12 + CAST(1 AS BIGINT)", 0)
        + """) AS nll
              FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
            agg AS (
              SELECT doc_id, COUNT(*) AS n_bigrams,
                     SUM(nll ORDER BY nll) / CAST(COUNT(*) AS DOUBLE) AS a
              FROM scored GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   a AS avg_nll,
                   """
        + _det_exp_sql("a")
        + """ AS ppl
            FROM toks t LEFT JOIN agg ON t.doc_id = agg.doc_id
        """,
        "chunk_text": """
            SELECT doc_id,
                   CAST(start / 32 AS INT) AS chunk_idx,
                   array_to_string(toks[start+1 : start+40], ' ') AS chunk
            FROM (
              SELECT doc_id,
                     string_split_regex(text, '\\s+') AS toks,
                     UNNEST(range(0, len(string_split_regex(text, '\\s+')), 32))
                         AS start
              FROM documents
            )
        """,
        "redact": """
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or http://ex.io/p?id='
                          || CAST(doc_id AS VARCHAR)
                          || ' tel +1 (555) 010-' || CAST(doc_id AS VARCHAR),
                     'https?://[^\\s]+', '[URL]', 'g'),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '[EMAIL]', 'g'),
                     '\\+?[0-9][0-9()\\s.-]{6,}[0-9]', '[PHONE]', 'g') AS red
            FROM documents
        """,
        "dedup_clusters": """
            WITH RECURSIVE sh AS (
              SELECT doc_id, grams, len(grams) AS n FROM (
                SELECT doc_id, list_distinct(list_transform(
                         range(1, greatest(length(text) - 3, 1) + 1),
                         i -> text[i:i+3])) AS grams
                FROM documents)
            ), pairs AS (
              SELECT a.doc_id AS x, b.doc_id AS y
              FROM sh a JOIN sh b
                ON a.doc_id <> b.doc_id
               AND a.n >= 0.7 * b.n AND b.n >= 0.7 * a.n
              WHERE len(list_intersect(a.grams, b.grams)) * 1.0 /
                    greatest(a.n + b.n
                             - len(list_intersect(a.grams, b.grams)), 1) >= 0.7
            ), reach(src, dst) AS (
              SELECT x, x FROM (SELECT DISTINCT x FROM pairs)
              UNION
              SELECT r.src, p.y FROM reach r JOIN pairs p ON r.dst = p.x
            ), comp AS (
              SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
            )
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                   COALESCE(c.cluster_id, d.doc_id) <> d.doc_id AS is_dup
            FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        """,
        "remove_duplicated_spans": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            tokens AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS tok
              FROM toks, UNNEST(range(1, len(tk) + 1)) u(i)),
            grams AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS gpos,
                     array_to_string(tk[i : i+7], ' ') AS gram
              FROM toks, UNNEST(range(1, len(tk) - 6)) u(i)),
            stats AS (SELECT gram, COUNT(*) AS c FROM grams GROUP BY gram),
            firsts AS (
              SELECT gram, doc_id AS fid, gpos AS fpos FROM (
                SELECT gram, doc_id, gpos,
                       ROW_NUMBER() OVER (PARTITION BY gram
                                          ORDER BY doc_id, gpos) AS rn
                FROM grams) WHERE rn = 1),
            dup AS (
              SELECT g.doc_id, g.gpos FROM grams g
              JOIN stats USING (gram) JOIN firsts USING (gram)
              WHERE c > 1 AND NOT (g.doc_id = fid AND g.gpos = fpos)),
            ev AS (
              SELECT doc_id, pos, tok, CAST(NULL AS BIGINT) AS dstart, 1 AS typ
              FROM tokens
              UNION ALL
              SELECT doc_id, gpos, NULL, gpos, 0 FROM dup),
            marked AS (
              SELECT *, MAX(dstart) OVER (PARTITION BY doc_id
                          ORDER BY pos, typ ROWS UNBOUNDED PRECEDING) AS runmax
              FROM ev)
            SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
            FROM marked
            WHERE typ = 1 AND (runmax IS NULL OR runmax < pos - 7)
            GROUP BY doc_id
        """,
        "line_dedup": """
            WITH prep AS (
              -- COALESCE: DuckDB's array_to_string([]) is NULL (concat_ws
              -- would skip it) where Spark's array_join([]) is '' — short
              -- docs must still produce the empty third line on both sides
              SELECT doc_id, concat_ws(chr(10),
                       COALESCE(array_to_string(toks[1:18], ' '), ''),
                       COALESCE(array_to_string(toks[19:36], ' '), ''),
                       COALESCE(array_to_string(toks[37:], ' '), '')) AS text
              FROM (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents)),
            lines AS (
              SELECT doc_id, i - 1 AS pos, parts[i] AS line
              FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
                    FROM prep),
                   UNNEST(range(1, len(parts) + 1)) AS u(i)),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY line
                                           ORDER BY doc_id, pos) AS rn
              FROM lines)
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
            FROM ranked WHERE rn = 1 GROUP BY doc_id
        """,
        "gopher_filter": """
            SELECT doc_id,
                   n BETWEEN 50 AND 100000 AS ok_words,
                   mean_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
                   n_symbols / sn <= 0.1 AS ok_symbol_ratio,
                   alpha_words / sn >= 0.8 AS ok_alpha_words,
                   n_stop >= 2 AS ok_stopwords,
                   (n BETWEEN 50 AND 100000)
                     AND (mean_len BETWEEN 3.0 AND 10.0)
                     AND (n_symbols / sn <= 0.1)
                     AND (alpha_words / sn >= 0.8)
                     AND (n_stop >= 2) AS gopher_pass
            FROM (
              SELECT doc_id, len(toks) AS n,
                     GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS sn,
                     CAST(list_sum(list_transform(toks, x -> length(x)))
                          AS DOUBLE)
                       / GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS mean_len,
                     CAST(len(string_split(text, '#')) - 1
                          + len(string_split(text, '...')) - 1
                          AS DOUBLE) AS n_symbols,
                     CAST(len(list_filter(toks,
                              x -> regexp_matches(x, '[a-z]')))
                          AS DOUBLE) AS alpha_words,
                     len(list_intersect(list_distinct(toks),
                         ['the','be','to','of','and','that','have','with']))
                       AS n_stop
              FROM (
                SELECT doc_id, text,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
              )
            )
        """,
        "domain_quota_sample": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5('r7' || CAST(doc_id AS VARCHAR)), doc_id
                     ) AS rn
              FROM documents)
            WHERE rn <= 10
        """,
        "decontaminate": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
            bench AS (
              SELECT DISTINCT array_to_string(toks[i : i+5], ' ') AS gram
              FROM (SELECT toks, UNNEST(range(1, len(toks) - 4)) AS i
                    FROM toks WHERE doc_id % 10 = 0)),
            docg AS (
              SELECT doc_id, array_to_string(toks[i : i+5], ' ') AS gram
              FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks) - 4)) AS i
                    FROM toks WHERE doc_id % 10 <> 0))
            SELECT doc_id,
                   doc_id IN (SELECT DISTINCT doc_id FROM docg
                              WHERE gram IN (SELECT gram FROM bench))
                     AS contaminated
            FROM documents WHERE doc_id % 10 <> 0
        """,
        "connected_components": """
            WITH RECURSIVE e0 AS (
              SELECT DISTINCT l_suppkey AS a, 100000 + l_partkey AS b
              FROM lineitem
              WHERE l_quantity > 49.0 AND l_discount > 0.08),
            sym AS (SELECT a, b FROM e0
                    UNION SELECT b AS a, a AS b FROM e0),
            reach(src, dst) AS (
              SELECT id, id FROM (SELECT DISTINCT a AS id FROM sym)
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
            SELECT src AS id, MIN(dst) AS component
            FROM reach GROUP BY src
        """,
        "connected_components_isolated": """
            -- nodes= contract: degree-0 suppliers appear as singleton
            -- components (component = self)
            WITH RECURSIVE e0 AS (
              SELECT DISTINCT l_suppkey AS a, 100000 + l_partkey AS b
              FROM lineitem
              WHERE l_quantity > 49.0 AND l_discount > 0.08),
            sym AS (SELECT a, b FROM e0
                    UNION SELECT b AS a, a AS b FROM e0),
            reach(src, dst) AS (
              SELECT id, id FROM (SELECT DISTINCT a AS id FROM sym)
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
            SELECT src AS id, MIN(dst) AS component
            FROM reach GROUP BY src
            UNION ALL
            SELECT s_suppkey AS id, s_suppkey AS component
            FROM supplier
            WHERE s_suppkey NOT IN (SELECT a FROM sym)
        """,
        "pagerank": """
            -- simplified PageRank, 3 iterations unrolled (the engine's
            -- fixed-iteration semantics are exactly SQL-reproducible);
            -- ranks ~1e-4 compared at 9dp, far above float drift
            WITH e AS (
              SELECT DISTINCT 100000 + l_partkey AS src, l_suppkey AS dst
              FROM lineitem WHERE l_quantity > 45.0),
            nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
            deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg
                    FROM e GROUP BY src),
            r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
            c1 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
                   FROM e JOIN deg d ON e.src = d.src
                          JOIN r0 r ON e.src = r.id GROUP BY e.dst),
            r1 AS (SELECT nodes.id,
                          (1 - 0.85) / nn.n + 0.85 * COALESCE(c1.c, 0) AS rank
                   FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.id = c1.id),
            c2 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
                   FROM e JOIN deg d ON e.src = d.src
                          JOIN r1 r ON e.src = r.id GROUP BY e.dst),
            r2 AS (SELECT nodes.id,
                          (1 - 0.85) / nn.n + 0.85 * COALESCE(c2.c, 0) AS rank
                   FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.id = c2.id),
            c3 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
                   FROM e JOIN deg d ON e.src = d.src
                          JOIN r2 r ON e.src = r.id GROUP BY e.dst),
            r3 AS (SELECT nodes.id,
                          (1 - 0.85) / nn.n + 0.85 * COALESCE(c3.c, 0) AS rank
                   FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.id = c3.id)
            SELECT id AS node, ROUND(rank, 9) AS pr FROM r3
        """,
        "pagerank_isolated": """
            -- nodes= contract: ALL suppliers enter the vertex set; the
            -- degree-0 ones enter N and settle at (1-d)/N
            WITH e AS (
              SELECT DISTINCT 100000 + l_partkey AS src, l_suppkey AS dst
              FROM lineitem WHERE l_quantity > 45.0),
            nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e
                      UNION SELECT s_suppkey FROM supplier),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
            deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg
                    FROM e GROUP BY src),
            r0 AS (SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
            c1 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
                   FROM e JOIN deg d ON e.src = d.src
                          JOIN r0 r ON e.src = r.id GROUP BY e.dst),
            r1 AS (SELECT nodes.id,
                          (1 - 0.85) / nn.n + 0.85 * COALESCE(c1.c, 0) AS rank
                   FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.id = c1.id),
            c2 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
                   FROM e JOIN deg d ON e.src = d.src
                          JOIN r1 r ON e.src = r.id GROUP BY e.dst),
            r2 AS (SELECT nodes.id,
                          (1 - 0.85) / nn.n + 0.85 * COALESCE(c2.c, 0) AS rank
                   FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.id = c2.id),
            c3 AS (SELECT e.dst AS id, SUM(r.rank / d.deg) AS c
                   FROM e JOIN deg d ON e.src = d.src
                          JOIN r2 r ON e.src = r.id GROUP BY e.dst),
            r3 AS (SELECT nodes.id,
                          (1 - 0.85) / nn.n + 0.85 * COALESCE(c3.c, 0) AS rank
                   FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.id = c3.id)
            SELECT id AS node, ROUND(rank, 9) AS pr FROM r3
        """,
        "range_join": """
            -- plain BETWEEN join; the engine's bucketed equi-join plan
            -- must produce the identical pair set (each pair meets in
            -- exactly one price bucket)
            SELECT p.o_orderkey AS p_key, i.i_key, p.o_totalprice AS val
            FROM orders p
            JOIN (SELECT o_orderkey AS i_key,
                         o_totalprice * 0.95 AS lo,
                         o_totalprice * 1.05 AS hi
                  FROM orders WHERE o_orderkey % 97 = 0) i
              ON p.o_totalprice >= i.lo AND p.o_totalprice <= i.hi
        """,
        "gap_fill": """
            -- resample + ffill: TIME_BUCKET matches the engine's
            -- epoch-aligned F.window start; forward fill via
            -- last_value IGNORE NULLS over the densified spine
            WITH b AS (
              SELECT user_id, TIME_BUCKET(INTERVAL '6 hours', ts) AS tb,
                     AVG(value) AS v
              FROM events GROUP BY 1, 2),
            span AS (
              SELECT user_id, MIN(tb) AS lo, MAX(tb) AS hi
              FROM b GROUP BY 1),
            spine AS (
              SELECT user_id,
                     UNNEST(generate_series(lo, hi, INTERVAL '6 hours')) AS tb
              FROM span)
            SELECT s.user_id, s.tb AS ts,
                   ROUND(LAST_VALUE(b.v IGNORE NULLS) OVER (
                     PARTITION BY s.user_id ORDER BY s.tb
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                     AS value
            FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.tb = b.tb
        """,
        "weighted_sample": f"""
            -- Efraimidis–Spirakis keys from the SAME md5-derived uniform
            -- the engine draws; ln via the shared libm-free polynomial
            -- (_det_ln_sql) so score/ordering/SET are bit-identical
            WITH s AS (
              SELECT o_orderkey,
                     {_det_ln_sql("('0x' || substr(md5('ws7' || CAST(o_orderkey AS VARCHAR)), 1, 15))::UBIGINT::BIGINT + 1", 60)}
                     / CAST(o_totalprice AS DOUBLE) AS score
              FROM orders WHERE o_totalprice > 0)
            SELECT o_orderkey, score FROM s
            ORDER BY score DESC, o_orderkey LIMIT 500
        """,
        "quantile_bucket": """
            -- value-split quintiles from the corpus's own distribution;
            -- identical QUANTILE_CONT interpolation as the engine's
            -- exact percentile (the quantile_filter precedent)
            WITH v AS (SELECT doc_id, LENGTH(text) AS ln FROM documents),
            thr AS (SELECT [QUANTILE_CONT(ln, 0.2), QUANTILE_CONT(ln, 0.4),
                            QUANTILE_CONT(ln, 0.6), QUANTILE_CONT(ln, 0.8)] AS t
                    FROM v)
            SELECT doc_id, ln,
                   CAST(len(list_filter(t, x -> ln > x)) AS INT) AS bucket
            FROM v, thr
        """,
        "pack_sequences": """
            -- greedy first-fit packing as a recursive CTE: the per-shard
            -- resetting fill level is the recursion the engine runs in
            -- applyInPandas
            WITH RECURSIVE s AS (
              SELECT doc_id, doc_id % 8 AS shard,
                     CAST(len(string_split_regex(text, '\\s+')) AS INT) AS cnt,
                     ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                                        ORDER BY doc_id) AS rn
              FROM documents),
            rec AS (
              SELECT shard, rn, doc_id, cnt,
                     CAST(0 AS BIGINT) AS bin_id, cnt AS acc
              FROM s WHERE rn = 1
              UNION ALL
              SELECT s.shard, s.rn, s.doc_id, s.cnt,
                     CASE WHEN r.acc + s.cnt <= 512
                          THEN r.bin_id ELSE r.bin_id + 1 END,
                     CASE WHEN r.acc + s.cnt <= 512
                          THEN r.acc + s.cnt ELSE s.cnt END
              FROM rec r JOIN s ON s.shard = r.shard AND s.rn = r.rn + 1)
            SELECT doc_id, shard, cnt, bin_id FROM rec
        """,
        "contamination_score": """
            -- positional 6-gram overlap fraction vs the %10==0 benchmark
            -- slice; score = hit/total int division, deterministic
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
            bench AS (
              SELECT DISTINCT array_to_string(toks[i : i+5], ' ') AS gram
              FROM (SELECT toks, UNNEST(range(1, len(toks) - 4)) AS i
                    FROM toks WHERE doc_id % 10 = 0)),
            docg AS (
              SELECT doc_id, array_to_string(toks[i : i+5], ' ') AS gram
              FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks) - 4)) AS i
                    FROM toks WHERE doc_id % 10 <> 0)),
            scored AS (
              SELECT doc_id, COUNT(*) AS n_ngrams,
                     SUM(CASE WHEN gram IN (SELECT gram FROM bench)
                              THEN 1 ELSE 0 END) AS n_hit
              FROM docg GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(n_ngrams, 0) AS BIGINT) AS n_ngrams,
                   CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
                   CASE WHEN n_ngrams > 0
                        THEN CAST(n_hit AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
                   END AS score
            FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
            LEFT JOIN scored USING (doc_id)
        """,
        "quantile_filter": """
            -- QUANTILE_CONT interpolates like Spark's exact percentile;
            -- a fractional interpolation position puts the bound strictly
            -- between two integer lengths, so a 1-ulp difference cannot
            -- flip any row's inclusion
            WITH b AS (
              SELECT QUANTILE_CONT(LENGTH(text), 0.05) AS lo,
                     QUANTILE_CONT(LENGTH(text), 0.95) AS hi
              FROM documents)
            SELECT doc_id, LENGTH(text) AS ln
            FROM documents, b
            WHERE LENGTH(text) >= lo AND LENGTH(text) <= hi
        """,
        "corpus_divergence": """
            -- token-level JS contributions, even vs odd doc_ids; ln via
            -- the engine's libm-free polynomial -> raw bit-identical
            -- doubles, no rounding needed
            WITH ta AS (
              SELECT UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> '')) AS tok
              FROM documents WHERE doc_id % 2 = 0),
            tb AS (
              SELECT UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> '')) AS tok
              FROM documents WHERE doc_id % 2 = 1),
            ca AS (SELECT tok, COUNT(*) AS na FROM ta GROUP BY tok),
            cb AS (SELECT tok, COUNT(*) AS nb FROM tb GROUP BY tok),
            tots AS (SELECT (SELECT SUM(na) FROM ca) AS tota,
                            (SELECT SUM(nb) FROM cb) AS totb),
            j AS (
              SELECT tok AS token,
                     CAST(COALESCE(na, 0) AS DOUBLE) / CAST(tota AS DOUBLE) AS pa,
                     CAST(COALESCE(nb, 0) AS DOUBLE) / CAST(totb AS DOUBLE) AS pb
              FROM ca FULL JOIN cb USING (tok) CROSS JOIN tots),
            r AS (
              SELECT token, pa, pb,
                     pa / ((pa + pb) / 2.0) AS ra,
                     pb / ((pa + pb) / 2.0) AS rb
              FROM j),
            l AS (
              SELECT token, pa, pb,
                     """
        + _det_ln_unit_sql("ra")
        + """ AS lra,
                     """
        + _det_ln_unit_sql("rb")
        + """ AS lrb
              FROM r)
            SELECT token, pa AS p_a, pb AS p_b,
                   (CASE WHEN pa > 0 THEN pa * lra ELSE 0.0 END
                  + CASE WHEN pb > 0 THEN pb * lrb ELSE 0.0 END) / 2.0 AS js
            FROM l ORDER BY js DESC, token LIMIT 25
        """,
        "cross_dedup": """
            -- all-pairs train x ref exact shingle-Jaccard (same shingle
            -- construction and length-ratio prefilter as the intra-corpus
            -- dedup oracles); the engine's banded-LSH candidate join +
            -- exact verification must flag the identical set
            WITH sh AS (
              SELECT doc_id, grams, len(grams) AS n FROM (
                SELECT doc_id, list_distinct(list_transform(
                         range(1, greatest(length(text) - 3, 1) + 1),
                         i -> text[i:i+3])) AS grams
                FROM documents)
            ),
            tr AS (SELECT * FROM sh WHERE doc_id % 7 <> 0),
            rf AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
            hits AS (
              SELECT x, y, sim FROM (
                SELECT t.doc_id AS x, r.doc_id AS y,
                       len(list_intersect(t.grams, r.grams))::DOUBLE /
                       greatest(t.n + r.n
                                - len(list_intersect(t.grams, r.grams)), 1)
                         AS sim
                FROM tr t JOIN rf r
                  ON t.n >= 0.7 * r.n AND r.n >= 0.7 * t.n)
              WHERE sim >= 0.7
            )
            SELECT t.doc_id, MIN(h.y) AS matched_ref,
                   ROUND(MAX(h.sim), 6) AS sim,
                   COUNT(h.y) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) t
            LEFT JOIN hits h ON h.x = t.doc_id
            GROUP BY t.doc_id
        """,
        "table_diff": """
            -- reconcile orders against its perturbed version: full outer
            -- key join + null-safe column comparisons (IS DISTINCT FROM),
            -- changed_cols only meaningful on 'changed' rows
            WITH b AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     CASE WHEN o_orderkey % 13 = 0
                          THEN o_totalprice * 1.1
                          ELSE o_totalprice END AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 17 <> 0
              UNION ALL
              SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                     o_totalprice, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 19 = 0
            ),
            j AS (
              SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                     CASE WHEN a.o_orderkey IS NULL THEN 'added'
                          WHEN b.o_orderkey IS NULL THEN 'removed'
                          ELSE 'changed' END AS pre_status,
                     a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                       AS in_both,
                     array_to_string(list_sort(list_filter([
                       CASE WHEN a.o_custkey IS DISTINCT FROM b.o_custkey
                            THEN 'o_custkey' END,
                       CASE WHEN a.o_orderdate IS DISTINCT FROM b.o_orderdate
                            THEN 'o_orderdate' END,
                       CASE WHEN a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
                            THEN 'o_orderpriority' END,
                       CASE WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                            THEN 'o_orderstatus' END,
                       CASE WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
                            THEN 'o_totalprice' END
                     ], x -> x IS NOT NULL)), ',') AS changed
              FROM orders a FULL JOIN b ON a.o_orderkey = b.o_orderkey
            )
            SELECT o_orderkey,
                   CASE WHEN in_both AND changed = '' THEN 'equal'
                        ELSE pre_status END AS diff_status,
                   CASE WHEN in_both THEN changed ELSE '' END AS changed
            FROM j
            WHERE NOT (in_both AND changed = '')
        """,
        "grouped_topk": """
            SELECT c_nationkey, c_custkey, c_acctbal FROM (
              SELECT c_nationkey, c_custkey, c_acctbal,
                     ROW_NUMBER() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey) AS rn
              FROM customer)
            WHERE rn <= 5
        """,
        "sessionize_tws": """
            WITH marked AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts) IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER (
                               PARTITION BY user_id ORDER BY ts)) > 1800.0
                          THEN 1 ELSE 0 END AS new_sess
              FROM events),
            s AS (
              SELECT user_id, ts,
                     SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sid
              FROM marked)
            SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "sessionize": """
            SELECT event_id, user_id,
                   CAST(SUM(new_sess) OVER (
                     PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - 1 AS BIGINT) AS session_id
            FROM (
              SELECT event_id, user_id, ts,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                              IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER (
                               PARTITION BY user_id ORDER BY ts)) > 1800.0
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
        """,
        "top_ngrams": """
            -- bigrams: i ranges 1..len-1 (range upper bound is exclusive,
            -- and is empty when len < 2 — same guard as the engine)
            SELECT ng AS ngram, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (
              SELECT array_to_string(toks[i : i+1], ' ') AS ng
              FROM (
                SELECT toks, UNNEST(range(1, len(toks))) AS i
                FROM (
                  SELECT list_filter(string_split_regex(lower(text), '\\s+'),
                                     x -> x <> '') AS toks
                  FROM documents
                )
              )
            )
            GROUP BY ng ORDER BY cnt DESC, ng LIMIT 25
        """,
        "tfidf": f"""
            WITH toks AS (
              SELECT doc_id,
                     UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> '')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM toks GROUP BY doc_id, term
            ),
            df AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
            ),
            n AS (SELECT COUNT(*) AS n FROM documents)
            -- idf via the engine's libm-free deterministic ln
            -- (ln N - ln df), emitted raw: bit-identical cross-engine
            SELECT t.doc_id, t.term, t.tf, d.df,
                   CAST(t.tf AS DOUBLE) * ({_det_ln_sql("n.n", 0)} - {_det_ln_sql("d.df", 0)}) AS tfidf
            FROM tf t JOIN df d USING(term) CROSS JOIN n
            WHERE t.doc_id < 50
        """,
        "ann_recall_lsh": _lsh_recall_oracle(),
        "ann_recall": """
            -- rebuild the deterministic IVF index in pure SQL: centroids =
            -- embeddings of vec_id<8, queries = vec_id 8..12, n_probe=2,
            -- k=10. list_distance is sqrt(sum-sq) — same argmin/ordering
            -- as the engine's squared-L2, ties to the smaller centroid id.
            WITH cents AS (
              SELECT vec_id AS c_id, embedding::DOUBLE[] AS cvec
              FROM embeddings WHERE vec_id < 8
            ),
            qs AS (
              SELECT vec_id AS q_id, embedding::DOUBLE[] AS qvec
              FROM embeddings WHERE vec_id >= 8 AND vec_id < 13
            ),
            assign AS (
              SELECT e.vec_id, e.embedding::DOUBLE[] AS vec,
                     (SELECT c.c_id FROM cents c
                      ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC,
                               c.c_id ASC
                      LIMIT 1) AS cluster
              FROM embeddings e
            ),
            probes AS (
              SELECT q_id, c_id FROM (
                SELECT q.q_id, c.c_id,
                       row_number() OVER (
                         PARTITION BY q.q_id
                         ORDER BY list_distance(q.qvec, c.cvec) ASC, c.c_id ASC
                       ) AS pr
                FROM qs q CROSS JOIN cents c
              ) WHERE pr <= 2
            ),
            scored AS (
              SELECT q.q_id, a.vec_id,
                     list_cosine_similarity(a.vec, q.qvec) AS sim,
                     EXISTS (SELECT 1 FROM probes p
                             WHERE p.q_id = q.q_id AND p.c_id = a.cluster) AS cand
              FROM assign a CROSS JOIN qs q
            ),
            ranked AS (
              SELECT q_id, cand,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY sim DESC, vec_id ASC) AS rk,
                     SUM(CASE WHEN cand THEN 1 ELSE 0 END) OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crk
              FROM scored
            )
            SELECT q_id,
                   SUM(CASE WHEN rk <= 10 AND cand AND crk <= 10
                            THEN 1 ELSE 0 END) / 10.0 AS recall
            FROM ranked GROUP BY q_id
        """,
        "lang_id": """
            SELECT doc_id,
                   CASE WHEN m = 0 THEN 'und'
                        WHEN s_zh = m THEN 'zh'
                        WHEN s_fr = m THEN 'fr'
                        WHEN s_es = m THEN 'es'
                        WHEN s_en = m THEN 'en'
                        ELSE 'de' END AS pred
            FROM (
              SELECT doc_id, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS m,
                     s_de, s_en, s_es, s_fr, s_zh
              FROM (
                SELECT doc_id,
                  LEN(LIST_FILTER(toks, x -> x IN ('der','die','das','und','von','ein','ist'))) AS s_de,
                  LEN(LIST_FILTER(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
                  LEN(LIST_FILTER(toks, x -> x IN ('el','los','las','y','de','un','una','es'))) AS s_es,
                  LEN(LIST_FILTER(toks, x -> x IN ('le','la','les','et','de','un','une','est'))) AS s_fr,
                  LEN(LIST_FILTER(toks, x -> x IN ('的','是','在','了','我'))) AS s_zh
                FROM (SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\\s+') AS toks
                      FROM documents)))
        """,
        "quality_score": """
            SELECT doc_id,
                   ROUND(((CAST(LENGTH(REGEXP_REPLACE(LOWER(text), '[^a-z]', '', 'g')) AS DOUBLE)
                           / GREATEST(LENGTH(text), 1))
                          + LEAST(CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS DOUBLE) / 100.0, 1.0)
                         ) / 2.0, 4) AS q
            FROM documents
        """,
        "token_count_bpe": """
            SELECT doc_id,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS INT) AS n_ws,
                   CAST(CEIL(LENGTH(text) / 4.0) AS INT) AS n_bpe
            FROM documents
        """,
        "udf_pandas": """
            SELECT p_partkey,
                   REPLACE(LOWER(TRIM(p_name)), 'widget', 'gadget') AS normed
            FROM part
        """,
        "udf_python": """
            SELECT p_partkey, CAST(FLOOR(p_retailprice / 500) AS BIGINT) AS band FROM part
        """,
        "udf_builtin": """
            SELECT p_partkey, CAST(BIT_LENGTH(p_name) AS INT) AS bits FROM part
        """,
        "udf_grouped_agg": """
            SELECT l_returnflag, ROUND(AVG(l_discount * l_discount), 8) AS msq
            FROM lineitem GROUP BY l_returnflag
        """,
        "tumble": """
            SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS window_start,
                   TIME_BUCKET(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
                   event_type,
                   COUNT(event_id) AS n,
                   ROUND(SUM(value), 4) AS total
            FROM events GROUP BY 1, 2, 3
        """,
        "hop": """
            SELECT w_start AS window_start, event_type, COUNT(*) AS n FROM (
              SELECT UNNEST([TIME_BUCKET(INTERVAL '30 minutes', ts),
                             TIME_BUCKET(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
                         AS w_start,
                     event_type
              FROM events)
            GROUP BY w_start, event_type
        """,
        "session_window": """
            WITH s AS (
              SELECT user_id, ts,
                     CASE WHEN LAG(ts) OVER w IS NULL
                               OR ts - LAG(ts) OVER w > INTERVAL '2 hours'
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), g AS (
              SELECT user_id, ts,
                     SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM s
            )
            SELECT MIN(ts) AS window_start,
                   MAX(ts) + INTERVAL '2 hours' AS window_end,
                   user_id, COUNT(*) AS n
            FROM g GROUP BY user_id, sid
        """,
        "rollup_agg": """
            SELECT o_orderstatus, o_orderpriority, COUNT(o_orderkey) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "cube_agg": """
            SELECT o_orderstatus, o_orderpriority, COUNT(o_orderkey) AS n
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "interval_range_window": """
            SELECT o_orderkey, o_custkey,
                   ROUND(AVG(o_totalprice) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW), 4) AS avg30
            FROM orders
        """,
        "text_stats": """
            SELECT doc_id,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tok,
                   CAST(LENGTH(text) AS BIGINT) AS n_char,
                   ROUND(LENGTH(text) / LEN(STRING_SPLIT(text, ' ')), 4) AS avg_tok_len,
                   ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                         x -> x IN ('the', 'a', 'value', 'row'))) AS DOUBLE)
                         / LEN(STRING_SPLIT(text, ' ')), 4) AS stop_ratio
            FROM documents
        """,
    }
