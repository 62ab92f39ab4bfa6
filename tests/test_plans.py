"""Plan-shape regression tests: the scale properties SCALE.md claims are
asserted here against `.explain("formatted")` output at sf0.001, so a
refactor that silently de-optimizes a plan (drops a pushdown, turns a
broadcast into a shuffle, introduces a cartesian product or a Python eval
node) fails CI instead of surfacing at 100 TB."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    qs = entry.queries()

    def get(name):
        df = qs[name](spark, SF)
        jdf = df._jdf  # noqa: SLF001 — plan text only
        jvm = df.sparkSession._jvm
        return jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    return get


def test_q1_filter_pushed_to_scan(plans):
    p = plans("q1")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_q1_prunes_columns(plans):
    # Q1 touches 7 of lineitem's 11 columns; the scan must not read all 11
    p = plans("q1")
    scan = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_partkey" not in scan and "l_suppkey" not in scan


def test_q5_dimension_joins_broadcast(plans):
    p = plans("q5_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q4_exists_lowers_to_semi_join(plans):
    p = plans("q4_order_priority")
    assert "LeftSemi" in p


def test_not_exists_lowers_to_anti_join(plans):
    p = plans("not_exists_subquery")
    assert "LeftAnti" in p


def test_scalar_subquery_is_broadcast_not_recompute(plans):
    # the 1-row aggregate is cross-joined via broadcast, and the only
    # nested-loop join allowed is that single-row broadcast
    p = plans("scalar_subquery")
    assert "BroadcastExchange" in p


def test_dedup_minhash_no_cartesian_and_repartitioned(plans):
    p = plans("dedup_minhash")
    assert "CartesianProduct" not in p
    # explicit pre-hash repartition must survive optimization
    assert "REPARTITION_BY_NUM" in p


def test_no_python_eval_in_builtin_operators(plans):
    # Python appears only in the explicit UDF queries — never in built-ins
    for name in (
        "q1",
        "q5_local_supplier_volume",
        "window_cumsum",
        "dedup_minhash",
        "text_stats",
        "array_hof",
        "json_extract",
    ):
        p = plans(name)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_window_single_exchange(plans):
    # one hash exchange for the partition keys; no extra shuffles
    p = plans("window_cumsum")
    tree = p.split("(1)")[0]
    assert tree.count("- Exchange") == 1


def test_topk_uses_take_ordered(plans):
    # sort+limit must plan TakeOrderedAndProject, not a global sort
    p = plans("filter_sort_limit")
    assert "TakeOrderedAndProject" in p


def test_histogram_stats_broadcast_not_window(plans):
    """histogram()'s min/max must be a broadcast 1-row aggregate — never a
    global unordered window (single-partition funnel)."""
    p = plans("histogram_bins")
    assert "BroadcastExchange" in p
    assert "Window" not in p
    assert "SortMergeJoin" not in p


def test_bool_cum_windows_single_exchange(plans):
    """Running-OR/AND windows shuffle exactly once, on the group key."""
    import re

    p = plans("bool_cum_windows")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "hashpartitioning(user_id" in p
    assert "CartesianProduct" not in p


def test_array_reductions_pure_scan_project(plans):
    """Array lambda reductions are scan+project only: no exchange, no
    Python eval node, and only the referenced columns read."""
    p = plans("array_named_reductions")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    scan = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in scan and "lang" not in scan


def test_salted_join_no_broadcast_nested_loop(plans):
    p = plans("salted_join_agg")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_scalar_subqueries_share_one_aggregate(spark):
    """k scalar statistics over one relation lower to ONE 1-row aggregate
    + ONE broadcast cross join — never k scans."""
    import ibis_spark as ib

    con = ib.connect(spark)
    t = con.read_parquet(f"{SF}/lineitem.parquet")
    out = t.mutate(
        lo=t.l_quantity.min().as_scalar(),
        hi=t.l_quantity.max().as_scalar(),
        mean=t.l_quantity.mean().as_scalar(),
    )
    p = out.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastNestedLoopJoin") == 1


def test_pivot_wider_explicit_names_no_plan_time_job(spark):
    """pivot_wider(names=[...]) must plan WITHOUT running a Spark job (the
    names-omitted path runs a distinct-values discovery job at plan time —
    unbounded at 100 TB). Asserted via a job group: planning inside the
    group must leave the group empty of job ids."""
    import ibis_spark as ib

    sc = spark.sparkContext
    con = ib.connect(spark)
    t = con.read_parquet(f"{SF}/orders.parquet").select(
        "o_orderpriority", "o_orderstatus", "o_orderkey"
    )

    sc.setJobGroup("pivot-plan-probe", "pivot_wider names= planning")
    try:
        wide = t.pivot_wider(
            names_from="o_orderstatus",
            values_from="o_orderkey",
            values_agg="count",
            names=["O", "F", "P"],
            names_sort=True,
        )
        cols = wide.columns  # forces analysis, still no action
        jobs = sc.statusTracker().getJobIdsForGroup("pivot-plan-probe")
    finally:
        sc.setJobGroup("", "")
    assert jobs == [] or jobs is None
    assert cols == ["o_orderpriority", "F", "O", "P"]

    # names omitted: discovery job IS expected (documented behavior)
    sc.setJobGroup("pivot-discovery-probe", "pivot_wider discovery planning")
    try:
        t.pivot_wider(
            names_from="o_orderstatus", values_from="o_orderkey", values_agg="count"
        ).columns
        jobs = sc.statusTracker().getJobIdsForGroup("pivot-discovery-probe")
    finally:
        sc.setJobGroup("", "")
    assert jobs  # the hidden action the docstring warns about


def test_asof_tolerance_buckets_the_window(spark):
    """A numeric/timedelta tolerance must route asof_join through the
    bucketed-window plan: the window partitions on (by-keys, bucket) so a
    global asof parallelizes instead of funnelling into one partition.
    Measured: 8M x 8M global asof 8.9 s (single-task sort) -> 2.1 s
    bucketed at local[32], gap widening with N."""
    import warnings

    import ibis_spark as ib
    from ibis_spark.expr.table import Table

    from pyspark.sql import functions as F

    left = Table(spark.range(1000).select(F.col("id").alias("t"), F.col("id").alias("lv")))
    right = Table(spark.range(1000).select(F.col("id").alias("t"), F.col("id").alias("rv")))

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # bucketed global asof must NOT warn
        j = left.asof_join(right, on="t", tolerance=10)
    p = j.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "__bkt__" in p  # window partition includes the tolerance bucket

    # column-expression tolerance: global-window fallback, with the warning
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        j2 = left.asof_join(right, on="t", tolerance=ib.literal(10))
    p2 = j2.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "__bkt__" not in p2


def test_array_named_reductions_single_split(spark):
    """The array_named_reductions query materializes the split+map array
    in its own projection; CollapseProject must NOT re-inline it (the
    expression is non-cheap and referenced by six reductions, and HOF
    lambdas get no common-subexpression elimination) — exactly one
    `split` in the optimized plan."""
    import __spark_entry__ as E

    df = E.queries()["array_named_reductions"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split") == 1


def test_round7_ops_plan_shapes(spark):
    """Pin the intended physical shapes of the round-7 operators:
    bpe_encode/redact/chunk_text are scan-local (no exchange, no Python
    eval), top_ngrams ends in a partial-agg count exchange + TakeOrdered."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    q = E.queries()
    for name in ("bpe_encode", "redact", "chunk_text"):
        p = q[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        p = p.split("== Initial Plan ==")[0]
        assert "Exchange" not in p, f"{name} must be scan-local"
        assert "Python" not in p, f"{name} must not run Python"
    p = q["top_ngrams"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "HashAggregate" in p


def test_q2_q21_full_tpch_plan_shapes(plans):
    """Round-7 completes the 22-query TPC-H suite: q2's correlated-min
    rewrite keeps every dimension join broadcast (one shuffle, on
    p_partkey, for the group-max join-back); q21's EXISTS/NOT-EXISTS pair
    lowers to one LeftSemi + one LeftAnti join, no cartesian products."""
    p = plans("q2_min_cost_supplier")
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p
    p = plans("q21_suppliers_kept_waiting")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    p = plans("q11_important_stock")
    # HAVING-vs-total is a broadcast 1-row aggregate, not a recompute
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p


def test_ngram_ops_materialize_tokens_once(spark):
    """HOF lambdas get no CSE: the token array must be materialized in
    its own projection so the split/lower/filter chain appears exactly
    once per scan in the optimized plan — inline tokens re-tokenize per
    n-gram position (measured 8.6× slower at sf0.1)."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    q = E.queries()
    p = q["top_ngrams"](spark, sf)._jdf.queryExecution().optimizedPlan().toString()
    assert p.count("split(") == 1
    p = q["decontaminate"](spark, sf)._jdf.queryExecution().optimizedPlan().toString()
    # one tokenize per scan side (corpus + benchmark)
    assert p.count("split(") == 2
    p = q["gopher_filter"](spark, sf)._jdf.queryExecution().optimizedPlan().toString()
    assert p.count("split(lower") == 1


def test_mixture_lm_cluster_plan_shapes(plans):
    """mixture_sample is a pure scan filter (no exchange, no Python);
    ngram_lm_score's only nested-loop join is the broadcast 1-row vocab
    aggregate; dedup_clusters inherits the no-cartesian banded-LSH shape."""
    p = plans("mixture_sample")
    assert "Exchange" not in p  # pure scan filter — nothing to shuffle
    assert "Python" not in p
    assert "CartesianProduct" not in p
    p = plans("ngram_lm_score")
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_range_join_bucketed_is_hash_join(plans):
    """range_join(bucket=...) must run as a hash equi-join on the bucket
    id, never the BroadcastNestedLoopJoin/Cartesian the raw inequality
    predicate would compile to; pagerank's per-iteration joins are
    likewise all equi (checkpointed RDD scans, no nested loops)."""
    p = plans("range_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Python" not in p


def test_new_pipeline_ops_plan_shapes(plans, spark):
    """corpus_divergence: one tokenize per corpus scan, no cartesian
    beyond the broadcast 1-row totals; cross_dedup: banded equi-join +
    exact verify, never an all-pairs product; weighted_sample: scan +
    TakeOrdered, no exchange of the data itself; quantile_filter:
    broadcast 1-row bounds, no Python."""
    import __spark_entry__ as E

    q = E.queries()
    df = q["corpus_divergence"](spark, SF)
    # the per-corpus token-count subtree feeds BOTH the join and the
    # 1-row total, so the logical plan mentions it twice — AQE's
    # ReuseExchange must collapse the duplicates at runtime (each corpus
    # tokenized/counted once); assert on the executed plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed
    p = plans("corpus_divergence")
    assert "CartesianProduct" not in p
    assert "Python" not in p
    p = plans("cross_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Python" not in p
    p = plans("weighted_sample")
    assert "TakeOrdered" in p
    assert "Python" not in p
    p = plans("quantile_filter")
    assert "Python" not in p
    assert "CartesianProduct" not in p


def test_geo_decoded_queries_no_python_eval(plans):
    """The decode-once geo queries are pure JVM expressions: no
    BatchEvalPython/ArrowEvalPython node anywhere in the plan, and the
    predicates keep the scan column-pruned.  geo_simplify_tolerance
    joined the list in r12: decoded input takes the expression-path
    DP, so the Arrow UDF is gone from the headline entry."""
    for name in (
        "geo_segment_cross",
        "geo_line_metrics",
        "geo_polygon_contains",
        "geo_line_cross_report",
        "geo_wkt_export",
        "geo_decode_roundtrip",
        "geo_simplify_tolerance",
    ):
        p = plans(name)
        assert "EvalPython" not in p, name
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_geo_segment_cross_prunes_scan(plans):
    # the predicate touches only c_custkey; the customer scan must not
    # read the wide text columns
    p = plans("geo_segment_cross")
    scan = p.split("ReadSchema")[1].splitlines()[0]
    assert "c_comment" not in scan and "c_address" not in scan


def test_geo_simplify_wkb_path_is_arrow_batched(spark):
    # WKB (non-decoded) input still runs the sanctioned Python node:
    # Arrow-batched, never row-wise
    import ibis_spark as ib
    from ibis_spark import geo

    t = ib.memtable([(b"",)], schema={"g": "binary"})
    df = t.mutate(s=geo.geo_simplify(t.g, 1.0)).df
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_geo_transform_and_buffer_no_python_eval(plans):
    """The r12-late CRS transforms and buffers are pure JVM
    expressions: projection math and arc fans run inside Catalyst, no
    Python worker anywhere."""
    for name in ("geo_transform_report", "geo_buffer_report"):
        p = plans(name)
        assert "EvalPython" not in p, name
        assert "CartesianProduct" not in p, name


def test_batch_setop_entries_plan_shapes(plans):
    """The batch clip entries run Python exactly where designed: the
    table path is ONE MapInPandas pass (no scalar-UDF extraction to
    lose — the pinned Spark 4.1 flake), nothing row-wise, and the
    explicit repartition spreads the single-split scan."""
    for name in ("geo_clip_batch_report", "geo_clip_general_report"):
        p = plans(name)
        # one node header in the formatted tree (the node name repeats
        # once more in the detail section)
        assert p.count("MapInPandas (") == 1, name
        assert "BatchEvalPython" not in p, name
        assert "RoundRobinPartitioning" in p, name


def test_repartitioned_entries_spread_the_scan(plans):
    """The CPU-heavy single-split entries carry the explicit exchange
    (values unchanged — strict oracle re-checks); without it the whole
    per-row pipeline runs on one core (SCALE.md round-12-late)."""
    for name in (
        "geo_wkt_export",
        "geo_line_cross_report",
        "geo_simplify_tolerance",
        "geo_line_metrics",
        "geo_transform_report",
        "geo_buffer_report",
    ):
        assert "RoundRobinPartitioning" in plans(name), name


def test_batch_kernels_stage_each_geometry_once(con):
    """geo_setops_batch and geo_buffer_batch decode each input geometry
    into ONE staged column and flatten from there: the analyzed plan
    holds one copy of each decoded=True constructor, not one per flat
    staging column (four); zip_with marks the constructor's rings."""
    import ibis_spark as ib
    from ibis_spark import geo

    t = con.memtable([(1,)], schema={"i": "int64"})
    z = (t.i - t.i).cast("float64")
    a = geo.geo_polygon(
        ib.array(z, z + 4.0, z + 4.0, z), ib.array(z, z, z + 4.0, z + 4.0),
        decoded=True,
    )
    b = geo.geo_polygon(
        ib.array(z + 2.0, z + 6.0, z + 6.0, z + 2.0),
        ib.array(z, z, z + 4.0, z + 4.0),
        decoded=True,
    )

    def copies(out):
        p = out.df._jdf.queryExecution().analyzed().toString()
        return p.count("zip_with")

    one = copies(t.select(g=a))
    assert one >= 1
    setops = geo.geo_setops_batch(t, a, b, keep=["i"])
    assert copies(setops) == 2 * one
    buffered = geo.geo_buffer_batch(t, a, 1.0, keep=["i"])
    assert copies(buffered) == one
    r = setops.select(
        ia=geo.geo_area(setops["intersection"]),
        ua=geo.geo_area(setops["union"]),
    ).df.collect()[0]
    assert (r.ia, r.ua) == (8.0, 24.0)
