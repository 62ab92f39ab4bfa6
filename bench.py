"""The query-timing driver: times `queries()` entries at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) and prints ONE JSON
line.

    python bench.py                  # the headline set
    python bench.py tpch             # a named set: headline, tpch, heavy, geo
    python bench.py q1 geo_cluster   # query names (sets and names mix)

Each query is forced end-to-end with the noop sink (full execution, no
driver-side collect overhead). Steady-state protocol: each query is
built once, warmed WARMUPS times (default 2) then timed REPS times
(default 3) consecutively, and the MINIMUM is reported — consecutive
execution keeps the JIT profile hot (the r5 suite-wide warm-up pass
measured a 1.6-2x phantom regression on early queries from code-cache
pollution).  The artifact carries each query's first build time too.

The artifact also carries (a) a DuckDB single-process baseline column
(each query's oracle SQL on the same parquet, best-of-REPS; disable with
SPARK_GRAFT_BENCH_ORACLE=0) and (b) a 10x-smaller-SF column
(SPARK_GRAFT_BENCH_SMALL_SF_DIR, default sf0.01; =0 disables) so fixed
per-query overhead vs data-dependent marginal cost is machine-checkable.

The layout is read from the directory: one holding
``_bucketed_meta.json`` (tools/make_sf10_bucketed.py output) is
registered as bucketed tables and queried through ``_t``'s
``catalog:b_`` scheme; any other directory holds ``<table>.parquet``
files.  Only the default headline run writes BENCH_LOCAL_r{N}.json;
any other artifact is a stdout redirect.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

HEADLINE = [
    "q1",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_customer",
    "q8_market_share",
    "q9_product_profit",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q19_discounted_revenue",
    "agg_filtered",
    "agg_having",
    "join_inner_chain",
    "join_semi",
    "join_theta",
    "join_asof",
    "set_union_all",
    "set_difference_all",
    "window_rank",
    "window_cumsum",
    "in_subquery",
    "scalar_subquery",
    "q17_small_quantity",
    "scalar_numeric",
    "unnest_tokens",
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_verified",
    "dedup_embedding",
    "ann_cosine_topk",
    "tumble",
    "interval_range_window",
    "text_stats",
    "udf_pandas",
    "histogram_bins",
    "array_named_reductions",
    "bool_cum_windows",
    # round-7 additions
    "ann_recall",
    "bpe_encode",
    "hash_split",
    "chunk_text",
    "redact",
    "top_ngrams",
    "tfidf",
    "sessionize",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q21_suppliers_kept_waiting",
    "line_dedup",
    "gopher_filter",
    "domain_quota_sample",
    "decontaminate",
    "connected_components",
    "pagerank",
    "range_join",
    "gap_fill",
    "weighted_sample",
    "quantile_filter",
    "corpus_divergence",
    "cross_dedup",
    "grouped_topk",
    "table_diff",
    "dedup_clusters",
    "mixture_sample",
    "ngram_lm_score",
    "funnel",
    "retention",
    "embedding_clusters",
    "remove_duplicated_spans",
    # round-8 additions
    "quantile_bucket",
    "pack_sequences",
    "contamination_score",
    "connected_components_isolated",
    "pagerank_isolated",
    # round-9 additions: pure-Spark geo slice + TPC-DS-derived shapes
    "geo_distance_filter",
    "geo_bbox_count",
    "ds_rollup_report",
    "ds_rank_over_rollup",
    "ds_multi_channel",
    "ds_year_over_year",
    "geo_within_join",
    "ds_time_band_counts",
    "ds_returns_net",
    "ds_cume_channels",
    # round-10 additions: clustering, polygon slice, DS correlated tranche
    "geo_cluster",
    "geo_dbscan",
    "geo_polygon_contains",
    # round-10 linestring/MULTI* slices: segment_cross (per-row pairwise
    # intersects) and union_agg (keyed MULTIPOINT reduction) are the
    # row-scaling representatives; the 25-row dim entries
    # (triangle_report, envelope_box) and the build-bound
    # intersects_pt_poly/line_locate follow the geo_polygon_area posture
    "geo_segment_cross",
    "geo_union_agg",
    "ds_returns_above_avg",
    "ds_best_customers",
    "ds_cross_channel_best",
    "ds_wide_multijoin",
    "ds_sales_growth_pairs",
    # round-11 additions: decode-once retired the r10 `weak` labels —
    # geo_line_metrics re-enters the headline set (was excluded at
    # ~270 us/row through the WKB codec; the 7 measures now fold over
    # one decoded struct at ~6 us/row). geo_decode_roundtrip carries
    # the stored-WKB decode-once shape; line_cross_report the DE-9IM
    # relate pass; wkt/simplify the export + UDF paths.
    # geo_square_relations stays OUT: expression-build-bound (~11 s
    # constant, rows-independent — the geo_polygon_area posture).
    # geo_decode_roundtrip also stays OUT: it exists to PROVE the
    # encode(decode(g)) byte identity, so it is codec-bound three times
    # over by construction (27 s at sf0.1 vs a trivial closed-form
    # oracle) — correctness entry, not a plan signal.
    "geo_line_metrics",
    "geo_line_cross_report",
    "geo_wkt_export",
    "geo_simplify_tolerance",
    # round-12: the new geo capability entries stay OUT of the
    # headline set, each with a measured reason (solo sf0.1, warm,
    # exec-only):
    # - geo_clip_report (3 set ops + 6 measures): 11-14 s exec =
    #   ~0.8 ms/row for eleven Sutherland-Hodgman folds — already cut
    #   3-6x by the r12 _bind eval-once work; interpreted-HOF bound,
    #   scan-local and embarrassingly parallel, with the named next
    #   lever (Arrow-batched mapInPandas clipping) in SCALE.md.
    # - geo_line_merge_report: ~22 s exec, same interpreted-fold class.
    # - geo_multipolygon_report: codec-proof three times over by
    #   construction — the geo_decode_roundtrip posture.
    # All three are correctness entries vs closed-form oracles; their
    # costs are recorded in SCALE.md round 12, not hidden.
    #
    # round-12 late: the named lever landed — geo_setops_batch
    # (mapInPandas kernels + explicit repartition off the single-split
    # scan).  The BATCH spellings are headline entries; the expression
    # geo_clip_report above stays out as the documented no-Python
    # reference point for the same closed form.
    "geo_clip_batch_report",
    "geo_clip_general_report",
    # round-12 late: CRS transforms (GeoConvert/GeoTransform) — pure
    # projection expressions, UTM forward bit-exact vs the oracle
    "geo_transform_report",
    # round-12 late: geo_buffer (point 32-gon + convex offset polygon)
    "geo_buffer_report",
    # round 13: segment buffers (disjoint MULTIPOLYGON decomposition).
    # geo_collection_report stays OUT: fixed 100 rows, plan-bound —
    # a correctness entry, not a bench signal (entry docstring).
    # r14: geo_clip_holed_report moved OUT for the same reason — all
    # closed-form measures, now a fixed 100-row memtable (the cost was
    # per-group interpreted-HOF constructors, not the kernels; entry
    # docstring has the decomposition).
    "geo_buffer_line_report",
    # round 13: general polyline buffers (batch offset stroking).
    # geo_buffer_polygon_report stays OUT: its parity column runs the
    # EXPRESSION convex fan per row (~5.3 s steady-state at sf0.1, the
    # interpreted data-dependent-trig class) — a byte-parity proof
    # entry, not a plan signal.
    "geo_buffer_polyline_report",
    # round 14: EPSG:27700 (datum-shift chain, pure projection
    # expressions — the geo_transform_report class).
    # geo_buffer_erosion_report stays OUT: fixed 100 rows, plan-bound
    # (the geo_collection_report posture; entry docstring).
    "geo_convert_osgb_report",
    "geo_convert_l93_report",
]

# The 22 TPC-H entries — the set the sf1/sf10 anchors and the
# DuckDB-ratio gates are read on.
TPCH = [
    "q1", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q11_important_stock", "q12_priority_shipping",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_cnt", "q17_small_quantity", "q18_large_volume_customer",
    "q19_discounted_revenue", "q20_big_suppliers",
    "q21_suppliers_kept_waiting", "q22_global_sales_opportunity",
]
# The heaviest pipeline ops: the banded-LSH clustering closures, the
# embedding dedup, iterative connected components and the IVF recall.
HEAVY = [
    "embedding_clusters", "dedup_embedding", "dedup_clusters",
    "connected_components_isolated", "ann_recall",
]
# The geo slice above the JVM floor: the decode-once rewires, the DE-9IM
# relate entry and the grid-join/CC pair.
GEO = [
    "geo_polygon_contains", "geo_segment_cross", "geo_line_metrics",
    "geo_cluster", "geo_dbscan", "geo_square_relations",
]
SETS = {"headline": HEADLINE, "tpch": TPCH, "heavy": HEAVY, "geo": GEO}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# DuckDB oracles that cross-check CORRECTNESS by brute force and are no
# time baseline: the all-pairs O(N^2) scans (5k docs -> 25M pairs at
# sf0.1) and the recursive DNF closure behind geo_cluster/geo_dbscan
# (>720 s at sf1, SCALE.md round 10).  Timing them measures the
# oracle's own blowup, so their DuckDB column reads null.
DUCK_SKIP = {
    "dedup_minhash_verified", "dedup_ngram_jaccard", "dedup_embedding",
    "dedup_clusters", "embedding_clusters", "cross_dedup",
    "geo_cluster", "geo_dbscan",
}


def select(args):
    """Query names to time, in order, without repeats: each argument is
    a named set (SETS) or a query name; no argument means the headline
    set."""
    names = []
    for a in args or ["headline"]:
        for n in SETS.get(a, [a]):
            if n not in names:
                names.append(n)
    return names


def bucketed_meta(sf_dir):
    """The bucketed layout of ``sf_dir`` (tools/make_sf10_bucketed.py's
    ``_bucketed_meta.json``: bucket count, and per table its key and
    schema DDL), or None for a directory of ``<table>.parquet`` files.
    Each table's location is resolved under ``sf_dir`` — the file
    records the absolute path it was written to, which breaks once the
    directory moves."""
    path = os.path.join(sf_dir, "_bucketed_meta.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        meta = json.load(f)
    root = os.path.abspath(sf_dir)
    for name, t in meta["tables"].items():
        t["location"] = os.path.join(root, name)
    return meta


def register(spark, meta):
    """Register each bucketed table as ``b_<name>`` — CLUSTERED BY and
    SORTED BY its key, so the orders<->lineitem SortMergeJoin runs
    storage-partitioned, with no exchange on either side.  Spark's
    in-memory catalog does not keep tables across sessions, so every
    run registers them again."""
    n = meta["buckets"]
    for name, t in meta["tables"].items():
        spark.sql(f"DROP TABLE IF EXISTS b_{name}")
        cluster = (
            f"CLUSTERED BY ({t['key']}) SORTED BY ({t['key']}) "
            f"INTO {n} BUCKETS"
            if t["key"]
            else ""
        )
        spark.sql(
            f"CREATE TABLE b_{name} ({t['schema_ddl']}) USING parquet "
            f"{cluster} LOCATION '{t['location']}'"
        )


def duckdb_sources(sf_dir, meta):
    """{table: parquet path or glob} for the DuckDB replay: the bucketed
    tables' files (bucketing is invisible to DuckDB), else every
    ``<table>.parquet`` present in ``sf_dir``."""
    if meta is not None:
        return {
            t: f"{m['location']}/*.parquet" for t, m in meta["tables"].items()
        }
    return {
        t: f"{sf_dir}/{t}.parquet"
        for t in TABLES
        if os.path.exists(f"{sf_dir}/{t}.parquet")
    }


def totals(times, oracle=None):
    """The scalar totals of a timing column — the ONE totals rule.

    ``value`` sums the Spark-timed queries (None = not timed; a 0.0
    timing counts).  With a DuckDB column: ``oracle_total`` sums the
    DuckDB-timed ones, and ``spark_total``/``duckdb_total``/``ratio``
    sum only the ``n`` queries BOTH engines timed, so a one-sided
    failure cannot skew the ratio; ``skipped`` names the rest."""

    def timed(ts):
        return [t for t in ts.values() if t is not None]

    out = {"value": round(sum(timed(times)), 3)}
    if oracle is None:
        return out
    both = [
        q for q, t in times.items() if t is not None and oracle.get(q) is not None
    ]
    sp = sum(times[q] for q in both)
    du = sum(oracle[q] for q in both)
    out.update(
        oracle_total=round(sum(timed(oracle)), 3),
        spark_total=round(sp, 3),
        duckdb_total=round(du, 3),
        ratio=round(sp / du, 2) if du else None,
        n=len(both),
        skipped=sorted(set(times) - set(both)),
    )
    return out


def _sf(sf_dir):
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return None


def time_one(spark, query, src, name, warmups, reps):
    """(best, build): best-of-``reps`` seconds after ``warmups``
    consecutive warm passes — the ONE protocol every timing column uses
    (columns must stay comparable) — and the first construction's
    seconds; (None, None) when the query fails.

    The DataFrame is constructed ONCE and re-executed across
    warmups+reps (r12): steady-state per-query cost is the EXECUTION
    of a prepared plan, which is what a real pipeline repeats —
    expression construction happens once per job, not once per batch.
    The r11 protocol rebuilt the expression tree every rep, so
    build-bound entries (geo_line_cross_report: ~4.5 s of py4j/analyzer
    build vs 2.6 s of execution) reported build+exec as their marginal
    cost.  Spark still re-optimizes and re-plans per action (only py4j
    tree construction and analysis are cached on the Dataset), and the
    DuckDB oracle column gets the same treatment (SQL parsed per rep —
    DuckDB parse cost is sub-ms, so its column is unchanged).

    EXCEPTION, probed not hard-coded: queries whose CONSTRUCTION itself
    runs Spark jobs (driver-side iterative algorithms — pointer-jumping
    CC, k-means index builds, BPE merge loops — that materialize via
    localCheckpoint/collect while the expression is being built).  For
    those, construct-once would silently move the real work OUT of the
    timed reps (geo_cluster read 0.022 s under a naive construct-once —
    the whole CC loop escaped).  The probe: run the construction under
    a job group and ask the status tracker whether any Spark jobs
    landed in it; if so, fall back to per-rep construction (the r11
    protocol) so every rep pays the full iterative cost."""
    best = None
    try:
        sc = spark.sparkContext
        group = f"bench-construct-{name}"
        sc.setJobGroup(group, "construction probe")
        t0 = time.time()
        try:
            df = query(spark, src)
        finally:
            build = time.time() - t0
            try:
                construct_jobs = sc.statusTracker().getJobIdsForGroup(group)
            except Exception:
                construct_jobs = []
            sc.setJobGroup("bench", "bench reps")
        per_rep_construct = len(construct_jobs) > 0
        for _ in range(warmups):
            if per_rep_construct:
                df = query(spark, src)
            df.write.format("noop").mode("overwrite").save()
        for _ in range(reps):
            t0 = time.time()
            if per_rep_construct:
                df = query(spark, src)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
    except Exception as e:
        print(f"bench error in {name} @ {src}: {e}", file=sys.stderr)
        return None, None
    return round(best, 3), round(build, 3)


def _parse(argv):
    """(positional arguments, round or None); ``--round N`` is the one
    option."""
    args, rnd = [], os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    it = iter(argv)
    for a in it:
        if a == "--round":
            rnd = next(it, None)
        elif a.startswith("-"):
            sys.exit(f"bench: unknown option {a}")
        else:
            args.append(a)
    return args, rnd


def main():
    args, rnd = _parse(sys.argv[1:])
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = select(args)
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"bench: not a set or a query: {unknown} (sets: {sorted(SETS)})")
    # the artifact's name: a single named set, else "selected"
    label = (
        args[0] if len(args) == 1 and args[0] in SETS
        else "selected" if args
        else "headline"
    )
    meta = bucketed_meta(SF_DIR)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.adaptive.enabled", "true")
        # Constraint propagation has well-known super-linear PLANNING
        # cost on deep plans (it closes predicates over every join) and
        # its only runtime effect is inferred IsNotNull/constant
        # predicates — which these query shapes don't benefit from.
        # Planning runs per action, so it taxes every query: measured
        # -15% wall over an 8-query mixed subset at sf0.1 (8.03 s ->
        # 6.80 s) with bit-identical results (it can only ADD inferred
        # predicates, never change semantics).
        .config("spark.sql.constraintPropagation.enabled", "false")
        .appName("ibis_spark-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if meta is not None:
        register(spark, meta)
    src = "catalog:b_" if meta is not None else SF_DIR

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    warmups = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "2"))

    # Steady-state protocol: each query is warmed then timed CONSECUTIVELY.
    # BASELINE.md's contract is steady-state per-query time; the r5 protocol
    # (warm all 39 queries, then re-time each) measured a 1.6-2x phantom
    # regression on the earliest queries because 38 intervening queries
    # polluted the JIT profile / code cache between a query's warm-up and
    # its timed runs. Consecutive execution keeps tiered compilation hot —
    # measured: q1 converges 1.20 -> 0.73 s at sf0.1 under this protocol.
    timed = {n: time_one(spark, qs[n], src, n, warmups, reps) for n in names}
    times = {n: t for n, (t, _) in timed.items()}
    build = {n: b for n, (_, b) in timed.items()}

    # Marginal-cost column: the same queries at a 10x smaller SF. The
    # per-query delta separates Spark's fixed per-query floor (scheduling,
    # codegen, exchange setup — constant in SF) from data-dependent cost
    # (~linear in SF); machine-checkable scale evidence, not prose.  A
    # bucketed dataset gets none: the small directory's layout differs.
    small_times = None
    small_dir = os.environ.get("SPARK_GRAFT_BENCH_SMALL_SF_DIR", "/root/testdata/sf0.01")
    if (
        meta is None
        and small_dir != "0"
        and os.path.isdir(small_dir)
        and small_dir != SF_DIR
    ):
        # identical warmups+reps protocol as the main column — the per-query
        # delta is only meaningful if both columns are equally steady-state
        small_times = {
            n: time_one(spark, qs[n], small_dir, n, warmups, reps)[0]
            for n in names
        }
    spark.stop()

    # DuckDB single-process baseline column: ON by default so every BENCH
    # artifact carries the apples-to-apples ratio (disable with =0)
    oracle_times = None
    if os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") != "0":
        oracle_times = _oracle_baseline(
            entry_mod, names, reps, duckdb_sources(SF_DIR, meta)
        )

    # Key order matters: the driver records only a 2000-char TAIL of
    # stdout, so the wide per-query maps go FIRST and the scalar summary
    # LAST — a front-truncated line still shows every total (the r7
    # artifact lost its sf0.1 column exactly this way).
    out = {"queries": times, "build": build}
    tot = totals(times, oracle_times)
    summary = {
        "metric": f"{label}_queries_total_wall",
        "value": tot.pop("value"),
        "unit": "sec",
        "sf": _sf(SF_DIR),
        "reps": reps,
    }
    if oracle_times is not None:
        out["oracle_duckdb"] = oracle_times
        summary["oracle_total"] = tot.pop("oracle_total")
    if small_times is not None:
        out["queries_small_sf"] = small_times
        summary["sf_small"] = _sf(small_dir)
        summary["small_sf_total"] = totals(small_times)["value"]
    if oracle_times is not None:
        # compact [spark, duck] pairs placed LAST among the wide maps:
        # the driver records only a ~2000-char stdout TAIL, which used
        # to cut exactly the oracle column the per-query regression
        # analysis needs (VERDICT r10 item 6) — the tail now carries
        # the final ~half of the pairs plus the full scalar summary,
        # and BENCH_LOCAL_r{N}.json always has everything.
        out["pairs"] = {
            q: [times.get(q), oracle_times.get(q)] for q in times
        }
    summary.update(tot)
    summary["layout"] = "plain" if meta is None else "bucketed"
    out.update(summary)
    if label == "headline":
        _write_local(out, rnd)
    print(json.dumps(out))


def _write_local(out, rnd):
    """Durable full artifact BENCH_LOCAL_r{N}.json: the committed file
    survives even when a stdout tail truncates the one-line JSON."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    # Round provenance (ADVICE r8): take the round explicitly from
    # --round N / SPARK_GRAFT_BENCH_ROUND; the CORRECTNESS_r*.json count
    # is only a fallback (it mislabels when an artifact is missing or the
    # bench runs after the driver writes the round's correctness file).
    if rnd is None:
        # The driver benches AFTER writing the round's correctness file,
        # so the newest CORRECTNESS round IS the current round (r9 judge:
        # the old `+ 1` fallback mislabeled the driver's round-end run).
        rounds = [
            int(m.group(1))
            for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
            if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", f))
        ]
        rnd = str(max(rounds, default=1))
    local_path = os.path.join(here, f"BENCH_LOCAL_r{int(rnd)}.json")
    try:
        with open(local_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError as e:
        print(f"bench: could not write {local_path}: {e}", file=sys.stderr)


def _oracle_baseline(entry_mod, names, reps, sources):
    """Best-of-reps DuckDB wall time for each query's oracle SQL on the
    same parquet — the single-process laptop-class baseline the 2x gate
    compares against.  None for queries in DUCK_SKIP, without an
    oracle, or whose oracle fails."""
    try:
        import duckdb
    except ImportError:
        return None
    con = duckdb.connect()
    for t, path in sources.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracles = entry_mod.oracle_sql()
    out = {}
    for n in names:
        sql = oracles.get(n)
        if sql is None or n in DUCK_SKIP:
            out[n] = None
            continue
        best = None
        try:
            for _ in range(reps):
                t0 = time.time()
                con.execute(sql).fetchall()
                best_c = time.time() - t0
                best = best_c if best is None else min(best, best_c)
            out[n] = round(best, 3)
        except Exception as e:
            print(f"oracle bench error in {n}: {e}", file=sys.stderr)
            out[n] = None
    return out


if __name__ == "__main__":
    main()
