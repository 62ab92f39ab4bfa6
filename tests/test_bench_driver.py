"""The query-timing driver's pure parts: the totals rule, the layout
read from a dataset directory, and the named query sets.

Spark-free: nothing here starts a session or runs a query.
"""

from __future__ import annotations

import json

import pytest

import bench


def test_totals_spark_only():
    t = bench.totals({"a": 1.25, "b": None, "c": 0.0})
    assert t == {"value": 1.25}


def test_totals_pairs_only_queries_both_engines_timed():
    spark = {"a": 2.0, "b": None, "c": 0.0, "d": 3.0, "e": 1.0}
    duck = {"a": 1.0, "b": 0.5, "c": 0.25, "d": None, "e": None}
    t = bench.totals(spark, duck)
    # value and oracle_total are one-sided sums; a 0.0 timing counts
    assert t["value"] == 6.0
    assert t["oracle_total"] == 1.75
    # the pair keeps a and c (c's 0.0 Spark timing still counts), drops
    # b (Spark failed) and d, e (DuckDB did not time them)
    assert t["spark_total"] == 2.0
    assert t["duckdb_total"] == 1.25
    assert t["ratio"] == 1.6
    assert t["n"] == 2
    assert t["skipped"] == ["b", "d", "e"]


def test_totals_no_pair_has_no_ratio():
    t = bench.totals({"a": 1.0}, {"a": None})
    assert t["n"] == 0 and t["ratio"] is None and t["skipped"] == ["a"]
    assert t["spark_total"] == 0.0 and t["duckdb_total"] == 0.0


def test_select():
    assert bench.select([]) == bench.HEADLINE
    assert bench.select(["tpch"]) == bench.TPCH
    # sets and names mix, in order, without repeats
    assert bench.select(["q1", "geo", "q1", "geo_cluster"]) == ["q1"] + bench.GEO
    assert bench.select(["no_such_query"]) == ["no_such_query"]


@pytest.mark.parametrize("name", sorted(bench.SETS))
def test_every_set_name_is_a_query(name):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = bench.SETS[name]
    assert names and len(set(names)) == len(names)
    assert [n for n in names if n not in qs] == []


def test_parse_round_is_the_one_option(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ROUND", raising=False)
    assert bench._parse(["tpch", "--round", "15", "q1"]) == (["tpch", "q1"], "15")
    assert bench._parse([]) == ([], None)
    with pytest.raises(SystemExit):
        bench._parse(["--only-tpch"])


def test_plain_directory(tmp_path):
    for t in ("lineitem", "orders"):
        (tmp_path / f"{t}.parquet").write_bytes(b"")
    assert bench.bucketed_meta(str(tmp_path)) is None
    assert bench.duckdb_sources(str(tmp_path), None) == {
        "orders": f"{tmp_path}/orders.parquet",
        "lineitem": f"{tmp_path}/lineitem.parquet",
    }


def test_bucketed_directory_resolves_locations_under_it(tmp_path):
    meta = {
        "buckets": 4,
        "tables": {
            "orders": {
                "key": "o_orderkey",
                # written elsewhere, then moved: the recorded path is stale
                "location": "/elsewhere/sf10_bucketed/orders",
                "schema_ddl": "o_orderkey BIGINT",
            },
            "nation": {
                "key": None,
                "location": "/elsewhere/sf10_bucketed/nation",
                "schema_ddl": "n_nationkey INT",
            },
        },
    }
    (tmp_path / "_bucketed_meta.json").write_text(json.dumps(meta))
    got = bench.bucketed_meta(str(tmp_path))
    assert got["buckets"] == 4
    assert {n: t["location"] for n, t in got["tables"].items()} == {
        "orders": str(tmp_path / "orders"),
        "nation": str(tmp_path / "nation"),
    }
    assert bench.duckdb_sources(str(tmp_path), got) == {
        "orders": f"{tmp_path}/orders/*.parquet",
        "nation": f"{tmp_path}/nation/*.parquet",
    }


def test_register_ddl(tmp_path):
    meta = {
        "buckets": 4,
        "tables": {
            "orders": {"key": "o_orderkey", "schema_ddl": "o_orderkey BIGINT"},
            "nation": {"key": None, "schema_ddl": "n_nationkey INT"},
        },
    }
    (tmp_path / "_bucketed_meta.json").write_text(json.dumps(meta))

    class Recorder:
        def __init__(self):
            self.sql_text = []

        def sql(self, text):
            self.sql_text.append(" ".join(text.split()))

    spark = Recorder()
    bench.register(spark, bench.bucketed_meta(str(tmp_path)))
    assert spark.sql_text == [
        "DROP TABLE IF EXISTS b_orders",
        "CREATE TABLE b_orders (o_orderkey BIGINT) USING parquet "
        "CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) INTO 4 BUCKETS "
        f"LOCATION '{tmp_path}/orders'",
        "DROP TABLE IF EXISTS b_nation",
        "CREATE TABLE b_nation (n_nationkey INT) USING parquet "
        f"LOCATION '{tmp_path}/nation'",
    ]
