"""Bucketed sf10 TPC-H fixtures (VERDICT r13 next-round #1, lever b).

Rewrites the three join-heavy sf10 tables as BUCKETED, SORTED parquet
tables — the storage layout a real 100 TB deployment would use:

  lineitem  CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey)
  orders    CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey)
  customer  CLUSTERED BY (c_custkey)  SORTED BY (c_custkey)

With both sides of the orders<->lineitem join bucketed INTO THE SAME
bucket count on the join key, the SortMergeJoin needs NO exchange and
(with SORTED BY) NO sort — the two dominant costs of q3/q4/q5/q10/q18/
q21 at sf10.  The remaining small tables are symlink-equivalent plain
parquet (queries read them via the same catalog registration).

Spark's in-memory catalog does not persist table metadata across
sessions, so the bench re-registers the written directories with
CREATE TABLE ... CLUSTERED BY ... LOCATION (bench.py registers any
SPARK_GRAFT_SF_DIR holding _bucketed_meta.json; _t's "catalog:" scheme
reads).  The DDL inputs (schema, bucket spec) are recorded in
<out_dir>/_bucketed_meta.json; bench.py resolves each table's location
under the directory it is given, so the directory may move.

Usage: python tools/make_sf10_bucketed.py [src_dir] [out_dir]
"""

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUCKETS = 32
SPEC = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
}
PLAIN = ["nation", "region", "supplier", "part"]


def main(src="sf10_tpch", out="sf10_bucketed"):
    from pyspark.sql import SparkSession

    out = os.path.abspath(out)
    os.makedirs(out, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.warehouse.dir", out)
        .appName("make-sf10-bucketed")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    meta = {"buckets": BUCKETS, "tables": {}}
    for name, key in SPEC.items():
        loc = os.path.join(out, name)
        if os.path.exists(loc):
            shutil.rmtree(loc)
        df = spark.read.parquet(f"{src}/{name}.parquet")
        # one shuffle by the bucket key so each bucket lands in ONE
        # file (32 tasks x 32 buckets would otherwise cut 1024 tiny
        # files); repartition by the same expression Spark buckets on
        (
            df.repartition(BUCKETS, df[key])
            .write.format("parquet")
            .bucketBy(BUCKETS, key)
            .sortBy(key)
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(f"b_{name}")
        )
        meta["tables"][name] = {
            "key": key,
            "location": loc,
            "schema_ddl": df.schema.toDDL(),
        }
        print(f"bucketed {name} -> {loc}", flush=True)
    for name in PLAIN:
        loc = os.path.join(out, name)
        if os.path.exists(loc):
            shutil.rmtree(loc)
        df = spark.read.parquet(f"{src}/{name}.parquet")
        df.write.mode("overwrite").parquet(loc)
        meta["tables"][name] = {
            "key": None,
            "location": loc,
            "schema_ddl": df.schema.toDDL(),
        }
        print(f"copied {name} -> {loc}", flush=True)
    with open(os.path.join(out, "_bucketed_meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    print("wrote _bucketed_meta.json")


if __name__ == "__main__":
    main(*sys.argv[1:3])
