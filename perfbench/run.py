"""Layered benchmark of the ibis_spark query path.

    python3 perfbench/run.py --workload {tpch,geo} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  One process is a closed loop with one
client: set-up, one untimed warm-up pass, then timed passes.  With
``--trace 0`` the last line of standard output is a JSON object with the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics.
See perfbench/README.md for what each metric covers.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = {"tpch": "wl_tpch", "geo": "wl_geo"}

# Session settings follow bench.py, with the driver heap sized well below
# the machine's memory.
CORES = max(1, min(4, os.cpu_count() or 1))
SESSION_CONF = {
    "spark.sql.shuffle.partitions": str(CORES),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "2g",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.constraintPropagation.enabled": "false",
}


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def start_session():
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
    for k, v in SESSION_CONF.items():
        b = b.config(k, v)
    b = (b.config("spark.local.dir", os.path.join(WORK, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         # a fixed-size heap (initial = maximum) keeps the JVM's resident
         # size from depending on when the collector chose to grow it
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{SESSION_CONF['spark.driver.memory']} -Djava.io.tmpdir={tmp}"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark):
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes; wait for it
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def vm_hwm_kb(pid="self"):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, args, wl, spark, ib, tables, duck):
        self.wl, self.spark, self.ib = wl, spark, ib
        self.tables, self.duck = tables, duck
        self.ops = wl.ops()
        self.rng = random.Random(f"{args.workload}-{args.seed}")
        self.out_dir = os.path.join(WORK, "out", f"{args.workload}-{os.getpid()}")
        self.oracle_cache = {}
        self.attempted = self.failed = 0
        self.correct = True
        self.fault_info = None
        self.tracer = None
        self.op_seconds = {}

    # -- delivery --------------------------------------------------------
    def deliver(self, table, sink):
        if sink == "to_pyarrow":
            return table.to_pyarrow()
        if sink == "to_pandas":
            return table.to_pandas()
        if sink == "to_parquet":
            table.to_parquet(self.out_dir)
            return self.out_dir
        if sink == "noop":
            table.to_spark().write.format("noop").mode("overwrite").save()
            return None
        raise ValueError(sink)

    def materialize(self, res, sink):
        """What the sink delivered, readable for the checks: the
        parquet output is read back with pyarrow."""
        if sink == "to_parquet":
            import pyarrow.parquet as pq

            return pq.read_table(res)
        return res

    # -- checks ------------------------------------------------------------
    def check(self, op, params, res):
        from common import arrow_rows, compare_rows, duck_rows

        if op.check is not None:
            return op.check(res, params, self.duck)
        key = (op.name, json.dumps(params, sort_keys=True, default=str))
        if key not in self.oracle_cache:
            self.oracle_cache[key] = duck_rows(self.duck, op.oracle_sql(params))
        cols, rows = arrow_rows(res)
        reason = compare_rows(cols, rows, *self.oracle_cache[key])
        return reason is None, ({} if reason is None else {"reason": reason})

    def account(self, op, ok, info):
        self.attempted += 1
        if ok:
            return
        if op.known_fault:
            self.failed += 1
            self.fault_info = info
            return
        self.correct = False
        log(f"{op.name}: wrong result: {info.get('reason')}")

    # -- one operation -----------------------------------------------------
    def run_op(self, op, params, built=None, traced=False, check=True):
        """Build (or re-wrap ``built``), deliver and check one operation.
        Returns (seconds, built table, layer record or None).  Without
        ``check`` (the warm-up pass) nothing is checked or counted."""
        ib, t = self.ib, self.tables
        rec = None
        try:
            if not traced:
                t0 = time.perf_counter()
                expr = op.build(ib, t, params) if built is None else built.select(*built.columns)
                res = self.deliver(expr, op.sink)
                seconds = time.perf_counter() - t0
            else:
                seconds, expr, res, rec = self.run_traced(op, params)
        except Exception as e:  # counted as a failed operation
            log(f"{op.name}: {type(e).__name__}: {str(e)[:500]}")
            if check:
                self.attempted += 1
                self.failed += 1
            return None, None, None
        if not check:
            return seconds, expr, rec
        res = self.materialize(res, op.sink)
        ok, info = self.check(op, params, res)
        self.account(op, ok, info)
        if rec is not None:
            rec.update(self.delivered(op, res))
        return seconds, expr, rec

    def run_traced(self, op, params):
        tr = self.tracer
        group = f"perfbench-{len(tr.spans.spans)}"
        self.spark.sparkContext.setJobGroup(group, op.name)
        mark = tr.store.mark()
        with tr.spans.span("op", op=op.name) as s_op:
            with tr.spans.span("build") as s_build, tr.py4j.counting() as calls:
                expr = op.build(self.ib, self.tables, params)
            with tr.spans.span("plan") as s_plan:
                expr.to_spark()._jdf.queryExecution().executedPlan()
            with tr.spans.span("action", sink=op.sink) as s_act:
                res = self.deliver(expr, op.sink)
        rec = tr.store.since(mark, group)
        rec.update(op=op.name, sink=op.sink,
                   build_s=s_build["end"] - s_build["start"],
                   py4j_calls=calls["calls"], py4j_s=calls["seconds"],
                   plan_s=s_plan["end"] - s_plan["start"],
                   action_s=s_act["end"] - s_act["start"])
        s_op["layers"] = rec
        return s_op["end"] - s_op["start"], expr, res, rec

    def delivered(self, op, res):
        import pyarrow as pa

        out = {"rows": 0, "bytes": 0, "setop_sent": 0, "setop_answered": 0}
        if res is None:
            return out
        if isinstance(res, pa.Table):
            out["rows"], out["bytes"] = res.num_rows, res.nbytes
            for c in op.setop_cols:
                out["setop_sent"] += res.num_rows
                out["setop_answered"] += res.num_rows - res.column(c).null_count
        else:  # pandas
            out["rows"] = len(res)
            out["bytes"] = int(res.memory_usage(index=False, deep=False).sum())
        return out

    # -- passes ------------------------------------------------------------
    def oneshot_pass(self, traced=False, check=True):
        gc.collect()  # release the last pass's py4j objects outside the timing
        params = self.wl.draw(self.rng)
        total, built, recs = 0.0, [], []
        for op in self.ops:
            seconds, expr, rec = self.run_op(op, params[op.name], traced=traced, check=check)
            self.op_seconds.setdefault(op.name, []).append(seconds)
            total += seconds or 0.0
            built.append((op, params[op.name], expr))
            if rec is not None:
                recs.append(rec)
        return total, built, recs

    def steady_pass(self, built):
        gc.collect()
        total = 0.0
        for op, params, expr in built:
            if expr is None:
                self.attempted += 1
                self.failed += 1
                continue
            seconds, _, _ = self.run_op(op, params, built=expr)
            total += seconds or 0.0
        return total


def pass_layers(recs):
    """Per-layer figures of one traced pass."""
    def tot(key, sink=None):
        return float(sum(r.get(key, 0) for r in recs if sink is None or r["sink"] == sink))

    sent = tot("setop_sent")
    return {
        "expr.build_s": tot("build_s"),
        "expr.py4j_calls": tot("py4j_calls"),
        "expr.py4j_s": tot("py4j_s"),
        "plan.plan_s": tot("plan_s"),
        "plan.nodes": tot("nodes"),
        "plan.exchanges": tot("exchanges"),
        "exec.action_s": tot("exec_s"),
        "exec.jobs": tot("jobs"),
        "exec.tasks": tot("tasks"),
        "exec.scan_rows": tot("scan_rows"),
        "exec.shuffle_bytes": tot("shuffle_bytes"),
        "exec.broadcast_bytes": tot("broadcast_bytes"),
        "exec.spill_bytes": tot("spill_bytes"),
        "python.run_s": tot("run_s"),
        "python.boot_s": tot("boot_s"),
        "python.bytes_sent": tot("bytes_sent"),
        "python.bytes_returned": tot("bytes_returned"),
        "python.answered_share": tot("setop_answered") / sent if sent else 0.0,
        "deliver.to_pyarrow_s": tot("action_s", "to_pyarrow"),
        "deliver.to_pandas_s": tot("action_s", "to_pandas"),
        "deliver.to_parquet_s": tot("action_s", "to_parquet"),
        "deliver.noop_s": tot("action_s", "noop"),
        "deliver.rows": tot("rows"),
        "deliver.bytes": tot("bytes"),
    }


UNITS = {"_s": "s", "_calls": "count", "nodes": "count", "exchanges": "count",
         "jobs": "count", "tasks": "count", "_rows": "count", ".rows": "count",
         "_bytes": "B", ".bytes": "B", "bytes_sent": "B", "bytes_returned": "B",
         "_share": "ratio", "_mb": "MB"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def main():
    ap = argparse.ArgumentParser(description="Layered ibis_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "ibis_spark")):
        log(f"no ibis_spark package next to {HERE}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Python workers import ibis_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    wl = importlib.import_module(WORKLOADS[args.workload])

    # inputs are the benchmark's own work: kept out of set-up time
    t0 = time.perf_counter()
    import data

    paths = {}
    if args.workload == "geo":
        paths["geo"] = data.geo(args.seed)
    else:
        tpch_dir = data.tpch()
        paths = {n: os.path.join(tpch_dir, f"{n}.parquet") for n in wl.TABLES}
    gen_s = time.perf_counter() - t0

    # -- set-up ------------------------------------------------------------
    t0 = time.perf_counter()
    spark = start_session()
    t1 = time.perf_counter()
    import ibis_spark as ib

    t2 = time.perf_counter()
    con = ib.connect(spark)
    tables = {n: con.read_parquet(paths[n]) for n in wl.TABLES}
    t3 = time.perf_counter()
    setup_s = t3 - T_START - gen_s
    session = {"session.start_s": t1 - t0, "session.import_s": t2 - t1,
               "session.schema_s": t3 - t2}

    try:
        import duckdb

        duck = duckdb.connect()
        for n, p in paths.items():
            duck.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{p}')")
        bench = Bench(args, wl, spark, ib, tables, duck)

        t0 = time.perf_counter()
        bench.oneshot_pass(check=False)
        session["session.warmup_s"] = time.perf_counter() - t0

        # at least the workload's minimum number of passes of each kind,
        # more while the run is within --seconds
        n_oneshot, n_steady = wl.PASSES
        t_timed = time.perf_counter()
        oneshot, built = [], None
        while len(oneshot) < n_oneshot or time.perf_counter() - t_timed < args.seconds / 2:
            seconds, built, _ = bench.oneshot_pass()
            oneshot.append(seconds)

        if not args.trace:
            steady = []
            while len(steady) < n_steady or time.perf_counter() - t_timed < args.seconds:
                steady.append(bench.steady_pass(built))
            jvm_pid = spark._jvm.ProcessHandle.current().pid()
            rss_kb = vm_hwm_kb() + vm_hwm_kb(jvm_pid)
            metrics = {
                "setup_s": setup_s,
                "oneshot_s": statistics.median(oneshot),
                "steady_s": statistics.median(steady),
                "peak_rss_mb": rss_kb / 1024.0,
            }
            log(f"oneshot passes {[round(x, 3) for x in oneshot]}, "
                f"steady passes {[round(x, 3) for x in steady]}")
            log(f"one-shot seconds per operation, warm-up first: {bench.op_seconds}")
        else:
            # traced one-shot passes after the untraced ones above, in the
            # same process: their difference is the tracing overhead
            from tracing import Tracer

            bench.tracer = Tracer(spark)
            traced, layers = [], []
            t_traced = time.perf_counter()
            while len(traced) < n_oneshot or time.perf_counter() - t_traced < args.seconds / 2:
                seconds, _, recs = bench.oneshot_pass(traced=True)
                traced.append(seconds)
                layers.append(pass_layers(recs))
            metrics = dict(session)
            for k in layers[0]:
                metrics[k] = statistics.median(x[k] for x in layers)
            metrics["trace.oneshot_s"] = statistics.median(traced)
            metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(oneshot)
            bench.tracer.spans.write(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"))
        t_end = time.perf_counter()
        if bench.fault_info:
            log(f"known fault: {bench.fault_info}")
        result = {
            "correct": bench.correct,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }
    finally:
        stop_session(spark)
        shutil.rmtree(os.path.join(WORK, "out", f"{args.workload}-{os.getpid()}"),
                      ignore_errors=True)
    log(f"wall {time.perf_counter() - T_START:.1f} s: inputs {gen_s:.1f}, set-up {setup_s:.1f}, "
        f"warm-up {session['session.warmup_s']:.1f}, timed passes and checks "
        f"{t_end - t_timed:.1f}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
