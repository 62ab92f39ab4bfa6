"""Steadiness check for the benchmark.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads tpch,geo]
    python3 perfbench/steady.py --repeat-trace 7

The first form runs, for each workload, ``--sets`` sets of ``--runs`` runs
of the same code, each run with its own seed.  Per set it prints every
end-to-end metric's median, quartiles and quartile spread (as a share of
the median), the share of failed operations, and whether the sets agree:
each spread within the metric's bound (``setup_s`` excepted), each later
set's median no worse than the first's by more than the bound, and the
same failed share in every set.

The second form runs each workload traced twice with the same seed and
lists the per-layer counts that did not repeat exactly.

Run it from the repository root; it reads BENCHMARK.json for the command,
run length and bounds, and writes every run's result under
perfbench/_work/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ["expr.py4j_calls", "plan.nodes", "plan.exchanges", "exec.jobs", "exec.tasks",
          "python.bytes_sent", "exec.scan_rows", "deliver.rows"]


def run_one(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def check_sets(spec, workloads, runs, sets, first_seed, log):
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    ok = True
    seed = first_seed
    for w in workloads:
        results = []
        for s in range(sets):
            batch = []
            for _ in range(runs):
                r = run_one(spec, w, seed, 0)
                seed += 1
                batch.append(r)
                log.write(json.dumps({"workload": w, "set": s, **r}) + "\n")
                log.flush()
                print(f"  {w} set {s} seed {seed - 1}: wall {r['wall_s']:.1f} s, "
                      + ", ".join(f"{k} {v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
            results.append(batch)
        print(f"\n{w}")
        for name, b in bounds.items():
            meds = []
            for s, batch in enumerate(results):
                q1, med, q3, sp = spread([r["metrics"][name]["value"] for r in batch])
                meds.append(med)
                within = name == "setup_s" or sp <= b["bound"]
                ok &= within
                print(f"  {name:12s} set {s}: median {med:.4g} {b['unit']}, quartiles "
                      f"{q1:.4g}..{q3:.4g}, spread {sp:.1%} (bound {b['bound']:.0%}, "
                      f"{'within' if within else 'OUTSIDE'}, target {b['bound'] / 3:.1%})")
            for s in range(1, sets):
                worse = (meds[s] - meds[0]) / meds[0]
                agree = worse <= bounds[name]["bound"]
                ok &= agree
                print(f"  {name:12s} set {s} vs set 0: {worse:+.1%} "
                      f"({'agree' if agree else 'DISAGREE'})")
        shares = [sum(r["failed"] for r in batch) / sum(r["attempted"] for r in batch)
                  for batch in results]
        per_run = {r["failed"] / r["attempted"] for batch in results for r in batch}
        same = len(per_run) == 1
        ok &= same and all(r["correct"] for batch in results for r in batch)
        print(f"  failed share per set {[round(x, 6) for x in shares]}, "
              f"{'identical in every run' if same else 'DIFFERS between runs'}; "
              f"mean run wall {statistics.mean(r['wall_s'] for b in results for r in b):.1f} s")
    return ok


def repeat_trace(spec, workloads, seed):
    ok = True
    for w in workloads:
        a, b = (run_one(spec, w, seed, 1)["metrics"] for _ in range(2))
        differ = [k for k in COUNTS if a[k]["value"] != b[k]["value"]]
        ok &= not differ
        print(f"{w}: " + ", ".join(f"{k} {a[k]['value']:g}" for k in COUNTS))
        print(f"  tracing overhead {a['trace.overhead_s']['value']:.3f} s / "
              f"{b['trace.overhead_s']['value']:.3f} s; "
              + (f"counts that differ: {differ}" if differ else "all counts repeat"))
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--repeat-trace", type=int, default=None, metavar="SEED")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    if a.repeat_trace is not None:
        return 0 if repeat_trace(spec, workloads, a.repeat_trace) else 1
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    path = os.path.join(HERE, "_work", f"steady-{int(time.time())}.jsonl")
    with open(path, "w") as log:
        ok = check_sets(spec, workloads, a.runs, a.sets, a.first_seed, log)
    print(f"\nruns written to {path}; {'STEADY' if ok else 'NOT STEADY'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
