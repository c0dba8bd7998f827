#!/usr/bin/env python3
"""Make, show and compare benchmark records.

A record is a JSON file holding every result object of a set of runs:
untraced runs (end-to-end metrics) on distinct seeds, and traced runs
(per-layer metrics) of which the first two share a seed, so the exact
counts can be checked to repeat.

  python3 etlbench/record.py run --out REC.json [--runs 10] [--traced 2]
                                 [--workloads a,b] [--seed0 1]
      (runs every workload of BENCHMARK.json, prints `show`, exits 1 if
      any run failed its output check)
  python3 etlbench/record.py show REC.json
  python3 etlbench/record.py diff BEFORE.json AFTER.json

`show` prints each end-to-end metric's median, quartiles and spread
(q3 - q1 over the median) against its bound, the tracing overhead on
iter_s_p50, and whether the exact counts repeated. `diff` prints both
records' medians and quartiles per workload and metric with a verdict
(better / same / worse / unresolved, as defined in README.md), then
every exact count that moved.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# Per-layer metrics that are counts of work: identical for a seed on
# an unchanged program, so any change between records is a real change.
EXACT = [
    "sources.requests", "sources.retries", "sinks.connections", "sinks.statements",
    "sinks.batches", "sinks.commits", "sinks.rows_inserted", "sinks.rows_updated",
    "sinks.rows_deleted", "sinks.rows_read", "warehouse.commits", "warehouse.files_written",
    "warehouse.files_live", "warehouse.jobs_per_merge", "warehouse.jobs_per_delete",
    "engine.sql_executions", "engine.jobs", "engine.stages", "engine.tasks",
]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    print(f"{workload} seed={seed} trace={trace} exit={out.returncode} "
          f"{json.dumps(res['metrics']) if res and not trace else ''}", file=sys.stderr)
    return {"seed": seed, "exit": out.returncode, "result": res}


def cmd_run(a):
    spec = load_spec()
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    rec = {"benchmark": spec, "workloads": {}}
    for w in names:
        untraced = [run_once(w, a.seed0 + i, spec["run_seconds"], 0) for i in range(a.runs)]
        traced = [run_once(w, a.seed0 + max(0, i - 1), spec["run_seconds"], 1) for i in range(a.traced)]
        rec["workloads"][w] = {"untraced": untraced, "traced": traced}
        with open(a.out, "w") as f:
            json.dump(rec, f, indent=1)
    a.record = a.out
    cmd_show(a)
    if any(failed_runs(w) for w in rec["workloads"].values()):
        sys.exit(1)


def values(runs, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if r["result"] and metric in r["result"]["metrics"]]


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def spread(xs):
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else float("inf")


def overhead(wrec):
    un = values(wrec["untraced"], "iter_s_p50")
    tr = values(wrec["traced"], "trace.iter_s_p50")
    if not un or not tr:
        return None
    return statistics.median(tr) / statistics.median(un) - 1


def exact_counts(wrec):
    """The exact counts of the first traced run, and those that did not
    repeat in the second traced run (same seed)."""
    tr = [r for r in wrec["traced"] if r["result"]]
    if not tr:
        return {}, []
    first = {k: tr[0]["result"]["metrics"][k]["value"] for k in EXACT if k in tr[0]["result"]["metrics"]}
    unstable = []
    if len(tr) > 1 and tr[1]["seed"] == tr[0]["seed"]:
        unstable = [k for k, v in first.items() if tr[1]["result"]["metrics"].get(k, {}).get("value") != v]
    return first, unstable


def failed_runs(wrec):
    return [r for r in wrec["untraced"] + wrec["traced"]
            if r["exit"] != 0 or not r["result"] or not r["result"]["correct"]]


def cmd_show(a):
    rec = json.load(open(a.record))
    bounds = {m["name"]: m for m in rec["benchmark"]["end_to_end"]}
    for w, wrec in rec["workloads"].items():
        runs = wrec["untraced"]
        print(f"== {w}: {len(runs)} untraced, {len(wrec['traced'])} traced runs, "
              f"{len(failed_runs(wrec))} failed")
        for m, spec in bounds.items():
            xs = values(runs, m)
            q1, med, q3 = quartiles(xs)
            s = spread(xs)
            flag = "" if m == "setup_s" or s <= spec["bound"] / 3 else ("  > bound/3" if s <= spec["bound"] else "  > BOUND")
            print(f"  {m:18s} median {med:12.4f} {spec['unit']:7s} q1 {q1:12.4f} q3 {q3:12.4f} "
                  f"spread {s:6.3f} (bound {spec['bound']}){flag}")
        ov = overhead(wrec)
        if ov is not None:
            print(f"  tracing overhead on iter_s_p50: {ov * 100:+.1f}%")
        counts, unstable = exact_counts(wrec)
        if counts:
            print("  exact counts: " + ", ".join(f"{k}={v:g}" for k, v in counts.items() if v))
            print("  counts that did not repeat on the same seed: " + (", ".join(unstable) or "none"))


def verdict(before, after, bound, better):
    """better / same / worse / unresolved for one metric, from the run
    values of both records and the metric's bound."""
    if not before or not after:
        return "missing"
    sign = 1 if better == "lower" else -1
    mb, ma = statistics.median(before), statistics.median(after)
    change = sign * (ma - mb) / mb  # > 0: after is worse
    if max(spread(before), spread(after)) > bound:
        if all(sign * x < min(sign * y for y in before) for x in after):
            return "better"
        if all(sign * x > max(sign * y for y in before) for x in after):
            return "worse"
        return "unresolved"
    if change > bound:
        return "worse"
    if -change > spread(before):
        return "better"
    return "same"


def cmd_diff(a):
    ra, rb = json.load(open(a.before)), json.load(open(a.after))
    metrics = rb["benchmark"]["end_to_end"]
    for w in rb["workloads"]:
        if w not in ra["workloads"]:
            print(f"== {w}: not in {a.before}")
            continue
        wa, wb = ra["workloads"][w], rb["workloads"][w]
        print(f"== {w}")
        for m in metrics:
            xa, xb = values(wa["untraced"], m["name"]), values(wb["untraced"], m["name"])
            qa, qb = quartiles(xa), quartiles(xb)
            print(f"  {m['name']:18s} before {qa[1]:12.4f} [{qa[0]:.4f}, {qa[2]:.4f}]  "
                  f"after {qb[1]:12.4f} [{qb[0]:.4f}, {qb[2]:.4f}] {m['unit']:7s} "
                  f"{verdict(xa, xb, m['bound'], m['better'])}")
        ca, _ = exact_counts(wa)
        cb, unstable = exact_counts(wb)
        moved = [(k, ca.get(k), v) for k, v in cb.items() if ca.get(k) != v]
        for k, x, y in moved:
            print(f"  count moved: {k} {x} -> {y}{'  (did not repeat)' if k in unstable else ''}")
        if not moved:
            print("  no exact count moved")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--traced", type=int, default=2)
    r.add_argument("--workloads")
    r.add_argument("--seed0", type=int, default=1)
    s = sub.add_parser("show")
    s.add_argument("record")
    d = sub.add_parser("diff")
    d.add_argument("before")
    d.add_argument("after")
    a = ap.parse_args()
    {"run": cmd_run, "show": cmd_show, "diff": cmd_diff}[a.cmd](a)


if __name__ == "__main__":
    main()
