#!/usr/bin/env python3
"""Repeat runs, tracing overhead and layer breakdowns of the benchmark.

    # every end-to-end metric of every workload, over several seeds
    python3 perfbench/report.py sweep --seeds 1-10 [--workloads a,b]

    # trace_overhead_frac per workload: traced over untraced timed wall
    python3 perfbench/report.py overhead --seeds 1-3

    # per-layer split of traced runs (files written by run.py --trace 1)
    python3 perfbench/report.py breakdown perfbench/out/*-trace1.json

``sweep`` runs ``run.py`` untraced once per workload and seed, one after
another, and prints per metric the median, the quartiles and their
distance as a share of the median (the spread each end-to-end bound must
cover).  ``overhead`` runs each seed traced and untraced back to back,
alternating which goes first, and reports the median over the seeds of
traced ``timed_wall_s`` divided by untraced ``timed_wall_s``, minus 1.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from run import HERE, ROOT, benchmark_spec


def _seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def run_once(workload, seed, trace):
    seconds = benchmark_spec()["run_seconds"]
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    summ = next((json.loads(x[len("summary "):]) for x in lines
                 if x.startswith("summary ")), {})
    summ["run_elapsed_s"] = time.time() - t
    return result, summ


def _names(args, spec):
    return args.workloads.split(",") if args.workloads else [
        w["name"] for w in spec["workloads"]]


def sweep(args):
    spec = benchmark_spec()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = defaultdict(list)
    for w in _names(args, spec):
        for seed in _seeds(args.seeds):
            result, summ = run_once(w, seed, 0)
            runs[w].append({"seed": seed, "result": result,
                            "summary": summ})
            vals = {k: round(v["value"], 4)
                    for k, v in result["metrics"].items()}
            print(f"{w} seed={seed} correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} "
                  f"elapsed={summ['run_elapsed_s']:.0f}s {vals}", flush=True)
    table = {}
    for w, rs in runs.items():
        table[w] = {}
        for key in rs[0]["result"]["metrics"]:
            xs = [r["result"]["metrics"][key]["value"] for r in rs]
            table[w][key] = _row(xs, rs[0]["result"]["metrics"][key]["unit"],
                                 bounds.get(key))
        for key in sorted({k for r in rs for k in r["summary"]}):
            xs = [r["summary"][key] for r in rs if key in r["summary"]]
            table[w][key] = _row(xs, _unit(key), None)
    print(render(table))


def overhead(args):
    spec = benchmark_spec()
    for w in _names(args, spec):
        fracs = []
        for i, seed in enumerate(_seeds(args.seeds)):
            walls = {}
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                _, summ = run_once(w, seed, trace)
                walls[trace] = summ["timed_wall_s"]
            fracs.append(walls[1] / walls[0] - 1)
            print(f"{w} seed={seed} untraced={walls[0]:.2f}s "
                  f"traced={walls[1]:.2f}s frac={fracs[-1]:+.3f}",
                  flush=True)
        print(f"{w} trace_overhead_frac {statistics.median(fracs):+.3f} "
              f"(median of {len(fracs)} seeds)", flush=True)


# units of the summary figures, by name suffix
_SUFFIX_UNITS = {"_s": "s", "_mb": "MB", "_frac": "fraction", "_pct": "%",
                 "_n": "count"}


def _unit(name):
    return next((u for suffix, u in _SUFFIX_UNITS.items()
                 if name.endswith(suffix)), "")


def _row(xs, unit, bound):
    if len(xs) >= 2:
        q1, med, q3 = quartiles(xs)
    else:
        q1 = med = q3 = xs[0]
    spread = (q3 - q1) / med if med else 0.0
    return {"unit": unit, "n": len(xs), "median": med, "q1": q1, "q3": q3,
            "spread": spread, "bound": bound}


def render(table):
    out = []
    for w, rows in table.items():
        out.append(f"\n{w}\n| metric | unit | n | median | q1 | q3 | "
                   "spread | bound |\n|---|---|---|---|---|---|---|---|")
        for k, r in rows.items():
            b = "" if r["bound"] is None else r["bound"]
            out.append(f"| {k} | {r['unit']} | {r['n']} | {r['median']:.4g} "
                       f"| {r['q1']:.4g} | {r['q3']:.4g} | "
                       f"{r['spread']:.3f} | {b} |")
    return "\n".join(out)


TOP = 10    # operations listed per workload, by wall time
# The wall-time layers of one operation (layers.py): they sum to its wall.
WALL_LAYERS = ("plan.self_s", "exec.wall_s", "sql.driver_gap_s")


def breakdown(args):
    for path in args.files:
        with open(path) as f:
            run = json.load(f)
        recs = [r for r in run["records"] if r["traced"]]
        by_op = defaultdict(list)
        for r in recs:
            by_op[r["op"]].append(r)
        rows = []
        for op, rs in by_op.items():
            row = {"op": op, "n": len(rs)}
            for k in ("wall_s", "driver_self_s", "exec_wall_s",
                      "sql.driver_gap_s", "residual_s", "exec.run_s",
                      "exec.cpu_s", "python.boot_s", "python.run_s",
                      "plan.py4j_calls", "exec.jobs"):
                row[k] = statistics.median(r.get(k, 0.0) for r in rs)
            rows.append(row)
        rows.sort(key=lambda r: -r["wall_s"])
        tot = {k: sum(r.get(k, 0.0) for r in recs)
               for k in ("wall_s", "driver_self_s", "exec_wall_s",
                         "sql.driver_gap_s")}
        share = {name: tot[k] / tot["wall_s"] for name, k in
                 zip(WALL_LAYERS, ("driver_self_s", "exec_wall_s",
                                   "sql.driver_gap_s"))}
        env = run["env"]
        print(f"\n### {env['workload']} (seed {env['seed']}, "
              f"{len(recs)} traced operations)")
        print("Wall-time share: " + ", ".join(
            f"{k} {v:.1%}" for k, v in share.items())
            + f"; dominant layer: {max(share, key=share.get)}")
        print("\n| operation | wall s | plan self s | exec wall s | sql gap s "
              "| exec run s | exec cpu s | python boot s | python run s "
              "| py4j calls | jobs |")
        print("|---|---|---|---|---|---|---|---|---|---|---|")
        for r in rows[:TOP]:
            print(f"| {r['op']} | {r['wall_s']:.3f} | {r['driver_self_s']:.3f}"
                  f" | {r['exec_wall_s']:.3f} | {r['sql.driver_gap_s']:.3f} "
                  f"| {r['exec.run_s']:.2f} | {r['exec.cpu_s']:.2f} "
                  f"| {r['python.boot_s']:.2f} | {r['python.run_s']:.2f} "
                  f"| {r['plan.py4j_calls']:.0f} | {r['exec.jobs']:.0f} |")


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("sweep", "overhead"):
        s = sub.add_parser(name)
        s.add_argument("--seeds", default="1-10")
        s.add_argument("--workloads")
    b = sub.add_parser("breakdown")
    b.add_argument("files", nargs="+")
    args = p.parse_args(argv)
    {"sweep": sweep, "overhead": overhead,
     "breakdown": breakdown}[args.cmd](args)


if __name__ == "__main__":
    main()
