#!/usr/bin/env python3
"""Layered, outside-in benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

One process runs one workload on ``local[<cores>]``, driven by one client
in a closed loop: the next operation starts when the previous one has been
forced (a noop-sink write for a query, a collect for an index serve, the
call's return for an eager index call).  Inputs are generated from
``--seed``.  A run is

1. generate the inputs (``gen_s``, reported apart from ``setup_s``);
2. start the session and warm up, untimed: ``ts_interactive`` runs its
   queries ``TS_WARM_PASSES`` times, the first time collecting their
   outputs and checking them against the registered DuckDB oracles;
   ``index_lifecycle`` writes and serves its index once.  Check time is
   excluded from ``setup_s``;
3. a number of timed passes fixed by ``--seconds`` alone (``passes()``),
   so a faster engine does not get more samples than a slower one.  The
   serves of every timed ``index_lifecycle`` pass are checked against the
   oracles, untimed.

``--trace 1`` runs the same passes with the layer tracer on and reports
per-layer numbers instead of end-to-end ones.  The last stdout line is the
result JSON; the lines before it record the environment, the workload's own
summary figures and every failure.  The full per-operation record goes to
``perfbench/out/``.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as W  # noqa: E402

# Why each workload exists is recorded in BENCHMARK.json.  ``pass_s`` is
# the length of one timed pass on the reference host (BASELINE.md); it
# turns ``--seconds`` into a pass count that does not depend on the engine.
WORKLOADS = {
    "ts_interactive": {"inputs": {"events": (10_000, 150)}, "pass_s": 3.0},
    "index_lifecycle": {"inputs": {"embeddings": 1_000}, "pass_s": 10.0},
}
# Untimed passes of ``ts_interactive`` before timing: after two of them a
# pass still took 1.1-1.5x as long as the fifth (BASELINE.md).
TS_WARM_PASSES = 4
# The index warm-up: the first write and the first serve carry nearly all
# of the one-off cost (Spark's code generation, the JIT, Python workers).
WARM_STEPS = ("write",)
# Operations that return rows to the caller; the rest are index commits.
READ_KINDS = ("query", "serve")
FAMILIES = ("ivfpq",)
STEPS = W.STEPS + ("serve",)
# The host is shared; a bounded heap keeps peak memory predictable.
DRIVER_MEMORY = "4g"


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ helpers
def tail(samples):
    """(value, percentile, n): the highest percentile with at least ten
    samples above it; the maximum when there are ten or fewer."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def passes(spec, seconds):
    """Timed passes of a run: whole passes covering ``seconds`` at the
    reference pass length, at least one."""
    return max(1, math.ceil(seconds / spec["pass_s"] - 1e-9))


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def peak_rss_mb(pids):
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def source_digest():
    """sha256 over the engine's sources: identifies the code when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "orange3_timeseries_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                h.update(os.path.relpath(full, pkg).encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------------- runner
class Runner:
    """Runs operations in a closed loop and keeps their records."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.records = []
        self.checks = []
        self.check_s = 0.0

    def hygiene(self):
        """Between operations: drop cached and checkpointed data and let
        py4j release the previous plan's JVM objects."""
        t = time.perf_counter()
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        gc.collect()
        return time.perf_counter() - t

    def run(self, op, pass_no, traced=False, collect=False, index_path=None):
        """Run one operation; never raises.  With ``collect`` the output
        is collected (and returned) instead of written to the noop sink."""
        rec = {"op": op.name, "kind": op.kind, "family": op.family,
               "step": op.step, "pass": pass_no, "traced": traced,
               "hygiene_s": self.hygiene(), "ok": True, "error": None}
        tr = self.tracer if traced else None
        before = W.dir_stats(index_path) if tr and index_path else None
        group = tr.begin(op.name) if tr else None
        out = None
        t0 = time.time()
        t1 = None
        try:
            df = op.call()
            t1 = time.time()
            if tr:
                tr.callable_done()
            if df is not None:
                if collect:
                    out = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing operation is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        t2 = time.time()
        t1 = t2 if t1 is None else t1
        rec.update(wall_s=t2 - t0, build_s=t1 - t0)
        if tr:
            rec.update(tr.collect(group, t0, t1, t2))
            if before is not None:
                after = W.dir_stats(index_path)
                new = [k for k in after if k not in before]
                rec["files_written"] = len(new)
                rec["bytes_written"] = sum(after[k] for k in new)
        self.records.append(rec)
        return rec, out

    def check(self, name, pass_no, problem):
        self.checks.append({"check": name, "pass": pass_no,
                            "ok": problem is None, "problem": problem})


# ---------------------------------------------------------------- workloads
def _problem(oracle, name, rec, out):
    """Why an operation's output fails its oracle, or None."""
    if not rec["ok"]:
        return f"exception: {rec['error']}"
    try:
        return oracle.compare(name, *out)
    except Exception as e:  # a broken check is a failure, not a crash
        return f"check raised {type(e).__name__}: {e}"[:300]


class QueryWorkload:
    def __init__(self, spark, data_dir, oracle):
        self.ops = W.query_ops(spark, data_dir, W.TS_INTERACTIVE)
        self.oracle = oracle

    def run_pass(self, runner, pass_no, traced=False, check=False):
        """With ``check`` the outputs are collected and checked instead
        of written to the noop sink."""
        for op in self.ops:
            rec, out = runner.run(op, pass_no, traced, collect=check)
            if check:
                t = time.perf_counter()
                runner.check(op.name, pass_no,
                             _problem(self.oracle, op.name, rec, out))
                runner.check_s += time.perf_counter() - t


class IndexWorkload:
    def __init__(self, spark, data_dir, work, seed, oracle):
        self.spark = spark
        self.families = W.families(spark, data_dir)
        self.work = work
        self.seed = seed
        self.oracle = oracle
        self.disk_per_live = []     # (family, traced, ratio)

    def run_pass(self, runner, pass_no, traced=False, check=False,
                 steps=W.STEPS, serves=W.SERVES):
        """One lifecycle per family; with ``check`` every serve's output
        (collected by the serve itself) is checked."""
        from orange3_timeseries_spark.operators.index_store import (
            resolve_index_path,
        )
        for fam in self.families:
            path = os.path.join(self.work, "index", fam.name)
            for op in W.lifecycle_ops(self.spark, fam, path, self.seed,
                                      steps, serves):
                rec, out = runner.run(op, pass_no, traced,
                                      collect=op.kind == "serve",
                                      index_path=path)
                if check and op.kind == "serve":
                    t = time.perf_counter()
                    runner.check(op.name, pass_no,
                                 _problem(self.oracle, fam.oracle, rec, out))
                    runner.check_s += time.perf_counter() - t
            if rec["ok"]:
                live = sum(W.dir_stats(resolve_index_path(path)).values())
                total = sum(W.dir_stats(path).values())
                self.disk_per_live.append((fam.name, traced, total / live))


# ------------------------------------------------------------------ metrics
def timed_walls(records, kinds):
    """Wall times of the timed, successful operations of ``kinds``: every
    pass's sample, so each statistic is over the same fixed number of
    passes whatever the engine's speed."""
    return [r["wall_s"] for r in records
            if r["pass"] > 0 and r["ok"] and r["kind"] in kinds]


def end_to_end(records, setup_s):
    """The bounded metrics.  ``read_*`` are over the operations that return
    rows (every query of ``ts_interactive``, the serves of
    ``index_lifecycle``); ``ops_per_s`` is over all of them, so on
    ``index_lifecycle`` it is carried by the commits."""
    reads = timed_walls(records, READ_KINDS)
    if not reads:
        raise RuntimeError("no timed read operation succeeded")
    walls = timed_walls(records, READ_KINDS + ("commit",))
    return {"setup_s": (setup_s, "s"),
            "read_p50_s": (statistics.median(reads), "s"),
            "read_tail_s": (tail(reads)[0], "s"),
            "ops_per_s": (len(walls) / sum(walls), "1/s")}


def summary(records):
    """Figures of an untraced run that are not bounded metrics: the tails'
    percentiles and sample counts, and the commit latencies of
    ``index_lifecycle``."""
    out = {}
    for name, kinds in (("read", READ_KINDS), ("commit", ("commit",))):
        xs = timed_walls(records, kinds)
        if not xs:
            continue
        t, pct, n = tail(xs)
        if name == "commit":
            out.update(commit_p50_s=statistics.median(xs), commit_tail_s=t)
        out.update({f"{name}_tail_pct": round(pct, 1), f"{name}_n": n})
    return out


def per_layer(records, checks, session, disk_per_live, names):
    """Per-layer metrics of the traced operations: means per operation,
    medians per index family and step, zero for a layer not called."""
    traced = [r for r in records if r["traced"]]
    m = {n: 0.0 for n in names}
    m.update(session)

    def avg(key):
        return mean(r.get(key, 0.0) for r in traced)

    for key, src in (("plan.build_s", "build_s"),
                     ("plan.self_s", "driver_self_s"),
                     ("exec.wall_s", "exec_wall_s"),
                     ("bench.hygiene_s", "hygiene_s")):
        m[key] = avg(src)
    for k in ("plan.py4j_calls", "plan.eager_jobs", "sql.driver_gap_s",
              "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
              "exec.cpu_s", "exec.gc_s", "exec.input_bytes",
              "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
              "exec.spill_bytes", "python.boot_s", "python.init_s",
              "python.run_s", "python.bytes_sent", "python.bytes_received"):
        m[k] = avg(k)
    m["driver.jvm_heap_used_mb"] = max(
        (r["driver.jvm_heap_used_mb"] for r in traced), default=0.0)
    m["layer.residual_max_s"] = max((r["residual_s"] for r in traced),
                                    default=0.0)
    m["layer.residual_violations"] = sum(
        not r["residual_ok"] for r in traced)
    n_fail = (sum(not r["ok"] for r in records)
              + sum(not c["ok"] for c in checks))
    m["failed_frac"] = n_fail / max(len(records) + len(checks), 1)
    for fam in FAMILIES:
        fr = [r for r in traced if r["family"] == fam]
        for step in STEPS:
            xs = [r["wall_s"] for r in fr if r["step"] == step]
            if xs:
                m[f"index.{fam}.{step}_s"] = statistics.median(xs)
        lifecycles = max(1, len({r["pass"] for r in fr}))
        m[f"index.{fam}.files_written"] = sum(
            r.get("files_written", 0) for r in fr) / lifecycles
        m[f"index.{fam}.bytes_written"] = sum(
            r.get("bytes_written", 0) for r in fr) / lifecycles
        ratios = [x for f, t, x in disk_per_live if f == fam and t]
        if ratios:
            m[f"index.{fam}.disk_per_live_bytes"] = statistics.median(ratios)
    return m


# --------------------------------------------------------------------- main
def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv)
    bench = benchmark_spec()
    spec = WORKLOADS[args.workload]
    index = args.workload == "index_lifecycle"
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of the run, the engine's and Spark's included,
    # stays under the run's work directory
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # for the launcher JVM and the driver JVM alike; no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    spark = None
    try:
        t = time.time()
        rows = gen.write(data_dir, args.seed, spec["inputs"])
        gen_s = time.time() - t

        sys.path.insert(0, ROOT)
        import pyspark

        import __spark_entry__
        from check import Oracle
        from layers import Tracer
        from orange3_timeseries_spark import get_spark
        from orange3_timeseries_spark.queries import ensure_session_conf

        cores = len(os.sched_getaffinity(0))
        master = f"local[{cores}]"
        t = time.time()
        spark = get_spark(f"perfbench-{args.workload}", master=master,
                          extra_conf={
                              "spark.driver.memory": DRIVER_MEMORY,
                              "spark.sql.warehouse.dir":
                                  os.path.join(work, "warehouse")})
        start_s = time.time() - t
        t = time.time()
        ensure_session_conf(spark)
        conf_s = time.time() - t
        jvm_pid = spark.sparkContext._gateway.proc.pid

        oracle = Oracle(data_dir, list(rows), __spark_entry__.oracle_sql(),
                        os.path.join(work, "duckdb"))
        if index:
            wl = IndexWorkload(spark, data_dir, work, args.seed, oracle)
        else:
            wl = QueryWorkload(spark, data_dir, oracle)
        tracer = Tracer(spark) if args.trace else None
        runner = Runner(spark, tracer)

        t = time.time()
        if index:
            wl.run_pass(runner, 0, steps=WARM_STEPS, serves=1)
        else:
            wl.run_pass(runner, 0, check=True)
            for _ in range(TS_WARM_PASSES - 1):
                wl.run_pass(runner, 0)
        warm_s = time.time() - t - runner.check_s
        setup_s = time.time() - T_START - gen_s - runner.check_s

        n_passes = passes(spec, args.seconds)
        t, check_s = time.time(), runner.check_s
        for pass_no in range(1, n_passes + 1):
            wl.run_pass(runner, pass_no, traced=bool(args.trace),
                        check=index)
        # gaps between operations included: on a traced run this holds
        # the tracer's reads, so report.py derives trace_overhead_frac
        # from it
        timed_wall_s = time.time() - t - (runner.check_s - check_s)

        rss = peak_rss_mb([os.getpid(), jvm_pid])
        env = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "inputs": {k: {"rows": v} for k, v in rows.items()},
            "n_series": spec["inputs"].get("events", (0, 0))[1],
            "gen_s": gen_s, "nproc": cores, "master": master,
            # read back after the operations: the engine resets it
            "spark.sql.shuffle.partitions":
                spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "git_commit": git_commit(), "source_digest": source_digest(),
            "timed_passes": n_passes, "check_s": runner.check_s,
        }
        checks_failed = [c for c in runner.checks if not c["ok"]]
        ops_failed = [r for r in runner.records if not r["ok"]]
        attempted = len(runner.records) + len(runner.checks)
        failed = len(ops_failed) + len(checks_failed)
        info = summary(runner.records)
        info["timed_wall_s"] = timed_wall_s
        info["failed_frac"] = failed / attempted
        info["peak_rss_mb"] = rss
        if args.trace:
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            values = per_layer(
                runner.records, runner.checks,
                {"session.start_s": start_s, "session.conf_s": conf_s,
                 "session.warm_pass_s": warm_s, "driver.peak_rss_mb": rss},
                getattr(wl, "disk_per_live", []), units)
            metrics = {k: (values[k], u) for k, u in units.items()}
        else:
            values = end_to_end(runner.records, setup_s)
            metrics = {m["name"]: values[m["name"]]
                       for m in bench["end_to_end"]}
        oracle.close()

        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        out_path = os.path.join(
            HERE, "out",
            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out_path, "w") as f:
            json.dump({"env": env, "summary": info,
                       "metrics": {k: v for k, (v, _) in metrics.items()},
                       "checks": runner.checks, "records": runner.records},
                      f, indent=1, default=str)
        print("env " + json.dumps(env, default=str))
        print("summary " + json.dumps(info))
        for c in checks_failed:
            print(f"FAILED check {c['check']} (pass {c['pass']}): "
                  f"{c['problem']}")
        for r in ops_failed:
            print(f"FAILED op {r['op']} (pass {r['pass']}): {r['error']}")
        result = {
            "correct": not checks_failed and not ops_failed,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        stop(spark)
        spark = None
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop(spark):
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
