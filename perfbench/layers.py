"""Per-operation layer tracing, measured from outside the engine.

One job group per operation; after the operation's timer stops the tracer
drains Spark's listener bus and reads, through py4j:

* job submit/complete times and per-stage task metrics from the
  application status store (``statusTracker()`` + ``statusStore()``);
* the Python-worker SQL metrics (``time to start/initialize/run Python
  workers``, ``data sent to/returned from Python workers``) from the
  shared SQL status store;
* JVM heap in use after the operation.

It also counts the py4j commands the operation's callable sends while it
builds the plan (``plan.py4j_calls``).  All of this works with
``spark.ui.enabled=false``.  What tracing costs a run as a whole is
measured by ``report.py overhead``, from traced and untraced runs.

Layer accounting of one operation (``t0`` start, ``t1`` callable returned,
``t2`` action returned; job intervals come from the JVM clock)::

    driver self   = (t1 - t0) - union(job intervals in [t0, t1])
    exec wall     = union(job intervals in [t0, t2])
    sql gap       = (t2 - t1) - union(job intervals in [t1, t2])
    residual      = |wall - (driver self + exec wall + sql gap)|
                    + job time of the group outside [t0, t2]

The three self-times sum to the wall time by construction, so the first
term of the residual is zero up to rounding: the check's content is the
second term, job time of the operation's group outside its window (work
the timer did not wait for, or Python and JVM clocks that disagree by
more than ``_CLOCK_SLACK_S``).  ``RESIDUAL_ABS_S + RESIDUAL_REL * wall``
is the stated tolerance.
"""

from __future__ import annotations

from py4j import protocol as proto

RESIDUAL_ABS_S = 0.02
RESIDUAL_REL = 0.02
# JVM timestamps have millisecond resolution
_CLOCK_SLACK_S = 0.002
_PY4J_DELETE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
# more SQL executions than one operation launches
_SQL_PAGE = 200

PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}


def union_within(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_split(t0, t1, t2, jobs):
    """Split one operation's wall time into layer self-times.

    ``jobs`` is a list of ``(submit, complete)`` epoch seconds."""
    wall = t2 - t0
    eager = union_within(jobs, t0, t1)
    action = union_within(jobs, t1, t2)
    split = {
        "driver_self_s": (t1 - t0) - eager,
        "exec_wall_s": union_within(jobs, t0, t2),
        "sql.driver_gap_s": (t2 - t1) - action,
    }
    outside = (union_within(jobs, float("-inf"), float("inf"))
               - union_within(jobs, t0 - _CLOCK_SLACK_S,
                              t2 + _CLOCK_SLACK_S))
    split["residual_s"] = abs(wall - sum(split.values())) + max(outside, 0.0)
    split["residual_ok"] = split["residual_s"] <= (RESIDUAL_ABS_S
                                                   + RESIDUAL_REL * wall)
    return split


def parse_sql_metric(text):
    """Total of a formatted SQL metric value, in seconds or bytes.

    Spark formats accumulated metrics as
    ``"total (min, med, max (stageId: taskId))\\n4.0 s (1.3 s, ...)"``;
    a single-task metric is just ``"4.0 s"``."""
    line = text.strip().splitlines()[-1]
    num, unit = line.split(" (")[0].split()[:2]
    scale = _TIME_UNITS.get(unit) or _SIZE_UNITS.get(unit)
    if scale is None:
        raise ValueError(f"unknown SQL metric unit in {text!r}")
    return float(num.replace(",", "")) * scale


def _opt(o):
    return o.get() if o.isDefined() else None


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Reads per-operation layer numbers out of one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._heap = (self.sc._jvm.java.lang.management.ManagementFactory
                      .getMemoryMXBean())
        self._sql_last = -1
        self._calls = 0
        self._counting = False
        client = self.sc._gateway._gateway_client
        self._send = client.send_command
        client.send_command = self._counting_send
        self._n = 0

    def _counting_send(self, command, *args, **kwargs):
        # a JavaObject's finalizer sends a delete whenever Python's GC
        # happens to run; those are not the plan's commands
        if self._counting and not command.startswith(_PY4J_DELETE):
            self._calls += 1
        return self._send(command, *args, **kwargs)

    def begin(self, name):
        """Tag the jobs the next operation launches and start counting
        its py4j commands; returns its group."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name, False)
        self._calls = 0
        self._counting = True
        return group

    def callable_done(self):
        self._counting = False

    def collect(self, group, t0, t1, t2):
        """Layer record of the operation tagged ``group``; call after
        its timer stopped."""
        self._counting = False
        self._bus.waitUntilEmpty(30000)
        self.sc.setJobGroup("perfbench-idle", "between operations", False)
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        rec = {k: 0.0 for k in (
            "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.input_bytes",
            "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
            "exec.spill_bytes", *PY_METRICS.values())}
        rec.update({"exec.jobs": len(job_ids), "exec.stages": 0,
                    "exec.tasks": 0, "plan.eager_jobs": 0,
                    "plan.py4j_calls": self._calls})
        intervals, stages = [], set()
        for jid in job_ids:
            job = self._store.job(jid)
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
                rec["plan.eager_jobs"] += intervals[-1][0] <= t1
            stages.update(int(s) for s in _iter(job.stageIds()))
        for sid in stages:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            rec["exec.stages"] += 1
            rec["exec.tasks"] += st.numTasks()
            rec["exec.run_s"] += st.executorRunTime() / 1e3
            rec["exec.cpu_s"] += st.executorCpuTime() / 1e9
            rec["exec.gc_s"] += st.jvmGcTime() / 1e3
            rec["exec.input_bytes"] += st.inputBytes()
            rec["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["exec.spill_bytes"] += (st.memoryBytesSpilled()
                                        + st.diskBytesSpilled())
        rec.update(self._python_metrics(job_ids))
        rec.update(layer_split(t0, t1, t2, intervals))
        rec["driver.jvm_heap_used_mb"] = (
            self._heap.getHeapMemoryUsage().getUsed() / (1 << 20))
        return rec

    def _python_metrics(self, job_ids):
        out = {v: 0.0 for v in PY_METRICS.values()}
        n = int(self._sql.executionsCount())
        # the store keeps a bounded tail of executions, so page from the
        # end and keep the ones newer than the last operation's
        tail = min(n, _SQL_PAGE)
        execs = [ex for ex in _iter(self._sql.executionsList(n - tail, tail))
                 if ex.executionId() > self._sql_last]
        if execs:
            self._sql_last = max(ex.executionId() for ex in execs)
        for ex in execs:
            ex_jobs = {int(j) for j in _iter(ex.jobs().keySet())}
            if not ex_jobs & job_ids:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            seen = set()
            for m in _iter(ex.metrics()):
                key = PY_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                text = _opt(values.get(acc))
                if text:
                    out[key] += parse_sql_metric(text)
        return out
