"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

SIZES = {"events": (5_000, 40), "embeddings": 100}


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    gen.write(str(tmp_path / "a"), 7, SIZES)
    gen.write(str(tmp_path / "b"), 7, SIZES)
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert list(a) == ["embeddings.parquet", "events.parquet"]
    assert a == b


def test_other_seed_gives_other_rows_with_same_schema(tmp_path):
    gen.write(str(tmp_path / "a"), 7, SIZES)
    gen.write(str(tmp_path / "b"), 8, SIZES)
    for t in SIZES:
        x = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        y = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert x.schema == y.schema
        assert x.num_rows == y.num_rows
        assert not x.equals(y)


def test_events_keep_fixture_schema_and_span(tmp_path):
    gen.write(str(tmp_path), 3, {"events": (20_000, 150)})
    t = pq.read_table(tmp_path / "events.parquet")
    assert str(t.schema.field("ts").type) == "timestamp[us]"
    ts = t.column("ts").to_pylist()
    assert ts == sorted(ts)
    assert str(ts[0]) >= "2024-01-01" and str(ts[-1]) < "2024-01-31"
    assert set(t.column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
    assert len(set(t.column("user_id").to_pylist())) == 150


def _rec(op, wall, ok=True, pass_no=1, traced=False, kind="query",
         family=None, step=None):
    return {"op": op, "kind": kind, "family": family, "step": step,
            "pass": pass_no, "traced": traced, "ok": ok, "wall_s": wall,
            "build_s": wall / 2, "hygiene_s": 0.01,
            "error": None if ok else "boom"}


def _traced(rec):
    rec = dict(rec, traced=True,
               **{"plan.py4j_calls": 10, "plan.eager_jobs": 0})
    rec.update(layers.layer_split(0.0, rec["build_s"], rec["wall_s"],
                                  [(rec["build_s"], rec["wall_s"])]))
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
              "exec.cpu_s", "exec.gc_s", "exec.input_bytes",
              "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
              "exec.spill_bytes", *layers.PY_METRICS.values()):
        rec[k] = 1.0
    rec["driver.jvm_heap_used_mb"] = 100.0
    return rec


_CHECKS = [{"check": "q", "pass": 0, "ok": True, "problem": None}]


def test_printed_metric_names_are_declared():
    spec = run.benchmark_spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    recs = [_rec(f"q{i}", 0.1 + i / 100) for i in range(30)]
    got = run.end_to_end(recs, 5.0)
    assert set(got) == set(e2e)
    assert all(v > 0 for v, _ in got.values())
    idx = [_traced(_rec(f"{f}.{s}", 0.2, kind="commit", family=f, step=s))
           for f in run.FAMILIES for s in run.STEPS]
    session = {"session.start_s": 1.0, "session.conf_s": 0.1,
               "session.warm_pass_s": 3.0}
    got = run.per_layer(idx, _CHECKS, session,
                        [(f, True, 1.5) for f in run.FAMILIES], units)
    assert set(got) == set(units)
    for f in run.FAMILIES:
        for s in run.STEPS:
            assert got[f"index.{f}.{s}_s"] == pytest.approx(0.2)


def test_layer_split_sums_to_wall_within_residual():
    # eager job inside the callable, two overlapping action jobs
    split = layers.layer_split(100.0, 100.4, 101.0,
                               [(100.1, 100.3), (100.5, 100.8),
                                (100.7, 100.9)])
    assert split["driver_self_s"] == pytest.approx(0.2)
    assert split["exec_wall_s"] == pytest.approx(0.6)
    assert split["sql.driver_gap_s"] == pytest.approx(0.2)
    parts = (split["driver_self_s"] + split["exec_wall_s"]
             + split["sql.driver_gap_s"])
    assert parts == pytest.approx(1.0)
    assert split["residual_ok"]


def test_job_outside_the_window_breaks_the_residual():
    split = layers.layer_split(100.0, 100.4, 101.0, [(100.5, 101.5)])
    assert split["residual_s"] == pytest.approx(0.5, abs=0.01)
    assert not split["residual_ok"]


def test_py4j_deletes_are_not_plan_calls():
    tracer = layers.Tracer.__new__(layers.Tracer)   # no Spark behind it
    tracer._send = lambda command, *args, **kwargs: None
    tracer._calls, tracer._counting = 0, True
    tracer._counting_send("c\no12\nselect\ne\n")
    tracer._counting_send("m\nd\no7\ne\n")
    tracer.callable_done()
    tracer._counting_send("c\no12\ncollect\ne\n")
    assert tracer._calls == 1


def test_parse_sql_metric():
    assert layers.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n4.0 s (1.3 s, 1.3 s, "
        "1.4 s (stage 2.0: task 5))") == pytest.approx(4.0)
    assert layers.parse_sql_metric("996 ms") == pytest.approx(0.996)
    assert layers.parse_sql_metric(
        "total (min, med, max)\n1.5 KiB (1.0 B, 2.0 B, 3.0 B)") == 1536.0


def test_tail_keeps_ten_samples_above():
    v, pct, n = run.tail(list(range(100)))
    assert (v, n) == (89, 100) and pct == 90.0
    assert run.tail([3.0, 1.0]) == (3.0, 100.0, 2)


class _FakeSpark:
    """The slice of a SparkSession the runner's hygiene touches."""

    class catalog:
        @staticmethod
        def clearCache():
            pass

    class sparkContext:
        class _jsc:
            @staticmethod
            def getPersistentRDDs():
                return {}


def test_failing_operation_is_counted_not_fatal():
    class DF:
        columns = ["x"]

        def collect(self):
            return [(1,)]

    def boom():
        raise RuntimeError("injected")

    runner = run.Runner(_FakeSpark)
    ops = [W.Op("good", "query", DF), W.Op("bad", "query", boom),
           W.Op("good2", "query", DF)]
    for pass_no in (1, 2):
        for op in ops:
            runner.run(op, pass_no, collect=True)
    assert [r["ok"] for r in runner.records] == [True, False, True] * 2
    assert "injected" in runner.records[1]["error"]
    runner.check("bad", 0, "exception: injected")
    e2e = run.end_to_end(runner.records, 1.0)
    assert e2e["ops_per_s"][0] > 0
    assert run.summary(runner.records)["read_n"] == 4
    units = {m["name"]: m["unit"]
             for m in run.benchmark_spec()["per_layer"]}
    got = run.per_layer(runner.records, runner.checks, {}, [], units)
    assert got["failed_frac"] == pytest.approx(3 / 7)


def test_split_plan_covers_every_bucket_once():
    for seed in range(5):
        base, merge, append = W.split_plan(seed)
        flat = base + merge + append
        assert sorted(flat) == list(range(W.BATCHES))
    assert W.split_plan(1) != W.split_plan(2)


def test_latency_pools_every_timed_pass():
    recs = [_rec("a", 1.0, pass_no=1), _rec("a", 0.5, pass_no=2),
            _rec("b", 2.0, pass_no=1), _rec("b", 3.0, pass_no=2),
            _rec("a", 9.0, pass_no=0)]      # the warm pass is not timed
    e2e = run.end_to_end(recs, 1.0)
    assert e2e["read_p50_s"][0] == pytest.approx(1.5)
    assert e2e["read_tail_s"][0] == pytest.approx(3.0)
    assert e2e["ops_per_s"][0] == pytest.approx(4 / 6.5)


def test_commits_and_serves_are_apart():
    recs = [_rec("w", 5.0, kind="commit"), _rec("c", 1.0, kind="commit"),
            _rec("s1", 2.0, kind="serve"), _rec("s2", 3.0, kind="serve")]
    e2e = run.end_to_end(recs, 1.0)
    # a serve regression moves read_*, whatever the commits do
    assert e2e["read_p50_s"][0] == pytest.approx(2.5)
    assert e2e["read_tail_s"][0] == pytest.approx(3.0)
    info = run.summary(recs)
    assert info["commit_p50_s"] == pytest.approx(3.0)
    assert info["commit_tail_s"] == pytest.approx(5.0)
    assert (info["read_n"], info["commit_n"]) == (2, 2)


def test_pass_count_depends_on_seconds_only():
    for spec in run.WORKLOADS.values():
        assert run.passes(spec, 1) == 1
        assert run.passes(spec, spec["pass_s"]) == 1
        assert run.passes(spec, spec["pass_s"] * 2.5) == 3
    assert run.passes(run.WORKLOADS["ts_interactive"], 18) == 6
    assert run.passes(run.WORKLOADS["index_lifecycle"], 18) == 2
