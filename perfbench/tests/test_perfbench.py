"""Self-tests of the benchmark: metric names, event-log parsing, span
self time, and span / job-tag attribution on a tiny Spark run.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import threading
import types

import pytest

from perfbench import layers, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units():
    bench = _benchmark()
    for section in ("workloads", "end_to_end", "per_layer"):
        names = [m["name"] for m in bench[section]]
        assert len(names) == len(set(names)), section
        for name in names:
            assert NAME.match(name), name
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
    for table in (run.END_TO_END, layers.PER_LAYER):
        for name, unit in table.items():
            assert NAME.match(name) and UNIT.match(unit), (name, unit)


def test_benchmark_json_matches_the_emitted_metrics():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == {"bulk_build", "ingest_search"}
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_event_log_parsing(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    task = {
        "Executor Run Time": 1500,
        "Executor CPU Time": 1_000_000_000,
        "JVM GC Time": 20,
        "Memory Bytes Spilled": 5,
        "Disk Bytes Spilled": 7,
        "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        "Output Metrics": {"Bytes Written": 50},
    }
    first = [
        _ev("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
            "Properties": {"spark.job.tags": "other,pbspan-2"},
        }),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": task}),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": task}),
    ]
    second = [
        # job 1 lists stage 1 again (skipped there): its tasks stay with job 0
        _ev("SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 4000, "Stage IDs": [1, 2], "Properties": {},
        }),
        _ev("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": task}),
        _ev("SparkListenerLogStart", **{"Spark Version": "4"}),
    ]
    (app / "events_2_local-1").write_text("\n".join(second) + "\n")
    (app / "events_1_local-1").write_text("\n".join(first) + "\n")
    paths = trace.event_log_files(str(tmp_path))
    assert [os.path.basename(p) for p in paths] == ["events_1_local-1", "events_2_local-1"]
    jobs = trace.parse_event_log(paths)
    j0, j1 = jobs[0], jobs[1]
    assert j0.tags == ["other", "pbspan-2"] and j1.tags == []
    assert j0.submit == 1.0
    assert j0.tasks == 2 and j1.tasks == 1
    assert j0.run_s == pytest.approx(3.0) and j0.cpu_s == pytest.approx(2.0)
    assert j0.gc_s == pytest.approx(0.04) and j0.spill_bytes == 24
    assert (j0.shuffle_read_bytes, j0.shuffle_write_bytes, j0.output_bytes) == (14, 200, 100)


def test_self_time_subtracts_the_union_of_children():
    parent = trace.Span(1, "p", None, 0, start=0.0, end=10.0)
    kids = [
        trace.Span(2, "a", 1, 0, start=1.0, end=4.0),
        trace.Span(3, "b", 1, 1, start=3.0, end=5.0),  # overlaps a
        trace.Span(4, "c", 1, 0, start=8.0, end=12.0),  # clipped at 10
    ]
    assert trace.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)


def test_wrap_names_spans_and_uninstall_restores():
    mod = types.SimpleNamespace(f=lambda runner, stage: stage * 2)
    orig = mod.f
    tr = trace.Tracer()
    tr.wrap(mod, "f", "stage", arg_suffix=1)
    with tr.span("outer"):
        assert mod.f(None, "x") == "xx"
    tr.uninstall()
    assert mod.f is orig
    outer, inner = sorted(tr.spans.values(), key=lambda s: s.id)
    assert (outer.name, inner.name, inner.parent, inner.depth) == ("outer", "stage:x", outer.id, 1)


def test_spans_and_job_tags_attribute_jobs(tmp_path):
    """A tagged job lands on its innermost span; a job launched from a plain
    thread (no tags) lands on the main thread's innermost open span."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        one_job = lambda: sc.parallelize(range(10), 2).count()  # noqa: E731
        tr = trace.Tracer(sc)
        with tr.span("outer") as outer:
            one_job()
            with tr.span("inner") as inner:
                one_job()
            t = threading.Thread(target=one_job)
            t.start()
            t.join(timeout=60)
            assert not t.is_alive()
        one_job()  # after every span: no owner
    finally:
        spark.stop()
    assert pyspark is not None
    jobs = trace.parse_event_log(trace.event_log_files(str(log_dir)))
    trace.attribute_jobs(tr.spans, jobs)
    owners = [(j.span, j.tagged) for j in sorted(jobs.values(), key=lambda j: j.id)]
    assert owners == [(outer.id, True), (inner.id, True), (outer.id, False), (None, False)]


def test_ingest_batches_recrawl_the_same_groups(tmp_path):
    """Each ingest_search batch crawls new pages of the same hosts, so the
    traced re-ingest merges into partitions the window's step wrote."""
    from perfbench import workloads

    w = workloads.IngestSearch(None, 7, str(tmp_path))
    b0, b1 = w.batch(0), w.batch(1)
    groups = {r["group_id"] for r in b0}
    assert len(groups) == workloads.BATCH_HOSTS
    assert {r["group_id"] for r in b1} == groups
    assert not {r["url"] for r in b0} & {r["url"] for r in b1}
