"""Tests of the benchmark itself: output schema, seed determinism of the
inputs, the event-log reader and span self-time arithmetic.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(BENCHMARK_JSON, encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(unit for unit in {**run.END_TO_END, **run.PER_LAYER}.values())
    assert set(run.PLAN_NODES.values()) <= set(run.PER_LAYER)


def test_every_workload_query_is_registered_with_an_oracle():
    registry, oracles = run.load_registry()
    for wl in run.WORKLOADS.values():
        for q in wl.queries:
            assert q in registry and q in oracles, q
    for mr, native in run.MR_TWINS.items():
        assert native in registry and mr in registry


def test_seed_fixes_the_input_tables():
    a, b, c = (fixtures.tables(0.01, seed) for seed in (3, 3, 4))
    assert set(a) == set(fixtures.TABLES)
    for name in fixtures.TABLES:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == c[name].num_rows == fixtures.row_counts(0.01)[name]
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_tail_latency_needs_ten_samples_beyond():
    assert run.tail_latency([1.0] * 10) is None
    values = [float(i) for i in range(1, 21)]
    pct, value = run.tail_latency(values)
    assert pct == pytest.approx(50.0)
    assert value == 10.0
    assert sum(v > value for v in values) == 10


def _span(start, end, parent=None):
    return tracing.Span("s", start, end, parent)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0.0, 10.0)
    children = [_span(1.0, 3.0), _span(2.0, 5.0), _span(8.0, 12.0), _span(11.0, 13.0)]
    # covered: [1, 5] and [8, 10] (clipped to the parent) = 6
    assert tracing.self_time(parent, children) == pytest.approx(4.0)
    assert tracing.self_time(parent, []) == pytest.approx(10.0)
    assert tracing.self_time(parent, [_span(-1.0, 11.0)]) == pytest.approx(0.0)


def test_tracer_links_children():
    tr = tracing.Tracer()
    top = tr.open("pass")
    kid = tr.open("query", top)
    tr.close(kid)
    tr.close(top)
    assert tr.children(top) == [kid]
    assert tr.self_time(top) == pytest.approx(tr.spans[top].duration - tr.spans[kid].duration)


def test_event_log_reader_counts_jobs_stages_tasks_and_blocks(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    args = tracing.event_log_conf(str(log_dir))
    session = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
    for kv in args[1::2]:
        session = session.config(*kv.split("=", 1))
    spark = session.getOrCreate()
    try:
        sc = spark.sparkContext
        sc.setJobGroup("t|shuffle", "shuffle")
        # one job: a 4-task map stage and a 2-task reduce stage
        sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(
            lambda a, b: a + b, 2).collect()
        sc.setJobGroup("t|cached", "cached")
        # two jobs of one 3-task stage each; the first caches 3 blocks
        cached = sc.parallelize(range(1000), 3).cache()
        cached.count()
        cached.count()
    finally:
        spark.stop()
    log = tracing.read_event_log(str(log_dir))
    shuffle = log.select(lambda j: j.group == "t|shuffle")
    c = log.counters(shuffle)
    assert (c.jobs, c.stages, c.tasks, c.failed_tasks) == (1, 2, 6, 0)
    assert c.shuffle_write_mb > 0 and c.shuffle_read_mb > 0
    assert c.run_s >= 0 and c.cpu_s > 0
    cached_jobs = log.select(lambda j: j.group == "t|cached")
    c = log.counters(cached_jobs)
    assert (c.jobs, c.stages, c.tasks) == (2, 2, 6)
    assert log.rdd_mb_at(max(j.ended_ms for j in cached_jobs)) > 0
    assert log.rdd_mb_at(min(j.submitted_ms for j in shuffle) - 1) == 0.0
