"""In-process tests of the service's `run` op (`service.run_query`),
against the shared test session: a request executes its query once,
releases everything it persisted, rejects bad input before any Spark
job runs, and logs one JSON line."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mapreduce_project_spark.queries_registry import EXTRA_QUERIES, QUERIES
from mapreduce_project_spark.service import run_query
from tests.conftest import SF_DIR


def _log_records(out: str) -> list[dict]:
    return [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]


def test_run_executes_the_query_once(spark, capsys):
    sc = spark.sparkContext
    rows_seen = sc.accumulator(0)

    def tally(batches):
        for batch in batches:
            rows_seen.add(len(batch))
            yield batch

    def counted(spark, sf_dir):
        # the shuffle after the Python stage makes every job over this
        # plan run the whole stage: two executions would tally 2000
        return (
            spark.range(1000, numPartitions=2)
            .mapInPandas(tally, "id long")
            .groupBy((F.col("id") % 10).alias("k"))
            .count()
        )

    req = {"query": "counted", "sf_dir": SF_DIR, "limit": 3}
    reply = run_query(spark, {"counted": counted}, req, "t-once")
    assert reply["ok"], reply
    assert reply["n"] == 10 and len(reply["rows"]) == 3
    assert rows_seen.value == 1000
    (record,) = _log_records(capsys.readouterr().out)
    assert record["query"] == "counted" and record["ok"] and record["n"] == 10
    assert record["error"] is None and record["wall_s"] > 0
    assert record["jobs"] == len(sc.statusTracker().getJobIdsForGroup("t-once")) > 0


def test_requests_release_everything_they_persisted(spark):
    jsc = spark.sparkContext._jsc

    def cached(spark, sf_dir):
        base = spark.range(100).cache()
        base.count()
        return base.localCheckpoint().selectExpr("id * 2 AS x")

    req = {"query": "cached", "sf_dir": SF_DIR}
    before = set(jsc.getPersistentRDDs().keys())
    for _ in range(3):
        reply = run_query(spark, {"cached": cached}, req, "t-release")
        assert reply["ok"] and reply["n"] == 100, reply
    assert set(jsc.getPersistentRDDs().keys()) == before


@pytest.mark.parametrize("limit", [0, 5, 1_000_000])
def test_reply_matches_the_dataframe(spark, limit):
    registry = {**QUERIES, **EXTRA_QUERIES}
    df = registry["word_count"](spark, SF_DIR)
    n, columns = df.count(), df.columns
    reply = run_query(
        spark, registry, {"query": "word_count", "sf_dir": SF_DIR, "limit": limit}, "t-shape"
    )
    assert reply["ok"], reply
    assert reply["n"] == n and reply["columns"] == columns
    assert len(reply["rows"]) == min(limit, n)


@pytest.mark.parametrize(
    "req, error",
    [
        ({"query": "probe", "sf_dir": SF_DIR, "limit": -1}, "limit must be an integer >= 0"),
        ({"query": "probe", "sf_dir": SF_DIR, "limit": "x"}, "limit must be an integer >= 0"),
        ({"query": "probe", "sf_dir": SF_DIR, "limit": True}, "limit must be an integer >= 0"),
        ({"query": "probe", "limit": 5}, "sf_dir must be a non-empty path"),
        ({"sf_dir": SF_DIR, "limit": 5}, "unknown query"),
        ({"query": "nope", "sf_dir": SF_DIR}, "unknown query"),
    ],
)
def test_invalid_request_runs_no_job(spark, capsys, req, error):
    built = []

    def probe(spark, sf_dir):
        built.append(sf_dir)
        return spark.range(10)

    sc = spark.sparkContext
    # any job the request ran would land in one of these two groups
    sc.setJobGroup("t-invalid", "invalid requests")
    try:
        reply = run_query(spark, {"probe": probe}, req, "t-invalid-req")
    finally:
        sc._jsc.clearJobGroup()
    assert not reply["ok"] and error in reply["error"]
    assert built == []
    assert sc.statusTracker().getJobIdsForGroup("t-invalid") == []
    assert sc.statusTracker().getJobIdsForGroup("t-invalid-req") == []
    (record,) = _log_records(capsys.readouterr().out)
    assert record["ok"] is False and record["jobs"] == 0 and error in record["error"]
