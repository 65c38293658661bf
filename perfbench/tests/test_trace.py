"""Span bookkeeping and Spark job attribution."""

from __future__ import annotations

import time

import pytest

from perfbench import gen
from perfbench.harness import Tracer, percentile


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("parent"):
        time.sleep(0.05)
        with tr.span("child"):
            time.sleep(0.1)
        with tr.span("child"):
            time.sleep(0.1)
    parent, c1, c2 = tr.spans
    assert c1.parent == c2.parent == 0 and parent.parent is None
    assert c1.op == c2.op == parent.op
    assert tr.self_seconds(0) == pytest.approx(parent.seconds - c1.seconds - c2.seconds, abs=1e-6)
    assert 0.04 < tr.self_seconds(0) < 0.09


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile(list(range(101)), 90) == 90


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.harness import start_session, stop_session

    s, _ = start_session(str(tmp_path_factory.mktemp("local")))
    yield s
    stop_session(s)


def test_all_six_ingest_jobs_land_in_the_ingest_span(spark, tmp_path):
    """ingest() runs the vertex sink on the calling thread, then five claim
    sinks on its own thread pool. Only the first carries the caller's job
    group, so attribution by group would lose five of six jobs; the
    high-water mark keeps all six, and the next span sees none of them."""
    from wd2duckdb_spark.ingest import ingest

    dump = str(tmp_path / "dump.json")
    truth = gen.write_dump(dump, 2, 300)
    tr = Tracer(spark, enabled=True)
    spark.sparkContext.setJobGroup("caller", "attribution test")
    try:
        counts: dict = {}
        with tr.span("ingest.call"):
            ingest(spark, dump, str(tmp_path / "kg"), metrics=counts)
        with tr.span("after"):
            spark.range(10).count()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    assert counts == {k: truth[k] for k in ("entities", "corrupt_lines", "rows")}
    jobs = tr.named("ingest.call")[0].jobs
    assert len(jobs) == 6
    assert [j["group"] for j in jobs].count("caller") == 1
    assert jobs[0]["group"] == "caller"  # the cache-filling vertex sink
    after = tr.named("after")[0].jobs
    assert after and min(j["job_id"] for j in after) > jobs[-1]["job_id"]
    assert tr.named("ingest.call")[0].counters["tasks"] > 0
