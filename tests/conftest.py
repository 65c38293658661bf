from __future__ import annotations

import os
import sys

import pytest

#: the checkout this file lives in — tests import and run its code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _enable_protobuf_shim() -> None:
    """If no ``google.protobuf`` is installed but the container ships
    one inside the public Google Cloud SDK, put tools/protobuf_shim on
    the path (see its docstring) — BEFORE any SparkSession exists, and
    via PYTHONPATH too so Spark's Python workers (which host the
    transformWithState state-server client) inherit it."""
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    shim = os.path.join(os.path.dirname(__file__), "..", "tools", "protobuf_shim")
    shim = os.path.abspath(shim)
    if not os.path.isdir(
        "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"
    ):
        return
    sys.path.insert(0, shim)
    os.environ["PYTHONPATH"] = (
        shim + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else shim
    )


_enable_protobuf_shim()

SF_DIR = "/root/testdata/sf0.001"
FIXTURE_DUMP = os.path.join(REPO, "tests", "fixtures", "mini_dump.json")


@pytest.fixture(scope="session")
def spark():
    from wd2duckdb_spark import get_spark

    s = get_spark(
        app_name="wd2duckdb_spark_tests", master="local[8]", shuffle_partitions=8
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def kg_tables(spark, tmp_path_factory):
    """Fixture dump ingested once per session → dict of DataFrames."""
    from wd2duckdb_spark.ingest import ingest
    from wd2duckdb_spark.views import register_views

    out = str(tmp_path_factory.mktemp("kg")) + "/kg"
    ingest(spark, FIXTURE_DUMP, out)
    return register_views(spark, out)


def _seq(s) -> list:
    """A Scala ``Seq`` from py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def assert_one_scan_probe(probe, col: str, n_chunks: int, *, partition=False):
    """Pin the plan of a pruned lake-index probe: one scan of the index
    and no ``Union``; the batch's ``IN`` chunks on ``col`` ORed into
    that scan's pushed filter (its partition filter when ``col`` is a
    partition column), one ``In``/``InSet`` per chunk, counted on the
    JVM expression tree (plan strings truncate scan metadata at 100
    characters), under a balanced ``Or`` tree; and the broadcast
    join."""
    import re

    qe = probe._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "Union" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    if partition:
        assert re.search(rf"PartitionFilters: \[.*\(+{col}#\d+ IN \(", plan), plan
    else:
        assert re.search(rf"PushedFilters: \[(Or\()+In\({col},", plan), plan
    (scan,) = [
        leaf
        for leaf in _seq(qe.sparkPlan().collectLeaves())
        if leaf.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    filters = scan.partitionFilters() if partition else scan.dataFilters()
    (tree,) = [
        f for f in _seq(filters) if f.getClass().getSimpleName() == "Or"
    ]
    chunks, depth, stack = [], 0, [(tree, 0)]
    while stack:
        node, d = stack.pop()
        if node.getClass().getSimpleName() == "Or":
            stack.extend((c, d + 1) for c in _seq(node.children()))
        else:
            chunks.append(node.getClass().getSimpleName())
            depth = max(depth, d)
    # a one-value chunk plans as EqualTo (the optimizer's OptimizeIn)
    assert set(chunks) <= {"EqualTo", "In", "InSet"}, chunks
    assert chunks.count("EqualTo") <= 1, chunks
    assert len(chunks) == n_chunks, chunks
    assert depth == (n_chunks - 1).bit_length(), depth  # ceil(log2(n))
