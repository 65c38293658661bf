"""The bench tools: importable without a session, one measurement path
(perfbench.harness spans, no UI or HTTP polling), and the scaled-corpus
builders of ``tools/benchkit.py``."""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

from pyspark.sql import functions as F

from tests.conftest import REPO, SF_DIR

#: Every bench-tool module, as importable names.
MODULES = ["bench"] + sorted(
    "tools." + os.path.basename(p)[:-3] for p in glob.glob(f"{REPO}/tools/*.py")
)

#: What a second measurement path looks like: an HTTP poller of the
#: status REST API, which needs the UI on. Bracketed so this file does
#: not match its own patterns.
_POLLING = re.compile(r"url[l]ib|uiWeb[U]rl|spark\.ui\.[e]nabled|Stage[M]etrics")


def test_tools_import_without_starting_a_session():
    code = (
        "import importlib, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        f"for m in {MODULES!r}:\n"
        "    importlib.import_module(m)\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "assert SparkContext._gateway is None\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, timeout=120
    )
    assert r.returncode == 0, r.stderr


def test_no_rest_polling_in_tools():
    files = [f"{REPO}/bench.py"] + [
        p
        for p in glob.glob(f"{REPO}/tools/**/*", recursive=True)
        if os.path.isfile(p) and "__pycache__" not in p
    ]
    hits = []
    for p in files:
        with open(p, errors="replace") as f:
            hits += [f"{p}:{i}" for i, line in enumerate(f, 1) if _POLLING.search(line)]
    assert not hits, hits


def _tokens_per_copy(docs, m: int):
    return (
        docs.select(
            (F.col("doc_id") % m).alias("copy"),
            F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
        )
        .distinct()
    )


def test_namespaced_copies(spark):
    from tools.benchkit import namespaced_copies

    m = 4
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs = namespaced_copies(base, m).persist()
    try:
        assert docs.count() == m * base.count()
        copy0 = docs.filter(F.col("doc_id") % m == 0).select(
            (F.col("doc_id") / m).cast("long").alias("doc_id"), "text"
        )
        assert copy0.exceptAll(base.select("doc_id", "text")).count() == 0
        assert base.select("doc_id", "text").exceptAll(copy0).count() == 0
        toks = _tokens_per_copy(docs, m)
        shared = (
            toks.alias("a")
            .join(toks.alias("b"), "tok")
            .filter(F.col("a.copy") < F.col("b.copy"))
        )
        assert shared.count() == 0
    finally:
        docs.unpersist()


def test_salted_copies_have_unique_doc_ids(spark):
    from tools.benchkit import salted_copies

    m = 4
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs = salted_copies(base, m)
    n = docs.count()
    assert n == m * base.count()
    assert docs.select("doc_id").distinct().count() == n


def test_bench_skew_counters_from_the_status_store():
    """The grid-vs-salted claim bench_skew exists to show, in bytes
    read in-process: deterministic for a given plan."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    r = subprocess.run(
        [sys.executable, "tools/bench_skew.py", "20000", "1"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    mbs = {
        f"{tier}.{k}": v
        for tier in ("self_join", "diagnostic")
        for k, v in out[tier].items()
        if k.endswith("_shuffle_mb")
    }
    assert len(mbs) == 5
    assert all(isinstance(v, (int, float)) for v in mbs.values()), mbs
    assert out["self_join"]["grid_shuffle_mb"] < out["self_join"]["salted_shuffle_mb"]
