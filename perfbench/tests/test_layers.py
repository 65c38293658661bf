"""Each workload part reports exactly the per-layer metrics it declares."""

from __future__ import annotations

import json
import os

from perfbench import corpus, gen, kg, run, stream
from perfbench.harness import _STAGE_FIELDS, Tracer

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_COUNTERS = {**{name: 1 for name, _ in _STAGE_FIELDS}, "stages": 1, "jobs": 2}
_JOBS = [{"job_id": i, "stage_ids": [i], "submitted_ms": 10 * i, "completed_ms": 10 * i + 5}
         for i in range(6)]


class _Store:
    def stage_counters(self, stage_ids):
        return dict(_COUNTERS)


def _span(tr: Tracer, name: str, **attrs):
    with tr.span(name, **attrs) as s:
        s.jobs, s.counters = list(_JOBS), dict(_COUNTERS)
    return s


def test_layer_names_partition_the_declared_per_layer_metrics():
    with open(os.path.join(_ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer"]]
    owned = [set(part.LAYERS) for part in (kg, corpus, stream)] + [set(run.COMMON_LAYERS)]
    assert sum(len(o) for o in owned) == len(set().union(*owned)) == len(declared)
    assert set().union(*owned) == set(declared)


def test_kg_reports_its_layers(tmp_path):
    tr = Tracer()
    tr.store = _Store()
    for name in ("ingest.call", "ingest.parse", "ingest.claims", "views.register",
                 "kg.src_lookup", "kg.dst_lookup"):
        _span(tr, name)
    m = {"kg_dir": str(tmp_path), "latency": {t: [0.2, 0.1] for t in kg.MIX}}
    assert set(kg.per_layer({}, m, tr)) == set(kg.LAYERS)


def test_corpus_reports_its_layers():
    tr = Tracer()
    for q in corpus.QUERIES:
        for kind in ("cold", "warm"):
            with tr.span(f"{kind}.{q}"):
                _span(tr, "analytics.build")
                _span(tr, "analytics.plan", phases_ms={"analysis": 3}, exchanges=1)
                _span(tr, "analytics.exec")
    m = {"cold": {q: 1.0 for q in corpus.QUERIES},
         "warm": {q: [0.3, 0.2, 0.4] for q in corpus.QUERIES}}
    assert set(corpus.per_layer({}, m, tr)) == set(corpus.LAYERS)


def test_stream_reports_its_layers(tmp_path):
    tr = Tracer()
    _span(tr, "streaming.run")
    _span(tr, "maintenance.compact")
    progress = [{"durationMs": {"triggerExecution": 900, "addBatch": 800}}] * gen.FEED_FILES
    m = {"root": str(tmp_path), "progress": progress}
    assert set(stream.per_layer({"feed_bytes": 1}, m, tr)) == set(stream.LAYERS)
