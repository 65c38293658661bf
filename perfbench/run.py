"""Benchmark entry point: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload wikidata_kg --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one process each

Each workload runs in a fresh process on ``local[4]`` with 4 shuffle
partitions. The seed makes every generated input and every call order.
Human-readable lines go first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, taken from spans recorded around every call into the engine, and the
spans are written to ``perfbench/.data/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", ".data")
#: workload → the parts it runs, in order, in one process
WORKLOADS = {"wikidata_kg": ("kg",), "corpus_stream": ("corpus", "stream")}
#: driver heap for every workload (the engine's own default is 8g)
DRIVER_MEM = "2g"

#: end-to-end metric → unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "jvm_peak_rss_mb": "MB",
    "ingest_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "query_cold_s": "s",
    "query_warm_s": "s",
}

#: per-layer metrics every workload reports itself
COMMON_LAYERS = {"session.start_s": "s", "trace.overhead_s": "s"}


def _parts(workload: str) -> list:
    import importlib

    return [importlib.import_module(f"perfbench.{p}") for p in WORKLOADS[workload]]


def owned_layers(workload: str) -> dict[str, str]:
    """Per-layer metric → unit for the layers ``workload`` enters."""
    names = dict(COMMON_LAYERS)
    for p in _parts(workload):
        names.update(p.LAYERS)
    return names


def per_layer_units() -> dict[str, str]:
    """Per-layer metric → unit over every workload: the names a traced run
    must put in its result."""
    names: dict[str, str] = {}
    for w in WORKLOADS:
        names.update(owned_layers(w))
    return names


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import harness

    parts = _parts(workload)
    local = os.path.join(DATA, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = local
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    inputs = [p.prepare(DATA, seed) for p in parts]

    t0 = time.perf_counter()
    spark, session_s = harness.start_session(local)
    try:
        tracer = harness.Tracer(spark, enabled=trace)
        with tracer.span("setup.warm_up"):
            for p, inp in zip(parts, inputs):
                if hasattr(p, "warm_up"):
                    p.warm_up(spark, inp, tracer)
        setup_s = time.perf_counter() - t0
        conf = harness.session_conf(spark)
        measured = [p.measure(spark, inp, seed, seconds, tracer) for p, inp in zip(parts, inputs)]
        rss = harness.jvm_peak_rss_mb(spark)
        if trace:
            for p, inp in zip(parts, inputs):
                if hasattr(p, "layer_probes"):
                    p.layer_probes(spark, inp, tracer)
        attempted = failed = 0
        e2e: dict = {"_named": {}, "_samples": 0}
        layers: dict = {}
        for p, inp, m in zip(parts, inputs, measured):
            a, f = p.check(spark, inp, m)
            attempted, failed = attempted + a, failed + f
            part = p.end_to_end(inp, m)
            e2e["_named"].update(part.pop("_named"))
            e2e["_samples"] += part.pop("_samples", 0)
            e2e.update(part)
            if trace:
                part_layers = p.per_layer(inp, m, tracer)
                if set(part_layers) != set(p.LAYERS):
                    raise RuntimeError(
                        f"{p.__name__}.per_layer reports {sorted(set(part_layers) ^ set(p.LAYERS))} "
                        "against its declared LAYERS")
                layers.update(part_layers)
        if trace:
            layers["session.start_s"] = session_s
            layers["trace.overhead_s"] = tracer.overhead_s
    finally:
        harness.stop_session(spark)
        for p, inp in zip(parts, inputs):
            if hasattr(p, "cleanup"):
                p.cleanup(inp)

    e2e.update(setup_s=setup_s, jvm_peak_rss_mb=rss)
    missing = set(END_TO_END) - set(e2e)
    if missing:
        raise RuntimeError(f"{workload} does not report {sorted(missing)}")
    return {"workload": workload, "seed": seed, "conf": conf, "e2e": e2e, "layers": layers,
            "attempted": attempted, "failed": failed, "tracer": tracer if trace else None}


def _report(r: dict, trace: bool) -> dict:
    """Print the human-readable lines; return the final JSON object."""
    w, e2e = r["workload"], r["e2e"]
    print(f"workload {w} seed {r['seed']} conf {json.dumps(r['conf'])}")
    for name, unit in END_TO_END.items():
        note = f" (from {e2e['_samples']} calls)" if name == "query_warm_s" else ""
        print(f"  {name:<28} {e2e[name]:>14.6g} {unit}{note}")
    for name, (v, unit) in e2e["_named"].items():
        print(f"  {name:<28} {v:>14.6g} {unit}")
    ratio = r["failed"] / r["attempted"]
    print(f"  {'failed_ops_ratio':<28} {ratio:>14.6g} ratio ({r['failed']}/{r['attempted']})")

    os.makedirs(os.path.join(DATA, "results"), exist_ok=True)
    base = os.path.join(DATA, "results", f"{w}-{r['seed']}.json")
    plain = {k: e2e[k] for k in END_TO_END}
    if not trace:
        with open(base, "w") as f:
            json.dump(plain, f)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        units = per_layer_units()
        own = owned_layers(w)
        values = {k: float(r["layers"][k]) for k in own}
        # the result carries every declared per-layer metric; the layers of
        # the other workload, which this one never enters, read 0
        values.update({k: 0.0 for k in units if k not in own})
        overhead = {}
        if os.path.exists(base):  # same workload and seed, untraced
            with open(base) as f:
                untraced = json.load(f)
            overhead = {k: plain[k] - untraced[k] for k in END_TO_END}
            for k, d in overhead.items():
                print(f"  tracing overhead {k:<15} {d:+.6g} {END_TO_END[k]}")
        for k in sorted(own):
            print(f"  {k:<46} {values[k]:>14.6g} {units[k]}")
        r["tracer"].write(
            os.path.join(DATA, "traces", f"{w}-{r['seed']}.json"),
            {"workload": w, "seed": r["seed"], "conf": r["conf"], "end_to_end": plain,
             "tracing_overhead": overhead,
             "per_layer": {k: values[k] for k in own}},
        )
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return {"correct": r["failed"] == 0, "attempted": r["attempted"],
            "failed": r["failed"], "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            rc = max(rc, subprocess.run(cmd, check=False).returncode)
        return rc

    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import wd2duckdb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its runtime: {e}", file=sys.stderr)
        return 2

    r = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    out = _report(r, bool(args.trace))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
