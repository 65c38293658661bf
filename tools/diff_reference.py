"""Differential test: our DuckDB export vs the actual reference binary.

Runs the reference Rust ``wd2duckdb`` (main.rs:246: ``wd2duckdb --json
DUMP --database OUT.duckdb``) and our CLI (``python -m wd2duckdb_spark``)
on the SAME dump, then diffs all six value tables plus ``vertices`` as
order-insensitive row multisets.

Binary resolution order:
  1. ``$WD2DUCKDB_BIN``
  2. ``wd2duckdb`` on PATH
  3. a previously built ``/tmp/refbuild/target/release/wd2duckdb``
  4. ``cargo build --release`` from a staging copy of /root/reference
     (works only when the crate registry is reachable; this container
     has a Rust toolchain but NO network route to any registry, so the
     build step fails fast with a clear message and the pytest wrapper
     skips — see tests/test_diff_reference.py)

Known, documented deltas (README "deviations"): the reference clamps
out-of-range chrono timestamps per chrono's NaiveDateTime domain while
we map them to the ±infinity sentinels ``9999-12-31 23:59:59`` /
``0001-01-01 00:00:00``; rows differing ONLY in that sentinel mapping
are reported separately, not as failures.

Usage::

    python tools/diff_reference.py [dump.json] [--keep]
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

#: the checkout this script lives in — the CLI under test runs from it
REPO = Path(__file__).resolve().parent.parent

#: Table names per wikidata-rs value.rs:361-368 (mirrored by our
#: sources.duckdb_io.TABLE_NAMES).
TABLES = ("vertex", "edge", "string", "coordinates", "quantity", "time")
SENTINELS = {"9999-12-31 23:59:59", "0001-01-01 00:00:00"}


def find_binary(allow_build: bool = True) -> tuple[str | None, str]:
    """Return (binary_path, reason-if-missing)."""
    env = os.environ.get("WD2DUCKDB_BIN")
    if env and Path(env).is_file():
        return env, ""
    on_path = shutil.which("wd2duckdb")
    if on_path:
        return on_path, ""
    prebuilt = Path("/tmp/refbuild/target/release/wd2duckdb")
    if prebuilt.is_file():
        return str(prebuilt), ""
    if not allow_build:
        return None, "no prebuilt wd2duckdb binary"
    if shutil.which("cargo") is None:
        return None, "no Rust toolchain (cargo) in environment"
    stage = Path("/tmp/refbuild")
    stage.mkdir(exist_ok=True)
    for item in ("src", "Cargo.toml", "Cargo.lock", "wikidata-rs"):
        src = Path("/root/reference") / item
        dst = stage / item
        if src.exists() and not dst.exists():
            if src.is_dir():
                shutil.copytree(src, dst)
            else:
                shutil.copy2(src, dst)
    try:
        proc = subprocess.run(
            ["cargo", "build", "--release"],
            cwd=stage,
            capture_output=True,
            text=True,
            timeout=1800,
        )
    except subprocess.TimeoutExpired:
        return None, "cargo build timed out"
    if proc.returncode != 0:
        err = proc.stderr or proc.stdout
        if "Could not resolve host" in err or "failed to download" in err:
            return None, "cargo build failed: no reachable crate registry"
        tail = err.strip().splitlines()[-3:]
        return None, "cargo build failed: " + " | ".join(tail)
    if prebuilt.is_file():
        return str(prebuilt), ""
    return None, "cargo build produced no binary"


def rows(db_path: str, table: str) -> list[tuple[str, ...]]:
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        out = con.execute(f"SELECT * FROM {table}").fetchall()
    finally:
        con.close()
    return sorted(tuple(str(v) for v in r) for r in out)


def is_sentinel_delta(a: tuple[str, ...], b: tuple[str, ...]) -> bool:
    """True when two date rows differ only in the from/to timestamp and
    one side uses our ±infinity sentinel."""
    if len(a) != len(b):
        return False
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    return bool(diffs) and all(
        x in SENTINELS or y in SENTINELS for x, y in diffs
    )


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    dump = args[0] if args else str(REPO / "tests" / "fixtures" / "mini_dump.json")
    keep = "--keep" in sys.argv

    binary, reason = find_binary()
    if binary is None:
        print(f"SKIP: reference binary unavailable ({reason})")
        return 2

    workdir = Path(tempfile.mkdtemp(prefix="refdiff_"))
    ref_db = workdir / "reference.duckdb"
    our_db = workdir / "ours.duckdb"
    try:
        print(f"reference: {binary} --json {dump}")
        proc = subprocess.run(
            [binary, "--json", dump, "--database", str(ref_db)],
            capture_output=True,
            text=True,
            timeout=600,
        )
        if proc.returncode != 0:
            print(f"FAIL: reference binary errored: {proc.stderr.strip()}")
            return 1

        print("ours: python -m wd2duckdb_spark")
        proc = subprocess.run(
            [
                sys.executable,
                "-m",
                "wd2duckdb_spark",
                "--json",
                dump,
                "--database",
                str(our_db),
            ],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=600,
        )
        if proc.returncode != 0:
            print(f"FAIL: our CLI errored: {proc.stderr.strip()[-2000:]}")
            return 1

        n_bad = 0
        for table in TABLES:
            ref_rows = rows(str(ref_db), table)
            our_rows = rows(str(our_db), table)
            only_ref = [r for r in ref_rows if r not in set(our_rows)]
            only_ours = [r for r in our_rows if r not in set(ref_rows)]
            sentinel = [
                (a, b)
                for a in list(only_ref)
                for b in list(only_ours)
                if is_sentinel_delta(a, b)
            ]
            for a, b in sentinel:
                if a in only_ref:
                    only_ref.remove(a)
                if b in only_ours:
                    only_ours.remove(b)
            status = "ok" if not (only_ref or only_ours) else "DIFF"
            note = f" ({len(sentinel)} documented sentinel deltas)" if sentinel else ""
            print(
                f"{status:4s} {table}: ref={len(ref_rows)} ours={len(our_rows)}{note}"
            )
            for r in only_ref[:5]:
                print(f"      only-ref : {r}")
            for r in only_ours[:5]:
                print(f"      only-ours: {r}")
            if only_ref or only_ours:
                n_bad += 1
        print(f"{len(TABLES) - n_bad}/{len(TABLES)} tables identical")
        return 0 if n_bad == 0 else 1
    finally:
        if keep:
            print(f"kept: {workdir}")
        else:
            shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
