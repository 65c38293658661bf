"""DuckDB export parity: the parquet knowledge graph materialized as a
real wd2duckdb-shaped database file (DDL, indices, infinity sentinels,
existing-target guard), and the reverse hand-off."""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import FIXTURE_DUMP, REPO


@pytest.fixture(scope="module")
def kg_parquet(spark, tmp_path_factory):
    from wd2duckdb_spark.ingest import ingest

    out = str(tmp_path_factory.mktemp("kgdb")) + "/kg"
    ingest(spark, FIXTURE_DUMP, out)
    return out


def test_export_and_schema(kg_parquet, tmp_path):
    from wd2duckdb_spark.sources.duckdb_io import export_duckdb

    db = str(tmp_path / "out.duckdb")
    export_duckdb(kg_parquet, db)
    con = duckdb.connect(db, read_only=True)

    tables = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    assert tables == {"vertex", "edge", "string", "coordinates", "quantity", "time"}

    # Reference DDL types (value.rs:146-198)
    cols = con.execute("DESCRIBE vertex").fetchall()
    assert [(c[0], c[1]) for c in cols] == [
        ("id", "UINTEGER"), ("label", "VARCHAR"), ("description", "VARCHAR")
    ]

    # Index set mirrors value.rs:332-350 (src_id/dst_id + vertex.id)
    idx = {
        r[0]
        for r in con.execute(
            "SELECT index_name FROM duckdb_indexes()"
        ).fetchall()
    }
    assert "edge_src_id_index" in idx and "edge_dst_id_index" in idx
    assert "vertex_id_index" in idx
    assert not any(i.endswith("label_index") for i in idx)

    # Infinity sentinel → real DuckDB +infinity (value.rs:271-284)
    inf = con.execute(
        "SELECT count(*) FROM time WHERE time = TIMESTAMP 'infinity'"
    ).fetchone()[0]
    assert inf == 1  # Q5's year-9999 claim
    ninf = con.execute(
        "SELECT count(*) FROM time WHERE time = TIMESTAMP '-infinity'"
    ).fetchone()[0]
    assert ninf == 1  # Q2's negative-year claim

    # Row counts match the parquet side
    assert con.execute("SELECT count(*) FROM vertex").fetchone()[0] == 7
    assert con.execute("SELECT count(*) FROM edge").fetchone()[0] == 4
    con.close()


def test_existing_target_guard(kg_parquet, tmp_path):
    from wd2duckdb_spark.sources.duckdb_io import export_duckdb

    db = str(tmp_path / "guard.duckdb")
    export_duckdb(kg_parquet, db)
    with pytest.raises(FileExistsError):
        export_duckdb(kg_parquet, db)
    export_duckdb(kg_parquet, db, overwrite=True)  # explicit opt-in


def test_read_back(spark, kg_parquet, tmp_path):
    from wd2duckdb_spark.sources.duckdb_io import export_duckdb, read_duckdb_table

    db = str(tmp_path / "rb.duckdb")
    export_duckdb(kg_parquet, db)
    edge = read_duckdb_table(spark, db, "edge", str(tmp_path))
    got = sorted(tuple(r) for r in edge.collect())
    want = sorted(tuple(r) for r in spark.read.parquet(f"{kg_parquet}/edge").collect())
    assert got == want

    with pytest.raises(ValueError):
        read_duckdb_table(spark, db, "nope", str(tmp_path))


@pytest.mark.slow
def test_cli_end_to_end(tmp_path):
    """python -m wd2duckdb_spark --json X --database Y — the reference's
    exact CLI surface (main.rs:21-31) — builds an indexed 6-table DB.
    Runs in a subprocess: main() owns (and stops) its SparkSession."""
    import subprocess
    import sys

    import duckdb

    db = tmp_path / "cli.duckdb"
    r = subprocess.run(
        [
            sys.executable, "-m", "wd2duckdb_spark",
            "--json", FIXTURE_DUMP, "--database", str(db),
        ],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "entities processed in" in r.stdout
    con = duckdb.connect(str(db), read_only=True)
    tables = {t[0] for t in con.sql("SELECT table_name FROM duckdb_tables()").fetchall()}
    assert tables == {"vertex", "edge", "string", "coordinates", "quantity", "time"}
    assert con.sql("SELECT count(*) FROM vertex").fetchone()[0] == 7
    # guard: rerun without --overwrite refuses (main.rs:249-255)
    r2 = subprocess.run(
        [
            sys.executable, "-m", "wd2duckdb_spark",
            "--json", FIXTURE_DUMP, "--database", str(db),
        ],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert r2.returncode == 1 and "already exists" in r2.stderr


@pytest.mark.slow
def test_cli_stdin_dash(tmp_path):
    """`bzcat dump | python -m wd2duckdb_spark --json - --database Y`
    — the reference's stdin contract (main.rs:261-269, README.md:31-55).
    Pipes the COMPRESSED bytes to also exercise the magic-byte sniff
    (the staged temp file must get a .bz2 suffix for codec decode)."""
    import bz2
    import subprocess
    import sys

    import duckdb

    db = tmp_path / "stdin.duckdb"
    with open(FIXTURE_DUMP, "rb") as f:
        compressed = bz2.compress(f.read())
    r = subprocess.run(
        [
            sys.executable, "-m", "wd2duckdb_spark",
            "--json", "-", "--database", str(db),
        ],
        input=compressed,
        capture_output=True, timeout=300, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:].decode(errors="replace")
    assert b"entities processed in" in r.stdout
    con = duckdb.connect(str(db), read_only=True)
    assert con.sql("SELECT count(*) FROM vertex").fetchone()[0] == 7
    con.close()


@pytest.mark.slow
def test_cli_empty_and_garbage_dumps(tmp_path):
    """Degenerate CLI inputs (round-3 sweep discipline at the e2e
    surface): an empty dump ('[' ']' only) builds a valid 6-table DB
    with zero rows; an all-garbage dump quarantines every line, warns,
    and still exits 0 with an empty DB — per-row error tolerance
    end to end (main.rs:108-119 sanitizer contract)."""
    import subprocess
    import sys

    import duckdb

    empty = tmp_path / "empty.json"
    empty.write_text("[\n]\n")
    db1 = tmp_path / "empty.duckdb"
    r = subprocess.run(
        [sys.executable, "-m", "wd2duckdb_spark",
         "--json", str(empty), "--database", str(db1)],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "0 entities processed" in r.stdout
    con = duckdb.connect(str(db1), read_only=True)
    assert con.sql("SELECT count(*) FROM vertex").fetchone()[0] == 0
    con.close()

    garbage = tmp_path / "garbage.json"
    garbage.write_text('[\nnot json\n{"broken": \n@@@@\n]\n')
    db2 = tmp_path / "garbage.duckdb"
    r = subprocess.run(
        [sys.executable, "-m", "wd2duckdb_spark",
         "--json", str(garbage), "--database", str(db2)],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "3 malformed lines skipped" in (r.stdout + r.stderr)
    assert "0 entities processed" in r.stdout
