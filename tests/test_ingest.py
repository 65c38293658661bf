"""Ingest golden tests — every FIXTURES.md §1 expectation, pinned.

The reference has zero tests (SURVEY §5.1); these fixtures ARE the
behavioral spec for the six-table output (SURVEY §1.2 numbered list).
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import FIXTURE_DUMP


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_vertex_rows(kg_tables):
    got = rows(kg_tables["vertex"], "id", "label", "description")
    assert got == sorted(
        [
            (1, "universe", "all of space-time"),
            (2, "Earth", None),
            (3, None, None),
            (4, "deprecated-holder", None),
            (5, None, None),  # French-only label → NULL (main.rs:190-194)
            (1_000_000_031, "instance of",
             "that class of which this subject is a particular example"),
            (2_000_000_001, None, None),  # lexeme L1
        ]
    )


def test_edge_rows(kg_tables):
    got = rows(kg_tables["edge"], "src_id", "property_id", "dst_id")
    assert got == sorted(
        [
            (1, 1_000_000_031, 223_557),  # Q1 P31 Q223557
            # Q4: deprecated P31 dropped; novalue P570 + somevalue P569
            # become self-loops (value.rs:238-239, 429-430)
            (4, 1_000_000_570, 4),
            (4, 1_000_000_569, 4),
            # L1 P5402 → form L1-F1 → wrapped Fid (id.rs:73-75)
            (2_000_000_001, 1_000_005_402, 705_032_706),
        ]
    )


def test_string_rows(kg_tables):
    got = rows(kg_tables["string"], "src_id", "property_id", "dst_id", "string")
    assert got == sorted(
        [
            (3, 1_000_000_373, 3, "Life"),  # CommonsMedia
            (3, 1_000_001_448, 3, "life"),  # MonolingualText → its text
            (3, 1_000_002_699, 3, "https://example.org"),  # Url
            (3, 1_000_000_213, 3, "0000-0001-2345-6789"),  # ExternalID
        ]
    )


def test_coordinates_rows(kg_tables):
    got = rows(
        kg_tables["coordinates"],
        "src_id", "property_id", "dst_id",
        "latitude", "longitude", "precision", "globe_id",
    )
    assert got == [(2, 1_000_000_625, 2, 0.0, 0.0, 0.01, 2)]


def test_quantity_rows(kg_tables):
    got = rows(
        kg_tables["quantity"],
        "src_id", "property_id", "dst_id",
        "amount", "lower_bound", "upper_bound", "unit_id",
    )
    assert got == sorted(
        [
            (2, 1_000_002_044, 2, 6371.0, 6353.0, 6384.0, 828_224),
            # unit "1" (dimensionless) → NULL unit_id
            (5, 1_000_001_082, 5, 8e9, None, None, None),
        ]
    )


def test_time_rows(kg_tables):
    got = rows(
        kg_tables["time"],
        "src_id", "property_id",
        F.date_format("time", "yyyy-MM-dd HH:mm:ss").alias("t"),
        "precision",
    )
    assert got == sorted(
        [
            # negative year → -infinity sentinel (engine deviation, documented)
            (2, 1_000_000_580, "0001-01-01 00:00:00", 3),
            # year ≥ 9999 → +infinity sentinel (value.rs:271-284)
            (5, 1_000_000_576, "9999-12-31 23:59:59", 9),
        ]
    )


def test_self_loop_invariant(kg_tables):
    """dst_id == src_id on every literal-table row (value.rs:238-284)."""
    for name in ("string", "coordinates", "quantity", "time"):
        df = kg_tables[name]
        assert df.filter(F.col("dst_id") != F.col("src_id")).count() == 0


def test_property_id_range(kg_tables):
    """property_id always in the Pid keyspace [1e9, 2e9)."""
    bad = kg_tables["triples"].filter(
        (F.col("property_id") < 1_000_000_000)
        | (F.col("property_id") >= 2_000_000_000)
    )
    assert bad.count() == 0


def test_triples_view_counts(kg_tables):
    # 4 edge + 4 string + 1 coord + 2 quantity + 2 time = 13
    assert kg_tables["triples"].count() == 13
    by_dtype = {
        r["dtype"]: r["n"]
        for r in kg_tables["triples"].groupBy("dtype").agg(F.count("*").alias("n")).collect()
    }
    assert by_dtype == {1: 2, 2: 1, 3: 4, 4: 2, 5: 4}


def test_corrupt_quarantine(spark):
    from wd2duckdb_spark.ingest import (
        corrupt_records, parse_entities, read_dump_lines, sanitize_lines,
    )

    parsed = parse_entities(sanitize_lines(read_dump_lines(spark, FIXTURE_DUMP)))
    bad = corrupt_records(parsed).collect()
    assert len(bad) == 1
    assert "not valid JSON" in bad[0]["corrupt"]


def test_configurable_lang(spark, tmp_path):
    """LANG is configurable (README.md:6-8): French pass keeps Q5's label."""
    from wd2duckdb_spark.ingest import build_tables

    tables = build_tables(spark, FIXTURE_DUMP, lang="fr")
    got = {r["id"]: r["label"] for r in tables["vertex"].collect()}
    assert got[5] == "humain"
    assert got[1] is None  # English-only labels disappear under fr


@settings(deadline=None, max_examples=5)
@given(
    st.lists(
        st.one_of(
            st.text(max_size=80),  # arbitrary junk incl. unicode
            st.just("["), st.just("]"), st.just(""),
            st.text(alphabet="{}[],:\"qlQ0123 ", max_size=40),  # JSON-ish
            st.builds(
                lambda n: '{"id":"Q%d","labels":{},"descriptions":{},"claims":{}},' % n,
                st.integers(1, 10**9),
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_sanitize_parse_never_throws(spark, lines):
    """SURVEY §5.2(3): sanitize→parse is total — every input line either
    parses to an entity or lands in the corrupt quarantine; nothing
    throws, nothing is silently dropped (main.rs:316-321 semantics)."""
    from wd2duckdb_spark.ingest import (
        corrupt_records, parse_entities, sanitize_lines, vertex_table,
    )

    df = spark.createDataFrame([(l,) for l in lines], "line string")
    sanitized = sanitize_lines(df)
    parsed = parse_entities(sanitized)
    n_kept = sanitized.count()
    n_ok = parsed.filter(F.col("entity.id").isNotNull()).count()
    n_bad = corrupt_records(parsed).count()
    assert n_ok + n_bad == n_kept
    vertex_table(parsed).collect()  # projection is total too


def test_sense_valued_claim_wrapping(spark, tmp_path):
    """A sense-valued claim routes to edge with the wrapping Sid
    formula (id.rs:79-84): dst = (lid + idx + 5.5e9) mod 2^32 —
    the only §1.3 id kind not in the golden fixture."""
    from wd2duckdb_spark.ingest import build_tables

    line = (
        '{"id":"L7","labels":{},"descriptions":{},"claims":{"P5973":'
        '[{"mainsnak":{"snaktype":"value","property":"P5973","datavalue":'
        '{"value":{"entity-type":"sense","id":"L7-S2"},"type":'
        '"wikibase-entityid"},"datatype":"wikibase-sense"},"rank":"normal"}]}}'
    )
    p = tmp_path / "sense.json"
    p.write_text(line + "\n")
    t = build_tables(spark, str(p))
    rows = t["edge"].collect()
    assert len(rows) == 1
    # (7 + 2 + 5_500_000_000) mod 2**32 = 1_205_032_713
    assert rows[0].dst_id == (7 + 2 + 5_500_000_000) % 2**32 == 1_205_032_713
    assert rows[0].src_id == 2_000_000_007


def test_ingest_restores_split_conf(spark, tmp_path):
    """ingest() sizes the dump scan's splits for the CPU-bound parse
    (max partition bytes, open cost, min partition count) but must
    restore all three session values afterwards, unsetting any that was
    unset — leaking them changes how every later parquet scan splits."""
    import pytest

    from wd2duckdb_spark.ingest import ingest

    keys = (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.minPartitionNum",
    )

    def conf():
        return {k: spark.conf.get(k, None) for k in keys}

    before = conf()
    ingest(spark, FIXTURE_DUMP, str(tmp_path / "kg"))
    assert conf() == before

    # the error path (mode="error" target-exists refusal, raised from
    # the materializing vertex write) must restore it too
    with pytest.raises(Exception):
        ingest(spark, FIXTURE_DUMP, str(tmp_path / "kg"))
    assert conf() == before

    # a value the caller set comes back as that value
    key = "spark.sql.files.openCostInBytes"
    spark.conf.set(key, "1048576")
    try:
        ingest(spark, FIXTURE_DUMP, str(tmp_path / "kg2"))
        assert spark.conf.get(key) == "1048576"
    finally:
        if before[key] is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before[key])


def test_ingest_observed_metrics(spark, tmp_path):
    """The observe-based counters (reference progress accounting,
    main.rs:229-236) match the fixture's known facts and the written
    parquet row counts — measured inside the write jobs, no extra pass."""
    from wd2duckdb_spark.ingest import ingest

    counters: dict = {}
    paths = ingest(spark, FIXTURE_DUMP, str(tmp_path / "kg"), metrics=counters)
    assert counters["entities"] == 7
    assert counters["corrupt_lines"] == 1
    for name, path in paths.items():
        assert counters["rows"][name] == spark.read.parquet(path).count(), name


def test_ingest_concurrent_sink_failure_propagates(spark, tmp_path):
    """A claim sink failing inside the parallel fan-out must surface to
    the caller, not vanish in a thread. Pre-creating only the `time`
    dir makes the vertex write succeed and exactly one pooled sink
    refuse (mode="error")."""
    import pytest

    from wd2duckdb_spark.ingest import ingest

    out = tmp_path / "kg"
    (out / "time").mkdir(parents=True)
    with pytest.raises(Exception, match="(?i)already exists|error"):
        ingest(spark, FIXTURE_DUMP, str(out))


# --- property-based roundtrip (SURVEY §5.2 item 3) -------------------------
#
# Random entities → dump text (with the reference's wrapping/comma
# format plus whitespace noise) → build_tables → structural invariants.
# Golden tests pin exact values; this pins that the sanitize → parse →
# explode → dispatch pipeline never loses, duplicates, or misroutes a
# claim for arbitrary content (quotes, unicode, brackets, commas).

from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st

_TEXT = _st.text(
    alphabet=_st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\r\n"
    ),
    max_size=24,
)


@_st.composite
def _claim(draw):
    pid = draw(_st.integers(1, 9999))
    kind = draw(
        _st.sampled_from(
            ["item", "string", "quantity", "time", "coord", "novalue", "somevalue"]
        )
    )
    deprecated = draw(_st.booleans()) and draw(_st.booleans())  # ~25%
    rank = "deprecated" if deprecated else draw(
        _st.sampled_from(["normal", "preferred"])
    )
    snak = {"property": f"P{pid}", "datatype": "wikibase-item"}
    if kind == "novalue":
        snak["snaktype"] = "novalue"
        sink = "edge"
    elif kind == "somevalue":
        snak["snaktype"] = "somevalue"
        sink = "edge"
    else:
        snak["snaktype"] = "value"
        if kind == "item":
            k = draw(_st.integers(1, 10**8))
            snak["datavalue"] = {
                "value": {"entity-type": "item", "numeric-id": k, "id": f"Q{k}"},
                "type": "wikibase-entityid",
            }
            sink = "edge"
        elif kind == "string":
            snak["datatype"] = "external-id"
            snak["datavalue"] = {"value": draw(_TEXT), "type": "string"}
            sink = "string"
        elif kind == "quantity":
            amt = draw(_st.integers(-10**6, 10**6))
            snak["datatype"] = "quantity"
            snak["datavalue"] = {
                "value": {"amount": f"+{amt}" if amt >= 0 else str(amt), "unit": "1"},
                "type": "quantity",
            }
            sink = "quantity"
        elif kind == "time":
            y = draw(_st.integers(1, 9998))
            snak["datatype"] = "time"
            snak["datavalue"] = {
                "value": {
                    "time": f"+{y:04d}-01-01T00:00:00Z",
                    "precision": draw(_st.integers(0, 14)),
                },
                "type": "time",
            }
            sink = "time"
        else:
            snak["datatype"] = "globe-coordinate"
            snak["datavalue"] = {
                "value": {
                    "latitude": draw(_st.integers(-89, 89)) / 1.0,
                    "longitude": draw(_st.integers(-179, 179)) / 1.0,
                    "precision": 0.01,
                    "globe": "http://www.wikidata.org/entity/Q2",
                },
                "type": "globecoordinate",
            }
            sink = "coordinates"
    return {
        "pid": pid,
        "claim": {"mainsnak": snak, "rank": rank, "type": "statement"},
        "sink": None if deprecated else sink,
    }


@_st.composite
def _entity(draw):
    kind, off = draw(
        _st.sampled_from([("Q", 0), ("P", 1_000_000_000), ("L", 2_000_000_000)])
    )
    n = draw(_st.integers(1, 10**8))
    en_label = draw(_st.none() | _TEXT)
    labels = {} if en_label is None else {"en": {"language": "en", "value": en_label}}
    if draw(_st.booleans()):
        labels["de"] = {"language": "de", "value": draw(_TEXT)}
    claims_list = draw(_st.lists(_claim(), max_size=4))
    claims: dict = {}
    for c in claims_list:
        claims.setdefault(f"P{c['pid']}", []).append(c["claim"])
    return {
        "doc": {"id": f"{kind}{n}", "labels": labels, "descriptions": {},
                "claims": claims},
        "vid": n + off,
        "label": en_label,
        "sinks": [c["sink"] for c in claims_list if c["sink"] is not None],
    }


@_settings(deadline=None, max_examples=6)
@_given(_st.lists(_entity(), min_size=1, max_size=6), _st.randoms())
@pytest.mark.slow
def test_ingest_roundtrip_invariants(spark, tmp_path_factory, ents, rng):
    import json as _json

    from wd2duckdb_spark.ingest import build_tables

    lines = ["["]
    for i, e in enumerate(ents):
        pad = " " * rng.randint(0, 3)
        comma = "," if i < len(ents) - 1 else ""
        lines.append(pad + _json.dumps(e["doc"], ensure_ascii=False) + comma)
        if rng.random() < 0.3:
            lines.append("")  # blank-line noise the sanitizer must drop
    lines.append("]")
    dump = tmp_path_factory.mktemp("hyp") / "dump.json"
    dump.write_text("\n".join(lines), encoding="utf-8")

    t = build_tables(spark, str(dump))

    # vertex: one row per entity line, correct id + English-only label
    vrows = t["vertex"].collect()
    assert sorted(r.id for r in vrows) == sorted(e["vid"] for e in ents)
    want_labels = sorted((e["vid"], e["label"]) for e in ents)
    assert sorted((r.id, r.label) for r in vrows) == want_labels

    # claims: exact per-table routing counts; deprecated dropped
    from collections import Counter

    want = Counter(s for e in ents for s in e["sinks"])
    for name in ("edge", "string", "quantity", "time", "coordinates"):
        got = t[name].count()
        assert got == want.get(name, 0), f"{name}: {got} != {want.get(name, 0)}"

    # self-loop invariant on every literal table
    for name in ("string", "quantity", "time", "coordinates"):
        assert t[name].filter(F.col("dst_id") != F.col("src_id")).count() == 0


def test_ingest_zorder_layout(spark, kg_tables, tmp_path):
    """edge_layout='zorder' writes the same ROWS as the lexical layout
    (only file order differs) and round-trips through the same reader."""
    from wd2duckdb_spark.ingest import ingest
    from tests.conftest import FIXTURE_DUMP

    import pyspark.sql.functions as F

    out = str(tmp_path / "kg_z")
    ingest(spark, FIXTURE_DUMP, out, edge_layout="zorder")
    for name in ("edge", "quantity", "time", "string", "coordinates"):
        z = spark.read.parquet(f"{out}/{name}")
        want = kg_tables[name]
        assert z.columns == want.columns, name

        # stringify Spark-side: sentinel timestamps (year 0/9999) don't
        # materialize as Python datetimes
        def rows(df):
            return sorted(
                map(tuple, df.select([F.col(c).cast("string") for c in df.columns]).collect())
            )

        assert rows(z) == rows(want), name


def test_ingest_rejects_bad_layout(spark, tmp_path):
    import pytest as _pytest

    from tests.conftest import FIXTURE_DUMP
    from wd2duckdb_spark.ingest import ingest

    with _pytest.raises(ValueError, match="edge_layout"):
        ingest(spark, FIXTURE_DUMP, str(tmp_path / "x"), edge_layout="hilbert")
