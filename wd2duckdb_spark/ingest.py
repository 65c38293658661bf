"""Wikidata JSON-dump → six-table knowledge graph (batch ingest).

Re-expresses the reference ETL (src/main.rs:99-215 + wikidata-rs/src/
value.rs:218-433) as ONE declarative Catalyst plan:

    text source → line sanitize → from_json (explicit schema) →
    [vertex projection ⊕ (claims explode → rank filter → type dispatch →
    per-type normalization → self-loop synthesis)] → 6 parquet sinks

Semantics pinned to the reference (SURVEY §1.2 numbered list):

1. literal tables (string/coordinates/quantity/time) and NoValue/
   UnknownValue edges carry ``dst_id = src_id`` self-loops
   (value.rs:238-284);
2. deprecated-rank claims are dropped (main.rs:203), Normal/Preferred
   kept and indistinguishable;
3. qualifiers, references, aliases, sitelinks, non-``lang`` labels are
   NOT stored (main.rs:186-212);
4. monolingual text keeps its text regardless of language
   (value.rs:393); only MULTIlingual filters to English
   (value.rs:394-401 — dump JSON never produces that variant);
5. years ≥ 9999 → the +infinity sentinel (value.rs:271-284); Spark
   timestamps cannot hold ±infinity so the engine uses
   ``9999-12-31 23:59:59`` / ``0001-01-01 00:00:00`` sentinels
   (documented deviation, SURVEY §7 hard-part 2);
6. a vertex row is appended for every parsed entity, even claim-less
   ones (main.rs:186-198);
7. malformed lines warn-and-continue (main.rs:316-321) → PERMISSIVE
   JSON mode + corrupt-record quarantine here.

Scale notes (100 TB design point): the whole pipeline is narrow
(no shuffle!) until the sinks — text scan → filter → project → explode
are all pipelined within a task; each of the 6 writes is an independent
narrow job over the persisted PARSE (the vertex write fills the cache,
the 5 claim sinks then run concurrently — see ``ingest``). Input splits parallelize by
file block; a .bz2 dump is splittable in Hadoop, .gz is not (prefer
decompressed or bz2 input at scale, matching the reference's bzcat
pipe guidance, README.md:31-55).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2duckdb_spark.ids import PID_OFFSET, U32, encode_id_col

#: English-only projection by default (lib.rs:20); configurable per
#: README.md:6-8's invitation.
DEFAULT_LANG = "en"

#: Engine sentinels for the reference's DuckDB ±infinity timestamps
#: (value.rs:271-284). Translated back to 'infinity' on DuckDB export.
INFINITY_TS = "9999-12-31 23:59:59"
NEG_INFINITY_TS = "0001-01-01 00:00:00"

TABLE_NAMES = ("vertex", "edge", "string", "coordinates", "quantity", "time")

# ---------------------------------------------------------------------------
# Input schema — exactly the fields the reference consumes (SURVEY §1.1).
# datavalue.value is polymorphic JSON (string | object); parsing it as
# StringType makes Spark preserve objects as raw JSON text, re-parsed
# per type branch below (all JVM-side, no Python).
# ---------------------------------------------------------------------------

DUMP_SCHEMA = (
    "id STRING, "
    "labels MAP<STRING, STRUCT<language: STRING, value: STRING>>, "
    "descriptions MAP<STRING, STRUCT<language: STRING, value: STRING>>, "
    "claims MAP<STRING, ARRAY<STRUCT<"
    "  mainsnak: STRUCT<"
    "    snaktype: STRING, property: STRING, datatype: STRING,"
    "    datavalue: STRUCT<value: STRING, type: STRING>"
    "  >,"
    "  rank: STRING"
    ">>>"
)

ENTITY_VALUE_SCHEMA = "`entity-type` STRING, `numeric-id` LONG, id STRING"
MONO_TEXT_SCHEMA = "text STRING, language STRING"
QUANTITY_SCHEMA = "amount STRING, lowerBound STRING, upperBound STRING, unit STRING"
COORD_SCHEMA = (
    "latitude DOUBLE, longitude DOUBLE, precision DOUBLE, globe STRING"
)
TIME_SCHEMA = "time STRING, precision INT"

# Output schemas (FIXTURES.md §2; DuckDB DDL at value.rs:146-198).
VERTEX_SCHEMA = "id LONG, label STRING, description STRING"
EDGE_SCHEMA = "src_id LONG, property_id LONG, dst_id LONG"
STRING_SCHEMA = EDGE_SCHEMA + ", string STRING"
COORDINATES_SCHEMA = (
    EDGE_SCHEMA + ", latitude DOUBLE, longitude DOUBLE, precision DOUBLE, globe_id LONG"
)
QUANTITY_SCHEMA_OUT = (
    EDGE_SCHEMA + ", amount DOUBLE, lower_bound DOUBLE, upper_bound DOUBLE, unit_id LONG"
)
TIME_SCHEMA_OUT = EDGE_SCHEMA + ", time TIMESTAMP, precision INT"


# ---------------------------------------------------------------------------
# Stage 1: source + line sanitation (main.rs:104-119)
# ---------------------------------------------------------------------------


#: Input split size for the dump scan. The default 128 MB targets
#: IO-bound scans; JSON-dump parsing is CPU-bound (~10 MB/s/core of
#: from_json), so 16 MB splits keep every core busy even on dumps that
#: fit in one default split (a 123 MB dump = ONE 128 MB task = a
#: single-threaded parse — measured 6k lines/s vs 17k with splits).
#: At 100 TB this yields ~6.5M tasks, well within scheduler capacity,
#: and each task stays seconds-long.
DUMP_SPLIT_BYTES = 16 * 1024 * 1024


#: The session conf keys :func:`read_dump_lines` sets for the dump scan.
DUMP_SCAN_CONF_KEYS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
)


def read_dump_lines(spark: SparkSession, path: str) -> DataFrame:
    """Dump file → one row per line, column ``line`` (main.rs:264-269).

    Spark reads .bz2/.gz natively, so the reference's ``bzcat … | -``
    stdin pipe is unnecessary; see streaming.ingest_stream for the
    unbounded-source variant.

    Sets the :data:`DUMP_SCAN_CONF_KEYS` split sizing on the session:
    the scan reads it when a job plans it, not here. :func:`ingest`
    restores the previous values once its writes are done.
    """
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(DUMP_SPLIT_BYTES))
    # Small-dump parallelism: default openCostInBytes (4 MB) bin-packs a
    # tens-of-MB dump into ~6 tasks on 32 cores; aim for one split per
    # core instead. No effect at real scale — the 16 MB cap above
    # already yields >cores splits for GB+ dumps.
    spark.conf.set("spark.sql.files.openCostInBytes", str(512 * 1024))
    spark.conf.set(
        "spark.sql.files.minPartitionNum",
        str(spark.sparkContext.defaultParallelism),
    )
    return spark.read.text(path).withColumnRenamed("value", "line")


def sanitize_lines(lines: DataFrame, col: str = "line") -> DataFrame:
    """Trim; drop empty/``[``/``]`` delimiter lines; strip trailing comma.

    Exact translation of main.rs:104-119 — MUST run before JSON parsing
    (trailing commas would otherwise poison ``from_json``).
    """
    c = F.trim(F.col(col))
    return (
        lines.select(c.alias("json_str"))
        .filter(~F.col("json_str").isin("", "[", "]"))
        .select(F.regexp_replace("json_str", ",$", "").alias("json_str"))
    )


# ---------------------------------------------------------------------------
# Stage 2: JSON parse (PERMISSIVE) + entity decode (main.rs:124-151)
# ---------------------------------------------------------------------------


def parse_entities(sanitized: DataFrame) -> DataFrame:
    """One row per dump line → typed entity struct + corrupt quarantine.

    Output columns: ``entity`` (struct per DUMP_SCHEMA), ``corrupt``
    (the raw line when unparseable — reference prints a warning and
    continues, main.rs:316-321).
    """
    parsed = sanitized.select(
        F.col("json_str"),
        F.from_json("json_str", DUMP_SCHEMA).alias("entity"),
    )
    # from_json yields a NULL struct (or NULL id) on malformed input.
    return parsed.select(
        "entity",
        F.when(F.col("entity.id").isNull(), F.col("json_str")).alias("corrupt"),
    )


def corrupt_records(parsed: DataFrame) -> DataFrame:
    """The quarantine stream: lines the reference would warn about."""
    return parsed.filter(F.col("corrupt").isNotNull()).select("corrupt")


# ---------------------------------------------------------------------------
# Stage 3: vertex projection (main.rs:186-198)
# ---------------------------------------------------------------------------


def vertex_table(parsed: DataFrame, lang: str = DEFAULT_LANG) -> DataFrame:
    """Every parsed entity → ``(id, label, description)``; missing
    language → NULL (main.rs:190-194, lib.rs:20)."""
    e = F.col("entity")
    return (
        parsed.filter(F.col("entity.id").isNotNull())
        .select(
            encode_id_col(e["id"]).alias("id"),
            F.element_at(e["labels"], lang)["value"].alias("label"),
            F.element_at(e["descriptions"], lang)["value"].alias("description"),
        )
        .filter(F.col("id").isNotNull())
    )


# ---------------------------------------------------------------------------
# Stage 4: claims fan-out + rank filter + type dispatch (main.rs:200-212,
# value.rs:373-433)
# ---------------------------------------------------------------------------


def exploded_claims(parsed: DataFrame) -> DataFrame:
    """1 entity → N claim rows.

    Columns: ``src_id, property_id, snaktype, vtype, value, rank`` where
    ``value`` is the raw datavalue payload (JSON text for objects).
    Two narrow explodes (map → (property, array) → claim) — no shuffle.
    """
    e = F.col("entity")
    per_prop = (
        parsed.filter(F.col("entity.id").isNotNull())
        .select(
            encode_id_col(e["id"]).alias("src_id"),
            F.explode(e["claims"]).alias("property", "claim_list"),
        )
        .filter(F.col("src_id").isNotNull())
    )
    claims = per_prop.select(
        "src_id",
        # property key "P31" → 1e9+31 (store_entity: u32::from(Id::Pid)).
        (F.substring("property", 2, 32).cast("long") + F.lit(PID_OFFSET)).alias(
            "property_id"
        ),
        F.explode("claim_list").alias("claim"),
    )
    c = F.col("claim")
    return claims.select(
        "src_id",
        "property_id",
        c["mainsnak"]["snaktype"].alias("snaktype"),
        c["mainsnak"]["datavalue"]["type"].alias("vtype"),
        c["mainsnak"]["datavalue"]["value"].alias("value"),
        c["rank"].alias("rank"),
        # Rank filter: drop ONLY deprecated (main.rs:203).
    ).filter((c["rank"].isNull()) | (c["rank"] != "deprecated"))


def _dispatch(claims: DataFrame) -> Column:
    """19-variant → 6-table CASE (value.rs:373-433 as one expression)."""
    return (
        F.when(F.col("snaktype") != "value", F.lit("edge"))  # No/UnknownValue
        .when(F.col("vtype") == "wikibase-entityid", F.lit("edge"))
        .when(F.col("vtype") == "globecoordinate", F.lit("coordinates"))
        .when(F.col("vtype") == "quantity", F.lit("quantity"))
        .when(F.col("vtype") == "time", F.lit("time"))
        .when(F.col("vtype").isin("string", "monolingualtext"), F.lit("string"))
        .otherwise(F.lit(None))
    )


def with_sink(claims: DataFrame) -> DataFrame:
    """Tag each claim row with its destination table name."""
    return claims.withColumn("sink", _dispatch(claims))


# --- per-type normalizations (value.rs:238-284, 378-428) -------------------


def _strip_entity_url(c: Column) -> Column:
    """``http://www.wikidata.org/entity/Q2`` → ``Q2`` (also bare ids)."""
    return F.element_at(F.split(c, "/"), -1)


def _encode_entity_value(value: Column) -> Column:
    """datavalue of type wikibase-entityid → encoded dst id.

    Handles item/property/lexeme via numeric-id offsets and form/sense
    via the wrapping formulas over their ``L<lid>-F<idx>`` id strings
    (id.rs:70-88; value.rs:403-431 Item/Property/Lexeme/Form/Sense arms).
    """
    v = F.from_json(value, ENTITY_VALUE_SCHEMA)
    etype = v["entity-type"]
    num = F.coalesce(
        v["numeric-id"], F.substring(v["id"], 2, 32).cast("long")
    )
    lid = F.split(v["id"], "-").getItem(0).substr(F.lit(2), F.lit(32)).cast("long")
    idx = F.substring(F.split(v["id"], "-").getItem(1), 2, 32).cast("long")
    return (
        F.when(etype == "item", num)
        .when(etype == "property", num + F.lit(1_000_000_000))
        .when(etype == "lexeme", num + F.lit(2_000_000_000))
        .when(etype == "form", F.pmod(lid + idx + F.lit(5_000_000_000), F.lit(U32)))
        .when(
            etype == "sense", F.pmod(lid + idx + F.lit(5_500_000_000), F.lit(U32))
        )
        .otherwise(F.lit(None).cast("long"))
    )


def edge_table(claims: DataFrame) -> DataFrame:
    """Entity-valued claims + No/UnknownValue self-loop markers
    (value.rs:237-239, 403-431)."""
    tagged = with_sink(claims).filter(F.col("sink") == "edge")
    dst = F.when(
        F.col("snaktype") == "value", _encode_entity_value(F.col("value"))
    ).otherwise(F.col("src_id"))  # novalue/somevalue → self-loop
    return (
        tagged.select("src_id", "property_id", dst.alias("dst_id"))
        .filter(F.col("dst_id").isNotNull())
    )


def string_table(claims: DataFrame) -> DataFrame:
    """String-class claims (value.rs:378-402, 421-425): plain strings
    keep their text; monolingualtext keeps ``value.text`` regardless of
    language (value.rs:393)."""
    tagged = with_sink(claims).filter(F.col("sink") == "string")
    text = F.when(
        F.col("vtype") == "monolingualtext",
        F.from_json("value", MONO_TEXT_SCHEMA)["text"],
    ).otherwise(F.col("value"))
    return (
        tagged.select(
            "src_id",
            "property_id",
            F.col("src_id").alias("dst_id"),  # self-loop (value.rs:240-242)
            text.alias("string"),
        )
        .filter(F.col("string").isNotNull())
    )


def coordinates_table(claims: DataFrame) -> DataFrame:
    """GlobeCoordinate claims (value.rs:243-256, 379-389)."""
    tagged = with_sink(claims).filter(F.col("sink") == "coordinates")
    v = F.from_json("value", COORD_SCHEMA)
    return (
        tagged.select(
            "src_id",
            "property_id",
            F.col("src_id").alias("dst_id"),
            v["latitude"].alias("latitude"),
            v["longitude"].alias("longitude"),
            v["precision"].alias("precision"),
            F.substring(_strip_entity_url(v["globe"]), 2, 32)
            .cast("long")
            .alias("globe_id"),
        )
        .filter(F.col("latitude").isNotNull() & F.col("longitude").isNotNull())
    )


def quantity_table(claims: DataFrame) -> DataFrame:
    """Quantity claims (value.rs:257-270, 403-413); unit ``"1"`` (the
    dimensionless unit) → NULL unit_id."""
    tagged = with_sink(claims).filter(F.col("sink") == "quantity")
    v = F.from_json("value", QUANTITY_SCHEMA)
    unit_qid = F.when(
        v["unit"].isNull() | (v["unit"] == "1"), F.lit(None).cast("long")
    ).otherwise(F.substring(_strip_entity_url(v["unit"]), 2, 32).cast("long"))
    return (
        tagged.select(
            "src_id",
            "property_id",
            F.col("src_id").alias("dst_id"),
            v["amount"].cast("double").alias("amount"),
            v["lowerBound"].cast("double").alias("lower_bound"),
            v["upperBound"].cast("double").alias("upper_bound"),
            unit_qid.alias("unit_id"),
        )
        .filter(F.col("amount").isNotNull())
    )


def _wikidata_time_to_ts(time_s: Column) -> Column:
    """``+2001-01-01T00:00:00Z`` (sign + arbitrary-width year) → timestamp.

    - year ≥ 9999 → +infinity sentinel (value.rs:271-284);
    - negative or zero years → -infinity sentinel (DuckDB holds them as
      real negative timestamps only down to its own range; Spark
      timestamps start at year 1 — documented engine deviation);
    - month/day ``00`` (low-precision values) clamp to ``01``.
    """
    m = F.regexp_extract(time_s, r"^([+-])(\d+)-(\d\d)-(\d\d)T(\d\d:\d\d:\d\d)Z?$", 0)
    sign = F.regexp_extract(time_s, r"^([+-])", 1)
    year = F.regexp_extract(time_s, r"^[+-](\d+)-", 1).cast("long")
    month = F.regexp_extract(time_s, r"^[+-]\d+-(\d\d)-", 1)
    day = F.regexp_extract(time_s, r"^[+-]\d+-\d\d-(\d\d)T", 1)
    tod = F.regexp_extract(time_s, r"T(\d\d:\d\d:\d\d)", 1)
    month = F.when(month == "00", F.lit("01")).otherwise(month)
    day = F.when(day == "00", F.lit("01")).otherwise(day)
    normal = F.to_timestamp(
        F.concat(
            F.lpad(year.cast("string"), 4, "0"),
            F.lit("-"), month, F.lit("-"), day, F.lit(" "), tod,
        )
    )
    return (
        F.when(m == "", F.lit(None).cast("timestamp"))
        .when((sign == "-") | (year <= 0), F.lit(NEG_INFINITY_TS).cast("timestamp"))
        .when(year >= 9999, F.lit(INFINITY_TS).cast("timestamp"))
        .otherwise(normal)
    )


def time_table(claims: DataFrame) -> DataFrame:
    """DateTime claims + overflow sentinel (value.rs:271-284, 414-420)."""
    tagged = with_sink(claims).filter(F.col("sink") == "time")
    v = F.from_json("value", TIME_SCHEMA)
    return (
        tagged.select(
            "src_id",
            "property_id",
            F.col("src_id").alias("dst_id"),
            _wikidata_time_to_ts(v["time"]).alias("time"),
            v["precision"].cast("int").alias("precision"),
        )
        .filter(F.col("time").isNotNull())
    )


# ---------------------------------------------------------------------------
# Whole pipeline
# ---------------------------------------------------------------------------


def parsed_tables(
    parsed: DataFrame, lang: str = DEFAULT_LANG
) -> dict[str, DataFrame]:
    """Parsed entities → the six logical tables as (lazy) DataFrames.
    Batch ingest, :func:`build_tables` and the streaming sink all take
    their tables from here; each table fn applies ``with_sink`` itself."""
    claims = exploded_claims(parsed)
    return {
        "vertex": vertex_table(parsed, lang),
        "edge": edge_table(claims),
        "string": string_table(claims),
        "coordinates": coordinates_table(claims),
        "quantity": quantity_table(claims),
        "time": time_table(claims),
    }


def build_tables(
    spark: SparkSession, dump_path: str, lang: str = DEFAULT_LANG
) -> dict[str, DataFrame]:
    """Dump file → the six logical tables as (lazy) DataFrames.

    The dump scan's split sizing (:func:`read_dump_lines`) stays set on
    the session: the frames are lazy and their scan reads that conf
    when an action plans it, so restoring it here would size the dump
    scan with the IO-tuned defaults. :func:`ingest` restores it."""
    return parsed_tables(
        parse_entities(sanitize_lines(read_dump_lines(spark, dump_path))), lang
    )


def ingest(
    spark: SparkSession,
    dump_path: str,
    out_path: str,
    lang: str = DEFAULT_LANG,
    mode: str = "error",
    edge_layout: str = "sort",
    metrics: dict | None = None,
) -> dict[str, str]:
    """Run the full ETL: dump → 6 parquet table dirs under ``out_path``.

    ``mode='error'`` reproduces the reference's existing-target guard
    (main.rs:249-255). The PARSED entity DF is persisted (not the
    exploded claims): all 6 sinks then share one pass over the
    sanitize+from_json work — persisting claims instead leaves the
    vertex sink re-parsing the whole dump (measured 24k → 32k lines/s
    at 100k lines). At cluster scale the persisted struct is ≈ input
    size and spills via MEMORY_AND_DISK, the same budget the exploded
    claims would need.

    The vertex sink is written FIRST, synchronously — that one job
    pipelines parse + cache-fill + write in a single pass over the
    dump. The 5 claim sinks then run CONCURRENTLY over the warm cache
    (driver-side thread pool — Spark schedules jobs from multiple
    threads natively). Concurrent writes over a COLD cache would each
    re-parse in-flight partitions (the block store dedupes stored
    blocks, not in-progress computation), which is why the fan-out
    waits for the materializing write. Sequential writes waste
    wall-clock on per-job latency at small inputs and leave the
    cluster under-utilized between job tails at large ones; a separate
    cache-priming job (e.g. ``count()``) wastes the pass it shares
    with no sink (measured ~17% slower at 500k lines).

    ``edge_layout``: ``"sort"`` (default), ``"zorder"``, or ``"none"``.
    ``"sort"`` sorts edge-class tables within partitions by
    ``(src_id, dst_id)`` so parquet min/max row-group stats act as the
    moral equivalent of the reference's src_id/dst_id indices
    (value.rs:332-350) — point/range lookups prune row groups.
    ``"zorder"`` sorts within partitions by the Morton interleave of
    (src_id, dst_id) instead of the lexical pair — row-group stats then
    prune point lookups on EITHER endpoint (the full both-direction
    parity of value.rs:332-350), still with zero extra shuffle. The
    lexical default keeps the stronger single-column src_id pruning;
    choose per dominant access pattern. ``"none"`` writes unsorted.

    ``metrics``: pass a dict to receive ingest counters — the
    reference's progress accounting (main.rs:229-236, 323-325) done
    the Spark way: ``DataFrame.observe`` accumulates per-task metrics
    inside the SAME jobs that write the tables (zero extra passes, no
    extra action). Keys: ``entities``, ``corrupt_lines``, and
    ``rows`` (per-table written row counts).
    """
    # read_dump_lines sizes splits for the CPU-bound JSON parse; scope
    # that conf to this call so later parquet scans in the same session
    # keep the IO-tuned defaults — 8x the task count on every
    # downstream query is the wrong trade there.
    from pyspark.sql import Observation

    prev_conf = {k: spark.conf.get(k, None) for k in DUMP_SCAN_CONF_KEYS}
    parsed = parse_entities(sanitize_lines(read_dump_lines(spark, dump_path)))
    parse_obs: Observation | None = None
    if metrics is not None:
        # observe BELOW the persist: the cache-filling vertex job is the
        # one pass that computes the parse subtree, so it fires these
        # metrics; later sinks read cached blocks and skip them.
        parse_obs = Observation("parse")
        parsed = parsed.observe(
            parse_obs,
            F.count(F.lit(1)).alias("lines"),
            F.count("corrupt").alias("corrupt_lines"),
        )
    parsed = parsed.persist()
    try:
        tables = parsed_tables(parsed, lang)
        observations: dict[str, Observation] = {}
        if metrics is not None:
            for name in list(tables):
                observations[name] = Observation(f"rows_{name}")
                tables[name] = tables[name].observe(
                    observations[name], F.count(F.lit(1)).alias("rows")
                )

        if edge_layout not in ("sort", "zorder", "none"):
            raise ValueError(
                f"edge_layout must be sort|zorder|none: {edge_layout}"
            )

        def _write(name: str, df: DataFrame) -> tuple[str, str]:
            if edge_layout != "none" and name == "vertex":
                df = df.sortWithinPartitions("id")
            elif edge_layout == "sort" and name != "vertex":
                df = df.sortWithinPartitions("src_id", "dst_id")
            elif edge_layout == "zorder" and name != "vertex":
                from wd2duckdb_spark.layout import morton_code

                df = df.sortWithinPartitions(
                    morton_code("src_id", "dst_id").alias("_z")
                )
            path = f"{out_path}/{name}"
            df.write.mode(mode).parquet(path)
            return name, path

        from concurrent.futures import ThreadPoolExecutor

        # materializing write first (parse + cache-fill + vertex sink
        # in one pass), then the claim sinks fan out over the warm cache
        out = dict([_write("vertex", tables.pop("vertex"))])
        with ThreadPoolExecutor(max_workers=len(tables)) as pool:
            futures = [pool.submit(_write, n, df) for n, df in tables.items()]
            out.update(f.result() for f in futures)

        if metrics is not None and parse_obs is not None:
            parse_vals = parse_obs.get
            metrics["entities"] = parse_vals["lines"] - parse_vals["corrupt_lines"]
            metrics["corrupt_lines"] = parse_vals["corrupt_lines"]
            metrics["rows"] = {n: o.get["rows"] for n, o in observations.items()}
        return out
    finally:
        parsed.unpersist()
        for k, v in prev_conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
