"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, and the engine under test only ever sees the files.

- :func:`write_dump` — a Wikidata JSON dump for ``ingest.ingest`` with
  heavy-tailed claims per entity, Zipf-skewed hub targets, every dispatch
  arm of the ingest (item/property/lexeme/form/sense edges, novalue,
  somevalue, deprecated rank, strings, monolingual text, quantities with
  and without unit, coordinates, times including years >= 9999 and
  negative years), multilingual labels and a small share of malformed
  lines. It returns the exact row count each of the six tables must get.
- :func:`write_corpus` — the star-schema + ``documents``/``embeddings``/
  ``events`` tables the registry queries read, one parquet file each.
- :func:`write_feed` — a document feed staged as equal parquet files with
  ascending doc ids, a planted near-duplicate share and short docs.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Word list for documents and string claims. Document words are drawn
#: uniformly, so two unrelated documents share almost no word 3-grams and
#: near-duplicates come only from the planted copies.
VOCAB = (
    "the a of and to in is for on with as by at from data query table row "
    "column join scan sort merge filter group window key value hash agg "
    "batch stream spark order line part customer vector index graph node "
    "edge label claim entity item property time quantity string lexeme "
    "form sense rank dump ingest parse split shard file page block cache "
    "memo plan stage task shuffle spill probe band shingle token corpus "
    "model train eval score rerank embed cluster centroid lloyd fold "
    "compact archive replay commit offset trigger source sink schema "
    "fast slow big small new old hot cold red blue green open closed"
).split()

LANGS = ("en", "de", "fr", "es", "zh")

# ---------------------------------------------------------------------------
# Wikidata dump
# ---------------------------------------------------------------------------

#: label languages with a non-ASCII sample script each
_LABEL_LANGS = {
    "en": "entity",
    "de": "Größe",
    "fr": "élément",
    "ja": "項目",
    "zh": "实体",
    "ar": "كيان",
    "ru": "объект",
    "hi": "इकाई",
}
_LANG_KEYS = sorted(_LABEL_LANGS)

#: claim kind → (share, table it lands in). Shares sum to 1.
_CLAIM_KINDS = (
    ("item", 0.38, "edge"),
    ("property", 0.02, "edge"),
    ("lexeme", 0.02, "edge"),
    ("form", 0.01, "edge"),
    ("sense", 0.01, "edge"),
    ("novalue", 0.03, "edge"),
    ("somevalue", 0.02, "edge"),
    ("string", 0.16, "string"),
    ("external-id", 0.07, "string"),
    ("monolingualtext", 0.05, "string"),
    ("quantity", 0.10, "quantity"),
    ("time", 0.09, "time"),
    ("coordinate", 0.04, "coordinates"),
)

#: property ids per kind; ``item`` uses P31 for a third of its claims so
#: the instance-of hubs dominate as in the real dump
_KIND_PROPS = {
    "item": (31, 279, 17, 131, 106, 27, 50, 135, 136, 361),
    "property": (1659, 1696),
    "lexeme": (5137, 5402),
    "form": (5830,),
    "sense": (5972,),
    "novalue": (40, 570),
    "somevalue": (569, 19),
    "string": (373, 1448, 2699, 856),
    "external-id": (214, 213, 227, 244),
    "monolingualtext": (1476, 1705),
    "quantity": (2044, 1082, 2046, 1120),
    "time": (569, 570, 571, 580, 582),
    "coordinate": (625,),
}

#: share of dump lines that are malformed (truncated or not JSON)
MALFORMED_SHARE = 0.004
#: share of claims given deprecated rank (dropped by ingest)
DEPRECATED_SHARE = 0.04
#: Zipf exponent of the item-target draw: P(Qk) ∝ k^-HUB_SKEW
HUB_SKEW = 1.1


def _hub_sampler(rng: random.Random, n: int):
    """Draw ids 1..n with P(k) ∝ k^-HUB_SKEW (k=1 is the biggest hub)."""
    cdf = list(itertools.accumulate(1.0 / k**HUB_SKEW for k in range(1, n + 1)))
    total = cdf[-1]
    return lambda: min(bisect.bisect_left(cdf, rng.random() * total), n - 1) + 1


def _snak(prop: int, kind: str, rng: random.Random, hub) -> dict:
    p = f"P{prop}"
    if kind in ("novalue", "somevalue"):
        return {"snaktype": kind, "property": p}

    def dv(value, vtype: str, datatype: str) -> dict:
        return {
            "snaktype": "value",
            "property": p,
            "datavalue": {"value": value, "type": vtype},
            "datatype": datatype,
        }

    if kind == "item":
        q = hub()
        return dv({"entity-type": "item", "numeric-id": q, "id": f"Q{q}"},
                  "wikibase-entityid", "wikibase-item")
    if kind == "property":
        q = rng.randrange(1, 3000)
        return dv({"entity-type": "property", "numeric-id": q, "id": f"P{q}"},
                  "wikibase-entityid", "wikibase-property")
    if kind == "lexeme":
        q = rng.randrange(1, 50000)
        return dv({"entity-type": "lexeme", "numeric-id": q, "id": f"L{q}"},
                  "wikibase-entityid", "wikibase-lexeme")
    if kind in ("form", "sense"):
        lid, idx = rng.randrange(1, 50000), rng.randrange(1, 9)
        tag = "F" if kind == "form" else "S"
        return dv({"entity-type": kind, "id": f"L{lid}-{tag}{idx}"},
                  "wikibase-entityid", f"wikibase-{kind}")
    if kind == "string":
        return dv(" ".join(rng.choices(VOCAB, k=rng.randrange(1, 5))), "string", "string")
    if kind == "external-id":
        return dv(f"{rng.randrange(10**9):09d}", "string", "external-id")
    if kind == "monolingualtext":
        lang = rng.choice(_LANG_KEYS)
        return dv({"text": f"{_LABEL_LANGS[lang]} {rng.randrange(10**6)}",
                   "language": lang}, "monolingualtext", "monolingualtext")
    if kind == "quantity":
        amount = rng.randrange(-10**8, 10**8) / 100
        v = {"amount": f"{amount:+.2f}"}
        if rng.random() < 0.5:
            v["unit"] = "1"  # dimensionless → NULL unit_id
        else:
            v["unit"] = f"http://www.wikidata.org/entity/Q{hub()}"
        if rng.random() < 0.6:
            v["lowerBound"] = f"{amount - 1:+.2f}"
            v["upperBound"] = f"{amount + 1:+.2f}"
        return dv(v, "quantity", "quantity")
    if kind == "time":
        r = rng.random()
        if r < 0.03:  # beyond Spark's range → +infinity sentinel
            t = f"+{rng.randrange(9999, 10**8)}-01-01T00:00:00Z"
        elif r < 0.06:  # BCE → -infinity sentinel
            t = f"-{rng.randrange(1, 10**6):04d}-00-00T00:00:00Z"
        else:
            month = rng.randrange(13)  # 00 = year precision
            day = rng.randrange(29) if month else 0
            t = f"+{rng.randrange(1500, 2026):04d}-{month:02d}-{day:02d}T00:00:00Z"
        return dv({"time": t, "precision": rng.randrange(9, 12)}, "time", "time")
    if kind == "coordinate":
        return dv({"latitude": round(rng.uniform(-90, 90), 5),
                   "longitude": round(rng.uniform(-180, 180), 5),
                   "precision": 0.0001,
                   "globe": "http://www.wikidata.org/entity/Q2"},
                  "globecoordinate", "globe-coordinate")
    raise ValueError(kind)


def write_dump(path: str, seed: int, n_entities: int) -> dict:
    """Write a dump of ``n_entities`` entity lines (plus malformed lines)
    to ``path``; return the expected ingest counts:
    ``{"lines", "bytes", "entities", "corrupt_lines", "rows": {table: n}}``."""
    rng = random.Random(seed)
    hub = _hub_sampler(rng, n_entities)
    kinds = [k for k, _, _ in _CLAIM_KINDS]
    cum_shares = list(itertools.accumulate(s for _, s, _ in _CLAIM_KINDS))
    sink = {k: t for k, _, t in _CLAIM_KINDS}
    rows = {t: 0 for t in ("vertex", "edge", "string", "coordinates", "quantity", "time")}
    corrupt = 0
    lines = ["["]
    for i in range(n_entities):
        if rng.random() < MALFORMED_SHARE:
            if rng.random() < 0.5:
                lines.append(f'{{"id":"Q{i + 1}","labels":{{"en":{{"language":"e')
            else:
                lines.append(f"<corrupt record {rng.randrange(10**9)}>")
            corrupt += 1
        # entity id kinds: mostly items, a few properties and lexemes
        r = rng.random()
        eid = f"Q{i + 1}" if r < 0.96 else (f"P{i + 1}" if r < 0.98 else f"L{i + 1}")
        labels = {
            lang: {"language": lang, "value": f"{_LABEL_LANGS[lang]} {i}"}
            for lang in rng.sample(_LANG_KEYS, rng.randrange(5))
        }
        descriptions = {}
        if rng.random() < 0.5:
            descriptions["en"] = {"language": "en", "value": f"synthetic entity {i}"}
        # heavy-tailed claims per entity: lognormal, median ~4, tail to
        # 120, and a few claim-less entities
        n_claims = 0 if rng.random() < 0.03 else min(round(rng.lognormvariate(1.3, 1.0)), 120)
        claims: dict[str, list] = {}
        for _ in range(n_claims):
            kind = kinds[bisect.bisect_left(cum_shares, rng.random() * cum_shares[-1])]
            if kind == "item" and rng.random() < 0.35:
                prop = 31  # instance-of: the hub-heavy property
            else:
                prop = rng.choice(_KIND_PROPS[kind])
            rr = rng.random()
            rank = "deprecated" if rr < DEPRECATED_SHARE else (
                "preferred" if rr < 0.15 else "normal")
            claims.setdefault(f"P{prop}", []).append(
                {"mainsnak": _snak(prop, kind, rng, hub), "rank": rank}
            )
            if rank != "deprecated":
                rows[sink[kind]] += 1
        rows["vertex"] += 1
        entity = {"type": "item", "id": eid, "labels": labels,
                  "descriptions": descriptions, "claims": claims}
        lines.append(json.dumps(entity, ensure_ascii=False, separators=(",", ":")))
    text = "\n".join(
        [lines[0]] + [ln + "," for ln in lines[1:-1]] + [lines[-1], "]"]
    ) + "\n"
    data = text.encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return {
        "lines": len(lines) + 1,
        "bytes": len(data),
        "entities": rows["vertex"],
        "corrupt_lines": corrupt,
        "rows": rows,
    }


# ---------------------------------------------------------------------------
# Documents (shared by the corpus tables and the stream feed)
# ---------------------------------------------------------------------------


def _docs(rng: np.random.Generator, ids: np.ndarray, near_dup: float, short: float,
          pool: list[str] | None = None) -> list[str]:
    """Texts for ``ids``: uniform word draws, a ``near_dup`` share copying
    an earlier text (from ``pool`` or this call) with one or two words
    replaced, and a ``short`` share of 1-2 token docs."""

    def pick(n: int) -> np.ndarray:
        return rng.integers(1, len(VOCAB) + 1, n)

    seen = list(pool or ())
    out = []
    for _ in ids:
        r = rng.random()
        if r < short:
            text = " ".join(VOCAB[w - 1] for w in pick(int(rng.integers(1, 3))))
        elif r < short + near_dup and seen:
            words = seen[int(rng.integers(0, len(seen)))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(pick(1)[0]) - 1]
            text = " ".join(words)
        else:
            text = " ".join(VOCAB[w - 1] for w in pick(int(rng.integers(10, 100))))
        if len(text.split()) >= 3:
            seen.append(text)
        out.append(text)
    return out


def _doc_table(rng: np.random.Generator, ids: np.ndarray, texts: list[str]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(i)] for i in rng.integers(0, len(LANGS), len(ids))]),
        "source": pa.array([f"src{int(i) % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# Corpus tables (the schema of the registry queries' sf_dir)
# ---------------------------------------------------------------------------


#: near-duplicate and short-doc shares of the corpus ``documents`` table
CORPUS_NEAR_DUP_SHARE = 0.08
CORPUS_SHORT_SHARE = 0.02


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten ``<name>.parquet`` tables under ``out_dir`` in the
    sf0.001 shape (6,000 lineitem rows, 500 documents); return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line = 1500, 6000
    n_ev, n_doc, n_emb = 1000, 500, 500
    base = datetime(1995, 1, 1)

    def days(lo: int, hi: int, n: int) -> pa.Array:
        return pa.array([base + timedelta(days=int(d)) for d in rng.integers(lo, hi, n)],
                        pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                          "MACHINERY")[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ("small", "large", "red", "blue", "cold", "hot", "old", "new")
    noun = ("widget", "bolt", "rod", "ring", "gear", "plate", "anvil", "nut")
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{int(i)}" for i in rng.integers(1, 26, n_part)],
        "p_type": [("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")[i]
                   for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days(0, 2404, n_ord),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                             "5-LOW")[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": days(1, 2499, n_line)})
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([datetime(2024, 1, 1) + timedelta(microseconds=int(u)) for u in ev_ts],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 7), n_ev), pa.int64()),
        "event_type": [("click", "view", "purchase", "signup", "error")[i]
                       for i in rng.integers(0, 5, n_ev)],
        "value": money(0.5, 500, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    doc_ids = np.arange(n_doc)
    t["documents"] = _doc_table(rng, doc_ids, _docs(rng, doc_ids, CORPUS_NEAR_DUP_SHARE, CORPUS_SHORT_SHARE))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    # a planted near-duplicate share: copies of earlier vectors plus small
    # noise, far above any similarity threshold the queries use
    dup = np.flatnonzero(rng.random(n_emb) < 0.05)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(int)
    emb[dup] = emb[src] + 0.02 * rng.standard_normal((len(dup), 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


# ---------------------------------------------------------------------------
# Document feed for the streaming dedup tier
# ---------------------------------------------------------------------------

FEED_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
#: files of the feed (one micro-batch each) and documents per file
FEED_FILES = 2
FEED_DOCS_PER_FILE = 1_000
#: near-duplicate and short (< 3 token) shares of the feed
FEED_NEAR_DUP_SHARE = 0.15
FEED_SHORT_SHARE = 0.03


def write_feed(out_dir: str, seed: int) -> list[str]:
    """Stage :data:`FEED_FILES` equal parquet files of documents under
    ``out_dir`` (``part-00000.parquet``, …) with ascending doc ids, so
    file order is arrival order. Near-duplicates copy any earlier doc of
    the feed, across file boundaries. Returns the file paths in order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pool: list[str] = []
    paths = []
    for f in range(FEED_FILES):
        ids = np.arange(f * FEED_DOCS_PER_FILE, (f + 1) * FEED_DOCS_PER_FILE)
        texts = _docs(rng, ids, FEED_NEAR_DUP_SHARE, FEED_SHORT_SHARE, pool)
        pool.extend(t for t in texts if len(t.split()) >= 3)
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        _write(_doc_table(rng, ids, texts), path)
        paths.append(path)
    return paths
