"""Input generators: determinism and the shape each workload relies on."""

from __future__ import annotations

import collections
import hashlib
import json
import os

import pyarrow.parquet as pq

from perfbench import gen


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(root, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def _entities(path: str) -> tuple[list[dict], int]:
    ents, bad = [], 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip().rstrip(",")
            if line in ("[", "]", ""):
                continue
            try:
                ents.append(json.loads(line))
            except json.JSONDecodeError:
                bad += 1
    return ents, bad


def test_same_seed_same_bytes(tmp_path):
    for sub in ("a", "b"):
        d = tmp_path / sub
        d.mkdir()
        gen.write_dump(str(d / "dump.json"), 3, 500)
        gen.write_corpus(str(d / "corpus"), 3)
        gen.write_feed(str(d / "feed"), 3)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    other = tmp_path / "c"
    other.mkdir()
    gen.write_dump(str(other / "dump.json"), 4, 500)
    with open(tmp_path / "a" / "dump.json", "rb") as f1, open(other / "dump.json", "rb") as f2:
        assert f1.read() != f2.read()


def test_dump_shape(tmp_path):
    path = str(tmp_path / "dump.json")
    truth = gen.write_dump(path, 11, 3000)
    ents, bad = _entities(path)
    assert bad == truth["corrupt_lines"] > 0
    assert len(ents) == truth["entities"] == truth["rows"]["vertex"]
    assert truth["bytes"] == os.path.getsize(path)

    per_entity = sorted(sum(len(v) for v in e["claims"].values()) for e in ents)
    assert per_entity[0] == 0  # claim-less entities still make vertices
    assert per_entity[-1] >= 8 * per_entity[len(per_entity) // 2]  # heavy tail

    snaks = [c for e in ents for v in e["claims"].values() for c in v]
    targets = collections.Counter(
        c["mainsnak"]["datavalue"]["value"]["id"]
        for c in snaks
        if c["mainsnak"].get("datavalue", {}).get("type") == "wikibase-entityid"
        and c["mainsnak"]["datavalue"]["value"]["entity-type"] == "item"
    )
    top = sum(n for _, n in targets.most_common(10))
    assert top > 0.15 * sum(targets.values())  # Zipf hubs

    arms = collections.Counter()
    for c in snaks:
        s = c["mainsnak"]
        dv = s.get("datavalue")
        arms[s["snaktype"] if dv is None else dv["type"]] += 1
        if dv and dv["type"] == "wikibase-entityid":
            arms["entity:" + dv["value"]["entity-type"]] += 1
        if dv and dv["type"] == "time":
            t = dv["value"]["time"]
            year = int(t[1:].split("-")[0])
            arms["bce" if t[0] == "-" else ("year>=9999" if year >= 9999 else "ce")] += 1
        if dv and dv["type"] == "quantity" and dv["value"].get("unit") == "1":
            arms["unit=1"] += 1
        arms["rank:" + c["rank"]] += 1
    for arm in ("novalue", "somevalue", "string", "monolingualtext", "quantity",
                "globecoordinate", "entity:item", "entity:property", "entity:lexeme",
                "entity:form", "entity:sense", "year>=9999", "bce", "unit=1",
                "rank:deprecated", "rank:preferred"):
        assert arms[arm] > 0, arm
    langs = {lang for e in ents for lang in e["labels"]}
    assert len(langs) >= 6 and "en" in langs
    assert any(not e["labels"].get("en") for e in ents)


def test_feed_plants_near_duplicates_and_short_docs(tmp_path):
    files = gen.write_feed(str(tmp_path / "feed"), 5)
    n_docs = gen.FEED_FILES * gen.FEED_DOCS_PER_FILE
    assert [os.path.basename(p) for p in files] == [
        f"part-{i:05d}.parquet" for i in range(gen.FEED_FILES)]
    t = pq.ParquetDataset(files).read().to_pydict()
    assert t["doc_id"] == list(range(n_docs))
    words = [s.split() for s in t["text"]]
    assert sum(len(w) < 3 for w in words) >= 0.01 * n_docs
    # a planted near-duplicate differs from some earlier doc of the same
    # length in <= 2 positions
    near, by_len = 0, collections.defaultdict(list)
    for w in words:
        if len(w) >= 3 and any(sum(a != b for a, b in zip(v, w)) <= 2 for v in by_len[len(w)]):
            near += 1
        by_len[len(w)].append(w)
    assert 0.05 * n_docs < near < 0.3 * n_docs
