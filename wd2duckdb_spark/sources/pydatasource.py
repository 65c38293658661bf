"""Custom Python DataSource (Spark 4): `wikidata_dump` format.

The reference streams an entity-per-line Wikidata JSON dump
(main.rs:261-269 file/stdin source; main.rs:108-119 line sanitizer).
The batch path here (`ingest.read_dump_lines`) covers that with
`spark.read.text`; this module re-expresses the SOURCE itself through
Spark 4's Python DataSource API (SPARK-44076) so the dump behaves like
any other format:

    spark.dataSource.register(WikidataDumpDataSource)
    spark.read.format("wikidata_dump").load("dump.json")
      → (id string, entity_type string, line string)

Scale design:
- **partitions()** plans byte-range splits of the uncompressed file
  (`split_bytes` option, default 64 MB) — the classic
  align-to-next-newline protocol, so a TB-scale dump fans out across
  executors with no driver-side reading. `.bz2`/`.gz` fall back to one
  split per file (non-splittable codecs), matching what the reference
  gets from a `bzcat | wd2duckdb` pipe.
- **pushFilters()** (Spark 4.1) handles `id = 'Q42'` equality: a raw
  substring probe (`"id":"Q42"`) rejects non-matching lines BEFORE any
  JSON/regex work — the Python-source analogue of parquet predicate
  pushdown; remaining filters stay with Spark.
- **read()** is a generator of tuples — O(1) memory per line, the same
  contract as the reference's streaming loop (main.rs:311-326).

This source intentionally emits the RAW sanitized line alongside the
cheaply-extracted id/type: full JSON decoding belongs to the ingest
tier (`from_json` with DUMP_SCHEMA), which runs JVM-side.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    InputPartition,
)

_ID_RE = re.compile(r'"id"\s*:\s*"([QPL][0-9]+)"')
_TYPE_RE = re.compile(r'"type"\s*:\s*"(item|property|lexeme)"')

DEFAULT_SPLIT_BYTES = 64 * 1024 * 1024


def _sanitize(line: str) -> str | None:
    """Strip the JSON-array frame: '[' / ']' lines and trailing commas
    (reference line sanitizer, main.rs:108-119)."""
    s = line.strip()
    if not s or s in ("[", "]"):
        return None
    if s.endswith(","):
        s = s[:-1]
    return s or None


@dataclass(frozen=True)
class _ByteRange(InputPartition):
    path: str
    start: int
    end: int  # exclusive; read runs past end to finish its last line


@dataclass(frozen=True)
class _AlignedRange(InputPartition):
    """A byte range whose BOTH bounds sit exactly on line boundaries
    (start = 0 or just past a ``\\n``; end likewise). Used by the
    stream reader's grow-aware deltas: unlike ``_ByteRange``'s split
    protocol, the first line is NOT discarded and reading stops
    exactly at ``end`` — the next delta owns everything after."""

    path: str
    start: int
    end: int  # exclusive, line-aligned


class WikidataDumpReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("wikidata_dump: .load(path) is required")
        self.split_bytes = int(
            options.get("split_bytes", DEFAULT_SPLIT_BYTES)
        )
        self.id_filter: str | None = None

    # -- pushdown ---------------------------------------------------------
    def pushFilters(self, filters):  # noqa: N802 (API name)
        # partition consumed/remaining EAGERLY and return a plain list:
        # a generator would set self.id_filter only as a side effect of
        # the caller iterating it — if Spark (or a future caller)
        # consumed it lazily or partially, the pushed filter would be
        # silently dropped while Spark still trusts the source applied
        # it.
        remaining = []
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and tuple(f.attribute) == ("id",)
                and isinstance(f.value, str)
                and self.id_filter is None
            ):
                self.id_filter = f.value
            else:
                remaining.append(f)
        return remaining

    # -- planning ---------------------------------------------------------
    def partitions(self) -> Sequence[InputPartition]:
        paths = (
            [
                os.path.join(self.path, n)
                for n in sorted(os.listdir(self.path))
                if not n.startswith(("_", "."))
            ]
            if os.path.isdir(self.path)
            else [self.path]
        )
        out: list[InputPartition] = []
        for p in paths:
            size = os.path.getsize(p)
            if p.endswith((".bz2", ".gz")) or size <= self.split_bytes:
                out.append(_ByteRange(p, 0, size))
                continue
            start = 0
            while start < size:
                out.append(
                    _ByteRange(p, start, min(start + self.split_bytes, size))
                )
                start += self.split_bytes
        return out

    # -- execution --------------------------------------------------------
    def read(self, partition: _ByteRange) -> Iterator[tuple]:
        import bz2
        import gzip

        p = partition.path
        if p.endswith(".bz2") or p.endswith(".gz"):
            opener = bz2.open if p.endswith(".bz2") else gzip.open
            with opener(p, "rt", encoding="utf-8", errors="replace") as fh:
                yield from self._emit_lines(fh)
            return

        probe = f'"id":"{self.id_filter}"' if self.id_filter else None
        with open(p, "rb") as fh:
            fh.seek(partition.start)
            # split protocol: every partition except the first discards
            # its (possibly partial) first line — the previous range
            # owns it by reading one line past its own end.
            if partition.start > 0:
                fh.readline()
            while fh.tell() <= partition.end:
                raw = fh.readline()
                if not raw:
                    break
                line = raw.decode("utf-8", errors="replace")
                if probe is not None and probe not in line.replace(" ", ""):
                    continue
                row = self._to_row(line)
                if row is not None:
                    yield row

    def read_aligned(self, partition: _AlignedRange) -> Iterator[tuple]:
        """Read ``[start, end)`` where BOTH bounds are line-aligned
        (stream deltas): no first-line discard, stop exactly at
        ``end`` — the complement of :meth:`read`'s split protocol."""
        probe = f'"id":"{self.id_filter}"' if self.id_filter else None
        with open(partition.path, "rb") as fh:
            fh.seek(partition.start)
            while fh.tell() < partition.end:
                raw = fh.readline()
                if not raw:
                    break
                line = raw.decode("utf-8", errors="replace")
                if probe is not None and probe not in line.replace(" ", ""):
                    continue
                row = self._to_row(line)
                if row is not None:
                    yield row

    def _emit_lines(self, fh) -> Iterator[tuple]:
        probe = f'"id":"{self.id_filter}"' if self.id_filter else None
        for line in fh:
            if probe is not None and probe not in line.replace(" ", ""):
                continue
            row = self._to_row(line)
            if row is not None:
                yield row

    def _to_row(self, line: str) -> tuple | None:
        s = _sanitize(line)
        if s is None:
            return None
        m = _ID_RE.search(s)
        eid = m.group(1) if m else None
        if self.id_filter is not None and eid != self.id_filter:
            return None
        t = _TYPE_RE.search(s)
        return (eid, t.group(1) if t else None, s)


class WikidataDumpStreamReader(DataSourceStreamReader):
    """Unbounded variant: watch a directory for new dump shards and
    emit each exactly once — the reference's "pipe never ends" stdin
    contract (main.rs:261-269) as a real Structured Streaming SOURCE
    (offset-tracked, checkpoint-replayable) instead of the file-sink
    workaround in streaming/ingest_stream.py.

    Offsets map shard name → LINE-ALIGNED ingested byte count (the
    offset of the byte just past the shard's last complete ``\\n``,
    found by a bounded backwards scan — never a full read).
    ``partitions(start, end)`` emits one ``_AlignedRange`` per shard
    whose safe size grew: a shard still being APPENDED to is ingested
    up to its last complete line and REVISITED for the delta next
    micro-batch (recording names only would ingest a shard listed
    mid-write partially and silently drop the appended tail). A partial trailing line (no ``\\n`` yet) is
    never emitted, so no half-record ever reaches the sink. A failed
    batch replays its exact (name, start, end) set from the
    checkpointed offsets (exactly-once into idempotent sinks).

    Compressed shards (``.bz2``/``.gz``) have no line-aligned prefix
    semantics: they are emitted whole, once, when their mtime is at
    least ``compressed_grace_sec`` old (default 60; a being-written
    shard has a fresh mtime), and growth after ingestion raises
    (create them via atomic rename). mtime — unlike an in-memory
    "size stable across two listings" probe — survives driver
    restarts, so an already-ingested shard can never be re-reported
    at offset 0 and regress the checkpoint. Legacy checkpoints
    (name-list offsets) are upgraded in place: listed
    names count as fully ingested at their then-current size.
    """

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("wikidata_dump stream: .load(dir) is required")
        self._batch = WikidataDumpReader(options)
        self._grace = float(options.get("compressed_grace_sec", "60"))
        #: (size, mtime) -> safe_size memo per shard: a static shard
        #: costs one stat per trigger, not a tail read
        self._safe_cache: dict[str, tuple[int, float, int]] = {}
        #: highest offset seen in a committed start — keeps
        #: latestOffset from ever reporting BELOW the checkpoint for a
        #: shard whose readiness signal flaps (offset regression would
        #: re-ingest the shard: duplicates)
        self._floor: dict[str, int] = {}

    def _listing(self) -> list[str]:
        if not os.path.isdir(self.path):
            raise ValueError(
                "wikidata_dump stream: path must be a directory of shards"
            )
        return sorted(
            n
            for n in os.listdir(self.path)
            if not n.startswith(("_", "."))
        )

    #: Backwards-scan bound for the newline search (bytes). A shard
    #: whose tail holds no newline within this window is not (yet)
    #: line-structured at its end — report the last known-safe prefix
    #: and retry next trigger rather than reading the file in full.
    _SCAN_CAP = 64 << 20

    def _safe_size(self, p: str) -> int:
        """Bytes up to and including the shard's last ``\\n`` — the
        longest prefix that is whole lines. Backwards chunked scan,
        memoized on (size, mtime): a static shard costs one stat per
        trigger, and the scan itself is capped at _SCAN_CAP bytes so a
        pathological no-newline file cannot stall the driver on every
        trigger."""
        st = os.stat(p)
        size = int(st.st_size)
        if size == 0:
            return 0
        cached = self._safe_cache.get(p)
        if cached is not None and cached[0] == size and cached[1] == st.st_mtime:
            return cached[2]
        prev_safe = cached[2] if cached is not None else 0
        safe = prev_safe
        with open(p, "rb") as fh:
            pos = size
            chunk = 1 << 20
            # never scan below the already-known safe prefix, and never
            # more than _SCAN_CAP bytes in one trigger
            floor = max(prev_safe, size - self._SCAN_CAP)
            while pos > floor:
                lo = max(floor, pos - chunk)
                fh.seek(lo)
                buf = fh.read(pos - lo)
                i = buf.rfind(b"\n")
                if i >= 0:
                    safe = lo + i + 1
                    break
                pos = lo
        self._safe_cache[p] = (size, st.st_mtime, safe)
        return safe

    @staticmethod
    def _compressed(name: str) -> bool:
        return name.endswith((".bz2", ".gz"))

    def _files_map(self, offset: dict) -> dict[str, int]:
        files = offset.get("files", {})
        if isinstance(files, list):
            # legacy name-list checkpoint: listed shards were
            # "fully ingested" at checkpoint time. Upgrade to the
            # LINE-ALIGNED size, not the raw size — a shard currently
            # ending mid-line would otherwise upgrade to an offset
            # ABOVE what latestOffset can ever report, tripping the
            # shrank-shard guard on every restart. (Bytes appended
            # between the legacy checkpoint and the upgrade are
            # counted as ingested — inherent to name-only offsets,
            # which recorded no byte position.)
            out: dict[str, int] = {}
            for n in files:
                p = os.path.join(self.path, n)
                if not os.path.exists(p):
                    continue
                out[n] = (
                    os.path.getsize(p)
                    if self._compressed(n)
                    else self._safe_size(p)
                )
            return out
        return dict(files)

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"files": {}}

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        import time as _time

        files: dict[str, int] = {}
        for n in self._listing():
            p = os.path.join(self.path, n)
            try:
                if self._compressed(n):
                    finalized = (
                        _time.time() - os.path.getmtime(p) >= self._grace
                    )
                    cand = os.path.getsize(p) if finalized else 0
                else:
                    cand = self._safe_size(p)
            except FileNotFoundError:
                continue  # vanished between listdir and stat
            # never report below a committed offset we've seen: a
            # flapping readiness signal must not regress the
            # checkpoint (Spark stores end wholesale; a lower value
            # would re-emit the shard later = duplicates)
            files[n] = max(cand, self._floor.get(n, 0))
        return {"files": files}

    def partitions(self, start: dict, end: dict):
        s, e = self._files_map(start), self._files_map(end)
        # remember committed offsets: the floor that keeps a later
        # latestOffset from regressing the checkpoint
        for n, v in s.items():
            if v > self._floor.get(n, 0):
                self._floor[n] = v
        out = []
        for n in sorted(e):
            lo, hi = s.get(n, 0), e[n]
            if self._compressed(n) and hi == 0 and lo > 0:
                # shard ingested to `lo` but its mtime is fresh again
                # and no floor was known (first batch after restart):
                # a finalized shard is being modified. Failing the
                # batch is the only safe move — skipping would let
                # Spark commit end=0, regress the checkpoint, and
                # re-ingest the whole shard (duplicates) once the
                # mtime ages past the grace window.
                raise ValueError(
                    f"wikidata_dump stream: compressed shard {n!r} was "
                    f"modified after being ingested to {lo} bytes; "
                    "finalized shards must be immutable (atomic rename "
                    "preserves mtime and cannot trigger this)"
                )
            if hi < lo:
                raise ValueError(
                    f"wikidata_dump stream: shard {n!r} shrank "
                    f"({lo} -> {hi} bytes); shards must only be "
                    "appended to or atomically renamed into place"
                )
            if hi == lo:
                continue
            p = os.path.join(self.path, n)
            if self._compressed(n):
                if lo > 0:
                    raise ValueError(
                        f"wikidata_dump stream: compressed shard {n!r} "
                        "grew after ingestion; compressed shards must "
                        "be finalized before listing (atomic rename)"
                    )
                out.append(_ByteRange(p, 0, hi))
            else:
                out.append(_AlignedRange(p, lo, hi))
        return out

    def read(self, partition) -> Iterator[tuple]:
        if isinstance(partition, _AlignedRange):
            return self._batch.read_aligned(partition)
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # shards are immutable; nothing to clean up


class WikidataDumpDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "wikidata_dump"

    def schema(self) -> str:
        return "id string, entity_type string, line string"

    def reader(self, schema) -> WikidataDumpReader:
        return WikidataDumpReader(self.options)

    def streamReader(self, schema) -> WikidataDumpStreamReader:  # noqa: N802
        return WikidataDumpStreamReader(self.options)
