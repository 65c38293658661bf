"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (north-star extension, BASELINE.json).

Model: a media item is ``(media_id, kind, content: binary,
meta: struct<mime, width, height, duration_ms, sample_rate>)``.
Transformations run as Arrow-batched ``mapInPandas`` — the Spark
plumbing (schemas, batch iteration, partition parallelism, output
contracts) is real and tested, and the *decode* step is real too, for
header-level features: :func:`parse_media_header` is a
dependency-free ``struct``-based container parser for BMP / PNG / GIF
/ WAV / JPEG.  Full pixel/sample decode still needs an injected codec
(no image/audio library ships in this container) — that seam is
:func:`decode_image`'s ``decoder`` argument.

The synthesized fixtures emit REAL container bytes (a valid BMP
header, a valid PNG signature+IHDR with a true CRC-32, GIF89a and
RIFF/WAVE headers), built from hex strings inside Spark SQL so the
DuckDB oracle can reconstruct byte-identical payloads and verify the
parser differentially — the Spark side parses bytes it did not
formula-derive, the oracle formula-derives values it never parsed.

Scale: mapInPandas streams Arrow record batches — constant memory per
task, no driver involvement; binary payloads stay off the driver. At
100 TB the media table partitions by (kind, bucket(media_id)) so
decode fan-out is embarrassingly parallel and a single kind can be
targeted without scanning the rest.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import half_up

MEDIA_SCHEMA = (
    "media_id LONG, kind STRING, content BINARY, "
    "meta STRUCT<mime: STRING, width: INT, height: INT, "
    "duration_ms: INT, sample_rate: INT>"
)

FEATURE_SCHEMA = (
    "media_id LONG, kind STRING, n_bytes INT, checksum STRING, "
    "width INT, height INT, feature ARRAY<FLOAT>"
)

PROBE_SCHEMA = (
    "media_id LONG, mime STRING, width INT, height INT, "
    "duration_ms INT, sample_rate INT, n_bytes INT"
)

#: WAV synthesis parameters (mono 16-bit): byte_rate = rate * 2.
WAV_RATE = 16000
WAV_BYTE_RATE = WAV_RATE * 2


def _le_hex(v_sql: str, nbytes: int, intdiv: str = "div") -> str:
    """SQL for the little-endian ``nbytes`` hex encoding of an integer
    expression. ``intdiv`` is the engine's integer-division token —
    ``div`` for Spark SQL, ``//`` for the DuckDB oracles — everything
    else (lpad/lower/hex/%/||) is shared ANSI-ish surface."""
    return " || ".join(
        f"lpad(lower(hex((({v_sql}) {intdiv} {256 ** i}) % 256)), 2, '0')"
        for i in range(nbytes)
    )


def _be_hex(v_sql: str, nbytes: int) -> str:
    """Big-endian fixed-width hex of an integer expression (PNG ints)."""
    return f"lpad(lower(hex({v_sql})), {2 * nbytes}, '0')"


def _bmp_hex_sql(w_sql: str, h_sql: str, dl_sql: str, intdiv: str = "div") -> str:
    """Hex string of a valid 24-bpp BITMAPINFOHEADER BMP whose pixel
    array is the (caller-appended) payload bytes: 'BM', file size,
    pixel offset 54, header size 40, dims, planes=1, bpp=24,
    uncompressed, image size, 2835 ppm (72 dpi), no palette."""
    le4 = lambda v: _le_hex(v, 4, intdiv)  # noqa: E731
    return (
        f"'424d' || {le4(f'54 + {dl_sql}')} || '0000000036000000' || "
        f"'28000000' || {le4(w_sql)} || {le4(h_sql)} || '01001800' || "
        f"'00000000' || {le4(dl_sql)} || '130b0000130b00000000000000000000'"
    )


def _gif_hex_sql(w_sql: str, h_sql: str, intdiv: str = "div") -> str:
    """GIF89a logical-screen-descriptor hex (dims little-endian u16)."""
    le2 = lambda v: _le_hex(v, 2, intdiv)  # noqa: E731
    return f"'474946383961' || {le2(w_sql)} || {le2(h_sql)} || 'f70000'"


def _png_ihdr_hex_sql(w_sql: str, h_sql: str) -> str:
    """PNG IHDR chunk type+data hex: big-endian dims, bit depth 8,
    color type 2 (truecolor), default compression/filter/interlace."""
    return f"'49484452' || {_be_hex(w_sql, 4)} || {_be_hex(h_sql, 4)} || '0802000000'"


def _wav_hex_sql(dl_sql: str, intdiv: str = "div") -> str:
    """RIFF/WAVE header hex: canonical 16-byte fmt chunk (PCM, mono,
    16-bit, WAV_RATE) + data chunk sized to the payload."""
    le4 = lambda v: _le_hex(v, 4, intdiv)  # noqa: E731
    return (
        f"'52494646' || {le4(f'36 + {dl_sql}')} || '57415645' || "
        f"'666d7420100000000100' || '0100' || {le4(str(WAV_RATE))} || "
        f"{le4(str(WAV_BYTE_RATE))} || '02001000' || "
        f"'64617461' || {le4(dl_sql)}"
    )


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from the documents fixture:
    content = a REAL (valid, uncompressed 24-bpp) BMP header + the
    document text bytes as the pixel array. Dimensions come from the
    doc_id formula, so the DuckDB oracle can rebuild the identical
    bytes and the header parser is tested against ground truth."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL"  # null text cannot form a media payload
    )
    dl = "octet_length(encode(text, 'UTF-8'))"
    bmp = _bmp_hex_sql("doc_id % 64 + 16", "doc_id % 48 + 16", dl)
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.expr(f"unhex({bmp}) || encode(text, 'UTF-8')").alias("content"),
        F.struct(
            F.lit("image/bmp").alias("mime"),
            (F.col("doc_id") % 64 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 48 + 16).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def _jpeg_hex_sql(w_sql: str, h_sql: str) -> str:
    """JPEG SOI + JFIF APP0 + SOF0 hex: the marker walk a parser must
    do to find the frame header (dims big-endian u16 inside SOF0,
    8-bit precision, 3 components with standard sampling/tables)."""
    return (
        "'ffd8' || 'ffe0' || '0010' || '4a46494600010100000100010000' || "
        f"'ffc0' || '0011' || '08' || {_be_hex(h_sql, 2)} || "
        f"{_be_hex(w_sql, 2)} || '03011100021101031101'"
    )


def synthesize_mixed_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-container media table: doc_id % 5 selects PNG / GIF / BMP
    / WAV / JPEG, each with a real header built in SQL (the PNG IHDR
    carries a true CRC-32 via Spark's crc32 over the unhexed chunk
    bytes; the JPEG carries a JFIF APP0 the SOF scan must step over)
    and the text bytes as payload. Exercises every branch of
    :func:`parse_media_header` under the oracle gate."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL"  # null text cannot form a media payload
    )
    dl = "octet_length(encode(text, 'UTF-8'))"
    w, h = "doc_id % 64 + 16", "doc_id % 48 + 16"
    ihdr = _png_ihdr_hex_sql(w, h)
    png = (
        f"'89504e470d0a1a0a' || '0000000d' || {ihdr} || "
        f"{_be_hex(f'crc32(unhex({ihdr}))', 4)}"
    )
    header = (
        f"CASE doc_id % 5 WHEN 0 THEN {png} WHEN 1 THEN "
        f"{_gif_hex_sql(w, h)} WHEN 2 THEN {_bmp_hex_sql(w, h, dl)} "
        f"WHEN 3 THEN {_wav_hex_sql(dl)} ELSE {_jpeg_hex_sql(w, h)} END"
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.expr("CASE WHEN doc_id % 5 = 3 THEN 'audio' ELSE 'image' END").alias(
            "kind"
        ),
        F.expr(f"unhex({header}) || encode(text, 'UTF-8')").alias("content"),
    )


def synthesize_video_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake VIDEO table (content = header + text bytes,
    duration derived from doc_id) — drives the frame-sample fan-out
    path the way :func:`synthesize_media` drives image decode."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL"  # null text cannot form a media payload
    )
    dur = (F.col("doc_id") % 20 * 1000 + 500).cast("int")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.concat(F.lit("VID|"), F.col("text")), "utf-8").alias(
            "content"
        ),
        F.struct(
            F.lit("video/x-fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            dur.alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def parse_media_header(content: bytes) -> dict[str, Any]:
    """Dependency-free media container sniff + header parse (stdlib
    ``struct`` only): BMP, PNG, GIF, RIFF/WAVE, JPEG (SOF scan), plus
    the legacy ``IMG|w|h|`` fixture format.

    Returns ``{mime, width, height, duration_ms, sample_rate,
    data_offset}`` with None for fields the container doesn't carry;
    raises ``ValueError`` on an unrecognized container. This is the
    pure-Python fallback: header features are
    real parsed bytes, only pixel/sample decode remains codec-gated."""
    out: dict[str, Any] = dict(
        mime=None, width=None, height=None, duration_ms=None,
        sample_rate=None, data_offset=None,
    )
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", content[16:24])
        out.update(mime="image/png", width=w, height=h, data_offset=33)
    elif content[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", content[6:10])
        out.update(mime="image/gif", width=w, height=h, data_offset=13)
    elif content[:2] == b"BM":
        off, = struct.unpack("<I", content[10:14])
        w, h = struct.unpack("<ii", content[18:26])
        out.update(mime="image/bmp", width=w, height=h, data_offset=off)
    elif content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        out["mime"] = "audio/wav"
        byte_rate = data_len = None
        pos = 12
        while pos + 8 <= len(content):
            cid = content[pos : pos + 4]
            sz, = struct.unpack("<I", content[pos + 4 : pos + 8])
            if cid == b"fmt ":
                _fmt, _ch, rate, byte_rate, _align, _bits = struct.unpack(
                    "<HHIIHH", content[pos + 8 : pos + 24]
                )
                out["sample_rate"] = rate
            elif cid == b"data":
                data_len = sz
                out["data_offset"] = pos + 8
            pos += 8 + sz + (sz & 1)
        if byte_rate and data_len is not None:
            out["duration_ms"] = data_len * 1000 // byte_rate
    elif content[:2] == b"\xff\xd8":
        out["mime"] = "image/jpeg"
        pos = 2
        while pos + 4 <= len(content):
            if content[pos] != 0xFF:
                break
            marker = content[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seglen, = struct.unpack(">H", content[pos + 2 : pos + 4])
            if marker in (0xC0, 0xC1, 0xC2, 0xC3) and pos + 9 <= len(content):
                h, w = struct.unpack(">HH", content[pos + 5 : pos + 9])
                out.update(width=w, height=h, data_offset=pos + 2 + seglen)
                break
            pos += 2 + seglen
    elif content[:4] == b"IMG|":
        return {**fake_decode(content), "mime": "image/x-fake",
                "duration_ms": None, "sample_rate": None, "data_offset": None}
    else:
        raise ValueError("unrecognized media container")
    return out


def fake_decode(content: bytes) -> dict[str, Any]:
    """Decoder for the legacy ``IMG|w|h|`` fixture format (kept for
    tests that want a codec-free pixel stand-in)."""
    head = content[:32].split(b"|")
    if head[0] != b"IMG":
        raise ValueError("not a fake image")
    w, h = int(head[1]), int(head[2])
    body = content[len(b"IMG||") + len(head[1]) + len(head[2]) + 1 :]
    # "pixels": normalized byte values, truncated/padded to 16 — a
    # deterministic fake for the resize+embed step.
    px = [b / 255.0 for b in body[:16]]
    px += [0.0] * (16 - len(px))
    return {"width": w, "height": h, "pixels": px}


def header_decode(content: bytes) -> dict[str, Any]:
    """Real pure-Python decode of header-level features: container
    parse via :func:`parse_media_header`, "pixels" = the first 16
    payload bytes normalized (the deterministic stand-in for the
    resize+embed step, now anchored at the parsed data offset)."""
    meta = parse_media_header(content)
    if "pixels" in meta:  # legacy fake format already decoded
        return meta
    off = meta.get("data_offset") or 0
    px = [b / 255.0 for b in content[off : off + 16]]
    px += [0.0] * (16 - len(px))
    return {**meta, "pixels": px}


def decode_image(content: bytes, decoder: Callable | None = None) -> dict[str, Any]:
    """Codec seam. With no injected decoder, falls back to the real
    pure-Python header parser (:func:`header_decode`) — full
    pixel-array decode of compressed formats still needs an injected
    codec (e.g. PIL), and an unrecognized container raises."""
    if decoder is not None:
        return decoder(content)
    try:
        return header_decode(content)
    except ValueError as e:
        raise NotImplementedError(
            "no image codec available for this container in this "
            "environment; inject a decoder (e.g. PIL.Image.open-based)"
        ) from e


def extract_features(
    media: DataFrame, decoder: Callable[[bytes], dict[str, Any]] = header_decode
) -> DataFrame:
    """media table → per-item features via Arrow-batched mapInPandas.

    Output: (media_id, kind, n_bytes, checksum, width, height,
    feature array<float>). The UDF processes whole record batches —
    the per-item Python cost is the decoder call only. ``checksum`` is
    md5 over the LOWERCASE HEX of the content bytes (a bijection of
    the payload) so the ANSI-SQL oracle can recompute it: DuckDB's
    md5() takes VARCHAR only, and arbitrary bytes aren't VARCHAR."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["content"].map(len).astype("int32"),
                "checksum": pdf["content"].map(
                    lambda b: hashlib.md5(bytes(b).hex().encode()).hexdigest()
                ),
            }
            decoded = pdf["content"].map(lambda b: decoder(bytes(b)))
            out["width"] = decoded.map(lambda d: d["width"]).astype("int32")
            out["height"] = decoded.map(lambda d: d["height"]).astype("int32")
            out["feature"] = decoded.map(lambda d: d["pixels"])
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def probe_headers(media: DataFrame) -> DataFrame:
    """Arrow-batched header probe: every row's bytes through
    :func:`parse_media_header`, nullable typed metadata out."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = pdf["content"].map(lambda b: parse_media_header(bytes(b)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": parsed.map(lambda d: d["mime"]),
                    "width": pd.array(
                        [d["width"] for d in parsed], dtype="Int32"
                    ),
                    "height": pd.array(
                        [d["height"] for d in parsed], dtype="Int32"
                    ),
                    "duration_ms": pd.array(
                        [d["duration_ms"] for d in parsed], dtype="Int32"
                    ),
                    "sample_rate": pd.array(
                        [d["sample_rate"] for d in parsed], dtype="Int32"
                    ),
                    "n_bytes": pdf["content"].map(len).astype("int32"),
                }
            )

    return media.mapInPandas(batches, PROBE_SCHEMA)


def synthesize_audio_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fixture: a REAL RIFF/WAVE container (PCM, mono, 16-bit,
    WAV_RATE) whose data chunk is the document's text bytes — so the
    DuckDB oracle can reconstruct every 16-bit sample arithmetically
    (texts are pure ASCII: byte i == ascii(char i))."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL"  # null text cannot form a media payload
    ).filter(
        F.expr("octet_length(encode(text, 'UTF-8')) >= 2")
    )
    dl = "octet_length(encode(text, 'UTF-8'))"
    wav = _wav_hex_sql(dl)
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.expr(f"unhex({wav}) || encode(text, 'UTF-8')").alias("content"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.expr(f"CAST({dl} * 1000 DIV {WAV_BYTE_RATE} AS INT)").alias(
                "duration_ms"
            ),
            F.lit(WAV_RATE).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def decode_wav_pcm(content: bytes) -> dict[str, Any]:
    """REAL full-sample audio decode, stdlib + numpy only: walk the
    RIFF chunks, reinterpret the PCM data chunk as little-endian
    int16, and return the signal statistics a curation pipeline
    filters on (silence/clipping screens, duration accounting).

    16-bit PCM needs no codec — this closes the "decode is stubbed"
    gap for audio entirely; only *compressed* media still routes
    through :func:`decode_image`'s injected-codec seam."""
    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    rate = byte_rate = None
    data = b""
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        sz, = struct.unpack("<I", content[pos + 4 : pos + 8])
        if cid == b"fmt ":
            _fmt, _ch, rate, byte_rate, _align, bits = struct.unpack(
                "<HHIIHH", content[pos + 8 : pos + 24]
            )
            if _fmt != 1 or bits != 16:
                raise ValueError("only 16-bit PCM supported")
        elif cid == b"data":
            data = content[pos + 8 : pos + 8 + sz]
        pos += 8 + sz + (sz & 1)
    s = np.frombuffer(data[: len(data) - (len(data) % 2)], dtype="<i2")
    s64 = s.astype(np.int64)
    return {
        "sample_rate": rate,
        "n_samples": int(s.size),
        "sum_sq": int((s64 * s64).sum()),
        "peak": int(np.abs(s64).max()) if s.size else 0,
        "duration_ms": int(len(data) * 1000 // byte_rate),
    }


PCM_SCHEMA = (
    "media_id LONG, sample_rate INT, n_samples LONG, sum_sq LONG, "
    "peak INT, duration_ms INT"
)


def audio_pcm_features(media: DataFrame) -> DataFrame:
    """Arrow-batched PCM decode: every audio row through
    :func:`decode_wav_pcm`. Integer outputs only — RMS is derived
    column-side so the expression is shared with the oracle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dec = pdf["content"].map(lambda b: decode_wav_pcm(bytes(b)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": [d["sample_rate"] for d in dec],
                    "n_samples": [d["n_samples"] for d in dec],
                    "sum_sq": [d["sum_sq"] for d in dec],
                    "peak": [d["peak"] for d in dec],
                    "duration_ms": [d["duration_ms"] for d in dec],
                }
            )

    return media.mapInPandas(batches, PCM_SCHEMA)


def q_audio_pcm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full audio decode under the oracle gate: real WAV containers
    (data chunk = the document's ASCII bytes) decoded sample-by-sample
    with numpy in ``mapInPandas``; RMS/peak/duration emitted. The
    oracle never parses a byte — it derives each 16-bit sample
    arithmetically from the text characters (ascii(cᵢ) + 256·ascii(cᵢ₊₁),
    two's-complement signed) and must reach the exact same integer
    sum-of-squares, so the binary plumbing, the chunk walker, and the
    numpy reinterpretation are all verified against ground truth.
    Sum-of-squares stays integer-exact in both engines; only the final
    RMS division/sqrt is floating (identical inputs → floor-4)."""
    feats = audio_pcm_features(synthesize_audio_media(spark, sf_dir))
    rms = F.sqrt(F.col("sum_sq") / F.col("n_samples"))
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "sum_sq",
        "peak",
        half_up(rms, 4).alias("rms"),
        "duration_ms",
    ).orderBy("media_id")


#: Dimensions for the pixel-decode fixture: 4×4 at 24 bpp → 12-byte
#: rows, already 4-byte aligned (no BMP row padding to model).
IMG_W = IMG_H = 4
IMG_BYTES = IMG_W * IMG_H * 3


def synthesize_bitmap_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-consistent BMP fixture: a valid 24-bpp header whose pixel
    array is EXACTLY the first IMG_BYTES ASCII bytes of the document —
    unlike :func:`synthesize_media` (header-parse fixture, payload =
    whole text), this one is dimensionally consistent so full pixel
    decode is meaningful."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL"  # null text cannot form a media payload
    ).filter(
        F.length("text") >= IMG_BYTES
    )
    bmp = _bmp_hex_sql(str(IMG_W), str(IMG_H), str(IMG_BYTES))
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.expr(
            f"unhex({bmp}) || encode(substr(text, 1, {IMG_BYTES}), 'UTF-8')"
        ).alias("content"),
    )


def decode_bmp_pixels(content: bytes) -> dict[str, Any]:
    """REAL full-pixel image decode, stdlib + numpy only: uncompressed
    24-bpp BMP → (h, w, 3) BGR array, honoring the format's
    bottom-up row order and 4-byte row stride. Returns exact integer
    channel sums plus the TOP-LEFT pixel — which lives in the LAST
    file row, so a decoder that ignores bottom-up storage fails the
    oracle. Like WAV/PCM, uncompressed BMP needs no codec; this
    closes the decode gap for raw images."""
    import numpy as np

    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    off, = struct.unpack("<I", content[10:14])
    w, h = struct.unpack("<ii", content[18:26])
    bpp, = struct.unpack("<H", content[28:30])
    if bpp != 24:
        raise ValueError("only 24-bpp supported")
    stride = ((w * 3 + 3) // 4) * 4
    rows = [
        np.frombuffer(
            content[off + (h - 1 - y) * stride :][: w * 3], dtype=np.uint8
        ).reshape(w, 3)
        for y in range(h)
    ]
    img = np.stack(rows).astype(np.int64)  # (h, w, BGR)
    sums = img.sum(axis=(0, 1))
    return {
        "width": w,
        "height": h,
        "sum_b": int(sums[0]),
        "sum_g": int(sums[1]),
        "sum_r": int(sums[2]),
        "tl_b": int(img[0, 0, 0]),
        "tl_g": int(img[0, 0, 1]),
        "tl_r": int(img[0, 0, 2]),
    }


PIXEL_SCHEMA = (
    "media_id LONG, width INT, height INT, sum_b LONG, sum_g LONG, "
    "sum_r LONG, tl_b INT, tl_g INT, tl_r INT"
)


def q_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full image decode under the oracle gate: dimensionally-real BMP
    bytes decoded pixel-by-pixel (numpy, bottom-up rows) in
    ``mapInPandas``; exact integer channel sums and the top-left pixel
    out. The oracle derives every value arithmetically from the ASCII
    payload characters — the top-left pixel sits in the LAST file row
    (byte offset (h−1)·stride), so row-order handling is verified, not
    just byte accounting."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dec = pdf["content"].map(lambda b: decode_bmp_pixels(bytes(b)))
            out = {"media_id": pdf["media_id"]}
            for k in (
                "width", "height", "sum_b", "sum_g", "sum_r",
                "tl_b", "tl_g", "tl_r",
            ):
                out[k] = [d[k] for d in dec]
            yield pd.DataFrame(out)

    media = synthesize_bitmap_media(spark, sf_dir)
    return media.mapInPandas(batches, PIXEL_SCHEMA).orderBy("media_id")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal decode pipeline under the driver's oracle gate:
    synthesize the binary media table (real BMP bytes) from
    ``documents``, run the Arrow-batched ``mapInPandas`` feature
    extraction with the REAL pure-Python header decoder, and emit the
    SQL-expressible outputs (byte length, hex-md5 checksum, parsed
    dimensions). The oracle rebuilds the identical BMP bytes in DuckDB
    from the synthesis formulas — so both the batch plumbing AND the
    struct-based BMP parser are verified end-to-end differentially."""
    feats = extract_features(synthesize_media(spark, sf_dir))
    return feats.select(
        "media_id", "kind", "n_bytes", "checksum", "width", "height"
    ).orderBy("media_id")


def q_media_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-container header probe under the oracle gate: PNG / GIF /
    BMP / WAV bytes (by doc_id % 4) parsed by the stdlib container
    parser; the oracle formula-derives every field the parser must
    recover from the bytes (dimensions, sample rate, duration,
    lengths)."""
    return probe_headers(synthesize_mixed_media(spark, sf_dir)).orderBy(
        "media_id"
    )


_ORACLE_DL = "octet_length(encode(text))"

ORACLES: dict[str, str] = {
    "multimodal_features": f"""
        WITH m AS (
            SELECT doc_id AS media_id,
                   'image' AS kind,
                   {_ORACLE_DL} AS dl,
                   lower(hex(encode(text))) AS payload_hex,
                   CAST(doc_id % 64 + 16 AS INT) AS width,
                   CAST(doc_id % 48 + 16 AS INT) AS height
            FROM documents
        )
        SELECT media_id, kind,
               CAST(54 + dl AS INT) AS n_bytes,
               md5({_bmp_hex_sql('width', 'height', 'dl', intdiv='//')}
                   || payload_hex) AS checksum,
               width, height
        FROM m
        ORDER BY media_id
    """,
    "media_header_probe": f"""
        WITH m AS (
            SELECT doc_id AS media_id, doc_id % 5 AS v,
                   {_ORACLE_DL} AS dl,
                   CAST(doc_id % 64 + 16 AS INT) AS w,
                   CAST(doc_id % 48 + 16 AS INT) AS h
            FROM documents
        )
        SELECT media_id,
               CASE v WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                      WHEN 2 THEN 'image/bmp' WHEN 3 THEN 'audio/wav'
                      ELSE 'image/jpeg' END AS mime,
               CASE WHEN v = 3 THEN NULL ELSE w END AS width,
               CASE WHEN v = 3 THEN NULL ELSE h END AS height,
               CASE WHEN v = 3
                    THEN CAST(dl * 1000 // {WAV_BYTE_RATE} AS INT)
                    ELSE NULL END AS duration_ms,
               CASE WHEN v = 3 THEN {WAV_RATE} ELSE NULL END AS sample_rate,
               CAST(CASE v WHEN 0 THEN 33 WHEN 1 THEN 13 WHEN 2 THEN 54
                           WHEN 3 THEN 44 ELSE 39 END + dl AS INT) AS n_bytes
        FROM m
        ORDER BY media_id
    """,
}

ORACLES["audio_pcm_features"] = f"""
    WITH d AS (
        SELECT doc_id, text, octet_length(encode(text)) AS dl
        FROM documents
        WHERE octet_length(encode(text)) >= 2
    ), s AS (
        SELECT doc_id, dl,
               unnest(list_transform(range(1, dl // 2 + 1), i ->
                   CASE WHEN ascii(substr(text, CAST(2*i - 1 AS INT), 1))
                             + 256 * ascii(substr(text, CAST(2*i AS INT), 1))
                             >= 32768
                        THEN ascii(substr(text, CAST(2*i - 1 AS INT), 1))
                             + 256 * ascii(substr(text, CAST(2*i AS INT), 1))
                             - 65536
                        ELSE ascii(substr(text, CAST(2*i - 1 AS INT), 1))
                             + 256 * ascii(substr(text, CAST(2*i AS INT), 1))
                   END)) AS smp
        FROM d
    )
    SELECT doc_id AS media_id,
           CAST({WAV_RATE} AS INT) AS sample_rate,
           count(*) AS n_samples,
           CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
           CAST(max(abs(smp)) AS INT) AS peak,
           floor(sqrt(sum(smp * smp) / CAST(count(*) AS DOUBLE)) * 1e4 + 0.5)
               / 1e4 AS rms,
           CAST(min(dl) * 1000 // {WAV_BYTE_RATE} AS INT) AS duration_ms
    FROM s
    GROUP BY doc_id
    ORDER BY media_id
"""

#: Top-left pixel of a bottom-up 4×4×24bpp BMP = payload bytes 37-39
#: (1-based): file row h−1 starts at byte offset (h−1)·stride = 36.
_TL_OFFSET = (IMG_H - 1) * IMG_W * 3

ORACLES["image_pixel_stats"] = f"""
    WITH d AS (
        SELECT doc_id, substr(text, 1, {IMG_BYTES}) AS t
        FROM documents WHERE length(text) >= {IMG_BYTES}
    ), s AS (
        SELECT doc_id, t, unnest(range(1, {IMG_BYTES + 1})) AS k FROM d
    ), v AS (
        SELECT doc_id, k, ascii(substr(t, CAST(k AS INT), 1)) AS b FROM s
    )
    SELECT doc_id AS media_id,
           CAST({IMG_W} AS INT) AS width,
           CAST({IMG_H} AS INT) AS height,
           CAST(sum(CASE WHEN (k-1) % 3 = 0 THEN b ELSE 0 END) AS BIGINT)
               AS sum_b,
           CAST(sum(CASE WHEN (k-1) % 3 = 1 THEN b ELSE 0 END) AS BIGINT)
               AS sum_g,
           CAST(sum(CASE WHEN (k-1) % 3 = 2 THEN b ELSE 0 END) AS BIGINT)
               AS sum_r,
           CAST(max(CASE WHEN k = {_TL_OFFSET + 1} THEN b END) AS INT)
               AS tl_b,
           CAST(max(CASE WHEN k = {_TL_OFFSET + 2} THEN b END) AS INT)
               AS tl_g,
           CAST(max(CASE WHEN k = {_TL_OFFSET + 3} THEN b END) AS INT)
               AS tl_r
    FROM v
    GROUP BY doc_id
    ORDER BY media_id
"""

QUERIES = {
    "multimodal_features": q_multimodal_features,
    "media_header_probe": q_media_header_probe,
    "audio_pcm_features": q_audio_pcm_features,
    "image_pixel_stats": q_image_pixel_stats,
}


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expand each video item into frame
    timestamps (pure Column exprs; the decode of each frame is the
    stubbed codec seam). Demonstrates the explode-based fan-out that a
    real frame extractor would parallelize over."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )
