"""Multimodal column plumbing — driver north-star extension.

Image/audio/video content is modeled as opaque `binary` payload columns
plus a typed metadata struct. Every per-item kernel runs through one
helper, `_map_items`: an Arrow-batched `mapInPandas` stage that calls a
plain per-item function once per input row, so the Python stage sees
columnar batches on both sides and each kernel states only its per-item
arithmetic.

Two kinds of kernel run here:

* byte-level stand-ins over the documents' utf-8 text (features, frame
  sampling, resize, audio chunking, scene cuts). The ASCII fixture makes
  byte windows equal text substrings, so each kernel is oracle-checked;
* executed decoders that need no codec library: a generic 24-bit
  uncompressed BMP parser (`decode_bmp`) and a RIFF/WAV PCM-16 chunk
  walker (`decode_wav_pcm16`). Their payloads are synthesized per doc
  from a closed-form byte formula, and the DuckDB oracles recompute the
  expected pixel/sample checksums from that formula arithmetically,
  never parsing the container, so any decoder bug surfaces as a value
  mismatch.

Scale notes: payloads at 100 TB dominate row size, so the rule is
(1) never shuffle payload columns — project them away before any join/agg;
(2) size `spark.sql.files.maxPartitionBytes` so a batch of payloads fits
the Arrow buffer; (3) feature extraction is map-only → zero shuffles here.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import register

_PANDAS_DTYPES = {"long": "int64", "int": "int32"}


def _map_items(
    df: DataFrame, item_fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """One Arrow-batched `mapInPandas` stage that calls `item_fn(*row)`
    once per input row, with the row's values in `df`'s column order.
    `item_fn` returns (or yields) that item's output rows as tuples in
    `schema` order — none, one or many per item. Each output batch is
    rebuilt with the dtypes the DDL `schema` declares (`long` → int64,
    `int` → int32, anything else object), so an empty batch keeps its
    types. The stage carries `item_fn`'s name, so the plan shows
    `MapInPandas <item_fn>(...)` and two kernels of one query stay
    distinguishable."""
    fields = [f.split() for f in schema.split(",")]
    names = [name for name, _ in fields]
    dtypes = {name: _PANDAS_DTYPES.get(t, "object") for name, t in fields}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for item in zip(*(pdf[c] for c in pdf.columns))
                for out in item_fn(*item)
            ]
            yield pd.DataFrame.from_records(rows, columns=names).astype(dtypes)

    kernel.__name__ = kernel.__qualname__ = item_fn.__name__
    return df.mapInPandas(kernel, schema=schema)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Model each document as a multimodal record: opaque binary payload +
    typed metadata struct. (Fixtures have no real media, so the payload is
    the utf-8 content — the schema/partitioning shape is what matters.)"""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime_type"),
            F.length(payload).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


_FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, payload_md5 string, width int, height int"
)


def _extract_features(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """Deterministic stand-in for a decode+feature kernel: byte length, md5,
    and a pseudo width/height derived from the first two bytes — the exact
    shape a real decoder (PIL / ffmpeg / torchcodec) would slot into."""
    b = bytes(payload)
    yield (
        doc_id,
        len(b),
        hashlib.md5(b).hexdigest(),
        b[0] % 64 + 1 if len(b) else 0,
        b[1] % 64 + 1 if len(b) > 1 else 0,
    )


_FEATURES_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER)          AS n_bytes,
       md5(text)                                            AS payload_md5,
       -- degenerate-input guards mirror the kernel: width/height are 0 for
       -- empty / single-char payloads (ascii('') would otherwise yield 1)
       CASE WHEN length(text) >= 1
            THEN CAST(ascii(substr(text, 1, 1)) % 64 + 1 AS INTEGER)
            ELSE 0 END                                      AS width,
       CASE WHEN length(text) > 1
            THEN CAST(ascii(substr(text, 2, 1)) % 64 + 1 AS INTEGER)
            ELSE 0 END                                      AS height
FROM documents
ORDER BY doc_id
"""


@register("multimodal_feature_extract", oracle=_FEATURES_ORACLE, tags=("llm", "multimodal"))
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline shape: attach binary payload + typed
    metadata, drop payload from every relational path, run the decode/
    feature kernel via mapInPandas (Arrow batches), return a typed feature
    table. The oracle reproduces the deterministic byte features in SQL —
    proving the Python batch path loses nothing."""
    docs = load_tables(spark, sf_dir)["documents"]
    records = attach_payload(docs)
    features = _map_items(
        records.select("doc_id", "payload"), _extract_features, _FEATURE_SCHEMA
    )
    return features.orderBy("doc_id")


_META_STATS_ORACLE = """
SELECT 'text/plain' AS mime_type,
       source AS origin,
       count(*) AS n_items,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
FROM documents
GROUP BY origin
ORDER BY mime_type, origin
"""


@register("multimodal_metadata_stats", oracle=_META_STATS_ORACLE, tags=("llm", "multimodal"))
def multimodal_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation over multimodal records: the payload column
    is pruned at the scan (verify via ReadSchema) — the query never touches
    the heavy bytes. The flattened output (mime_type, origin, counts,
    bytes) is plain relational, so it oracle-pairs directly; the payload
    -pruning claim is asserted separately in tests/test_plans.py."""
    docs = load_tables(spark, sf_dir)["documents"]
    records = attach_payload(docs)
    return (
        records.select("doc_id", "meta.mime_type", "meta.n_bytes", "meta.origin")
        .groupBy("mime_type", "origin")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .orderBy("mime_type", "origin")
    )


_FRAME_SIZE = 16  # bytes per pseudo-frame
_FRAME_STRIDE = 64  # bytes between sampled frame starts
_MAX_FRAMES = 4  # frames sampled per item

_FRAME_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"


def _sample_frames(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """Frame-sampling kernel shape: emit a VARIABLE number of rows per
    input item (one per sampled frame, none under one frame) — the
    plumbing a video decoder (stride-sample k frames, embed each) slots
    into. Deterministic stand-in: fixed-size byte windows at a fixed
    stride."""
    b = bytes(payload)
    if len(b) < _FRAME_SIZE:
        return
    n_frames = min(_MAX_FRAMES, (len(b) - _FRAME_SIZE) // _FRAME_STRIDE + 1)
    for i in range(n_frames):
        start = i * _FRAME_STRIDE
        yield doc_id, i, hashlib.md5(b[start : start + _FRAME_SIZE]).hexdigest()


_FRAME_ORACLE = f"""
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_idx,
       md5(substr(text, CAST(i * {_FRAME_STRIDE} + 1 AS INTEGER), {_FRAME_SIZE})) AS frame_md5
FROM documents,
     unnest(range(0, least({_MAX_FRAMES},
                           CAST(floor((length(text) - {_FRAME_SIZE}) / {_FRAME_STRIDE}) AS BIGINT) + 1))) AS t(i)
WHERE length(text) >= {_FRAME_SIZE}
ORDER BY doc_id, frame_idx
"""


@register("multimodal_frame_sample", oracle=_FRAME_ORACLE, tags=("llm", "multimodal"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-based frame sampling over binary payloads via mapInPandas —
    one item expands to k frame rows (the video path: sample frames, then
    embed/caption each). The ASCII fixture makes byte windows equal text
    substrings, so the kernel is oracle-checkable end-to-end."""
    docs = load_tables(spark, sf_dir)["documents"]
    records = attach_payload(docs)
    frames = _map_items(
        records.select("doc_id", "payload"), _sample_frames, _FRAME_SCHEMA
    )
    return frames.orderBy("doc_id", "frame_idx")


_RESIZE_TARGET = 64  # bytes in the "resized" payload

_RESIZE_SCHEMA = "doc_id long, out_bytes int, resized_md5 string"


def _resize_payloads(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """Resize kernel shape: per item, produce a fixed-size output payload
    (truncate or zero-pad to _RESIZE_TARGET bytes) — where a real image
    resize (decode -> scale -> re-encode) slots in. Deterministic, so the
    plumbing is oracle-checkable."""
    resized = bytes(payload)[:_RESIZE_TARGET].ljust(_RESIZE_TARGET, b"0")
    yield doc_id, len(resized), hashlib.md5(resized).hexdigest()


_RESIZE_ORACLE = f"""
SELECT doc_id,
       {_RESIZE_TARGET} AS out_bytes,
       md5(substr(text, 1, {_RESIZE_TARGET})
           || repeat('0', {_RESIZE_TARGET} - least({_RESIZE_TARGET}, length(text))))
         AS resized_md5
FROM documents
ORDER BY doc_id
"""


@register("multimodal_resize", oracle=_RESIZE_ORACLE, tags=("llm", "multimodal"))
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size payload normalization via mapInPandas — the resize step
    of an image pipeline with the codec swapped for a deterministic
    truncate-or-pad with '0' bytes (printable, so the ASCII fixture keeps
    byte ops equal to VARCHAR ops in the oracle — DuckDB's md5 is
    VARCHAR-only). One map-only Arrow pass; output size is constant per item, so
    downstream batch shapes are predictable — exactly why real pipelines
    resize before batching."""
    docs = load_tables(spark, sf_dir)["documents"]
    records = attach_payload(docs)
    out = _map_items(
        records.select("doc_id", "payload"), _resize_payloads, _RESIZE_SCHEMA
    )
    return out.orderBy("doc_id")


# ----------------------------------------------- audio chunk planning

_CHUNK_BYTES = 64  # fixture-scaled stand-in for 1 s of PCM (32k bytes IRL)

_AUDIO_CHUNK_SCHEMA = (
    "doc_id long, source string, chunk_idx int, chunk_bytes int, chunk_md5 string"
)


def _chunk_audio(doc_id: int, source: str, payload: bytes) -> Iterator[tuple]:
    """Audio chunking kernel shape: split each payload into fixed-duration
    chunks (here _CHUNK_BYTES bytes ~ 1 s of PCM; the tail chunk keeps its
    short length — ASR-style pipelines pad it downstream), fingerprint
    each chunk. Where a real resample/VAD/feature step slots in; the
    chunk math and batch shape are the real thing."""
    b = bytes(payload)
    for i in range(max(1, -(-len(b) // _CHUNK_BYTES))):
        piece = b[i * _CHUNK_BYTES : (i + 1) * _CHUNK_BYTES]
        yield doc_id, source, i, len(piece), hashlib.md5(piece).hexdigest()


_AUDIO_CHUNK_ORACLE = f"""
WITH chunks AS (
  SELECT doc_id, source,
         least({_CHUNK_BYTES},
               length(text) - CAST(i AS INTEGER) * {_CHUNK_BYTES}) AS chunk_bytes,
         md5(substr(text, CAST(i AS INTEGER) * {_CHUNK_BYTES} + 1,
                    {_CHUNK_BYTES})) AS chunk_md5
  FROM documents,
       unnest(range(0, greatest(1, CAST(ceil(length(text) / {_CHUNK_BYTES}.0)
                                       AS BIGINT)))) AS t(i)
)
SELECT source,
       count(DISTINCT doc_id) AS n_items,
       count(*) AS n_chunks,
       count(*) FILTER (WHERE chunk_bytes = {_CHUNK_BYTES}) AS n_full_chunks,
       CAST(sum(chunk_bytes) AS BIGINT) AS total_chunk_bytes,
       count(DISTINCT chunk_md5) AS n_distinct_chunks
FROM chunks
GROUP BY source
ORDER BY source
"""


@register("multimodal_audio_chunks", oracle=_AUDIO_CHUNK_ORACLE, tags=("llm", "multimodal"))
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunk planning: every payload splits into fixed-duration
    chunks via an Arrow-batched mapInPandas kernel (one item → k chunk
    rows, short tail kept), then a per-source rollup reports chunk counts,
    byte volume, and DISTINCT chunk fingerprints — the audio-dedup signal
    (identical intros/silence chunks collapse, the audio analog of the
    text chunk-dedup tier). The ASCII fixture makes byte slices equal
    text substrings, so the kernel is oracle-checkable end-to-end.

    Scale shape: chunking is map-only — source rides through the kernel,
    so NO join touches the payload-bearing relation; the only shuffle is
    the final per-source aggregation, which moves (source, counts) rows
    and md5 strings for the distinct count (at 100 TB you'd swap the
    exact distinct for the HLL sketch tier, same contract as
    sketch_approx_distinct). Payload columns never shuffle — the rule
    stated in the module docstring."""
    docs = load_tables(spark, sf_dir)["documents"]
    records = attach_payload(docs).select(
        "doc_id", F.col("meta.origin").alias("source"), "payload"
    )
    chunks = _map_items(records, _chunk_audio, _AUDIO_CHUNK_SCHEMA)
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_items"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("chunk_bytes") == _CHUNK_BYTES, 1).otherwise(0)
            ).alias("n_full_chunks"),
            F.sum("chunk_bytes").cast("long").alias("total_chunk_bytes"),
            F.countDistinct("chunk_md5").alias("n_distinct_chunks"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------- scene-cut detection

_SCENE_FRAME = 16  # bytes per dense pseudo-frame (contiguous, stride == size)
_SCENE_MAX_FRAMES = 32  # analysis window per item
_SCENE_CUT_THRESH = 64  # |luminance delta| that counts as a cut

_SCENE_ORACLE = f"""
WITH f AS (
  SELECT doc_id, CAST(t.i AS INTEGER) AS i,
         list_sum(list_transform(range(1, {_SCENE_FRAME} + 1),
                  j -> ord(substr(text,
                                  CAST(i * {_SCENE_FRAME} + j AS INTEGER), 1))))
           AS lum
  FROM documents,
       unnest(range(0, least({_SCENE_MAX_FRAMES},
                             length(text) // {_SCENE_FRAME}))) AS t(i)
  WHERE length(text) >= {_SCENE_FRAME}
),
d AS (
  SELECT doc_id, i, lum,
         lum - lag(lum) OVER (PARTITION BY doc_id ORDER BY i) AS delta
  FROM f
)
SELECT doc_id,
       count(*) AS n_frames,
       count(*) FILTER (WHERE abs(delta) > {_SCENE_CUT_THRESH}) AS n_cuts,
       CAST(sum(lum) AS BIGINT) AS total_lum
FROM d
GROUP BY doc_id
ORDER BY doc_id
"""

_SCENE_SCHEMA = "doc_id long, n_frames long, n_cuts long, total_lum long"


def _detect_scene_cuts(doc_id: int, payload: bytes) -> Iterator[tuple]:
    """Scene-cut kernel shape: decode frames, reduce each to a luminance
    statistic, flag big deltas between CONSECUTIVE frames — where a real
    video decoder + histogram-difference detector slots in. Deterministic
    stand-in: dense contiguous byte windows, luminance = byte sum. Items
    shorter than one frame emit no row."""
    b = bytes(payload)
    n = min(_SCENE_MAX_FRAMES, len(b) // _SCENE_FRAME)
    if n == 0:
        return
    mat = np.frombuffer(b[: n * _SCENE_FRAME], dtype=np.uint8).reshape(
        n, _SCENE_FRAME
    )
    lum = mat.sum(axis=1, dtype=np.int64)
    n_cuts = int((np.abs(np.diff(lum)) > _SCENE_CUT_THRESH).sum())
    yield doc_id, n, n_cuts, int(lum.sum())


# ----------------------- executable decode kernels (no codecs needed)
#
# The runtime ships no image/audio codec library, but two real container
# formats need none: uncompressed 24-bit BMP (a header parse + padding/
# row-order/channel-order normalization) and RIFF/WAV 16-bit PCM (a
# chunk walk + struct unpack). Each gets (a) a deterministic synthetic
# payload generated from doc_id by a closed-form byte formula, (b) a
# GENERIC parser that trusts only the container headers, and (c) a
# DuckDB oracle that recomputes the expected pixel/sample checksums
# from the same closed form ARITHMETICALLY — it never parses the
# container, so any decoder bug (padding, bottom-up flip, BGR order,
# chunk offsets, signed 16-bit handling) surfaces as a value mismatch.

_BMP_MOD = 251  # prime < 256: byte formula cycles through distinct values


def _bmp_dims(doc_id: int) -> tuple[int, int]:
    return doc_id % 5 + 3, doc_id % 4 + 2  # width 3-7, height 2-5


def _pack_bmp24(w: int, h: int, rgb: bytes) -> bytes:
    """Wrap a top-down row-major RGB stream in a 24-bit uncompressed BMP
    container. The container stores rows BOTTOM-UP in BGR with rows
    padded to 4 bytes — the three traps a naive reader gets wrong,
    deliberately present."""
    pad = (4 - (w * 3) % 4) % 4
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            o = (y * w + x) * 3
            row += bytes((rgb[o + 2], rgb[o + 1], rgb[o]))  # RGB → BGR
        rows.append(bytes(row) + b"\x00" * pad)
    pixels = b"".join(rows)
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + pixels


def synthesize_bmp(doc_id: int) -> bytes:
    """Deterministic 24-bit uncompressed BMP for one doc: pixel byte i of
    the TOP-DOWN ROW-MAJOR RGB stream is (doc_id*31 + i*7) % 251."""
    w, h = _bmp_dims(doc_id)
    rgb = bytes((doc_id * 31 + i * 7) % _BMP_MOD for i in range(w * h * 3))
    return _pack_bmp24(w, h, rgb)


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Generic uncompressed-24-bit-BMP parser: trusts only the headers
    (magic, pixel offset, BITMAPINFOHEADER dims/bpp/compression), strips
    row padding, flips bottom-up storage to top-down, reorders BGR→RGB.
    Returns (width, height, top-down row-major RGB bytes). Raises
    ValueError on anything malformed or unsupported."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp})")
    if w <= 0 or h == 0:
        raise ValueError("degenerate BMP dimensions")
    if offset < 14 + hdr_size or offset > len(payload):
        # a malformed offset pointing into (or before) the header region
        # would otherwise silently decode header bytes as pixels — the
        # contract promises ValueError instead
        raise ValueError(f"pixel offset {offset} inside header or past EOF")
    bottom_up, h = h > 0, abs(h)
    stride = (w * 3 + 3) // 4 * 4
    if len(payload) < offset + stride * h:
        raise ValueError("truncated BMP pixel array")
    out = bytearray(w * h * 3)
    for y in range(h):
        src = offset + (h - 1 - y if bottom_up else y) * stride
        for x in range(w):
            b, g, r = payload[src + x * 3 : src + x * 3 + 3]
            o = (y * w + x) * 3
            out[o], out[o + 1], out[o + 2] = r, g, b
    return w, h, bytes(out)


_BMP_DECODE_SCHEMA = (
    "doc_id long, width int, height int, n_bytes int, "
    "pixel_sum long, pixel_weighted long"
)


def _payloads(docs: DataFrame, synth: Callable[[int], bytes]) -> DataFrame:
    """(doc_id, payload) rows, the payload synthesized per doc by `synth`
    in one Arrow stage — standing in for payloads read from object
    storage. The stage is named after `synth` in the plan."""

    def item(doc_id: int) -> Iterator[tuple]:
        yield doc_id, synth(int(doc_id))

    item.__name__ = synth.__name__
    return _map_items(docs.select("doc_id"), item, "doc_id long, payload binary")


def _weighted_sum(values) -> int:
    """sum((i + 1) * v): a position-sensitive checksum, so a reordered
    stream (wrong flip, channel order or chunk offset) changes it."""
    return sum((i + 1) * v for i, v in enumerate(values))


def _decode_bmp_batches(doc_id: int, payload: bytes) -> Iterator[tuple]:
    w, h, rgb = decode_bmp(bytes(payload))
    yield doc_id, w, h, len(rgb), sum(rgb), _weighted_sum(rgb)


_BMP_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, doc_id % 5 + 3 AS w, doc_id % 4 + 2 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, t.i AS i,
         (doc_id * 31 + t.i * 7) % {_BMP_MOD} AS v
  FROM dims, unnest(range(0, w * h * 3)) AS t(i)
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h * 3 AS INTEGER) AS n_bytes,
       CAST(sum(v) AS BIGINT) AS pixel_sum,
       CAST(sum((i + 1) * v) AS BIGINT) AS pixel_weighted
FROM px
GROUP BY doc_id, w, h
ORDER BY doc_id
"""


@register("multimodal_bmp_decode", oracle=_BMP_ORACLE, tags=("llm", "multimodal"))
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executed image-decode path: each doc gets a deterministic
    24-bit uncompressed BMP (synthesized in one Arrow stage — standing
    in for payloads read from object storage), and a second Arrow stage
    runs the dependency-free GENERIC parser `decode_bmp` — header-driven,
    stripping row padding, flipping the bottom-up row order, reordering
    BGR→RGB. The oracle recomputes the expected pixel stream
    arithmetically from the generator's closed form and never touches
    the container, so every normalization step the decoder performs is
    value-checked: get padding, flip, or channel order wrong and
    pixel_weighted shifts.

    Scale shape: two chained map-only Arrow stages, payload never
    shuffles (only the 6-number feature rows do); the presentation sort
    is the one exchange."""
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_items(
        _payloads(docs, synthesize_bmp), _decode_bmp_batches, _BMP_DECODE_SCHEMA
    ).orderBy("doc_id")


# -------------------------------------------------- WAV 16-bit PCM decode

_WAV_SAMPLE_MOD = 4096  # sample formula: ((doc_id*13 + i*5) % 4096) - 2048


def _wav_params(doc_id: int) -> tuple[int, int]:
    return doc_id % 50 + 20, 8000 + (doc_id % 4) * 4000  # n_samples, rate


def synthesize_wav(doc_id: int) -> bytes:
    """Deterministic RIFF/WAV, mono 16-bit PCM: sample i is
    ((doc_id*13 + i*5) % 4096) - 2048, little-endian signed. A JUNK
    chunk precedes fmt so a reader that assumes fixed offsets (fmt at
    12, data at 36) reads garbage — the chunk walk is mandatory."""
    n, rate = _wav_params(doc_id)
    samples = [
        ((doc_id * 13 + i * 5) % _WAV_SAMPLE_MOD) - _WAV_SAMPLE_MOD // 2
        for i in range(n)
    ]
    data = struct.pack(f"<{n}h", *samples)
    junk = b"JUNK" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16
    )
    body = b"WAVE" + junk + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm16(payload: bytes) -> tuple[int, list[int]]:
    """Generic RIFF/WAV PCM-16 parser: walks the chunk list (2-byte
    aligned), requires a PCM mono 16-bit fmt chunk before data, unpacks
    signed little-endian samples. Returns (sample_rate, samples).
    Raises ValueError on malformed or unsupported payloads."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, n_channels, bits = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            # without this guard a truncated chunk body falls through
            # to struct.unpack and escapes as struct.error
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt_tag, n_channels, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if fmt_tag != 1:
                raise ValueError(f"not PCM (fmt tag {fmt_tag})")
        elif cid == b"data":
            if rate is None:
                raise ValueError("data chunk before fmt")
            if (n_channels, bits) != (1, 16):
                raise ValueError(
                    f"unsupported layout ({n_channels}ch/{bits}bit)"
                )
            # len(body) == size is guaranteed by the truncated-chunk
            # guard above; only odd sample sizes remain to reject
            if size % 2:
                raise ValueError("odd-sized PCM16 data chunk")
            return rate, list(struct.unpack(f"<{size // 2}h", body))
        pos += 8 + size + (size % 2)  # RIFF chunks are 2-byte aligned
    raise ValueError("no data chunk")


_WAV_DECODE_SCHEMA = (
    "doc_id long, n_samples int, sample_rate int, "
    "sample_sum long, sample_weighted long, peak int"
)


def _decode_wav_batches(doc_id: int, payload: bytes) -> Iterator[tuple]:
    rate, samples = decode_wav_pcm16(bytes(payload))
    peak = max(abs(s) for s in samples)
    yield doc_id, len(samples), rate, sum(samples), _weighted_sum(samples), peak


_WAV_ORACLE = f"""
WITH params AS (
  SELECT doc_id, doc_id % 50 + 20 AS n,
         8000 + (doc_id % 4) * 4000 AS rate
  FROM documents
),
s AS (
  SELECT doc_id, n, rate, t.i AS i,
         (doc_id * 13 + t.i * 5) % {_WAV_SAMPLE_MOD}
           - {_WAV_SAMPLE_MOD // 2} AS v
  FROM params, unnest(range(0, n)) AS t(i)
)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_samples,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(sum(v) AS BIGINT) AS sample_sum,
       CAST(sum((i + 1) * v) AS BIGINT) AS sample_weighted,
       CAST(max(abs(v)) AS INTEGER) AS peak
FROM s
GROUP BY doc_id, n, rate
ORDER BY doc_id
"""


@register("multimodal_wav_decode", oracle=_WAV_ORACLE, tags=("llm", "multimodal"))
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executed audio-decode path: deterministic RIFF/WAV
    mono-PCM-16 payloads (with a planted JUNK chunk so fixed-offset
    readers fail) decoded by the dependency-free chunk-walking parser
    `decode_wav_pcm16` in an Arrow batch stage. The oracle recomputes
    the signed sample stream arithmetically from the generator's closed
    form — chunk-walk, alignment, or signedness bugs all shift
    sample_weighted/peak. Same two-map-stage scale shape as the BMP
    twin: payloads never shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_items(
        _payloads(docs, synthesize_wav), _decode_wav_batches, _WAV_DECODE_SCHEMA
    ).orderBy("doc_id")


@register("multimodal_scene_cuts", oracle=_SCENE_ORACLE, tags=("llm", "multimodal"))
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over video-like payloads via mapInPandas: each
    item's first 32 dense 16-byte pseudo-frames reduce to a luminance
    series; a cut is a consecutive-frame delta above threshold — the
    shot-boundary pass that decides which frames a video pipeline keeps
    for captioning/embedding (next to `multimodal_frame_sample`, which
    samples frames blindly at a stride). The real decoder slots into the
    same kernel; the ASCII fixture makes luminance a text byte sum, so
    the full path — including the numpy frame matrix and the delta
    logic — is oracle-checked exactly.

    Scale shape: map-only over the payload relation (payload never
    shuffles); output is 4 numbers per item and the only exchange is the
    presentation sort."""
    docs = load_tables(spark, sf_dir)["documents"]
    records = attach_payload(docs)
    return _map_items(
        records.select("doc_id", "payload"), _detect_scene_cuts, _SCENE_SCHEMA
    ).orderBy("doc_id")


# --------------------------------------- perceptual-hash image dedup (dHash)

_PHASH_GROUPS = 37  # distinct base images planted across the corpus
_PHASH_BASE_MOD = 200  # base byte range [0,200) + shift [0,40) stays < 256
_PHASH_SHIFTS = 40

# the near-dup groups reuse the document dimension formula, so the two
# can never drift apart
_phash_group_dims = _bmp_dims

def synthesize_bmp_variant(doc_id: int) -> bytes:
    """Deterministic near-duplicate BMP: docs sharing `doc_id % 37` carry
    the SAME base image — byte i of the RGB stream is
    (grp*17 + i*11) % 200 — plus a per-doc global brightness shift
    (doc_id*7) % 40 added to every byte. Base < 200 and shift < 40 keep
    bytes below 256, so no wraparound: every pairwise luminance
    comparison survives the shift and all variants of a group dHash
    identically while their raw bytes (and exact hashes) differ — the
    planted near-duplicate structure a perceptual dedup must recover."""
    grp = doc_id % _PHASH_GROUPS
    w, h = _phash_group_dims(grp)
    shift = (doc_id * 7) % _PHASH_SHIFTS
    rgb = bytes(
        (grp * 17 + i * 11) % _PHASH_BASE_MOD + shift
        for i in range(w * h * 3)
    )
    return _pack_bmp24(w, h, rgb)


def dhash_rgb(w: int, h: int, rgb: bytes) -> int:
    """Difference hash over a decoded top-down RGB stream: integer luma
    L = r + 2g + b per pixel, bit (y,x) = 1 iff L(y,x) < L(y,x+1),
    packed at position y*(w-1)+x. At most (7-1)*5 = 30 bits here, so the
    hash fits a BIGINT on both engines. A global brightness shift adds
    4*shift to every luma and leaves every strict comparison — hence the
    hash — unchanged; that invariance is what makes dHash a NEAR-dup
    key where the exact md5 tier (`text_fingerprint_md5`) sees 40
    distinct payloads."""
    code = 0
    for y in range(h):
        for x in range(w - 1):
            o = (y * w + x) * 3
            left = rgb[o] + 2 * rgb[o + 1] + rgb[o + 2]
            right = rgb[o + 3] + 2 * rgb[o + 4] + rgb[o + 5]
            if left < right:
                code |= 1 << (y * (w - 1) + x)
    return code


def _decode_dhash_batches(doc_id: int, payload: bytes) -> Iterator[tuple]:
    w, h, rgb = decode_bmp(bytes(payload))
    yield doc_id, w, h, dhash_rgb(w, h, rgb), sum(rgb)


# The oracle recomputes luminance — hence the dHash — ARITHMETICALLY from
# the generator's closed form; it never parses a container. Both sides
# cluster on (phash, width, height), so a chance hash collision between
# two base images would merge clusters identically on both engines.
# n_variants counts distinct per-doc pixel sums (base_sum + 3*w*h*shift),
# the same column the Spark side distinct-counts.
_PHASH_ORACLE = f"""
WITH grps AS (
  SELECT DISTINCT doc_id % {_PHASH_GROUPS} AS grp FROM documents
),
dims AS (
  SELECT grp, grp % 5 + 3 AS w, grp % 4 + 2 AS h FROM grps
),
lum AS (
  SELECT grp, w, h, t.p AS p,
         (grp * 17 + (3 * t.p) * 11) % {_PHASH_BASE_MOD}
         + 2 * ((grp * 17 + (3 * t.p + 1) * 11) % {_PHASH_BASE_MOD})
         + (grp * 17 + (3 * t.p + 2) * 11) % {_PHASH_BASE_MOD} AS luma
  FROM dims, unnest(range(0, w * h)) AS t(p)
),
ghash AS (
  SELECT a.grp, a.w, a.h,
         coalesce(sum(
           CASE WHEN a.luma < b.luma
                THEN (CAST(1 AS BIGINT) << ((a.p // a.w) * (a.w - 1) + a.p % a.w))
                ELSE 0 END
         ), 0) AS phash
  FROM lum a JOIN lum b ON a.grp = b.grp AND b.p = a.p + 1
  WHERE a.p % a.w < a.w - 1
  GROUP BY a.grp, a.w, a.h
),
gbase AS (
  SELECT grp, sum((grp * 17 + t.i * 11) % {_PHASH_BASE_MOD}) AS base_sum
  FROM dims, unnest(range(0, w * h * 3)) AS t(i)
  GROUP BY grp
),
docs AS (
  SELECT doc_id, doc_id % {_PHASH_GROUPS} AS grp FROM documents
)
SELECT CAST(phash AS BIGINT) AS phash,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       count(*) AS n_docs,
       count(DISTINCT base_sum + 3 * w * h * ((doc_id * 7) % {_PHASH_SHIFTS}))
         AS n_variants,
       min(doc_id) AS min_doc_id,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
FROM docs
JOIN ghash USING (grp)
JOIN gbase USING (grp)
GROUP BY phash, w, h
ORDER BY min_doc_id
"""


@register("multimodal_phash_dedup", oracle=_PHASH_ORACLE, tags=("llm", "multimodal", "dedup"))
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE dedup over really-decoded pixels: each doc
    carries a 24-bit BMP that is a brightness-shifted variant of one of
    37 planted base images; the generic `decode_bmp` parser (padding /
    bottom-up / BGR normalization) feeds a difference hash (dHash —
    adjacent-luminance comparison bits), and clustering on
    (phash, width, height) recovers the planted groups even though every
    payload's raw bytes — and exact hashes — are distinct. This is the
    multimodal member of the dedup family: the perceptual analogue of
    `dedup_simhash`, running on decoded pixels instead of tokens, and
    the standard first pass over a 100 TB image corpus (CC-style pools
    are ~40% near-dup frames/resizes/brightness variants).

    The DuckDB oracle recomputes luminance and the packed hash
    arithmetically from the generator's closed form — any decoder or
    hash bug (channel order, row flip, bit position, strict-vs-lax
    comparison) shifts phash and surfaces as a value mismatch.

    Scale shape: two map-only Arrow stages (synthesize ~ object-storage
    read, decode+hash); payloads are projected away before the single
    hash-keyed exchange, so only (doc_id, dims, 2 longs) shuffle — the
    same payload-never-shuffles rule as every multimodal query. dHash
    buckets are bounded by the 64-bit hash space; a hot bucket IS a
    duplicate cluster, which downstream keeps-one-per-cluster sampling
    (`dedup_provenance_best`) consumes directly."""
    docs = load_tables(spark, sf_dir)["documents"]
    hashed = _map_items(
        _payloads(docs, synthesize_bmp_variant),
        _decode_dhash_batches,
        "doc_id long, width int, height int, phash long, pixel_sum long",
    )
    return (
        hashed.groupBy("phash", "width", "height")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("pixel_sum").alias("n_variants"),
            F.min("doc_id").alias("min_doc_id"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .orderBy("min_doc_id")
    )


# ----------------------------- executed nearest-neighbor thumbnail resize

_THUMB_W, _THUMB_H = 2, 2  # <= every fixture dim (w 3-7, h 2-5)


def resize_nn(w: int, h: int, rgb: bytes, tw: int, th: int) -> bytes:
    """Nearest-neighbor resample of a top-down row-major RGB stream —
    the real spatial transform a thumbnail/tiling stage runs after
    decode (floor(X*w/tw) source mapping, the standard NN convention).
    Pure integer arithmetic, so the oracle can replay the sampling
    positions exactly."""
    out = bytearray(tw * th * 3)
    for y in range(th):
        sy = y * h // th
        for x in range(tw):
            sx = x * w // tw
            so = (sy * w + sx) * 3
            do = (y * tw + x) * 3
            out[do : do + 3] = rgb[so : so + 3]
    return bytes(out)


def _decode_thumbnail_batches(doc_id: int, payload: bytes) -> Iterator[tuple]:
    w, h, rgb = decode_bmp(bytes(payload))
    thumb = resize_nn(w, h, rgb, _THUMB_W, _THUMB_H)
    dhash = dhash_rgb(_THUMB_W, _THUMB_H, thumb)
    yield doc_id, w, h, sum(thumb), _weighted_sum(thumb), dhash


# Replays decode + NN sampling arithmetically: thumb byte j maps to
# source byte 3*((Y*h//2)*w + X*w//2) + c of the closed-form stream.
# The dHash of the 2x2 thumbnail ((w-1)*h = 2 bits) pins the luma
# weighting and bit layout through a second, independent reduction.
_THUMB_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, doc_id % 5 + 3 AS w, doc_id % 4 + 2 AS h FROM documents
),
tb AS (
  SELECT doc_id, w, h, t.j AS j,
         (t.j // 6) AS ty, (t.j // 3) % 2 AS tx, t.j % 3 AS c
  FROM dims, unnest(range(0, {_THUMB_W * _THUMB_H * 3})) AS t(j)
),
v AS (
  SELECT doc_id, w, h, j, ty, tx, c,
         (doc_id * 31
          + (3 * ((ty * h // {_THUMB_H}) * w + tx * w // {_THUMB_W}) + c) * 7
         ) % {_BMP_MOD} AS val
  FROM tb
),
lum AS (
  SELECT doc_id, ty, tx,
         sum(val * CASE c WHEN 1 THEN 2 ELSE 1 END) AS luma
  FROM v GROUP BY doc_id, ty, tx
),
dh AS (
  SELECT a.doc_id,
         CAST(sum(CASE WHEN a.luma < b.luma
                       THEN (CAST(1 AS BIGINT) << a.ty) ELSE 0 END)
              AS BIGINT) AS thumb_dhash
  FROM lum a JOIN lum b
    ON a.doc_id = b.doc_id AND a.ty = b.ty AND a.tx = 0 AND b.tx = 1
  GROUP BY a.doc_id
)
SELECT v.doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(sum(val) AS BIGINT) AS thumb_sum,
       CAST(sum((j + 1) * val) AS BIGINT) AS thumb_weighted,
       CAST(min(thumb_dhash) AS BIGINT) AS thumb_dhash
FROM v JOIN dh ON v.doc_id = dh.doc_id
GROUP BY v.doc_id, w, h
ORDER BY v.doc_id
"""


@register("multimodal_bmp_thumbnail", oracle=_THUMB_ORACLE, tags=("llm", "multimodal"))
def multimodal_bmp_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode → spatial-transform → feature chain executed for real:
    container parse (`decode_bmp`), nearest-neighbor 2x2 thumbnail
    (`resize_nn` — integer floor(X*w/tw) sampling), then checksums AND a
    dHash of the thumbnail, all inside one Arrow batch stage. The oracle
    replays the sampling-position arithmetic from the generator's closed
    form, so an off-by-one in the NN mapping (ceil vs floor, center vs
    corner convention) or in the thumbnail's byte order shifts
    thumb_weighted; the 2-bit dHash independently pins the luma
    weighting. This is the `multimodal_resize` plumbing upgraded to an
    executed kernel — the resize the metadata-only tier plans is here
    performed on real decoded pixels.

    Scale shape: identical to the other decode paths — two chained
    map-only Arrow stages, payloads never shuffle, the presentation sort
    is the only exchange."""
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_items(
        _payloads(docs, synthesize_bmp),
        _decode_thumbnail_batches,
        "doc_id long, width int, height int, thumb_sum long, "
        "thumb_weighted long, thumb_dhash long",
    ).orderBy("doc_id")


# ------------------------ executed audio energy segmentation (VAD-style)

_SEG_FRAME = 10  # samples per analysis frame


def segment_energy(samples: list[int]):
    """Energy-based activity segmentation over decoded PCM samples — the
    voice-activity-style chunking an audio pipeline runs to split a
    recording before transcription/embedding. A frame is ACTIVE when its
    energy exceeds the file's mean frame energy, compared in exact
    integer cross-multiplied form (e * n_frames > total_e) so the
    decision replays identically in SQL; a segment is a maximal run of
    active frames. Partial tail frames are dropped (n // frame full
    frames of `_SEG_FRAME` samples)."""
    n_frames = len(samples) // _SEG_FRAME
    energies = [
        sum(v * v for v in samples[f * _SEG_FRAME : (f + 1) * _SEG_FRAME])
        for f in range(n_frames)
    ]
    total = sum(energies)
    active = [e * n_frames > total for e in energies]
    n_segments = sum(a and (f == 0 or not active[f - 1]) for f, a in enumerate(active))
    return n_frames, sum(active), n_segments, total


def _decode_segment_batches(doc_id: int, payload: bytes) -> Iterator[tuple]:
    _rate, samples = decode_wav_pcm16(bytes(payload))
    if len(samples) < _SEG_FRAME:
        # oracle parity on sub-frame clips: range(0, (n//10)*10) yields no
        # frame rows there, dropping the doc entirely — emitting an
        # (n_frames=0) row here would row-mismatch. Unreachable on the
        # synthesized fixture (n >= 20) but load-bearing for real WAVs.
        return
    yield (doc_id, *segment_energy(samples))


# Frame energies are exact integer sums of squares (<= 10 * 2048^2), the
# active test is cross-multiplied (no division), and run-starts replay
# via lag() — every decision the kernel makes is recomputed from the
# sample closed form, never from the container.
_SEGMENT_ORACLE = f"""
WITH params AS (
  SELECT doc_id, doc_id % 50 + 20 AS n FROM documents
),
s AS (
  SELECT doc_id, n, t.i // {_SEG_FRAME} AS f,
         (doc_id * 13 + t.i * 5) % {_WAV_SAMPLE_MOD}
           - {_WAV_SAMPLE_MOD // 2} AS v
  FROM params, unnest(range(0, (n // {_SEG_FRAME}) * {_SEG_FRAME})) AS t(i)
),
fe AS (
  SELECT doc_id, f, CAST(sum(v * v) AS BIGINT) AS e
  FROM s GROUP BY doc_id, f
),
tot AS (
  SELECT doc_id, CAST(sum(e) AS BIGINT) AS total_e,
         CAST(count(*) AS BIGINT) AS n_frames
  FROM fe GROUP BY doc_id
),
act AS (
  SELECT fe.doc_id, fe.f,
         CASE WHEN fe.e * tot.n_frames > tot.total_e THEN 1 ELSE 0 END AS a
  FROM fe JOIN tot ON fe.doc_id = tot.doc_id
),
runs AS (
  SELECT doc_id, a,
         CASE WHEN a = 1 AND coalesce(
           lag(a) OVER (PARTITION BY doc_id ORDER BY f), 0) = 0
         THEN 1 ELSE 0 END AS seg_start
  FROM act
)
SELECT tot.doc_id,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(coalesce(sum(a), 0) AS INTEGER) AS n_active,
       CAST(coalesce(sum(seg_start), 0) AS INTEGER) AS n_segments,
       total_e AS energy_sum
FROM tot LEFT JOIN runs ON tot.doc_id = runs.doc_id
GROUP BY tot.doc_id, n_frames, total_e
ORDER BY tot.doc_id
"""


@register("multimodal_audio_segments", oracle=_SEGMENT_ORACLE, tags=("llm", "multimodal"))
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executed audio chain: RIFF chunk walk (`decode_wav_pcm16`),
    10-sample frame energies, mean-relative activity test, and maximal
    active-run segmentation — the decode → analyze → segment pass that
    decides where a 100 TB audio corpus gets split before transcription
    (the real counterpart of `multimodal_audio_chunks`, which plans
    fixed-duration chunks from metadata alone). Every decision is
    integer-exact (energies are sums of squares, the threshold is
    cross-multiplied), so the oracle replays frame energies AND the
    run-detection lag() from the closed form.

    Scale shape: two chained map-only Arrow stages; per item the kernel
    is O(samples) with a 5-number output row, payloads never shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    return _map_items(
        _payloads(docs, synthesize_wav),
        _decode_segment_batches,
        "doc_id long, n_frames int, n_active int, n_segments int, energy_sum long",
    ).orderBy("doc_id")


# --------------------------------------- per-channel normalization constants

_CHANNEL_STATS_SCHEMA = (
    "doc_id long, n_px long, "
    "r_sum long, r_sq long, g_sum long, g_sq long, b_sum long, b_sq long"
)


def _decode_channel_batches(doc_id: int, payload: bytes) -> Iterator[tuple]:
    w, h, rgb = decode_bmp(bytes(payload))
    sums = []
    for c in range(3):  # r, g, b
        ch = rgb[c::3]
        sums += [sum(ch), sum(v * v for v in ch)]
    yield (doc_id, w * h, *sums)


_CHANNEL_STATS_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, doc_id % 5 + 3 AS w, doc_id % 4 + 2 AS h FROM documents
),
px AS (
  SELECT t.i % 3 AS c, (doc_id * 31 + t.i * 7) % {_BMP_MOD} AS v
  FROM dims, unnest(range(0, w * h * 3)) AS t(i)
),
agg AS (
  SELECT c, count(*) AS n,
         CAST(sum(v) AS BIGINT) AS s, CAST(sum(v * v) AS BIGINT) AS s2
  FROM px GROUP BY c
)
SELECT CASE c WHEN 0 THEN 'r' WHEN 1 THEN 'g' ELSE 'b' END AS channel,
       CAST(n AS BIGINT) AS n_values,
       floor(CAST(s AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS mean,
       floor(sqrt(CAST(s2 AS DOUBLE) / n
                  - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
             * 1000000 + 0.5) / 1000000
         AS std
FROM agg
ORDER BY channel
"""


@register(
    "multimodal_channel_stats",
    oracle=_CHANNEL_STATS_ORACLE,
    tags=("llm", "multimodal"),
)
def multimodal_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel mean/std over the REALLY-DECODED corpus images — the
    normalization constants an image-training pipeline computes once and
    bakes into its preprocessing (the role ImageNet's famous
    [0.485, 0.456, 0.406] / [0.229, 0.224, 0.225] play): decode BMP →
    per-image integer channel sums and sum-of-squares in ONE Arrow stage
    (payload never shuffles — 8 ints/image do) → one grand aggregate →
    3 output rows. The oracle recomputes the channel streams
    arithmetically from the generator's closed form (channel = stream
    index mod 3) and never parses the container, so a decoder that
    mis-handles padding/flip/BGR shifts the sums.

    Float determinism: means and variances derive from engine-identical
    BIGINT (sum, sum-of-squares, count) triples — one division, one
    multiply, one sqrt, identical IEEE sequence both sides, rounded at
    the output only."""
    docs = load_tables(spark, sf_dir)["documents"]
    sums = _map_items(
        _payloads(docs, synthesize_bmp), _decode_channel_batches, _CHANNEL_STATS_SCHEMA
    )
    grand = sums.agg(
        F.sum(F.col("n_px")).alias("n"),
        *[
            F.sum(f"{c}_{k}").alias(f"{c}_{k}")
            for c in "rgb"
            for k in ("sum", "sq")
        ],
    )
    per_channel = grand.select(
        F.expr(
            "stack(3, 'r', n, r_sum, r_sq, 'g', n, g_sum, g_sq,"
            " 'b', n, b_sum, b_sq) AS (channel, n_values, s, s2)"
        )
    )
    mean = F.col("s").cast("double") / F.col("n_values")
    std = F.sqrt(F.col("s2").cast("double") / F.col("n_values") - mean * mean)
    return (
        per_channel
        # empty-input parity: the global agg emits one NULL-sums row even
        # over zero documents, which stack() expands to 3 NULL rows while
        # the oracle's GROUP BY yields 0 rows — drop them; n_values is
        # never NULL on any non-empty input
        .filter(F.col("n_values").isNotNull())
        .select(
            "channel",
            F.col("n_values").cast("long").alias("n_values"),
            # floor-fold display, not round(x, 6): the means/stds are
            # irrational doubles, exactly the cross-engine round-tie
            # class the money discipline retired — floor(x*1e6 + 0.5) is
            # one identical IEEE op sequence on both engines
            (F.floor(mean * 1000000 + F.lit(0.5)) / 1000000).alias("mean"),
            (F.floor(std * 1000000 + F.lit(0.5)) / 1000000).alias("std"),
        )
        .orderBy("channel")
    )
