"""Multimodal (binary) column handling (SURVEY §2.K, E-MULTIMODAL family).

Images/audio/video are opaque ``binary`` columns with typed metadata.
The Spark-side plumbing is real everywhere: ``binaryFile`` source, binary
expressions (``encode``/``md5``/``octet_length``) for metadata, and
Arrow-batched ``mapInPandas`` stages with stable output schemas for the
per-item feature work. Where an actual media codec would sit (image decode,
video demux) the decode is a clearly-marked deterministic stub — the
decoding libraries are not in this container; a real deployment swaps the
``*_stub`` function for PIL/ffmpeg while every schema / partitioning /
batch-shape contract stays identical. The audio path needs no stub at all:
8-bit PCM feature extraction is plain byte math and is computed for real.

Scale notes: every stage below is embarrassingly parallel over rows — no
shuffle anywhere; ``widen()`` only matters on the single-row-group local
fixtures. ``mapInPandas`` streams Arrow batches (bounded memory per task
regardless of file count), and a 1→N stage (frame sampling) grows output
cardinality without ever materializing a per-file Python list on the
driver.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F

from xml_processor_spark.io import scratch_dir, table, widen
from xml_processor_spark.registry import register

_DECODE_SCHEMA = (
    "path STRING, n_bytes LONG, sha STRING, width INT, height INT, kind STRING"
)


def _decode_stub(content: bytes) -> tuple[int, int, str]:
    """Deterministic fake decoder.

    Stands in for image decode (PIL et al. unavailable here). Derives fake
    dimensions from the content hash so outputs are stable and testable.
    A real decoder raises NotImplementedError paths away; plumbing is what
    this exercises. The dimension formula works on HEX CHARACTERS of the
    digest (ord of the 1st..4th hex chars), not raw digest bytes, so the
    DuckDB oracle can recompute it with ascii(substring(sha256(...)))
    — the same cross-engine trick q_mm_meta uses.
    """
    import hashlib

    hx = hashlib.sha256(content).hexdigest()
    w = 16 + (ord(hx[0]) * 16 + ord(hx[1])) % 64
    h = 16 + (ord(hx[2]) * 16 + ord(hx[3])) % 64
    return w, h, "fake/deterministic"


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = {
            "path": [], "n_bytes": [], "sha": [],
            "width": [], "height": [], "kind": [],
        }
        for path, content in zip(pdf["path"], pdf["content"]):
            b = bytes(content)
            w, h, kind = _decode_stub(b)
            out["path"].append(os.path.basename(path))
            out["n_bytes"].append(len(b))
            out["sha"].append(hashlib.sha256(b).hexdigest())
            out["width"].append(w)
            out["height"].append(h)
            out["kind"].append(kind)
        yield pd.DataFrame(out)


@register(
    "E-MULTIMODAL",
    oracle="""
        WITH b AS (
            SELECT o_orderkey,
                   substring(repeat(CAST(o_orderkey AS VARCHAR) || ':' ||
                                    CAST(CAST(round(o_totalprice * 100)
                                              AS BIGINT) AS VARCHAR),
                                    50), 1, 997) AS blob
            FROM orders WHERE o_orderkey % 500 = 0
            ORDER BY o_orderkey LIMIT 4096
        ), h AS (
            SELECT o_orderkey, blob, sha256(blob) AS sha FROM b
        )
        SELECT 'blob_' || lpad(CAST(o_orderkey AS VARCHAR),
                               CAST(greatest(6, len(CAST(o_orderkey
                                    AS VARCHAR))) AS INTEGER),
                               '0') || '.bin' AS path,
               CAST(len(blob) AS BIGINT) AS n_bytes,
               sha,
               CAST(16 + (ascii(substring(sha, 1, 1)) * 16
                          + ascii(substring(sha, 2, 1))) % 64 AS INT)
                   AS width,
               CAST(16 + (ascii(substring(sha, 3, 1)) * 16
                          + ascii(substring(sha, 4, 1))) % 64 AS INT)
                   AS height,
               'fake/deterministic' AS kind
        FROM h
    """,
    origin="LLM",
    doc="binaryFile source → mapInPandas decode/feature stage: generate "
        "deterministic binary fixtures, ingest as BinaryType + metadata, "
        "run the Arrow-batched decode stub, return per-file features. "
        "Oracle-checked since r9 (VERDICT r8 #3): the fixture bytes are a "
        "pure-integer text unit (okey ':' exact-cents, repeated ×50, "
        "truncated at 997 bytes) so DuckDB reconstructs the identical "
        "bytes with repeat/substring and recomputes sha256 + the hex-char "
        "dimension formula; a hash match proves the binaryFile ingest and "
        "the Arrow decode stage read every fixture byte-exactly, once.",
)
def e_multimodal(spark, sf_dir):
    tmp = scratch_dir(spark, "multimodal", fresh=True)
    # Deterministic binary fixtures derived from the orders table. The
    # driver-side collect is fixture generation, capped STRUCTURALLY at
    # 4096 rows (distributed TakeOrdered on the key — O(1) driver memory
    # at any SF, the E-EMB-PQ sample discipline; |orders|/500 stays well
    # under the cap at every test SF so results are unchanged there, and
    # the oracle applies the identical ORDER BY + LIMIT). Exact-cents
    # formatting keeps the unit text reproducible cross-engine (no float
    # repr dependency).
    rows = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 500 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .orderBy("o_orderkey")
        .limit(4096)
        .collect()
    )
    for r in rows:
        blob = (f"{r.o_orderkey}:{r.cents}".encode() * 50)[:997]
        with open(os.path.join(tmp, f"blob_{r.o_orderkey:06d}.bin"), "wb") as f:
            f.write(blob)
    files = spark.read.format("binaryFile").load(tmp)
    decoded = files.select("path", "content").mapInPandas(
        _decode_batches, schema=_DECODE_SCHEMA
    )
    return decoded


# ---------------------------------------------------------------------------
# Typed metadata over an opaque binary column (oracle-checked).
# ---------------------------------------------------------------------------

@register(
    "q_mm_meta",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5,
               CAST(16 + (ascii(substring(md5(text), 1, 1)) * 16
                          + ascii(substring(md5(text), 2, 1))) % 64
                    AS INT) AS width,
               CAST(16 + (ascii(substring(md5(text), 3, 1)) * 16
                          + ascii(substring(md5(text), 4, 1))) % 64
                    AS INT) AS height,
               CASE ascii(substring(md5(text), 5, 1)) % 3
                    WHEN 0 THEN 'image/fake'
                    WHEN 1 THEN 'audio/fake'
                    ELSE 'video/fake' END AS kind
        FROM documents
    """,
    origin="LLM",
    doc="Typed metadata over an opaque binary column — the catalog row a "
        "multimodal lake keeps per asset: byte size, content digest, "
        "sniffed kind, digest-derived dimensions. The binary column is "
        "synthesized as encode(text) so the SAME bytes exist in both "
        "engines (DuckDB md5(VARCHAR) hashes the UTF-8 encoding, matching "
        "Spark md5(BINARY)); every expression is a JVM binary/string "
        "builtin — no Python, no shuffle, scan-parallel at any scale.",
)
def q_mm_meta(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    blob = F.encode("text", "UTF-8")
    h = F.md5(blob)

    def _hexpair(i: int):
        return (
            F.ascii(F.substring(h, i, 1)) * F.lit(16)
            + F.ascii(F.substring(h, i + 1, 1))
        )

    return d.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("n_bytes"),
        h.alias("content_md5"),
        (F.lit(16) + _hexpair(1) % 64).cast("int").alias("width"),
        (F.lit(16) + _hexpair(3) % 64).cast("int").alias("height"),
        F.when(F.ascii(F.substring(h, 5, 1)) % 3 == 0, "image/fake")
        .when(F.ascii(F.substring(h, 5, 1)) % 3 == 1, "audio/fake")
        .otherwise("video/fake")
        .alias("kind"),
    )


# ---------------------------------------------------------------------------
# Audio: real 8-bit-PCM feature extraction (no codec needed — byte math).
# ---------------------------------------------------------------------------

_PCM_RATE = 8000  # Hz; interpretation constant, not a tunable

_AUDIO_SCHEMA = (
    "doc_id LONG, n_samples LONG, duration_ms DOUBLE, rms DOUBLE, "
    "peak INT, zero_crossings LONG"
)


def _audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "n_samples", "duration_ms", "rms", "peak",
            "zero_crossings",
        )}
        for doc_id, buf in zip(pdf["doc_id"], pdf["pcm"]):
            x = np.frombuffer(bytes(buf), dtype=np.uint8).astype(np.float64)
            x -= 128.0  # center unsigned PCM
            n = len(x)
            out["doc_id"].append(int(doc_id))
            out["n_samples"].append(n)
            out["duration_ms"].append(round(n * 1000.0 / _PCM_RATE, 6))
            out["rms"].append(
                round(float(np.sqrt(np.mean(x * x))), 6) if n else 0.0
            )
            out["peak"].append(int(np.max(np.abs(x))) if n else 0)
            out["zero_crossings"].append(
                int(np.sum(np.signbit(x[1:]) != np.signbit(x[:-1])))
                if n > 1 else 0
            )
        yield pd.DataFrame(out)


@register(
    "E-MM-AUDIO",
    # Oracle-checkable (r9): the PCM fixture is encode(text,'UTF-8') and the
    # corpus is pure ASCII (octet_length == length for every doc, probed),
    # so DuckDB can re-derive every byte as ascii(substring(text,p,1)) over
    # an unnested position series. Determinism is exact-integer: the RMS
    # numerator Σ(byte-128)² is an integer < 2^53 (docs ≤ ~600 bytes ×
    # 128² per term), so numpy's pairwise sum and DuckDB's sequential sum
    # both compute it EXACTLY; the single division and sqrt are then
    # correctly-rounded IEEE ops on identical operands — bit-identical
    # before the 6-dp round, not a float truce.
    oracle=f"""
        WITH d AS (
            SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
            FROM documents
        ), pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, n)) AS p
            FROM d
        ), s AS (
            SELECT doc_id,
                   ascii(substring(text, p, 1)) AS byte,
                   CASE WHEN p > 1
                        THEN ascii(substring(text, p - 1, 1)) END AS prev
            FROM pos
        ), agg AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   sum(CAST((byte - 128) * (byte - 128) AS BIGINT)) AS ss,
                   max(abs(byte - 128)) AS peak,
                   sum(CASE WHEN prev IS NOT NULL
                             AND (byte < 128) <> (prev < 128)
                            THEN 1 ELSE 0 END) AS zc
            FROM s GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(a.n_samples, 0) AS n_samples,
               round(CAST(d.n AS DOUBLE) * 1000.0 / {_PCM_RATE}, 6)
                   AS duration_ms,
               CASE WHEN a.n_samples IS NULL THEN 0.0
                    ELSE round(sqrt(CAST(a.ss AS DOUBLE)
                                    / CAST(a.n_samples AS DOUBLE)), 6)
               END AS rms,
               CAST(COALESCE(a.peak, 0) AS INTEGER) AS peak,
               CAST(COALESCE(a.zc, 0) AS BIGINT) AS zero_crossings
        FROM d LEFT JOIN agg a USING (doc_id)
    """,
    origin="LLM",
    doc="Audio feature extraction over a binary PCM column: duration, RMS "
        "energy, peak amplitude, zero-crossing count — computed for REAL "
        "(uint8 PCM is plain byte math; no codec library involved) in one "
        "Arrow-batched numpy pass per batch via mapInPandas. Zero shuffle; "
        "per-task memory bounded by the Arrow batch size, not file count. "
        "Oracle-checked since r9: DuckDB re-derives the byte stream from "
        "the ASCII fixture and recomputes all four features with "
        "exact-integer moments (see oracle comment); the signed-PCM "
        "zero-crossing channel (absent from ASCII, where every centered "
        "byte is negative) stays pinned by the pure-Python recompute in "
        "tests/test_multimodal.py.",
)
def e_mm_audio(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents")).select(
        "doc_id", F.encode("text", "UTF-8").alias("pcm")
    )
    return d.mapInPandas(_audio_batches, schema=_AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# Image: decode stub → REAL average-pool resize to a fixed thumbnail.
# ---------------------------------------------------------------------------

_THUMB = 8  # output thumbnail is _THUMB x _THUMB

_IMAGE_SCHEMA = (
    "doc_id LONG, width INT, height INT, thumb_mean DOUBLE, "
    "thumb_min DOUBLE, thumb_max DOUBLE, thumb_digest STRING"
)


def _image_decode_stub(content: bytes):
    """Deterministic fake image decoder (PIL unavailable here).

    Derives (height, width) and a grayscale pixel array from HEX CHARACTERS
    of the content's sha256 (the q_mm_meta/E-MULTIMODAL cross-engine trick:
    DuckDB replays ord(hex char) with ascii(substring(sha256(...)))) and
    fills the raster with an integer test pattern
    ``pixel(r, c) = (ca·r + cb·c + cs) % 256`` — pure int64 arithmetic both
    engines compute identically, unlike the r1-r9 Mersenne-Twister fill
    DuckDB could never replay (that was the one thing keeping this key
    rows-only — VERDICT r9 #2). A real deployment replaces ONLY this
    function with e.g. PIL.Image.open; the resize math and all Spark
    plumbing below stay identical.
    """
    import hashlib

    import numpy as np

    hx = hashlib.sha256(content).hexdigest()
    height = 16 + (ord(hx[0]) * 16 + ord(hx[1])) % 48
    width = 16 + (ord(hx[2]) * 16 + ord(hx[3])) % 48
    ca = 1 + ord(hx[4]) % 17
    cb = 1 + ord(hx[5]) % 13
    cs = (ord(hx[6]) * 16 + ord(hx[7])) % 256
    r = np.arange(height, dtype=np.int64)[:, None]
    c = np.arange(width, dtype=np.int64)[None, :]
    return (ca * r + cb * c + cs) % 256  # int64 grayscale raster


def _avg_pool_blocks(img, out_h: int, out_w: int):
    """Average-pool resize bookkeeping — exact integer block sums/counts.

    Pixel (r, c) belongs to output cell ((r·out_h)//in_h, (c·out_w)//in_w)
    — the direct-assignment pooling grid (every cell non-empty whenever
    in >= out). Returns (bsum, bcnt): int64 arrays of length out_h·out_w in
    row-major cell order. Keeping the sums integer (the E-MM-AUDIO
    discipline) is what makes the key oracle-checkable: each pooled value
    is ONE division of exact integers, so both engines compute the
    identical double.
    """
    import numpy as np

    in_h, in_w = img.shape
    bi = (np.arange(in_h, dtype=np.int64) * out_h) // in_h
    bj = (np.arange(in_w, dtype=np.int64) * out_w) // in_w
    idx = (bi[:, None] * out_w + bj[None, :]).ravel()
    ncell = out_h * out_w
    bsum = np.bincount(idx, weights=img.ravel(), minlength=ncell)
    bcnt = np.bincount(idx, minlength=ncell)
    # Block sums are <= 64·255 — exact in the float64 bincount accumulator.
    return bsum.astype(np.int64), bcnt.astype(np.int64)


def _image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = {
            "doc_id": [], "width": [], "height": [], "thumb_mean": [],
            "thumb_min": [], "thumb_max": [], "thumb_digest": [],
        }
        for doc_id, buf in zip(pdf["doc_id"], pdf["img"]):
            img = _image_decode_stub(bytes(buf))
            h, w = img.shape
            bsum, bcnt = _avg_pool_blocks(img, _THUMB, _THUMB)
            ratios = bsum / bcnt  # one exact-int division per pooled cell
            out["doc_id"].append(int(doc_id))
            out["height"].append(h)
            out["width"].append(w)
            # Raw doubles here; the 6-dp rounding happens JVM-side with
            # F.round so Spark and DuckDB share one rounding code path.
            out["thumb_mean"].append(float(int(img.sum()) / (h * w)))
            out["thumb_min"].append(float(ratios.min()))
            out["thumb_max"].append(float(ratios.max()))
            # Integer digest of the pooled grid in row-major cell order:
            # "<sum>/<count>" per cell — a string DuckDB re-derives exactly
            # (md5(string_agg(...))), where the old float64-byte digest
            # could not be replayed in SQL.
            out["thumb_digest"].append(
                hashlib.md5(
                    ":".join(
                        f"{s}/{n}" for s, n in zip(bsum, bcnt)
                    ).encode()
                ).hexdigest()
            )
        yield pd.DataFrame(out)


@register(
    "E-MM-IMAGE",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, sha256(text) AS hx FROM documents
        ), dims AS (
            SELECT doc_id,
                   16 + (ascii(substring(hx, 1, 1)) * 16
                         + ascii(substring(hx, 2, 1))) % 48 AS height,
                   16 + (ascii(substring(hx, 3, 1)) * 16
                         + ascii(substring(hx, 4, 1))) % 48 AS width,
                   1 + ascii(substring(hx, 5, 1)) % 17 AS ca,
                   1 + ascii(substring(hx, 6, 1)) % 13 AS cb,
                   (ascii(substring(hx, 7, 1)) * 16
                    + ascii(substring(hx, 8, 1))) % 256 AS cs
            FROM d
        ), g AS (
            SELECT unnest(generate_series(0, 63)) AS i
        ), px AS (
            SELECT doc_id, height, width,
                   (gr.i * {_THUMB}) // height AS bi,
                   (gc.i * {_THUMB}) // width AS bj,
                   (ca * gr.i + cb * gc.i + cs) % 256 AS v
            FROM dims
            JOIN g gr ON gr.i < height
            JOIN g gc ON gc.i < width
        ), blocks AS (
            SELECT doc_id, height, width, bi, bj,
                   CAST(sum(v) AS BIGINT) AS bsum,
                   CAST(count(*) AS BIGINT) AS bcnt
            FROM px GROUP BY 1, 2, 3, 4, 5
        )
        SELECT doc_id, width, height,
               round(CAST(sum(bsum) AS DOUBLE) / (height * width), 6)
                   AS thumb_mean,
               round(min(CAST(bsum AS DOUBLE) / bcnt), 6) AS thumb_min,
               round(max(CAST(bsum AS DOUBLE) / bcnt), 6) AS thumb_max,
               md5(string_agg(CAST(bsum AS VARCHAR) || '/'
                              || CAST(bcnt AS VARCHAR),
                              ':' ORDER BY bi, bj)) AS thumb_digest
        FROM blocks
        GROUP BY doc_id, width, height
    """,
    origin="LLM",
    doc="Image resize/feature stage: binary column → decode (deterministic "
        "stub standing in for PIL — clearly marked, swap-in point) → REAL "
        f"average-pool resize to a fixed {_THUMB}x{_THUMB} thumbnail "
        "via mapInPandas, surfaced as scalar stats + an integer-exact "
        "digest of the pooled grid (the comparator cannot hash "
        "array<float>); zero shuffle. Oracle-checked since r10 (the "
        "E-MM-AUDIO/E-MM-FRAMES pattern, VERDICT r9 #2): the stub raster "
        "is hex-char + modular integer arithmetic DuckDB regenerates "
        "row-for-row with generate_series, the pool keeps exact integer "
        "block sums/counts, and every emitted float is ONE division of "
        "exact integers rounded 6-dp JVM-side — so a hash match proves "
        "decode, pooling grid, and batch plumbing byte-for-byte. The "
        "bounded 64x64 pixel expansion lives only in the ORACLE (ground "
        "truth may be brute force); the engine path stays one Arrow "
        "batch per partition.",
)
def e_mm_image(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents")).select(
        "doc_id", F.encode("text", "UTF-8").alias("img")
    )
    raw = d.mapInPandas(_image_batches, schema=_IMAGE_SCHEMA)
    return raw.select(
        "doc_id", "width", "height",
        F.round("thumb_mean", 6).alias("thumb_mean"),
        F.round("thumb_min", 6).alias("thumb_min"),
        F.round("thumb_max", 6).alias("thumb_max"),
        "thumb_digest",
    )


# ---------------------------------------------------------------------------
# Video: frame sampling — a 1→N mapInPandas stage.
# ---------------------------------------------------------------------------

_FRAME_STRIDE = 30  # sample every 30th frame ("1 fps at 30fps")

_FRAMES_SCHEMA = "doc_id LONG, n_frames INT, frame_idx INT, frame_md5 STRING"


def _frames_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        out = {"doc_id": [], "n_frames": [], "frame_idx": [], "frame_md5": []}
        for doc_id, buf in zip(pdf["doc_id"], pdf["video"]):
            b = bytes(buf)
            # Demux stub: frame count derived from the byte length (a real
            # demuxer reads the container header here — swap-in point).
            n_frames = 1 + len(b) % 240
            sig = hashlib.sha256(b).hexdigest()
            for idx in range(0, n_frames, _FRAME_STRIDE):
                out["doc_id"].append(int(doc_id))
                out["n_frames"].append(n_frames)
                out["frame_idx"].append(idx)
                out["frame_md5"].append(
                    hashlib.md5(f"{sig}:{idx}".encode()).hexdigest()
                )
        yield pd.DataFrame(out)


@register(
    "E-MM-FRAMES",
    # Oracle-checkable (r9): the demux stub's whole output is string
    # arithmetic over sha256(content) — and DuckDB's sha256()/md5() return
    # the same lowercase hex as hashlib's hexdigest (probed), while the
    # ASCII fixture makes content == text bytes. So the oracle replays the
    # exact 1→N expansion: n_frames = 1 + length % 240, every 30th index,
    # md5('<sha256hex>:<idx>') — exact strings, no float anywhere.
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(1 + length(text) % 240 AS INTEGER) AS n_frames,
                   sha256(text) AS sig
            FROM documents
        ), f AS (
            SELECT doc_id, n_frames, sig,
                   unnest(generate_series(0, n_frames - 1, {_FRAME_STRIDE}))
                       AS frame_idx
            FROM d
        )
        SELECT doc_id, n_frames,
               CAST(frame_idx AS INTEGER) AS frame_idx,
               md5(sig || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
        FROM f
    """,
    origin="LLM",
    doc="Video frame sampling: binary column → demux stub (frame count; "
        f"swap-in point for ffmpeg) → every-{_FRAME_STRIDE}th-frame sample "
        "emitted as ROWS — a 1→N mapInPandas stage proving the cardinality-"
        "changing UDF contract (output rows are streamed per Arrow batch, "
        "never a per-file driver-side list). Zero shuffle; downstream "
        "per-frame work inherits scan parallelism. Oracle-checked since "
        "r9: DuckDB replays the sha256-derived expansion exactly (see "
        "oracle comment) — a lost/duplicated frame row, wrong stride, or "
        "drifting digest hash-mismatches.",
)
def e_mm_frames(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents")).select(
        "doc_id", F.encode("text", "UTF-8").alias("video")
    )
    return d.mapInPandas(_frames_batches, schema=_FRAMES_SCHEMA)
