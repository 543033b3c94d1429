"""Multimodal column operators (SURVEY.md §2 row C11 + north-star
multimodal plumbing).

Design: media rides as an opaque BINARY column inside a typed struct with
metadata and an embedding — decode/feature-extraction are Arrow-batched
mapInPandas stages (stubbed deterministically here: the container has no
image/audio codecs — SURVEY.md §1.3). The Spark-side plumbing (schema,
batching, partition behavior) is real and tested in tests/test_multimodal.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..registry import query
from ..tables import table
from .similarity import as_double, sq_norm

# Typed multimodal record: the engine's answer to "image/audio/video column".
MULTIMODAL_SCHEMA_DDL = (
    "doc_id BIGINT, payload BINARY, media_type STRING, "
    "meta MAP<STRING, STRING>, embedding ARRAY<DOUBLE>"
)


def bundle(spark, sf_dir) -> DataFrame:
    """documents ⋈ embeddings → one struct-typed multimodal frame. The
    embeddings side is keyed 1:1 (vec_id == doc_id in the fixtures)."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.create_map(
            F.lit("lang"), F.col("lang"),
            F.lit("source"), F.col("source"),
            F.lit("n_chars"), F.col("n_chars").cast("string"),
        ).alias("meta"),
        as_double("embedding").alias("embedding"),
        "label",
    )


def decode_media(records: DataFrame) -> DataFrame:
    """Decode/feature-extract stage over the binary payload as an
    Arrow-batched mapInPandas. Real codecs are not installed in this
    container, so the transform is a deterministic stand-in (byte length +
    first-byte "brightness"); swapping in PIL/librosa later changes ONLY
    the body of `extract`."""
    out_ddl = "doc_id BIGINT, n_bytes BIGINT, first_byte INT, media_type STRING"

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "first_byte": payloads.map(
                        lambda b: b[0] if len(b) else -1
                    ).astype("int32"),
                    "media_type": pdf["media_type"],
                }
            )

    return records.mapInPandas(extract, schema=out_ddl)


def resize_images(records: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Image-resize stage: payload → resized payload + dimension metadata,
    as an Arrow-batched mapInPandas. No image codec ships in this container,
    so the pixel work is a clearly-marked deterministic stand-in (payload
    truncated/padded to width*height bytes — a fake "thumbnail" with the
    right buffer size); with PIL installed, ONLY the body of `resize_one`
    changes. Partition-local: no shuffle at any scale."""
    out_ddl = (
        "doc_id BIGINT, payload BINARY, media_type STRING, "
        "out_w INT, out_h INT, n_bytes BIGINT"
    )
    n_out = width * height

    def resize_one(b: bytes) -> bytes:
        # STUB: real impl = PIL.Image.open(BytesIO(b)).resize((w, h)).
        return bytes(b[:n_out]).ljust(n_out, b"\x00")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf["payload"].map(lambda b: resize_one(bytes(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": resized,
                    "media_type": pdf["media_type"],
                    "out_w": width,
                    "out_h": height,
                    "n_bytes": resized.map(len).astype("int64"),
                }
            )

    return records.mapInPandas(run, schema=out_ddl)


def sample_frames(records: DataFrame, every_n_bytes: int = 32, max_frames: int = 4) -> DataFrame:
    """Video frame-sampling stage: one input row → up to ``max_frames``
    frame rows (row-expanding mapInPandas, the shape a real decoder needs).
    STUB decode: a "frame" is an ``every_n_bytes`` slice of the payload —
    deterministic; a real impl swaps in av/ffmpeg frame extraction with the
    same (doc_id, frame_idx, frame_payload) output contract."""
    out_ddl = "doc_id BIGINT, frame_idx INT, frame_payload BINARY, media_type STRING"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_payload": [], "media_type": []}
            for _, r in pdf.iterrows():
                blob = bytes(r["payload"])
                for idx in range(min(max_frames, max(1, len(blob) // every_n_bytes))):
                    rows["doc_id"].append(r["doc_id"])
                    rows["frame_idx"].append(idx)
                    rows["frame_payload"].append(
                        blob[idx * every_n_bytes : (idx + 1) * every_n_bytes]
                    )
                    rows["media_type"].append(r["media_type"])
            yield pd.DataFrame(rows)

    return records.mapInPandas(run, schema=out_ddl)


@query(
    "q_llm_multimodal",
    oracle="""
    SELECT d.doc_id,
           d.lang,
           'text/plain' AS media_type,
           octet_length(encode(d.text)) AS n_bytes,
           CAST(d.n_chars AS VARCHAR) AS meta_n_chars,
           round(sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x))), 6)
               AS emb_norm,
           e.label
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_llm_multimodal(spark, sf_dir):
    """C11: the struct-bundled multimodal row, flattened for the oracle —
    binary payload size, map-typed metadata access, embedding norm."""
    b = bundle(spark, sf_dir)
    return b.select(
        "doc_id",
        F.element_at("meta", "lang").alias("lang"),
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.element_at("meta", "n_chars").alias("meta_n_chars"),
        F.round(F.sqrt(sq_norm(F.col("embedding"))), 6).alias("emb_norm"),
        "label",
    )


_FRAME_BYTES = 32
_MAX_FRAMES = 4


@query(
    "q_llm_frame_sample",
    oracle=f"""
    WITH b AS (
        SELECT d.doc_id, hex(encode(d.text)) AS blob_hex
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE d.text IS NOT NULL
    )
    SELECT doc_id,
           CAST(t.i AS INTEGER) AS frame_idx,
           substr(blob_hex, CAST(t.i AS INTEGER) * {2 * _FRAME_BYTES} + 1,
                  {2 * _FRAME_BYTES}) AS frame_hex,
           'text/plain' AS media_type
    FROM b, range(0, {_MAX_FRAMES}) t(i)
    WHERE t.i < greatest(1, length(blob_hex) // {2 * _FRAME_BYTES})
    """,
)
def q_llm_frame_sample(spark, sf_dir):
    """C11b: the frame-sampling mapInPandas stage, ORACLED — the stub
    decoder slices deterministic {_FRAME_BYTES}-byte "frames" off the
    payload, so the Python row-expanding stage can be cross-checked
    bit-for-bit against pure SQL (frames rendered as hex: byte-aligned, so
    slicing the hex string at {2 * _FRAME_BYTES}-char boundaries equals
    slicing the blob — DuckDB 1.0 has no BLOB substring). This pins the
    multimodal PLUMBING contract (row expansion, frame indexing, batch
    shapes) even though the real codec is environment-stubbed; swapping in
    av/ffmpeg changes only the decode body, not this verified shape. NULL
    payloads are filtered on both sides (a real decoder's
    corrupt-input-drop policy)."""
    b = bundle(spark, sf_dir).where(F.col("payload").isNotNull())
    frames = sample_frames(
        b.select("doc_id", "payload", "media_type"),
        every_n_bytes=_FRAME_BYTES,
        max_frames=_MAX_FRAMES,
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.hex("frame_payload").alias("frame_hex"),
        "media_type",
    )


_HEXD = "0123456789ABCDEF"


@query(
    "q_llm_decode_media",
    oracle=f"""
    WITH b AS (
        SELECT d.doc_id, hex(encode(d.text)) AS blob_hex
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        WHERE d.text IS NOT NULL AND length(d.text) > 0
    )
    SELECT doc_id,
           CAST(length(blob_hex) // 2 AS BIGINT) AS n_bytes,
           CAST((strpos('{_HEXD}', substr(blob_hex, 1, 1)) - 1) * 16
                + (strpos('{_HEXD}', substr(blob_hex, 2, 1)) - 1)
               AS INTEGER) AS first_byte,
           'text/plain' AS media_type
    FROM b
    """,
)
def q_llm_decode_media(spark, sf_dir):
    """C11c: the decode/feature-extract mapInPandas stage, ORACLED — the
    stub decoder's outputs (payload byte length, first-byte "brightness")
    are deterministic, so the Arrow-batched Python stage cross-checks
    bit-for-bit against SQL. The first byte is recovered engine-neutrally
    from the payload's hex rendering via hex-digit position arithmetic
    (no BLOB indexing needed on either engine). Together with C11b this
    pins BOTH multimodal Python stages — per-row feature extraction and
    row expansion — to verified contracts; only the codec body inside
    `extract` is environment-stubbed. Empty payloads are filtered (the
    stub's first-byte read requires one byte; a real decoder's
    corrupt-input-drop policy)."""
    b = bundle(spark, sf_dir).where(
        F.col("payload").isNotNull() & (F.octet_length("payload") > 0)
    )
    decoded = decode_media(b.select("doc_id", "payload", "media_type"))
    return decoded.select("doc_id", "n_bytes", "first_byte", "media_type")


# --- C61: modality routing by magic bytes ------------------------------------

# Real container-format signatures (public magic numbers): the router logic
# is REAL production code — only the payloads are synthesized, by prefixing
# fixture text bytes with the signature chosen by doc_id % 6 (kind 5 = raw
# text, no header).
_MAGICS = [
    ("jpeg", bytes.fromhex("ffd8ff")),
    ("png", bytes.fromhex("89504e470d0a1a0a")),
    ("riff", b"RIFF"),
    ("pdf", b"%PDF-"),
    ("gif", b"GIF8"),
]
_KIND_HEADERS = [h for _, h in _MAGICS] + [b""]  # injection table, kind 0-5


def sniff_modality(records: DataFrame) -> DataFrame:
    """Magic-byte modality router as an Arrow-batched mapInPandas stage:
    (doc_id, payload) → (doc_id, detected, n_bytes). This is the REAL
    dispatch a multimodal ingest runs before choosing a decoder — unlike
    the stubbed decode stages, nothing here is a stand-in. Partition-local,
    no shuffle at any scale; bytes stay in Arrow buffers end-to-end."""
    out_ddl = "doc_id BIGINT, detected STRING, n_bytes BIGINT"

    def sniff_one(b: bytes) -> str:
        for kind, magic in _MAGICS:
            if b.startswith(magic):
                return kind
        return "text"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"].map(bytes)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "detected": payloads.map(sniff_one),
                    "n_bytes": payloads.map(len).astype("int64"),
                }
            )

    return records.mapInPandas(run, schema=out_ddl)


@query(
    "q_llm_media_sniff",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 6
                WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'riff'
                WHEN 3 THEN 'pdf' WHEN 4 THEN 'gif'
                ELSE CASE
                    WHEN left(coalesce(text, ''), 4) = 'RIFF' THEN 'riff'
                    WHEN left(coalesce(text, ''), 5) = '%PDF-' THEN 'pdf'
                    WHEN left(coalesce(text, ''), 4) = 'GIF8' THEN 'gif'
                    ELSE 'text' END
           END AS detected,
           CAST(CASE doc_id % 6
                WHEN 0 THEN 3 WHEN 1 THEN 8 WHEN 2 THEN 4
                WHEN 3 THEN 5 WHEN 4 THEN 4 ELSE 0 END
                + octet_length(encode(coalesce(text, ''))) AS BIGINT)
               AS n_bytes
    FROM documents
    """,
)
def q_llm_media_sniff(spark, sf_dir):
    """C61: modality routing — payloads carrying real container signatures
    (JPEG/PNG/RIFF/PDF/GIF magic numbers) are dispatched by a magic-byte
    sniffer BEFORE any decoder runs; misrouted bytes crash codecs, so
    every multimodal ingest fronts with exactly this stage. The sniffer
    (sniff_modality) is real logic, not a stub: only the payloads are
    synthesized (signature chosen by doc_id % 6 prefixed onto the text
    bytes). The oracle states the expected route in SQL — including the
    honest edge the binary side genuinely has: a RAW TEXT payload whose
    text begins with an ASCII signature ('RIFF', '%PDF-', 'GIF8') IS
    routed as that container, because a router sees bytes, not intent
    (non-ASCII magics like JPEG's FFD8 cannot arise from UTF-8 text).
    n_bytes cross-checks the byte accounting: header length + UTF-8 octet
    length. Plan: scan → mapInPandas, zero shuffles."""
    d = table(spark, sf_dir, "documents")
    header = F.element_at(
        F.array(*[F.lit(h) for h in _KIND_HEADERS]),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    payload = F.concat(
        header, F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    )
    return sniff_modality(d.select("doc_id", payload.alias("payload")))


_MEDIA_DUP_OFFSET = 600_000


@query(
    "q_llm_media_dedup",
    oracle=f"""
    WITH bundle AS (
        -- DuckDB md5() takes VARCHAR, not BLOB; hashing the string hashes
        -- the same UTF-8 bytes Spark's md5(encode(text)) sees
        SELECT d.doc_id, d.text AS payload_s,
               octet_length(encode(d.text)) AS nb
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    corpus AS (
        SELECT doc_id, payload_s, nb FROM bundle
        UNION ALL
        SELECT doc_id + {_MEDIA_DUP_OFFSET}, payload_s, nb
        FROM bundle WHERE doc_id % 12 = 0
    )
    SELECT md5(payload_s) AS media_hash,
           CAST(nb AS BIGINT) AS n_bytes,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS canonical_id
    FROM corpus
    GROUP BY md5(payload_s), nb
    HAVING count(*) > 1
    """,
)
def q_llm_media_dedup(spark, sf_dir):
    """C93: binary-payload exact dedup — C1's discipline applied to the
    multimodal BINARY column: group identical media payloads by content
    hash (+ byte length as a free sanity key), keep the min-id canonical
    copy. This is the FIRST dedup pass every image/audio corpus runs
    (identical bytes re-crawled under different URLs dwarf perceptual
    dups in practice) and it needs NO codec — exactly why it is real
    here while decode stays stubbed (SURVEY §1.3). Every 12th bundle
    gains an injected byte-identical copy (the C1 convention).

    At 100 TB: the hash is computed in the scan stage next to the bytes;
    the shuffle carries (hash, n_bytes, id) — the multi-megabyte payload
    NEVER rides an exchange (the C1/C38 text-never-shuffles rule, which
    matters 1000× more when a "row" is a 4K video keyframe). Perceptual
    near-dup (pHash) slots behind the same group-by once codecs exist."""
    b = bundle(spark, sf_dir).select("doc_id", "payload")
    dups = b.where(F.col("doc_id") % 12 == 0).select(
        (F.col("doc_id") + _MEDIA_DUP_OFFSET).alias("doc_id"), "payload"
    )
    corpus = b.unionByName(dups)
    return (
        corpus.select(
            "doc_id",
            F.md5("payload").alias("media_hash"),
            F.octet_length("payload").cast("bigint").alias("n_bytes"),
        )
        .groupBy("media_hash", "n_bytes")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
        )
        .where(F.col("n_copies") > 1)
    )


# --- C93p: perceptual-hash near-dup rung behind C93 ---------------------------

_PHASH_GRID = 48  # grid cells = fingerprint bits (bit 47 < sign bit, safe)
_PHASH_BANDS = 4  # 4 x 12-bit bands: Hamming <= 3 => >=1 band agrees
_PHASH_MAX_HAMMING = 3
_PHASH_DUP_OFFSET = 700_000  # injected perturbed copies (C1 convention)

_PHASH_PAIRS_SQL = f"""
WITH base AS (
    SELECT d.doc_id, d.text
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.text IS NOT NULL AND length(d.text) >= {_PHASH_GRID}
),
corpus AS (
    SELECT doc_id, text FROM base
    UNION ALL
    SELECT doc_id + {_PHASH_DUP_OFFSET},
           substr(text, 1, 24) || '~' || substr(text, 26)
    FROM base WHERE doc_id % 13 = 0
),
g AS (
    SELECT doc_id,
           list_transform(generate_series(1, {_PHASH_GRID}),
                          i -> unicode(substr(text, i, 1))) AS cp
    FROM corpus
),
h AS (
    SELECT doc_id,
           list_sum(list_transform(generate_series(1, {_PHASH_GRID}),
               i -> CASE WHEN cp[i] > (list_sum(cp) // {_PHASH_GRID})
                         THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS ph
    FROM g
),
bands AS (
    SELECT doc_id, ph, u.b,
           (ph >> (u.b * {_PHASH_GRID // _PHASH_BANDS})) & {(1 << (_PHASH_GRID // _PHASH_BANDS)) - 1} AS bv
    FROM h, (SELECT unnest(range({_PHASH_BANDS})) AS b) u
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
FROM bands a JOIN bands b
  ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= {_PHASH_MAX_HAMMING}
"""


@query("q_llm_media_phash", oracle=_PHASH_PAIRS_SQL)
def q_llm_media_phash(spark, sf_dir):
    """C93p: PERCEPTUAL near-dup for media — the rung VERDICT r5 placed
    behind C93's exact byte-hash pass. Mechanism is the production aHash
    pipeline end to end: decode the payload, reduce to a fixed
    {_PHASH_GRID}-cell grid, fingerprint = one bit per cell (cell value
    above the grid mean), near-dups = fingerprints within Hamming
    {_PHASH_MAX_HAMMING} found by exact-match banding ({_PHASH_BANDS}
    bands x {_PHASH_GRID // _PHASH_BANDS} bits — pigeonhole: distance <
    bands forces a shared band; the C13 SimHash discipline). Every 13th
    bundle gains a ONE-CELL-perturbed copy (substr splice at cell 25) —
    the re-encoded / slightly-edited duplicate byte-hash C93 structurally
    misses.

    Decode is the documented deterministic stand-in (no PIL/ffmpeg in this
    container, SURVEY §1.3): the "grid" is the first {_PHASH_GRID} Unicode
    codepoints of the UTF-8-decoded payload, computed in an Arrow-batched
    ``mapInPandas`` — the EXACT stage a real pHash occupies; swapping in
    PIL changes only ``_grid_bits`` (8x8 downsample + DCT/mean over luma)
    and nothing about the banding join. The stand-in is pinned bit-for-bit
    by the DuckDB oracle (the C11c contract-verification pattern), so this
    rung gets FULL hash-level CORRECTNESS coverage, not rows-only.

    At 100 TB: fingerprints are 6 bytes/asset computed beside the decode;
    the band join shuffles {_PHASH_BANDS} (band, 12-bit) keys per asset —
    payload bytes never ride an exchange (the C93 rule); candidates are
    real collisions only, and the Hamming filter runs BEFORE the distinct
    so only true near-dups shuffle into the dedup."""
    grid = _PHASH_GRID
    bits_per_band = grid // _PHASH_BANDS

    b = bundle(spark, sf_dir).select("doc_id", "payload")

    def _grid_bits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # STUB decode: real impl = PIL.Image.open(BytesIO(b)) -> 8x8 luma
        # grid. Stand-in grid = first {grid} codepoints of the decoded text.
        def phash_of(cps: list[int]) -> int:
            m = sum(cps) // grid
            ph = 0
            for i, c in enumerate(cps):
                if c > m:
                    ph |= 1 << i
            return ph

        for pdf in batches:
            ids, phs = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # corrupt/absent asset: quarantine, don't abort
                try:
                    text = bytes(payload).decode("utf-8")
                except (TypeError, ValueError):
                    # undecodable bytes (real media is non-UTF-8): skip the
                    # row — a 100 TB ingest must never die on one bad asset.
                    continue
                if len(text) < grid:
                    continue
                cps = [ord(c) for c in text[:grid]]
                ids.append(int(doc_id))
                phs.append(phash_of(cps))
                if doc_id % 13 == 0:  # injected perceptual near-dup
                    edited = text[:24] + "~" + text[25:]
                    ids.append(int(doc_id) + _PHASH_DUP_OFFSET)
                    phs.append(phash_of([ord(c) for c in edited[:grid]]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "ph": pd.Series(phs, dtype="int64"),
                }
            )

    sigs = b.mapInPandas(_grid_bits, schema="doc_id BIGINT, ph BIGINT")
    bands = sigs.select(
        "doc_id",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        (
                            F.shiftright("ph", i * bits_per_band)
                            % (1 << bits_per_band)
                        ).alias("bv"),
                    )
                    for i in range(_PHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "ph", "bb.b", "bb.bv")
    hamming = F.expr("bit_count(ha ^ hb)")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ph").alias("ha"),
            F.col("b.ph").alias("hb"),
        )
        .withColumn("hamming", hamming.cast("bigint"))
        .where(F.col("hamming") <= _PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# --- C174: container header metadata extraction (round 12) --------------------

# Synthesized dimensions (the C61 convention: payloads are synthesized,
# the PARSER is real logic that works on any spec-conformant header)
_DIMS_W = "16 + doc_id % 2048"
_DIMS_H = "16 + (doc_id * 7) % 2048"


@query(
    "q_llm_media_dims",
    # The oracle states the EXPECTED parse from the synthesis arithmetic
    # (the C61 route-table pattern): if the byte parser mis-reads an
    # offset, endianness, or width, the hashes diverge.
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'gif' END AS container,
           CAST({_DIMS_W} AS BIGINT) AS width,
           CAST({_DIMS_H} AS BIGINT) AS height,
           CAST(({_DIMS_W}) * ({_DIMS_H}) AS BIGINT) AS n_pixels,
           CAST((1000000 * ({_DIMS_W})) // ({_DIMS_H}) AS BIGINT)
               AS aspect_ppm
    FROM documents
    """,
)
def q_llm_media_dims(spark, sf_dir):
    """C174: container header METADATA extraction — the stage between
    C61's modality sniff and any decode: image dimensions read straight
    off the container header bytes, no codec. A multimodal pipeline
    filters/buckets by resolution (tiny thumbnails out, mega-images to a
    resize lane) BEFORE paying decode cost, so this parse must run at
    scan speed on the binary column. Two real formats, two real layouts:

    - PNG: 8-byte signature, then the IHDR chunk — width and height as
      4-byte BIG-endian integers at offsets 17 and 21 (1-based);
    - GIF (GIF89a): 6-byte signature, then the logical screen descriptor
      — width and height as 2-byte LITTLE-endian integers at offsets
      7 and 9.

    Payloads are synthesized spec-conformant headers (dims derived from
    doc_id, container by doc_id % 2 — the C61 convention) prefixed onto
    the text bytes; the PARSER is the honest part: pure JVM-side binary
    expressions (substring on BINARY → hex → conv), container dispatched
    by magic bytes, big- vs little-endian handled per format. No Python
    UDF anywhere — at 100 TB this is a scan-stage projection, zero
    shuffles, and the same expressions run unchanged on real crawled
    bytes. The oracle states the expected parse from the synthesis
    arithmetic, so any offset/endianness/width mistake hash-fails."""
    d = table(spark, sf_dir, "documents")
    w = F.expr(f"CAST({_DIMS_W} AS BIGINT)")
    h = F.expr(f"CAST({_DIMS_H} AS BIGINT)")
    def be4(c):
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),  # signature
        F.unhex(F.lit("0000000D")),  # IHDR length 13
        F.encode(F.lit("IHDR"), "UTF-8"),
        be4(w),
        be4(h),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
    )
    gif = F.concat(
        F.encode(F.lit("GIF89a"), "UTF-8"),
        F.unhex(F.lpad(F.hex(w % 256), 2, "0")),
        F.unhex(F.lpad(F.hex(F.expr(f"CAST({_DIMS_W} AS BIGINT) div 256")), 2, "0")),
        F.unhex(F.lpad(F.hex(h % 256), 2, "0")),
        F.unhex(F.lpad(F.hex(F.expr(f"CAST({_DIMS_H} AS BIGINT) div 256")), 2, "0")),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
    )
    payload = F.when(F.col("doc_id") % 2 == 0, png).otherwise(gif)
    rec = d.select("doc_id", payload.alias("p"))
    # --- the parser: bytes in, metadata out (no doc_id arithmetic below) ---
    is_png = F.hex(F.expr("substring(p, 1, 8)")) == "89504E470D0A1A0A"
    is_gif = F.expr("decode(substring(p, 1, 4), 'UTF-8')") == "GIF8"
    png_w = F.expr("CAST(conv(hex(substring(p, 17, 4)), 16, 10) AS BIGINT)")
    png_h = F.expr("CAST(conv(hex(substring(p, 21, 4)), 16, 10) AS BIGINT)")
    gif_w = F.expr(
        "CAST(conv(hex(substring(p, 7, 1)), 16, 10) AS BIGINT)"
        " + 256 * CAST(conv(hex(substring(p, 8, 1)), 16, 10) AS BIGINT)"
    )
    gif_h = F.expr(
        "CAST(conv(hex(substring(p, 9, 1)), 16, 10) AS BIGINT)"
        " + 256 * CAST(conv(hex(substring(p, 10, 1)), 16, 10) AS BIGINT)"
    )
    pw = F.when(is_png, png_w).when(is_gif, gif_w)
    ph = F.when(is_png, png_h).when(is_gif, gif_h)
    return rec.select(
        "doc_id",
        F.when(is_png, F.lit("png"))
        .when(is_gif, F.lit("gif"))
        .otherwise(F.lit("unknown"))
        .alias("container"),
        pw.alias("width"),
        ph.alias("height"),
        (pw * ph).cast("bigint").alias("n_pixels"),
        F.expr(
            "CAST((1000000 * (CASE"
            " WHEN hex(substring(p, 1, 8)) = '89504E470D0A1A0A'"
            " THEN CAST(conv(hex(substring(p, 17, 4)), 16, 10) AS BIGINT)"
            " ELSE CAST(conv(hex(substring(p, 7, 1)), 16, 10) AS BIGINT)"
            "      + 256 * CAST(conv(hex(substring(p, 8, 1)), 16, 10) AS BIGINT)"
            " END)) div (CASE"
            " WHEN hex(substring(p, 1, 8)) = '89504E470D0A1A0A'"
            " THEN CAST(conv(hex(substring(p, 21, 4)), 16, 10) AS BIGINT)"
            " ELSE CAST(conv(hex(substring(p, 9, 1)), 16, 10) AS BIGINT)"
            "      + 256 * CAST(conv(hex(substring(p, 10, 1)), 16, 10) AS BIGINT)"
            " END) AS BIGINT)"
        ).alias("aspect_ppm"),
    )


# --- C175: JPEG SOF0 dimensions — the variable-offset chunk walk (round 13) ----

# Synthesized dims (the C174/C61 convention); JPEG dims are 16-bit fields.
_JPEG_W = "16 + (doc_id * 5) % 4000"
_JPEG_H = "16 + (doc_id * 11) % 4000"
_JPEG_MAX_LEAD = 4  # doc_id % 4 APPn segments precede SOF0 (0..3)
_JPEG_WALK = 6  # unrolled walk depth: > max lead segments by margin


def _jpeg_lead_total_duck() -> str:
    """Closed-form byte length of the leading APPn segments (oracle side):
    segment j occupies 4 + plen(j) bytes, plen(j) = 3 + ((doc_id+7j)%9)."""
    p = [f"(3 + (doc_id + {7 * j}) % 9)" for j in range(_JPEG_MAX_LEAD - 1)]
    return (
        f"(CASE doc_id % {_JPEG_MAX_LEAD}"
        f" WHEN 0 THEN 0"
        f" WHEN 1 THEN 4 + {p[0]}"
        f" WHEN 2 THEN 8 + {p[0]} + {p[1]}"
        f" ELSE 12 + {p[0]} + {p[1]} + {p[2]} END)"
    )


@query(
    "q_llm_media_dims_jpeg",
    # The oracle states the EXPECTED parse from the synthesis arithmetic
    # (the C174 pattern) INCLUDING the walk-derived sof_offset and segment
    # count — a wrong length-field read, a misplaced marker compare, or an
    # off-by-one in the segment advance shifts sof_offset and hash-fails.
    oracle=f"""
    SELECT doc_id,
           'jpeg' AS container,
           CAST(doc_id % {_JPEG_MAX_LEAD} AS BIGINT) AS n_lead_segments,
           CAST(3 + {_jpeg_lead_total_duck()} AS BIGINT) AS sof_offset,
           CAST({_JPEG_W} AS BIGINT) AS width,
           CAST({_JPEG_H} AS BIGINT) AS height,
           CAST(({_JPEG_W}) * ({_JPEG_H}) AS BIGINT) AS n_pixels,
           CAST((1000000 * ({_JPEG_W})) // ({_JPEG_H}) AS BIGINT)
               AS aspect_ppm
    FROM documents
    """,
)
def q_llm_media_dims_jpeg(spark, sf_dir):
    """C175: JPEG SOF0 dimension extraction — C174's follow-through
    (VERDICT r12 item #7c) and the honest next difficulty rung for
    scan-stage binary parsing: unlike PNG/GIF's FIXED header offsets, a
    JPEG's dimensions live in the SOF0 segment at a VARIABLE offset — the
    parser must WALK the marker-segment chain (FF marker, 2-byte
    big-endian length that counts itself, payload) past however many
    APPn/COM segments the encoder emitted, exactly as libjpeg's header
    scan does.

    Payloads are synthesized spec-conformant (the C61/C174 convention):
    SOI, then doc_id % {_JPEG_MAX_LEAD} APPn segments of VARYING payload
    length (3..11 bytes, doc_id-derived), then SOF0
    (precision 8, height/width big-endian 16-bit, one component), then
    the text bytes as stand-in entropy data. The PARSER is the real
    logic: a {_JPEG_WALK}-step UNROLLED walk in pure JVM binary
    expressions — per step, read the 2-byte marker at the cursor, stop
    on FFC0, else advance by 2 + the big-endian length field — then read
    height/width relative to the found offset. No Python UDF: at 100 TB
    this stays a scan-stage projection (the unroll bound is a documented
    contract — real pipelines bound header scans the same way to cap
    per-record work; deeper headers release NULL dims to a quarantine
    lane rather than unbounded looping). The oracle reconstructs the
    expected sof_offset and segment count from the synthesis arithmetic,
    so a wrong length-field endianness, marker compare, or segment
    advance hash-fails — the walk itself is verified, not just the final
    dims."""
    d = table(spark, sf_dir, "documents")
    w = F.expr(f"CAST({_JPEG_W} AS BIGINT)")
    h = F.expr(f"CAST({_JPEG_H} AS BIGINT)")

    def be16(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    segs = []
    for j in range(_JPEG_MAX_LEAD - 1):
        plen = F.expr(f"CAST(3 + (doc_id + {7 * j}) % 9 AS BIGINT)")
        seg = F.concat(
            F.unhex(F.lit(f"FFE{1 + j}")),  # APP(1+j) marker
            be16(plen + 2),  # length counts itself
            F.encode(
                F.expr(f"repeat('X', 3 + (doc_id + {7 * j}) % 9)"), "UTF-8"
            ),
        )
        segs.append(
            F.when(F.col("doc_id") % _JPEG_MAX_LEAD > j, seg).otherwise(
                F.lit(b"")
            )
        )
    sof0 = F.concat(
        F.unhex(F.lit("FFC0")),
        F.unhex(F.lit("000B")),  # length 11: len+precision+h+w+1 component
        F.unhex(F.lit("08")),  # precision
        be16(h),
        be16(w),
        F.unhex(F.lit("01")),  # 1 component
        F.unhex(F.lit("011100")),  # component spec
    )
    payload = F.concat(
        F.unhex(F.lit("FFD8")),  # SOI
        *segs,
        sof0,
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
    )
    rec = d.select("doc_id", payload.alias("p"))
    # --- the parser: bytes in, metadata out (no doc_id arithmetic below) ---
    is_jpeg = F.expr("hex(substring(p, 1, 2))") == "FFD8"
    rec = rec.select(
        "doc_id",
        "p",
        is_jpeg.alias("ok"),
        F.lit(3).cast("bigint").alias("pos"),
        F.lit(None).cast("bigint").alias("sof"),
        F.lit(0).cast("bigint").alias("skips"),
    )
    for _ in range(_JPEG_WALK):
        marker = F.expr("hex(substring(p, CAST(pos AS INT), 2))")
        advance = F.expr(
            "2 + CAST(conv(hex(substring(p, CAST(pos AS INT) + 2, 2)),"
            " 16, 10) AS BIGINT)"
        )
        walking = F.col("ok") & F.col("sof").isNull()
        rec = rec.select(
            "doc_id",
            "p",
            "ok",
            F.when(walking & (marker != "FFC0"), F.col("pos") + advance)
            .otherwise(F.col("pos"))
            .alias("pos"),
            F.when(walking & (marker == "FFC0"), F.col("pos"))
            .otherwise(F.col("sof"))
            .alias("sof"),
            F.when(walking & (marker != "FFC0"), F.col("skips") + 1)
            .otherwise(F.col("skips"))
            .alias("skips"),
        )
    hh = F.expr(
        "CAST(conv(hex(substring(p, CAST(sof AS INT) + 5, 2)), 16, 10)"
        " AS BIGINT)"
    )
    ww = F.expr(
        "CAST(conv(hex(substring(p, CAST(sof AS INT) + 7, 2)), 16, 10)"
        " AS BIGINT)"
    )
    return rec.select(
        "doc_id",
        F.when(F.col("ok"), F.lit("jpeg")).otherwise(F.lit("unknown")).alias(
            "container"
        ),
        F.when(F.col("sof").isNotNull(), F.col("skips")).alias(
            "n_lead_segments"
        ),
        F.col("sof").alias("sof_offset"),
        F.when(F.col("sof").isNotNull(), ww).alias("width"),
        F.when(F.col("sof").isNotNull(), hh).alias("height"),
        F.when(F.col("sof").isNotNull(), (ww * hh).cast("bigint")).alias(
            "n_pixels"
        ),
        F.when(
            F.col("sof").isNotNull(),
            F.expr(
                "CAST((1000000 * CAST(conv(hex(substring(p,"
                " CAST(sof AS INT) + 7, 2)), 16, 10) AS BIGINT))"
                " div CAST(conv(hex(substring(p, CAST(sof AS INT) + 5, 2)),"
                " 16, 10) AS BIGINT) AS BIGINT)"
            ),
        ).alias("aspect_ppm"),
    )


# --- C177: RIFF container metadata — WAV audio + WebP image (round 14) --------

# Synthesized parameters (the C174/C61 convention: payloads are synthesized
# spec-conformant headers, the PARSER is real logic). Even doc_ids carry a
# canonical 44-byte WAV header, odd doc_ids a lossy-VP8 WebP header; within
# the WAV lane e = doc_id div 2 drives the variety so the two lanes don't
# alias each other's arithmetic.
_RIFF_RATES = (8000, 16000, 22050, 44100)  # the classic telephony→CD ladder
_RIFF_BITS = 16
_WEBP_W = "16 + doc_id % 2048"  # 14-bit VP8 dims (max 2063 < 16384)
_WEBP_H = "16 + (doc_id * 7) % 2048"
_RIFF_CH_DUCK = "(1 + (doc_id // 2) % 2)"
_RIFF_RATE_DUCK = (
    "(CASE (doc_id // 2) % 4"
    + "".join(
        f" WHEN {i} THEN {r}" for i, r in enumerate(_RIFF_RATES[:-1])
    )
    + f" ELSE {_RIFF_RATES[-1]} END)"
)
_RIFF_DBYTES_DUCK = "octet_length(encode(coalesce(text, '')))"


@query(
    "q_llm_media_dims_riff",
    # The oracle states the EXPECTED parse from the synthesis arithmetic
    # (the C174 pattern): a wrong offset, a big-endian read of a
    # little-endian field, or a broken LE32 write/read round-trip
    # hash-fails. data_bytes cross-checks the LE32 data-chunk size the
    # writer embedded against the text's true octet length.
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               CAST({_RIFF_CH_DUCK} AS BIGINT) AS ch,
               CAST({_RIFF_RATE_DUCK} AS BIGINT) AS rate,
               CAST({_RIFF_DBYTES_DUCK} AS BIGINT) AS dbytes
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'WAVE' ELSE 'WEBP' END AS fourcc,
           CASE WHEN doc_id % 2 = 1
                THEN CAST({_WEBP_W} AS BIGINT) END AS width,
           CASE WHEN doc_id % 2 = 1
                THEN CAST({_WEBP_H} AS BIGINT) END AS height,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(({_WEBP_W}) * ({_WEBP_H}) AS BIGINT)
           END AS n_pixels,
           CASE WHEN doc_id % 2 = 0 THEN ch END AS channels,
           CASE WHEN doc_id % 2 = 0 THEN rate END AS sample_rate_hz,
           CASE WHEN doc_id % 2 = 0
                THEN CAST({_RIFF_BITS} AS BIGINT) END AS bits_per_sample,
           CASE WHEN doc_id % 2 = 0 THEN dbytes END AS data_bytes,
           CASE WHEN doc_id % 2 = 0
                THEN CAST((1000 * dbytes)
                          // (rate * ch * {_RIFF_BITS // 8}) AS BIGINT)
           END AS duration_ms
    FROM base
    """,
)
def q_llm_media_dims_riff(spark, sf_dir):
    """C177: RIFF container metadata extraction — the round-14 row that
    completes the C61 "dims for every routed modality" story (C174 reads
    PNG/GIF, C175 walks JPEG; RIFF was the routed-but-unread container).
    One RIFF parser serves TWO real payload families dispatched by the
    fourcc at byte 9:

    - WAV (fourcc ``WAVE``, canonical 44-byte header): channels as
      2-byte LITTLE-endian at offset 23, sample rate LE32 at 25, byte
      rate LE32 at 29, bits/sample LE16 at 35, data-chunk size LE32 at
      41 — released with the exact integer duration_ms =
      (1000·data_bytes) div byte_rate, the number an audio-curation
      pipeline buckets by (sub-second clips out, long-form to a
      segmentation lane) before paying any codec cost;
    - WebP (fourcc ``WEBP``, lossy VP8 bitstream): width and height as
      14-bit little-endian fields at offsets 27 and 29, after the 3-byte
      frame tag and the 9D012A sync code — the same resolution readout
      C174/C175 give images.

    Payloads are synthesized spec-conformant headers (rate from the
    classic {{{", ".join(str(r) for r in _RIFF_RATES)}}} Hz ladder,
    channels/dims from doc_id arithmetic — the C61 convention) prefixed
    onto the text bytes as stand-in sample/entropy data, so the
    data-chunk size field is the text's REAL octet length and the oracle
    cross-checks the LE32 write/read round-trip. The PARSER is the
    honest part: pure JVM-side binary expressions (substring on BINARY →
    hex → conv, little-endian assembled byte-by-byte), fourcc-dispatched,
    no Python UDF anywhere — at 100 TB this is a scan-stage projection,
    zero shuffles, and the same expressions run unchanged on real
    crawled bytes."""
    d = table(spark, sf_dir, "documents")

    # little-endian writers as expression text (cleaner than column math)
    def le16x(expr: str):
        return F.expr(
            f"concat(unhex(lpad(hex(({expr}) % 256), 2, '0')),"
            f" unhex(lpad(hex(({expr}) div 256 % 256), 2, '0')))"
        )

    def le32x(expr: str):
        return F.expr(
            "concat("
            + ", ".join(
                f"unhex(lpad(hex(({expr}) div {256 ** i} % 256), 2, '0'))"
                for i in range(4)
            )
            + ")"
        )

    text_bytes = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    ch_x = "CAST(1 + (doc_id div 2) % 2 AS BIGINT)"
    rate_x = (
        "CAST(element_at(array"
        + str(tuple(_RIFF_RATES))
        + ", CAST((doc_id div 2) % 4 + 1 AS INT)) AS BIGINT)"
    )
    dbytes_x = "CAST(octet_length(encode(coalesce(text, ''), 'UTF-8')) AS BIGINT)"
    block_x = f"({ch_x} * {_RIFF_BITS // 8})"
    brate_x = f"({rate_x} * {block_x})"
    wav = F.concat(
        F.encode(F.lit("RIFF"), "UTF-8"),
        le32x(f"36 + {dbytes_x}"),  # riff size = 4+(8+16)+(8+data)
        F.encode(F.lit("WAVEfmt "), "UTF-8"),
        le32x("16"),  # fmt chunk length
        le16x("1"),  # PCM
        le16x(ch_x),
        le32x(rate_x),
        le32x(brate_x),
        le16x(block_x),
        le16x(str(_RIFF_BITS)),
        F.encode(F.lit("data"), "UTF-8"),
        le32x(dbytes_x),
        text_bytes,
    )
    webp_w_x = f"CAST({_WEBP_W} AS BIGINT)"
    webp_h_x = f"CAST({_WEBP_H} AS BIGINT)"
    webp = F.concat(
        F.encode(F.lit("RIFF"), "UTF-8"),
        le32x(f"20 + {dbytes_x}"),  # 4 (WEBP) + 8 (VP8 hdr) + frame
        F.encode(F.lit("WEBP"), "UTF-8"),
        F.encode(F.lit("VP8 "), "UTF-8"),
        le32x(f"10 + {dbytes_x}"),  # tag+sync+dims+stand-in data
        F.unhex(F.lit("000000")),  # frame tag (keyframe)
        F.unhex(F.lit("9D012A")),  # VP8 sync code
        le16x(webp_w_x),
        le16x(webp_h_x),
        text_bytes,
    )
    payload = F.when(F.col("doc_id") % 2 == 0, wav).otherwise(webp)
    rec = d.select("doc_id", payload.alias("p"))

    # --- the parser: bytes in, metadata out (no doc_id arithmetic below) ---
    def le_read(off: int, nbytes: int) -> str:
        """BIGINT from little-endian bytes at 1-based offset `off`."""
        return (
            "("
            + " + ".join(
                f"{256 ** i} * CAST(conv(hex(substring(p, {off + i}, 1)),"
                " 16, 10) AS BIGINT)"
                for i in range(nbytes)
            )
            + ")"
        )

    is_riff = F.expr("decode(substring(p, 1, 4), 'UTF-8')") == "RIFF"
    fourcc = F.expr("decode(substring(p, 9, 4), 'UTF-8')")
    is_wav = is_riff & (fourcc == "WAVE")
    # VP8 lossy dims are 14-bit fields: mask with % 16384 like a real
    # demuxer (the top 2 bits of the LE16 carry scaling hints).
    is_webp = (
        is_riff
        & (fourcc == "WEBP")
        & (F.expr("hex(substring(p, 24, 3))") == "9D012A")
    )
    w14 = F.expr(f"CAST({le_read(27, 2)} % 16384 AS BIGINT)")
    h14 = F.expr(f"CAST({le_read(29, 2)} % 16384 AS BIGINT)")
    chan = F.expr(f"CAST({le_read(23, 2)} AS BIGINT)")
    srate = F.expr(f"CAST({le_read(25, 4)} AS BIGINT)")
    brate = F.expr(f"CAST({le_read(29, 4)} AS BIGINT)")
    bits = F.expr(f"CAST({le_read(35, 2)} AS BIGINT)")
    dsize = F.expr(f"CAST({le_read(41, 4)} AS BIGINT)")
    return rec.select(
        "doc_id",
        F.when(is_wav, F.lit("WAVE"))
        .when(is_webp, F.lit("WEBP"))
        .otherwise(F.lit("unknown"))
        .alias("fourcc"),
        F.when(is_webp, w14).alias("width"),
        F.when(is_webp, h14).alias("height"),
        F.when(is_webp, (w14 * h14).cast("bigint")).alias("n_pixels"),
        F.when(is_wav, chan).alias("channels"),
        F.when(is_wav, srate).alias("sample_rate_hz"),
        F.when(is_wav, bits).alias("bits_per_sample"),
        F.when(is_wav, dsize).alias("data_bytes"),
        F.when(
            is_wav,
            F.expr(
                f"CAST((1000 * {le_read(41, 4)}) div {le_read(29, 4)}"
                " AS BIGINT)"
            ),
        ).alias("duration_ms"),
    )


# --- C178: PDF header metadata — version + Pages /Count (round 14) ------------

# Synthesized layout (the C174/C61 convention). The payload is a minimal
# spec-conformant PDF prefix: the 9-byte `%PDF-1.m\n` header, a VARIABLE-
# length comment line (`%` + doc_id%9 x's + `\n` — so the /Count locate is
# a real search, not a constant, and the oracle reconstructs the found
# offset closed-form like C175's sof_offset), a Catalog object, a Pages
# object carrying `/Count N`, then the text bytes as stand-in content.
_PDF_MINOR = "1 + doc_id % 7"  # versions 1.1 .. 1.7
_PDF_PAGES = "1 + doc_id % 100"
_PDF_PAD = "doc_id % 9"
_PDF_OBJ1 = "1 0 obj<</Type/Catalog/Pages 2 0 R>>endobj\n"
_PDF_OBJ2_PRE = "2 0 obj<</Type/Pages/Kids[3 0 R]"
# 1-based offset of '/Count ' = header(9) + comment(2 + pad) + obj1 + pre + 1
_PDF_COUNT_BASE = 9 + 2 + len(_PDF_OBJ1) + len(_PDF_OBJ2_PRE) + 1


@query(
    "q_llm_media_dims_pdf",
    # The oracle states the EXPECTED parse from the synthesis arithmetic
    # (the C174/C175 pattern) INCLUDING the locate-derived count_offset —
    # a mis-decoded version digit, a wrong fixed offset, or a locate that
    # finds the wrong occurrence shifts a column and hash-fails.
    oracle=f"""
    SELECT doc_id,
           'pdf' AS container,
           CAST(1 AS BIGINT) AS version_major,
           CAST({_PDF_MINOR} AS BIGINT) AS version_minor,
           CAST({_PDF_COUNT_BASE} + ({_PDF_PAD}) AS BIGINT) AS count_offset,
           CAST({_PDF_PAGES} AS BIGINT) AS n_pages
    FROM documents
    """,
)
def q_llm_media_dims_pdf(spark, sf_dir):
    """C178: PDF header metadata extraction — the row that CLOSES the C61
    "metadata for every routed modality" story (C174 PNG/GIF, C175 JPEG,
    C177 RIFF; PDF was the last routed-but-unread container). Two real
    reads a document-curation pipeline runs before any renderer:

    - the VERSION at FIXED offsets — the spec pins the first 8 bytes to
      ``%PDF-M.m``, so major/minor are one-byte decodes at offsets 6 and
      8 (a pipeline gates features like object streams on >= 1.5);
    - the PAGE COUNT as a LOCATE + integer parse: the Pages tree root
      carries ``/Count N``; the parser finds the first occurrence and
      parses the digit run after it, releasing the found offset beside
      the value so the search itself is verified (the C175 sof_offset
      discipline). A production parser reaches the Pages root via the
      trailer/xref walk; on these synthesized single-Pages documents the
      first ``/Count`` IS that root, and the walk's only honest cost —
      finding a marker at a variable offset — is exercised by the
      variable-length comment line the synthesis injects before it.

    Payloads are synthesized spec-conformant prefixes (version, page
    count and comment pad from doc_id arithmetic — the C61 convention)
    with the text bytes as stand-in content AFTER the ``/Count`` object,
    so the locate must not over-run into content. The PARSER is pure
    JVM-side expressions (substring/decode/instr/regexp_extract on the
    decoded bytes — PDF is a TEXT-structured container, so string ops
    are the honest tool where C174/C177 needed binary ones); no Python
    UDF, zero shuffles, scan-stage projection at any scale."""
    d = table(spark, sf_dir, "documents")
    payload = F.expr(
        "concat("
        f"'%PDF-1.', CAST({_PDF_MINOR} AS STRING), '\\n',"
        f"'%', repeat('x', CAST({_PDF_PAD} AS INT)), '\\n',"
        f"'{_PDF_OBJ1.rstrip(chr(10))}\\n',"
        f"'{_PDF_OBJ2_PRE}',"
        f"'/Count ', CAST({_PDF_PAGES} AS STRING), '>>endobj\\n',"
        "coalesce(text, ''))"
    )
    rec = d.select("doc_id", F.encode(payload, "UTF-8").alias("p"))
    # --- the parser: bytes in, metadata out (no doc_id arithmetic below) ---
    is_pdf = F.expr("decode(substring(p, 1, 5), 'UTF-8')") == "%PDF-"
    s = "decode(p, 'UTF-8')"
    return rec.select(
        "doc_id",
        F.when(is_pdf, F.lit("pdf")).otherwise(F.lit("unknown")).alias(
            "container"
        ),
        F.expr("CAST(decode(substring(p, 6, 1), 'UTF-8') AS BIGINT)").alias(
            "version_major"
        ),
        F.expr("CAST(decode(substring(p, 8, 1), 'UTF-8') AS BIGINT)").alias(
            "version_minor"
        ),
        F.expr(f"CAST(instr({s}, '/Count ') AS BIGINT)").alias(
            "count_offset"
        ),
        F.expr(
            f"CAST(regexp_extract(substring({s}, instr({s}, '/Count ')),"
            " '/Count ([0-9]+)', 1) AS BIGINT)"
        ).alias("n_pages"),
    )


# --- C179: ISO-BMFF (MP4) movie-header walk (round 14) ------------------------

# Synthesized parameters (the C174/C175/C177 convention: payloads are
# synthesized spec-conformant, the PARSER is the real logic). The movie
# timescale ladder covers the classic video/audio clocks; the duration is
# doc_id-derived so duration_ms exercises the div at every remainder class.
_MP4_TIMESCALES = (600, 1000, 44100, 90000)
_MP4_MAX_LEAD = 4  # doc_id % 4 'free' boxes between ftyp and moov (0..3)
_MP4_WALK = 6  # unrolled top-level box-walk depth: > max lead by margin
_MP4_MVHD_SIZE = 108  # version-0 mvhd box: 8 header + 100 payload
_MP4_DUR = "(1 + (doc_id * 37) % 1000000)"
_MP4_TS_DUCK = (
    "(CASE doc_id % 4"
    + "".join(
        f" WHEN {i} THEN {t}" for i, t in enumerate(_MP4_TIMESCALES[:-1])
    )
    + f" ELSE {_MP4_TIMESCALES[-1]} END)"
)


def _mp4_lead_total_duck() -> str:
    """Closed-form byte length of the leading 'free' boxes (oracle side):
    box j occupies 8 + plen(j) bytes, plen(j) = 1 + ((doc_id+5j)%8)."""
    p = [f"(1 + (doc_id + {5 * j}) % 8)" for j in range(_MP4_MAX_LEAD - 1)]
    return (
        f"(CASE doc_id % {_MP4_MAX_LEAD}"
        f" WHEN 0 THEN 0"
        f" WHEN 1 THEN 8 + {p[0]}"
        f" WHEN 2 THEN 16 + {p[0]} + {p[1]}"
        f" ELSE 24 + {p[0]} + {p[1]} + {p[2]} END)"
    )


@query(
    "q_llm_media_dims_mp4",
    # The oracle states the EXPECTED parse from the synthesis arithmetic
    # (the C175 bar) INCLUDING the walk-derived moov_offset and lead-box
    # count — a wrong 32-bit size read, a misplaced fourcc compare, or an
    # off-by-one in the box advance shifts moov_offset and hash-fails.
    oracle=f"""
    SELECT doc_id,
           'mp4' AS container,
           CAST(doc_id % {_MP4_MAX_LEAD} AS BIGINT) AS n_lead_boxes,
           CAST(17 + {_mp4_lead_total_duck()} AS BIGINT) AS moov_offset,
           CAST({_MP4_TS_DUCK} AS BIGINT) AS timescale,
           CAST({_MP4_DUR} AS BIGINT) AS duration_ticks,
           CAST((1000 * {_MP4_DUR}) // {_MP4_TS_DUCK} AS BIGINT)
               AS duration_ms
    FROM documents
    """,
)
def q_llm_media_dims_mp4(spark, sf_dir):
    """C179: ISO-BMFF (MP4) movie-header extraction — the video rung of
    the media-header family (C174 PNG/GIF fixed offsets, C175 JPEG
    marker walk, C177 RIFF fourcc dispatch, C178 PDF text locate),
    completing "metadata for every mainstream container class" with the
    box-tree layout every MP4/MOV/HEIF derivative shares: length-
    prefixed boxes ([4-byte BE size][4-byte fourcc]) at the TOP level,
    the movie timescale/duration at a fixed offset inside moov's first
    child (mvhd, version 0) — so the parser must WALK the top-level box
    chain past however many 'free' boxes the muxer emitted (the C175
    discipline on a 32-bit size field instead of JPEG's 16-bit), then
    descend one level.

    Payloads are synthesized spec-conformant (the C61/C174 convention):
    a 16-byte ftyp, doc_id % {_MP4_MAX_LEAD} 'free' boxes of VARYING
    size (9..16 bytes, doc_id-derived), then moov containing a
    version-0 mvhd ({_MP4_MVHD_SIZE} bytes: timescale at payload offset
    12, duration at 16, zero-padded matrix/rate tail), then the text
    bytes as stand-in mdat. The PARSER is the real logic: a
    {_MP4_WALK}-step UNROLLED walk in pure JVM binary expressions — per
    step read the 32-bit BE size and the fourcc at the cursor, stop on
    'moov', else advance by size — then verify 'mvhd' at moov+8 and
    read timescale/duration relative to the FOUND offset; duration_ms
    is the exact integer (1000·ticks) div timescale both engines
    release identically. No Python: at 100 TB this stays a scan-stage
    projection (the unroll bound is the documented header-scan cap —
    deeper lead chains release NULL to a quarantine lane, the C175
    contract). The oracle reconstructs moov_offset and the lead count
    from the synthesis arithmetic, so a wrong size-field width, fourcc
    compare, or box advance hash-fails — the walk is verified, not just
    the final readout."""
    d = table(spark, sf_dir, "documents")

    def be32(c):
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    ftyp = F.concat(
        F.unhex(F.lit("00000010")),  # size 16
        F.encode(F.lit("ftypisom"), "UTF-8"),
        F.unhex(F.lit("00000200")),  # minor version
    )
    leads = []
    for j in range(_MP4_MAX_LEAD - 1):
        plen = F.expr(f"CAST(1 + (doc_id + {5 * j}) % 8 AS BIGINT)")
        box = F.concat(
            be32(plen + 8),
            F.encode(F.lit("free"), "UTF-8"),
            F.encode(
                F.expr(f"repeat('Z', 1 + (doc_id + {5 * j}) % 8)"), "UTF-8"
            ),
        )
        leads.append(
            F.when(F.col("doc_id") % _MP4_MAX_LEAD > j, box).otherwise(
                F.lit(b"")
            )
        )
    ts = F.expr(f"CAST({_MP4_TS_DUCK.replace('//', 'div')} AS BIGINT)")
    dur = F.expr(f"CAST({_MP4_DUR} AS BIGINT)")
    mvhd = F.concat(
        be32(F.lit(_MP4_MVHD_SIZE).cast("bigint")),
        F.encode(F.lit("mvhd"), "UTF-8"),
        F.unhex(F.lit("00000000")),  # version 0 + flags
        F.unhex(F.lit("00000000")),  # creation
        F.unhex(F.lit("00000000")),  # modification
        be32(ts),
        be32(dur),
        F.unhex(F.lit("00" * (_MP4_MVHD_SIZE - 28))),  # rate..next_track
    )
    moov = F.concat(
        be32(F.lit(8 + _MP4_MVHD_SIZE).cast("bigint")),
        F.encode(F.lit("moov"), "UTF-8"),
        mvhd,
    )
    text_bytes = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    mdat = F.concat(
        be32(F.length(text_bytes).cast("bigint") + 8),
        F.encode(F.lit("mdat"), "UTF-8"),
        text_bytes,
    )
    payload = F.concat(ftyp, *leads, moov, mdat)
    rec = d.select("doc_id", payload.alias("p"))
    # --- the parser: bytes in, metadata out (no doc_id arithmetic below) ---
    is_mp4 = F.expr("hex(substring(p, 5, 4))") == "66747970"  # 'ftyp' 
    rec = rec.select(
        "doc_id",
        "p",
        is_mp4.alias("ok"),
        F.lit(1).cast("bigint").alias("pos"),
        F.lit(None).cast("bigint").alias("moov"),
        F.lit(0).cast("bigint").alias("skips"),
    )
    for _ in range(_MP4_WALK):
        fourcc = F.expr("hex(substring(p, CAST(pos AS INT) + 4, 4))")
        advance = F.expr(
            "CAST(conv(hex(substring(p, CAST(pos AS INT), 4)), 16, 10)"
            " AS BIGINT)"
        )
        walking = F.col("ok") & F.col("moov").isNull()
        moov_cc, ftyp_cc = "6D6F6F76", "66747970"
        rec = rec.select(
            "doc_id",
            "p",
            "ok",
            F.when(walking & (fourcc != moov_cc), F.col("pos") + advance)
            .otherwise(F.col("pos"))
            .alias("pos"),
            F.when(walking & (fourcc == moov_cc), F.col("pos"))
            .otherwise(F.col("moov"))
            .alias("moov"),
            F.when(
                walking & (fourcc != moov_cc) & (fourcc != ftyp_cc),
                F.col("skips") + 1,
            )
            .otherwise(F.col("skips"))
            .alias("skips"),
        )
    child_ok = (
        F.expr("hex(substring(p, CAST(moov AS INT) + 12, 4))")
        == "6D766864"  # 'mvhd'
    ) & (F.expr("hex(substring(p, CAST(moov AS INT) + 16, 1))") == "00")
    found = F.col("moov").isNotNull() & child_ok
    tscale = F.expr(
        "CAST(conv(hex(substring(p, CAST(moov AS INT) + 28, 4)), 16, 10)"
        " AS BIGINT)"
    )
    ticks = F.expr(
        "CAST(conv(hex(substring(p, CAST(moov AS INT) + 32, 4)), 16, 10)"
        " AS BIGINT)"
    )
    return rec.select(
        "doc_id",
        F.when(found, F.lit("mp4")).otherwise(F.lit("unknown")).alias(
            "container"
        ),
        F.when(found, F.col("skips")).alias("n_lead_boxes"),
        F.when(found, F.col("moov")).alias("moov_offset"),
        F.when(found & (tscale > 0), tscale).alias("timescale"),
        F.when(found, ticks).alias("duration_ticks"),
        F.when(found & (tscale > 0), F.expr(
            "CAST((1000 * CAST(conv(hex(substring(p, CAST(moov AS INT)"
            " + 32, 4)), 16, 10) AS BIGINT)) div"
            " CAST(conv(hex(substring(p, CAST(moov AS INT) + 28, 4)),"
            " 16, 10) AS BIGINT) AS BIGINT)"
        )).alias("duration_ms"),
    )
