"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Real Spark plumbing (schemas, partitioning, Arrow batch shapes, one-to-many
frame explosion) with the codec boundary stubbed deterministically: this
container has no image/audio libraries, so payloads carry a 16-byte fake
header (magic, kind, width/height or rate/duration) that the "decoder"
parses. Swapping `_decode_payload` for a real PIL/ffmpeg call is the only
change needed on a cluster with media libs installed.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, IntegerType,
                               LongType, StringType, StructField, StructType)

from .job import map_rows

_MAGIC = b"NRSM"
_KINDS = ["image", "audio", "video"]

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("url", StringType()),
    StructField("kind", StringType()),
    StructField("payload", BinaryType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_ms", IntegerType()),
])

FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("ok", StringType()),
    StructField("feature", ArrayType(FloatType())),
    StructField("payload_bytes", LongType()),
])

FRAMES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("frame_no", IntegerType()),
    StructField("frame", BinaryType()),
])


def _fake_payload(media_id: int, kind: str) -> bytes:
    w = 64 + (media_id % 32) * 8
    h = 48 + (media_id % 24) * 8
    rate = 8000 + (media_id % 5) * 8000
    dur = 500 + (media_id % 20) * 250
    header = _MAGIC + struct.pack(
        ">BxHHHHI", _KINDS.index(kind), w, h, rate & 0xFFFF, 0, dur)
    body = hashlib.sha256(f"{media_id}:{kind}".encode()).digest()
    reps = 16 + (media_id % 64)
    return header + body * reps


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from the documents table ids."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")) \
        .select("doc_id")
    return map_rows(docs, MEDIA_SCHEMA, _media_rows)


def _media_rows(mid: int):
    kind = _KINDS[mid % 3]
    yield {"media_id": mid,
           "url": f"https://host{mid % 97}.example.org/media/{mid}",
           "kind": kind,
           "payload": _fake_payload(mid, kind),
           "width": 64 + (mid % 32) * 8 if kind == "image" else None,
           "height": 48 + (mid % 24) * 8 if kind == "image" else None,
           "sample_rate": 8000 + (mid % 5) * 8000
           if kind == "audio" else None,
           "duration_ms": 500 + (mid % 20) * 250
           if kind != "image" else None}


def _decode_payload(payload: bytes) -> tuple[str, np.ndarray]:
    """Stub decode: parses the deterministic fake header and returns the
    body as a uint8 array. On a real cluster this is the PIL / soundfile /
    pyav call; the surrounding plumbing is identical. PDF payloads are
    the one codec with a REAL decoder behind this seam — see
    ``synthesize_pdfs`` / ``extract_pdf`` below, backed by
    readability/pdf.py."""
    if payload[:4] != _MAGIC:
        raise ValueError("unknown codec")
    kind = _KINDS[payload[4]]
    return kind, np.frombuffer(payload[16:], dtype=np.uint8)


def extract_features(media: DataFrame, dims: int = 16) -> DataFrame:
    """Vectorized feature extraction over binary payloads: folded byte
    histogram, L2-normalized float32 — the Arrow batch shape a real
    embedding model UDF would use."""
    def featurize(mid, payload):
        row = {"media_id": mid,
               "payload_bytes": len(payload) if payload is not None else 0}
        try:
            kind, arr = _decode_payload(payload)
            hist = np.bincount(arr % dims, minlength=dims) \
                .astype(np.float32)
            norm = float(np.linalg.norm(hist))
            row.update(kind=kind, ok="ok",
                       feature=(hist / norm if norm > 0 else hist).tolist())
        except Exception as exc:
            row.update(kind=None, ok=f"decode_error: {exc}"[:100],
                       feature=None)
        yield row

    return map_rows(media.select("media_id", "payload")
                    .repartition(F.xxhash64("media_id")),
                    FEATURES_SCHEMA, featurize)


# --- PDF payloads (real codec behind the seam) ----------------------------------

PDF_MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("url", StringType()),
    StructField("payload", BinaryType()),
])

PDF_TEXT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("ok", StringType()),
    StructField("n_pages", LongType()),
    StructField("text_md5", StringType()),
    StructField("text_len", LongType()),
])


def build_doc_pdf(doc_id: int, text: str) -> bytes:
    """Deterministic real-PDF payload for one document: the text split
    into 8-word lines, 12 lines per page, written by the classic-layout
    writer (readability/pdf.py). ``doc_id % 3`` rotates the show-operator
    style (Tj / TJ-array / hex-string) so the whole tokenizer surface is
    exercised at corpus scale, and three deterministic damage classes
    mirror real crawl payloads: doc_id % 89 -> header stub only
    (unrecoverable, ok=false), % 53 -> tail truncated before the xref
    (object-scan salvage), % 71 -> stream /Length corrupted by a
    byte-shifting edit (endstream-scan + stale-xref salvage)."""
    from nreadability_spark.readability.pdf import build_pdf
    words = (text or "").split()
    lines = [" ".join(words[i:i + 8]) for i in range(0, len(words), 8)] \
        or ["empty document"]
    pages = [lines[i:i + 12] for i in range(0, len(lines), 12)]
    # doc_id % 2 rotates the file layout (classic 1.4 / object-stream
    # 1.5 with an xref stream), % 4 == 3 additionally runs the xref
    # rows through the PNG Up predictor — so the corpus exercises the
    # modern structure layer, not just the 1.4 shape. % 7 odd classes
    # encrypt with the standard security handler (empty user password:
    # RC4-40 / RC4-128 / AES-128 — the crawled-PDF norm), % 11 == 4
    # swaps content streams to /LZWDecode, and % 83 == 0 corrupts the
    # /U validator so the empty-password check fails (ok=false,
    # "encrypted: password required" — the paywalled-file shape).
    encrypt = {1: "rc4-40", 3: "rc4-128", 5: "aes-128"}.get(int(doc_id) % 7)
    pdf = build_pdf(pages, compress=True, style=int(doc_id) % 3,
                    layout="objstm" if doc_id % 2 else "classic",
                    predictor=doc_id % 4 == 3,
                    cid=doc_id % 5 == 2,
                    encrypt=encrypt, lzw=doc_id % 11 == 4)
    if encrypt and doc_id % 83 == 0:
        i = pdf.find(b"/U <")
        if i >= 0:
            pdf = pdf[:i + 5] + (b"0" if pdf[i + 5:i + 6] != b"0"
                                 else b"1") + pdf[i + 6:]
    if doc_id % 89 == 0:
        return pdf[:40]
    if doc_id % 53 == 0:
        return pdf[:pdf.rfind(b"xref")]
    if doc_id % 71 == 0:
        return pdf.replace(b"/Length ", b"/Length 9", 1)
    return pdf


def synthesize_pdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PDF corpus derived from the documents table (the
    PDF analog of pages.synthesize_pages)."""
    from .ops import _spread
    # single-row-group documents files scan as 1-2 splits; without the
    # spread the whole PDF build kernel runs on that many cores.
    # heavy=True: PDF build+parse is ms-per-row, so the re-split wins at
    # every measured input size (sf0.1 interleaved A/B: 2.02 s spread
    # vs 3.36 s not) — the _spread size gate is for cheap per-row work
    docs = _spread(
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text"), heavy=True)
    return map_rows(docs, PDF_MEDIA_SCHEMA, _pdf_media_rows)


def _pdf_media_rows(did: int, text):
    yield {"doc_id": did,
           "url": f"https://host{did % 97}.example.org/docs/{did}.pdf",
           "payload": build_doc_pdf(did, text)}


def extract_pdf(pdfs: DataFrame) -> DataFrame:
    """PDF text extraction over binary payloads (Arrow-batched; the
    kernel is pure Python per payload, exactly like the html transcoder
    batches). Output ships md5/len fingerprints, not the text blobs —
    the serde-narrow shape of extract_fingerprints."""
    return map_rows(pdfs.select("doc_id", "payload")
                    .repartition(F.xxhash64("doc_id")),
                    PDF_TEXT_SCHEMA, _pdf_text_rows)


def _pdf_text_rows(did: int, payload):
    from nreadability_spark.readability.pdf import extract_pdf_text
    r = extract_pdf_text(payload or b"")
    yield {"doc_id": did,
           "ok": "ok" if r.ok else f"error: {r.error}"[:100],
           "n_pages": len(r.pages),
           "text_md5": hashlib.md5(r.text.encode("utf-8")).hexdigest(),
           "text_len": len(r.text)}


def sample_frames(media: DataFrame, every_n: int = 4,
                  frame_bytes: int = 256) -> DataFrame:
    """One-to-many frame sampling for video payloads (each input row
    yields 0..k frame rows)."""
    def sample(mid, kind, payload):
        if kind != "video" or payload is None:
            return
        body = payload[16:]
        blocks = [body[i:i + frame_bytes]
                  for i in range(0, len(body), frame_bytes)]
        for frame_no, block in enumerate(blocks[::every_n]):
            yield {"media_id": mid, "frame_no": frame_no, "frame": block}

    return map_rows(media.select("media_id", "kind", "payload"),
                    FRAMES_SCHEMA, sample)
