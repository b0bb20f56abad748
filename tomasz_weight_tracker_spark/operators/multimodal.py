"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata (training-data-pipeline mandate).

Design (what is REAL vs STUBBED here):

- REAL: the Spark-side plumbing — schemas, Arrow-batched
  ``mapInPandas`` UDF signatures and batch shapes, partition-preserving
  per-row transforms, deterministic outputs, and the metadata model
  (``struct<modality,format,width,height,duration_ms>``) — AND the
  BMP/PNG/GIF/JPEG/WAV codecs: ``operators.codecs`` decodes BMP
  headers + 24-bit pixels, PNG (zlib inflate + full scanline unfilter
  for 8-bit gray/RGB/RGBA), GIF (real LZW inflate + palette lookup),
  baseline JPEG (canonical Huffman + dequantize + IDCT + YCbCr, any
  sampling factors; progressive falls back to header-only), and
  RIFF/WAV headers + 16-bit PCM samples with stdlib only (no external
  libs), producing real pixel/sample features
  (``decoder='bmp'``/``'png'``/``'gif'``/``'jpeg'``/``'wav'``).
- STUBBED: every OTHER format (mp3/mp4/...).  Their codec libs
  are not in this container, so ``decode`` dispatches to Pillow when
  importable and otherwise produces a DETERMINISTIC FAKE derived from
  the md5 of the bytes (flagged by ``decoder='stub'`` in the output).
  Swapping in a real decoder changes no schema, partitioning, or call
  site.  A blob whose HEADER parses but whose pixels/samples don't
  (16-bit / palette / interlaced PNG, compressed BMP, non-PCM WAV,
  corrupt payload) is labeled ``'<fmt>-header'`` — dims/duration are
  real, the feature vector is the md5 fallback — so consumers never
  mistake fake features for decoded ones.

The cheap metadata pass (byte length, content md5) is NATIVE —
``binary_meta`` runs JVM-side before any decode, and ``decode_media``
receives ``n_bytes`` as an input column rather than recomputing it in
Python.

Scale posture: binaries stay opaque byte arrays end-to-end; transforms
are per-row (zero shuffle), Arrow-batched, and column-pruned — a scan
computing features over 100 TB of images reads only (id, content).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from . import codecs

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("modality", StringType()),
                    StructField("format", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", LongType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 8

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("decoder", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

def binary_meta(content: Column) -> Column:
    """Native (JVM-side) metadata over an opaque binary column: byte
    length + md5 — the cheap pass that runs BEFORE any decode, e.g. for
    exact-dup removal of media blobs."""
    return F.struct(
        F.length(content).cast("long").alias("n_bytes"),
        F.md5(content).alias("content_md5"),
    )


def _stub_features(raw: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic fake feature vector: md5-seeded, in [0, 1)."""
    digest = hashlib.md5(raw).digest()
    return [
        int.from_bytes(digest[2 * i : 2 * i + 2], "big") / 65536.0 for i in range(dim)
    ]


def _try_real_image_decode(raw: bytes):
    try:
        import io

        from PIL import Image  # not in this container; real path when present

        img = Image.open(io.BytesIO(raw))
        return img.width, img.height
    except Exception:
        return None


def _decode_one(raw: bytes) -> dict:
    """Dispatch one blob through the decoder chain:
    PNG (stdlib zlib) -> GIF (stdlib LZW) -> BMP (stdlib) -> JPEG
    (stdlib baseline) -> WAV (stdlib) -> Pillow (if importable) ->
    stub.  Signatures are disjoint, so order is cosmetic."""
    png = codecs.parse_png(raw)
    if png is not None:
        # pixel features are codec-agnostic: parse_png emits the same
        # (b, g, r) row-major pixels parse_bmp does.  A header-only
        # decode (16-bit / palette / interlaced / corrupt IDAT) has no
        # pixels — label it 'png-header' so consumers can tell real
        # pixel features from the deterministic md5 fallback.
        feats = codecs.bmp_features(png, FEATURE_DIM)
        return {
            "decoder": "png" if feats is not None else "png-header",
            "width": png["width"],
            "height": png["height"],
            "duration_ms": None,
            "features": feats if feats is not None else _stub_features(raw),
        }
    gif = codecs.parse_gif(raw)
    if gif is not None:
        feats = codecs.bmp_features(gif, FEATURE_DIM)
        return {
            "decoder": "gif" if feats is not None else "gif-header",
            "width": gif["width"],
            "height": gif["height"],
            "duration_ms": None,
            "features": feats if feats is not None else _stub_features(raw),
        }
    bmp = codecs.parse_bmp(raw)
    if bmp is not None:
        feats = codecs.bmp_features(bmp, FEATURE_DIM)
        return {
            "decoder": "bmp" if feats is not None else "bmp-header",
            "width": bmp["width"],
            "height": bmp["height"],
            "duration_ms": None,
            "features": feats if feats is not None else _stub_features(raw),
        }
    try:
        jpg = codecs.parse_jpeg(raw)
    except (IndexError, ValueError, struct.error):
        # a corrupt entropy stream must degrade to the stub, never
        # crash the mapInPandas task (one bad crawl blob != job failure)
        jpg = {"width": 0, "height": 0, "pixels": None}
    if jpg is not None:
        feats = codecs.bmp_features(jpg, FEATURE_DIM)
        return {
            "decoder": "jpeg" if feats is not None else "jpeg-header",
            "width": jpg["width"],
            "height": jpg["height"],
            "duration_ms": None,
            "features": feats if feats is not None else _stub_features(raw),
        }
    wav = codecs.parse_wav(raw)
    if wav is not None:
        feats = codecs.wav_features(wav, FEATURE_DIM)
        return {
            "decoder": "wav" if feats is not None else "wav-header",
            "width": None,
            "height": None,
            "duration_ms": wav["duration_ms"],
            "features": feats if feats is not None else _stub_features(raw),
        }
    real = _try_real_image_decode(raw)
    if real is not None:
        return {
            "decoder": "pillow",
            "width": real[0],
            "height": real[1],
            "duration_ms": None,
            "features": _stub_features(raw),
        }
    digest = hashlib.md5(raw).digest()
    return {
        "decoder": "stub",
        "width": 1 + digest[0] % 64,  # deterministic fake dims
        "height": 1 + digest[1] % 64,
        "duration_ms": None,
        "features": _stub_features(raw),
    }


def decode_media(df: DataFrame, id_col: str = "media_id", content_col: str = "content") -> DataFrame:
    """Arrow-batched decode/feature-extract over a binary column.

    BMP/WAV decode for real (stdlib codecs); other formats fall back to
    Pillow or the flagged stub (module docstring).  Per-row map —
    preserves partitioning, no shuffle.  ``n_bytes`` is computed
    NATIVELY (JVM ``length``) and forwarded through the batch; the
    Python side only runs the actual codec."""

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = []
            for _, r in batch.iterrows():
                raw = bytes(r[content_col])
                rec = _decode_one(raw)
                rec["media_id"] = r[id_col]
                rec["n_bytes"] = r["__n_bytes"]
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    src = df.select(
        id_col, content_col, F.length(content_col).cast("long").alias("__n_bytes")
    )
    return src.mapInPandas(decode, DECODED_SCHEMA)
