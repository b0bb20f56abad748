"""Perceptual-hash near-duplicate detection over DECODED image pixels
— the image modality's member of the dedup family (MinHash/SimHash
cover text; this covers the binary media columns the real codecs in
:mod:`operators.codecs` decode).

The hash is **dHash** (difference hash, the public aHash/dHash/pHash
family): nearest-neighbor resample the decoded pixel grid to 9x8
(:func:`codecs.resize_nearest` — pure integer source mapping, so an
oracle can replay it closed-form), then one bit per horizontally
adjacent cell pair, set when the right cell's gray value exceeds the
left.  9x8 yields 64 comparisons; this implementation keeps the first
**62 bits** — the repo-wide 62-bit word convention (see
operators/sketches.py BLOOM_WORD: DuckDB raises on ``1::BIGINT <<
63`` and bit 62 is the sign boundary), dropping the grid's two
bottom-right comparisons, which costs nothing discriminative.

Near-dup discovery is Hamming-banded, the simhash/LSH convention:
the 62-bit hash splits into 4 bands (16/16/16/14 bits); two images
within Hamming distance d share at least one band whenever their
flipped bits miss a band (guaranteed for d <= 3 by pigeonhole, and
overwhelmingly likely for the d <= 8 verify threshold on near-dup
image pairs, whose pixel edits are spatially local — locality in the
image maps to locality in the bit grid, so flips cluster in bands).
Band buckets are capped with the same QUALIFY-count discipline as
every other pairwise-candidate generator in the repo; the verify is
``bit_count(xor) <= max_hamming``, JVM-native on the pair stream.

Scale posture: decode + hash is one Arrow-batched pass over the
binary column (the blob is the unit of work — the documented
mapInPandas exception); everything after is native: one explode to
4 rows/image, one band-keyed exchange, bounded-bucket self-join,
bit_count verify.  No Python in the pairwise stage.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import expand_rep_pairs

PHASH_BITS = 62
PHASH_GRID_W, PHASH_GRID_H = 9, 8  # resample target; 8 comparisons/row
PHASH_BANDS = 4  # 16/16/16/14-bit Hamming bands
PHASH_BAND_CAP = 256  # hot-bucket cap on the band join
PHASH_MAX_HAMMING = 8  # verify threshold


def dhash62(decoded: dict) -> int | None:
    """62-bit dHash of a decoded image dict ({width, height, pixels}
    with (b, g, r) tuples, the parse_bmp/parse_gif/parse_png shape).
    Gray value is the blue channel — the catalog's synthetic fixtures
    are grayscale (all channels equal), and a production caller would
    insert a luma transform in the same decoded-dict pipeline.
    Returns None when the decode carried no pixels (header-only)."""
    from .codecs import resize_nearest

    g = resize_nearest(decoded, PHASH_GRID_W, PHASH_GRID_H)
    if g is None:
        return None
    px = g["pixels"]
    h = 0
    for b in range(PHASH_BITS):
        gx, gy = b % 8, b // 8
        base = gy * PHASH_GRID_W + gx
        if px[base + 1][0] > px[base][0]:
            h |= 1 << b
    return h


def phash_media(media: DataFrame) -> DataFrame:
    """Decode (real codecs: BMP/PNG/GIF by magic bytes) and dHash the
    binary ``content`` column: (media_id, phash) with NULL phash for undecodable
    or header-only blobs.  One Arrow-batched pass; the blob is the
    unit of work (see module docstring)."""

    def hash_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from .codecs import parse_bmp, parse_gif, parse_png

        for batch in batches:
            out = []
            for mid, raw in zip(batch["media_id"], batch["content"]):
                raw = bytes(raw) if raw is not None else b""
                dec = None
                if raw[:2] == b"BM":
                    dec = parse_bmp(raw)
                elif raw[:6] in (b"GIF87a", b"GIF89a"):
                    dec = parse_gif(raw)
                elif raw[:8] == b"\x89PNG\r\n\x1a\n":
                    dec = parse_png(raw)
                h = dhash62(dec) if dec and dec.get("pixels") else None
                out.append({"media_id": mid, "phash": h})
            yield pd.DataFrame(out, columns=["media_id", "phash"])

    return media.mapInPandas(hash_batches, "media_id long, phash long")


def _band_expr(j: int) -> Column:
    width = 16 if j < PHASH_BANDS - 1 else PHASH_BITS - 16 * (PHASH_BANDS - 1)
    return (
        F.shiftright(F.col("phash"), 16 * j).bitwiseAND(F.lit((1 << width) - 1))
    ).cast("long")


def phash_near_dup_pairs(hashes: DataFrame, max_bucket: int = PHASH_BAND_CAP) -> DataFrame:
    """Hamming-banded near-dup pairs over (media_id, phash) rows:
    distinct (id_a, id_b, hamming) with id_a < id_b and
    bit_count(xor) <= PHASH_MAX_HAMMING.

    COLLAPSE-FIRST, like the MinHash generator (lsh_candidate_pairs):
    identical hashes collapse to a representative before banding, so
    exact-duplicate images — the dominant mass in a crawl, and the
    thing a Hamming-ball cap would otherwise see as one giant bucket —
    never inflate a band bucket; the cap applies to DISTINCT hashes
    per bucket, and verified rep-pairs expand back to member pairs
    through :func:`dedup.expand_rep_pairs` (within-cluster pairs at
    hamming 0 — true dups, output-bound).  The first version capped
    member-level buckets and the 10x soak measured exactly the
    round-7 LSH failure mode: every bucket over the cap, output 0.
    One band exchange over distinct hashes + one hash-keyed collapse
    window; bit_count verify before expansion, so false rep-pairs
    never fan out."""
    members = (
        hashes.filter(F.col("phash").isNotNull())
        .select("media_id", "phash")
        .withColumn("__rep", F.min("media_id").over(Window.partitionBy("phash")))
        .withColumn("__cnt", F.count(F.lit(1)).over(Window.partitionBy("phash")))
    )
    reps = members.filter(F.col("media_id") == F.col("__rep"))
    banded = reps.select(
        F.col("media_id").alias("rid"),
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"), _band_expr(j).alias("band_key")
                    )
                    for j in range(PHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("rid", "phash", "band.band_id", "band.band_key")
    w = Window.partitionBy("band_id", "band_key")
    banded = (
        banded.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") <= max_bucket)
        .drop("__n")
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).cast("long")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.rid") < F.col("b.rid")),
        )
        .filter(ham <= PHASH_MAX_HAMMING)
        .select(
            F.col("a.rid").alias("ra"),
            F.col("b.rid").alias("rb"),
            ham.alias("hamming"),
        )
        .distinct()
    )
    return expand_rep_pairs(
        rep_pairs, members.filter(F.col("__cnt") > 1), "media_id", "hamming", 0
    )
