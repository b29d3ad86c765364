"""Multimodal columns (SURVEY.md section 2 X5, north-star EXT):
image/audio/video as opaque BINARY columns + typed metadata structs,
with feature extraction as a whole-stage-codegen projection.

The container has no image/audio codecs, so the *decode kernel* is
stubbed: the features are a stable vector derived from the bytes' md5
(clearly marked FAKE); there is no real decoder.  Because the stub is
byte-pure it runs in the JVM (:func:`fake_features_expr`), and
``deterministic_fake_features`` is its Python reference, which the
tests compare it with row by row.  A real codec would be a
``mapInPandas`` stage over the same schema.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),  # opaque encoded bytes
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16


def deterministic_fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """FAKE decode stub: md5-seeded feature vector in [-1, 1].
    Deterministic so tests and oracles are stable; replace with a real
    decoder (PIL/librosa/ffmpeg) in deployment.

    The block salt is the ASCII counter (``payload + b"0"``, ``b"1"``,
    ...) so the hash input stays representable as text and an ANSI-SQL
    oracle can recompute feature 0 as ``md5(text || '0')``."""
    if payload is None:
        return [0.0] * dim
    out: list[float] = []
    i = 0
    while len(out) < dim:
        h = hashlib.md5(payload + str(i).encode("ascii")).digest()
        for j in range(0, 16, 4):
            if len(out) >= dim:
                break
            v = int.from_bytes(h[j : j + 4], "little")
            out.append((v % 2_000_001) / 1_000_000.0 - 1.0)
        i += 1
    return out


def fake_features_expr(dim: int = FEATURE_DIM) -> F.Column:
    """:func:`deterministic_fake_features` as a pure codegen expression
    (equivalence-tested against it).

    The FAKE extractor is a pure function of the payload bytes built
    from md5, so it belongs in the JVM: per md5 block ``i``,
    ``F.md5(payload || ascii(i))`` yields 32 hex chars = 16 digest
    bytes = 4 little-endian uint32 features.  Each feature reverses
    its 4 byte-pairs in the hex string, ``conv``s to a long, and
    rescales to [-1, 1] — no Python worker, no Arrow round trip
    (~0.2 s/query fixed cost at bench scale)."""
    feats = []
    for t in range(dim):
        block, off = t // 4, (t % 4) * 4  # byte offset within the digest
        h = F.md5(F.concat(F.col("payload"), F.lit(str(block).encode("ascii"))))
        le_hex = F.concat(
            *[F.substring(h, 2 * (off + b) + 1, 2) for b in (3, 2, 1, 0)]
        )
        v = F.conv(le_hex, 16, 10).cast("long")
        feats.append(((v % 2_000_001) / 1_000_000.0 - 1.0).cast("float"))
    return F.when(
        F.col("payload").isNull(),
        F.array(*[F.lit(0.0).cast("float")] * dim),
    ).otherwise(F.array(*feats))


def extract_features(df: DataFrame) -> DataFrame:
    """Feature extraction over binary payloads: the FAKE md5 extractor
    evaluated as a whole-stage-codegen projection
    (:func:`fake_features_expr`)."""
    return df.withColumn("features", fake_features_expr(FEATURE_DIM))


def synthetic_media(spark, documents: DataFrame) -> DataFrame:
    """Build a deterministic media table from document text bytes —
    the test stand-in for real blob ingestion: one media row per
    document."""
    base = documents.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )
    return base
