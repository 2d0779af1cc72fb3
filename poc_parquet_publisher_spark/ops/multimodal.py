"""Multimodal columns: image/audio/video as opaque BinaryType + typed
metadata.

The container has no image/audio codecs, so the decode kernels are STUBS
(deterministic fakes) -- but the Spark-side plumbing
is real and tested: schema contracts, Arrow-batched mapInPandas UDF
signatures, partition sizing for fat binary rows.

Scale notes:
- binary payloads ride in the same parquet row as their metadata; column
  pruning means metadata-only queries never read the blobs.
- decode fans out via mapInPandas (Arrow batches), so bytes cross the
  JVM->Python boundary in columnar chunks, not row-at-a-time pickles.
- fat rows need smaller input splits: set
  spark.sql.files.maxPartitionBytes so a partition of blobs fits executor
  memory (e.g. 64 MB splits for ~5 MB payloads).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, byte_len long, sha256 string, "
    "feature array<float>"
)


def attach_binary_metadata(df: DataFrame) -> DataFrame:
    """Typed metadata over an opaque binary column -- pure JVM expressions."""
    return df.withColumn(
        "byte_len", F.octet_length("payload").cast("long")
    ).withColumn("sha256", F.sha2(F.col("payload"), 256))


def _fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic fake 'decoder': derives a feature vector from the
    payload digest. Stands in for image-decode/resize/frame-sample until a
    codec library is available."""
    digest = hashlib.sha256(payload).digest()
    return [digest[i] / 255.0 for i in range(8)]


def decode_features(df: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads.

    A PIL/librosa/pyav decoder would replace ``_fake_decode_features``;
    the deterministic fake keeps the distributed plumbing testable.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": pdf["payload"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "sha256": pdf["payload"].map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "feature": pdf["payload"].map(
                        lambda b: _fake_decode_features(b or b"")
                    ),
                }
            )
            yield out

    return df.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "media_id long, kind string, width int, height int, payload binary"
)


def resize_images(
    df: DataFrame, width: int = 32, height: int = 32
) -> DataFrame:
    """Resize stub over image payloads (same mapInPandas plumbing a real
    PIL kernel would use).

    The fake "resize" emits a deterministic byte stream of exactly
    width*height bytes derived from the payload digest, so output size
    contracts (the thing partition sizing depends on) are honest.
    """
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in it:
            imgs = pdf[pdf["kind"] == "image"]
            digests = imgs["payload"].map(
                lambda b: hashlib.sha256(b or b"").digest()
            )
            yield pd.DataFrame(
                {
                    "media_id": imgs["media_id"],
                    "kind": imgs["kind"],
                    "width": width,
                    "height": height,
                    "payload": digests.map(
                        lambda d: (d * (target // len(d) + 1))[:target]
                    ),
                }
            )

    return df.mapInPandas(batches, schema=RESIZE_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling stub over video payloads: one output row per sampled
    frame (media_id, frame_idx, frame_sha), frame count driven by the
    TYPED METADATA (meta.duration_ms), so the plan never decodes payloads
    it won't sample.

    The stub kernel (frame_sha = sha256(payload || frame_idx_be32)) is pure
    JVM: explode(sequence(0, n_frames-1)) fans out frame rows and
    sha2(concat(...)) hashes them inside whole-stage codegen -- no Python,
    no shuffle. A real pyav kernel would swap in a mapInPandas stage here;
    the metadata-driven fan-out (never decoding frames it won't sample)
    stays the same.
    """
    n_frames = F.greatest(
        F.lit(1).cast("long"),
        (F.coalesce(F.col("meta.duration_ms"), F.lit(0)) / every_ms).cast(
            "long"
        ),
    )
    # frame_idx big-endian 4-byte suffix, JVM-side: hex -> lpad 8 -> binary
    idx_be32 = F.to_binary(
        F.lpad(F.hex(F.col("frame_idx")), 8, "0"), F.lit("hex")
    )
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.coalesce(F.col("payload"), F.lit(b"")).alias("_payload"),
            F.explode(
                F.sequence(F.lit(0), (n_frames - 1).cast("int"))
            ).alias("frame_idx"),
        )
        .select(
            "media_id",
            "frame_idx",
            F.sha2(F.concat(F.col("_payload"), idx_be32), 256).alias(
                "frame_sha"
            ),
        )
    )


def synthetic_media(spark, n: int = 64, payload_bytes: int = 256) -> DataFrame:
    """Deterministic fake media table matching MEDIA_SCHEMA (test fixture:
    payload = repeated md5 stream seeded by media_id)."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        seed = hashlib.md5(f"media:{i}".encode()).digest()
        payload = (seed * (payload_bytes // 16 + 1))[:payload_bytes]
        kind = kinds[i % 3]
        meta = {
            "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
            "width": 64 if kind != "audio" else None,
            "height": 64 if kind != "audio" else None,
            "duration_ms": 1000 * (i + 1) if kind != "image" else None,
        }
        rows.append((i, kind, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def dedup_frames(frames: DataFrame) -> DataFrame:
    """Exact frame-level dedup across videos by content hash -- the
    multimodal analog of ``dedup.exact_dedup`` (near-identical intro
    sequences, re-uploads, and padding frames collapse to one row per
    distinct frame). One hash-groupBy over ``sample_frames`` output;
    the 256-bit key cannot skew.

    Returns (frame_sha, keep_media_id, keep_frame_idx, dup_cnt); the
    survivor is the (media_id, frame_idx)-smallest occurrence.
    """
    return (
        frames.groupBy("frame_sha")
        .agg(
            F.min(F.struct("media_id", "frame_idx")).alias("keep"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
        .select(
            "frame_sha",
            F.col("keep.media_id").alias("keep_media_id"),
            F.col("keep.frame_idx").alias("keep_frame_idx"),
            "dup_cnt",
        )
    )


FINGERPRINT_SCHEMA = (
    "media_id long, kind string, byte_len long, sha_hex string, "
    "feat string"
)


def fingerprint_media(df: DataFrame) -> DataFrame:
    """Arrow-batched fingerprint pass over binary payloads: byte length,
    sha256 of the payload's lowercase hex, and the first 8 digest bytes
    as a canonical 'b0,...,b7' feature string.

    The ORACLE-PORTABLE twin of ``decode_features``: hashing the hex
    TEXT (not the raw bytes) lets a SQL engine without blob digests
    reproduce every output value, so the full JVM->Arrow->Python binary
    transfer is verifiable through the correctness gate -- if even one
    payload byte were corrupted, reordered, or truncated in transit,
    the hex differs and the digest cascades. A production decoder would
    hash raw bytes (``decode_features``); the plumbing under test is
    identical.
    """
    import hashlib as _hl

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            def fp(b: bytes) -> str:
                return _hl.sha256((b or b"").hex().encode()).hexdigest()

            sha = pdf["payload"].map(fp)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": pdf["payload"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "sha_hex": sha,
                    "feat": sha.map(
                        lambda h: ",".join(
                            str(int(h[i : i + 2], 16))
                            for i in range(0, 16, 2)
                        )
                    ),
                }
            )

    return df.mapInPandas(batches, schema=FINGERPRINT_SCHEMA)
