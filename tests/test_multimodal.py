"""Multimodal plumbing tests: the decode kernels are stubs (no codecs in
this container) but the Spark-side contracts -- schemas, Arrow batch
shapes, metadata-driven planning, column pruning over fat binary rows --
are real and asserted here.
"""

from __future__ import annotations

import pytest

from poc_parquet_publisher_spark.ops import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synthetic_media(spark, n=30, payload_bytes=256)


def test_metadata_expressions(media):
    out = mm.attach_binary_metadata(media).collect()
    assert all(r.byte_len == 256 for r in out)
    assert all(len(r.sha256) == 64 for r in out)


def test_decode_features_contract(media):
    out = mm.decode_features(media)
    assert out.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,byte_len:bigint,"
        "sha256:string,feature:array<float>>"
    )
    rows = out.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r.feature) == 8
        assert all(0.0 <= x <= 1.0 for x in r.feature)
    # deterministic fake: same payload -> same feature on re-run
    again = {r.media_id: r.feature for r in mm.decode_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)


def test_resize_contract(media):
    rows = mm.resize_images(media, width=16, height=16).collect()
    # 30 media, every 3rd is an image
    assert len(rows) == 10
    for r in rows:
        assert (r.width, r.height) == (16, 16)
        assert len(r.payload) == 16 * 16  # honest output-size contract


def test_frame_sampling_uses_metadata(media):
    rows = mm.sample_frames(media, every_ms=1000).collect()
    assert rows, "videos must produce frames"
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    meta = {r.media_id: r.meta for r in media.collect() if r.kind == "video"}
    assert set(by_media) == set(meta)
    for mid, idxs in by_media.items():
        expected = max(1, meta[mid]["duration_ms"] // 1000)
        assert sorted(idxs) == list(range(expected))


def test_frame_sha_matches_reference_kernel(media):
    """The JVM-side stub kernel must equal the documented definition:
    sha256(payload || frame_idx encoded big-endian int32)."""
    import hashlib

    payloads = {r.media_id: r.payload for r in media.collect()}
    rows = mm.sample_frames(media, every_ms=1000).collect()
    assert rows
    for r in rows[:50]:
        want = hashlib.sha256(
            (payloads[r.media_id] or b"") + r.frame_idx.to_bytes(4, "big")
        ).hexdigest()
        assert r.frame_sha == want


def test_metadata_query_prunes_payload(spark, media, tmp_path):
    """The scale contract: metadata-only queries over a fat-binary table
    must never read the blob column (parquet column pruning)."""
    path = str(tmp_path / "media.parquet")
    media.write.parquet(path)
    df = spark.read.parquet(path).select("media_id", "kind", "meta.mime")
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "payload" not in read_schema
    assert df.count() == 30


def test_dedup_frames_collapses_identical_payload_frames(spark):
    """Two videos sharing a payload produce identical frame hashes; frame
    dedup must collapse each frame to the lower (media_id, frame_idx)."""
    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.ops import multimodal

    media = multimodal.synthetic_media(spark, n=9, payload_bytes=128)
    clones = media.filter(F.col("kind") == "video").withColumn(
        "media_id", F.col("media_id") + 100
    )
    frames = multimodal.sample_frames(media.union(clones), every_ms=500)
    deduped = multimodal.dedup_frames(frames)
    rows = deduped.collect()
    n_frames = frames.count()
    assert sum(r.dup_cnt for r in rows) == n_frames
    dups = [r for r in rows if r.dup_cnt > 1]
    assert dups, "cloned videos must produce duplicate frames"
    for r in dups:
        assert r.keep_media_id < 100  # original wins over the clone
