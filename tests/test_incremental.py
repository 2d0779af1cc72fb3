"""Cross-batch incremental dedup (ops/incremental.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from poc_parquet_publisher_spark.ops.incremental import incremental_dedup

SF = "/root/testdata/sf0.001"


def test_incremental_dedup_across_batches(spark, tmp_path):
    idx = str(tmp_path / "seen_index")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") < 300)
    b2 = docs.filter(F.col("doc_id") >= 200)  # overlaps b1 on [200, 300)

    s1 = incremental_dedup(b1, idx).collect()
    # batch 1: exactly the within-batch exact-dedup survivors
    expected1 = {
        r.keep_id
        for r in b1.groupBy(F.md5(F.lower("text")))
        .agg(F.min("doc_id").alias("keep_id"))
        .collect()
    }
    assert {r.doc_id for r in s1} == expected1

    s2 = {r.doc_id for r in incremental_dedup(b2, idx).collect()}
    # no batch-2 survivor may share a text with any batch-1 survivor
    seen_texts = {r.text.lower() for r in s1}
    surv2_texts = {
        r.text.lower() for r in b2.filter(F.col("doc_id").isin(s2)).collect()
    }
    assert not (seen_texts & surv2_texts)
    # re-running batch 2 yields nothing new (all hashes now indexed)
    s3 = incremental_dedup(b2, idx).collect()
    assert s3 == []


def test_incremental_dedup_without_index_update(spark, tmp_path):
    idx = str(tmp_path / "ro_index")
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    a = {r.doc_id for r in incremental_dedup(docs, idx, update_index=False).collect()}
    # nothing persisted: the same batch survives again in full
    b = {r.doc_id for r in incremental_dedup(docs, idx, update_index=False).collect()}
    assert a == b and a


def test_incremental_neardup_across_batches(spark, tmp_path):
    """Two overlapping-content batches through the persistent MinHash
    band index: no surviving doc may be a verified near-dup (k-shingle
    Jaccard >= threshold, banding-visible) of any other survivor --
    within a batch or ACROSS batches -- and a re-ingested batch must
    drop entirely (idempotency)."""
    from poc_parquet_publisher_spark.ops.dedup import lsh_verified_pairs
    from poc_parquet_publisher_spark.ops.incremental import (
        incremental_neardup_dedup,
    )

    idx = str(tmp_path / "nd_index")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    b1 = docs.filter(F.col("doc_id") % 5 < 3)
    b2 = docs.filter(F.col("doc_id") % 5 >= 3)

    s1 = incremental_neardup_dedup(b1, idx)
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    assert ids1 and len(ids1) < b1.count()  # something was near-dupped

    s2 = incremental_neardup_dedup(b2, idx)
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids2

    # banding-visible verified pairs among ALL survivors must be empty:
    # a within-batch pair would have dropped the larger id, a
    # cross-batch pair would have dropped the batch-2 doc
    union = docs.filter(F.col("doc_id").isin(ids1 | ids2))
    leftover = lsh_verified_pairs(
        union, "doc_id", "text", threshold=0.7
    ).count()
    assert leftover == 0

    # idempotent re-run: every batch-2 doc now matches the index (its
    # own surviving signature at jaccard 1.0, or whatever dropped it)
    assert incremental_neardup_dedup(b2, idx).count() == 0


def test_neardup_matches_hot_band_cap(spark):
    """The hot-band cap suppresses candidates from degenerate index
    buckets but a pair sharing ANY non-hot band still surfaces: 6 docs
    share every band (identical text -> all 4 buckets hold 6 docs,
    over a cap of 5, so no candidates); with the cap lifted the same
    probe yields all 15 pairs at jaccard 1.0."""
    from poc_parquet_publisher_spark.ops.incremental import (
        neardup_matches,
        neardup_signatures,
    )

    same = "the quick brown fox jumps over the lazy dog tonight"
    df = spark.createDataFrame(
        [(i, same) for i in range(6)], "doc_id long, text string"
    )
    sigs = neardup_signatures(df).localCheckpoint()

    capped = (
        neardup_matches(sigs, sigs, threshold=0.9, max_docs_per_band=5)
        .filter(F.col("old_id") < F.col("new_id"))
        .count()
    )
    assert capped == 0  # every shared band is hot -> suppressed

    uncapped = (
        neardup_matches(sigs, sigs, threshold=0.9, max_docs_per_band=None)
        .filter(F.col("old_id") < F.col("new_id"))
        .collect()
    )
    assert len(uncapped) == 15  # all C(6,2) pairs
    assert all(r.jaccard == 1.0 for r in uncapped)


def test_neardup_signatures_short_docs_have_no_row(spark):
    from poc_parquet_publisher_spark.ops.incremental import (
        neardup_signatures,
    )

    df = spark.createDataFrame(
        [(1, "only two"), (2, "three token document here")],
        "doc_id long, text string",
    )
    rows = neardup_signatures(df).collect()
    assert [r.doc for r in rows] == [2]
    assert len(rows[0].bands) == 4 and len(rows[0].shh) >= 1


def test_stream_incremental_neardup_matches_batch_path(spark, tmp_path):
    """stream == batch: draining two overlapping file drops through
    stream_incremental_neardup must emit exactly the ids the batch-path
    incremental_neardup_dedup keeps for the same two batches."""
    from poc_parquet_publisher_spark.ops.incremental import (
        incremental_neardup_dedup,
    )
    from poc_parquet_publisher_spark.streaming.dedup import (
        stream_incremental_neardup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d1 = docs.filter(F.col("doc_id") < 200)
    d2 = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 300))

    # batch path on a fresh index
    bidx = str(tmp_path / "batch_idx")
    expected = {
        r.doc_id
        for r in incremental_neardup_dedup(d1, bidx).select("doc_id").collect()
    } | {
        r.doc_id
        for r in incremental_neardup_dedup(d2, bidx).select("doc_id").collect()
    }

    # stream path: one drop per drain
    src = str(tmp_path / "drops")
    out = str(tmp_path / "curated")
    sidx = str(tmp_path / "stream_idx")
    ckpt = str(tmp_path / "ckpt")
    d1.write.mode("append").parquet(src)
    assert stream_incremental_neardup(
        spark, src, docs.schema, sidx, out, ckpt
    ).awaitTermination(300)
    d2.write.mode("append").parquet(src)
    assert stream_incremental_neardup(
        spark, src, docs.schema, sidx, out, ckpt
    ).awaitTermination(300)

    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got == expected


def test_compact_neardup_index_preserves_probe_results(spark, tmp_path):
    """3-generation index -> compact -> probe results identical, file
    count reduced, re-compaction a no-op (idempotent)."""
    import os

    from poc_parquet_publisher_spark.ops.incremental import (
        compact_neardup_index,
        incremental_neardup_dedup,
        neardup_matches,
        neardup_signatures,
    )

    idx = str(tmp_path / "nd_index")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for lo, hi in ((0, 150), (150, 300), (300, 450)):
        incremental_neardup_dedup(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            idx,
        ).count()

    def parquet_files(p: str) -> int:
        return sum(
            f.endswith(".parquet")
            for _d, _s, fns in os.walk(p)
            for f in fns
        )

    probe = neardup_signatures(
        docs.filter(F.col("doc_id") >= 450)
    ).localCheckpoint()

    def probe_matches() -> set:
        return {
            (r.new_id, r.old_id, r.jaccard)
            for r in neardup_matches(
                probe, spark.read.parquet(idx), threshold=0.5
            ).collect()
        }

    before_files = parquet_files(idx)
    before = probe_matches()
    assert before, "fixture produced no cross-index matches to preserve"

    stats = compact_neardup_index(spark, idx)
    assert stats["files_before"] == before_files
    assert stats["files_after"] < before_files
    assert probe_matches() == before

    # idempotent re-run: same rows, file count stable
    stats2 = compact_neardup_index(spark, idx)
    assert stats2["rows"] == stats["rows"]
    assert stats2["files_after"] == stats["files_after"]
    assert probe_matches() == before


def test_compact_neardup_index_expiry_drops_old_docs(spark, tmp_path):
    from poc_parquet_publisher_spark.ops.incremental import (
        compact_neardup_index,
        incremental_neardup_dedup,
        neardup_matches,
        neardup_signatures,
    )

    idx = str(tmp_path / "nd_index")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    incremental_neardup_dedup(docs.filter(F.col("doc_id") < 400), idx).count()

    probe = neardup_signatures(
        docs.filter(F.col("doc_id") >= 400)
    ).localCheckpoint()
    before = {
        (r.new_id, r.old_id)
        for r in neardup_matches(
            probe, spark.read.parquet(idx), threshold=0.5
        ).collect()
    }
    assert any(old < 200 for _n, old in before)

    compact_neardup_index(spark, idx, expire_before=200)
    after = {
        (r.new_id, r.old_id)
        for r in neardup_matches(
            probe, spark.read.parquet(idx), threshold=0.5
        ).collect()
    }
    # exactly the matches against surviving (non-expired) docs remain
    assert after == {(n, o) for n, o in before if o >= 200}
    assert spark.read.parquet(idx).agg(F.min("doc")).first()[0] >= 200


def test_compact_hash_index_preserves_anti_join(spark, tmp_path):
    from poc_parquet_publisher_spark.ops.incremental import (
        compact_hash_index,
        incremental_dedup,
    )

    idx = str(tmp_path / "seen")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for lo, hi in ((0, 150), (100, 250), (200, 350)):
        incremental_dedup(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            idx,
        ).count()

    probe = docs.filter(F.col("doc_id") >= 300)
    before = {
        r.doc_id
        for r in incremental_dedup(
            probe, idx, update_index=False
        ).collect()
    }
    stats = compact_hash_index(spark, idx)
    assert stats["files_after"] < stats["files_before"]
    after = {
        r.doc_id
        for r in incremental_dedup(
            probe, idx, update_index=False
        ).collect()
    }
    assert after == before


def test_stream_neardup_output_failure_leaves_index_unwritten(
    spark, tmp_path
):
    """Output-first ordering (at-least-once): if the micro-batch dies
    writing survivors to out_dir, its signatures must NOT be in the
    index -- the retry then reproduces the original survivors instead
    of matching its own just-indexed rows at jaccard 1.0 and silently
    emitting nothing (the at-most-once failure mode this guards)."""
    import os

    import pytest

    from poc_parquet_publisher_spark.ops.incremental import (
        incremental_neardup_dedup,
    )
    from poc_parquet_publisher_spark.streaming.dedup import (
        stream_incremental_neardup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    src = str(tmp_path / "drops")
    out = tmp_path / "curated"
    idx = str(tmp_path / "nd_idx")
    docs.write.mode("append").parquet(src)

    # sabotage: out_dir exists as a plain FILE, so the output write fails
    out.write_text("not a directory")
    q = stream_incremental_neardup(
        spark, src, docs.schema, idx, str(out), str(tmp_path / "ckpt1")
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
    assert not os.path.exists(idx), "index written before output"

    # retry (fresh checkpoint, same index) emits the full survivor set
    out.unlink()
    q2 = stream_incremental_neardup(
        spark, src, docs.schema, idx, str(out), str(tmp_path / "ckpt2")
    )
    assert q2.awaitTermination(300)
    got = {
        r.doc_id
        for r in spark.read.parquet(str(out)).select("doc_id").collect()
    }
    expected = {
        r.doc_id
        for r in incremental_neardup_dedup(docs, str(tmp_path / "bidx"))
        .select("doc_id")
        .collect()
    }
    assert got == expected and got


def test_stream_incremental_dedup_two_drops(spark, tmp_path):
    """Two file drops with overlapping content: the second drain must
    emit only never-seen texts (unbounded lookback via the index)."""
    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "drops")
    out = str(tmp_path / "curated")
    idx = str(tmp_path / "seen")
    ckpt = str(tmp_path / "ckpt")

    docs.filter(F.col("doc_id") < 200).write.mode("append").parquet(src)
    q = stream_incremental_dedup(
        spark, src, docs.schema, idx, out, ckpt
    )
    assert q.awaitTermination(300)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # drop 2 overlaps drop 1 on [100, 200)
    docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 300)
    ).write.mode("append").parquet(src)
    q2 = stream_incremental_dedup(
        spark, src, docs.schema, idx, out, ckpt
    )
    assert q2.awaitTermination(300)

    curated = spark.read.parquet(out)
    texts = [r[0] for r in curated.select(F.lower("text")).collect()]
    assert len(texts) == len(set(texts)), "a text was emitted twice"
    # every distinct text of the union made it out exactly once
    expected = (
        docs.filter(F.col("doc_id") < 300)
        .select(F.lower("text"))
        .distinct()
        .count()
    )
    assert len(texts) == expected


def test_stream_neardup_auto_compaction_bounds_index_files(
    spark, tmp_path
):
    """A 6-micro-batch drain with compact_threshold_files=3 keeps the
    index's parquet file count <= threshold after every batch (the sink
    compacts inline when an append pushes it over), while an identical
    drain with compaction disabled accumulates far more generations --
    and BOTH indexes give byte-identical probe answers and identical
    curated survivor sets (compaction is probe-preserving)."""
    import os

    from poc_parquet_publisher_spark.ops.incremental import (
        neardup_matches,
        neardup_signatures,
    )
    from poc_parquet_publisher_spark.streaming.dedup import (
        stream_incremental_neardup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def parquet_files(p: str) -> int:
        return sum(
            f.endswith(".parquet")
            for _d, _s, fns in os.walk(p)
            for f in fns
        )

    # six one-file drops -> maxFilesPerTrigger=1 forces 6 micro-batches
    src = str(tmp_path / "drops")
    for i in range(6):
        docs.filter(
            (F.col("doc_id") >= 75 * i) & (F.col("doc_id") < 75 * (i + 1))
        ).repartition(1).write.mode("append").parquet(src)

    threshold = 3
    idx_c = str(tmp_path / "idx_compacted")
    q = stream_incremental_neardup(
        spark,
        src,
        docs.schema,
        idx_c,
        str(tmp_path / "out_c"),
        str(tmp_path / "ckpt_c"),
        compact_threshold_files=threshold,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(600)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 6, f"expected >=6 micro-batches, got {len(batches)}"
    # the sink compacts immediately after any over-threshold append, so
    # the post-drain index is bounded by the threshold
    assert parquet_files(idx_c) <= threshold

    # control: same drops, compaction disabled -> generations accumulate
    idx_p = str(tmp_path / "idx_plain")
    assert stream_incremental_neardup(
        spark,
        src,
        docs.schema,
        idx_p,
        str(tmp_path / "out_p"),
        str(tmp_path / "ckpt_p"),
        compact_threshold_files=None,
        max_files_per_trigger=1,
    ).awaitTermination(600)
    assert parquet_files(idx_p) > threshold

    # probe-preserving: identical curated sets, identical probe matches
    ids_c = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "out_c")).collect()
    }
    ids_p = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "out_p")).collect()
    }
    assert ids_c == ids_p and ids_c
    probe = neardup_signatures(
        docs.filter(F.col("doc_id") >= 450)
    ).localCheckpoint()

    def matches(idx: str) -> set:
        return {
            (r.new_id, r.old_id, r.jaccard)
            for r in neardup_matches(
                probe, spark.read.parquet(idx), threshold=0.5
            ).collect()
        }

    m_c, m_p = matches(idx_c), matches(idx_p)
    assert m_c == m_p and m_c
