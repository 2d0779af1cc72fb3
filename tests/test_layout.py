"""Layout management tests (pipeline/layout.py): hive partitioning must
actually prune at planning time, partitioned writes must bound file
counts, and compaction must shrink file counts without losing rows.
"""

from __future__ import annotations

import os

import pytest

from poc_parquet_publisher_spark.catalog import load_table
from poc_parquet_publisher_spark.pipeline import layout
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.test_plans import plan_of


@pytest.fixture()
def events_dated(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    return ev.withColumn("event_date", F.to_date("ts"))


def test_write_partitioned_prunes_and_bounds_files(
    spark, events_dated, tmp_path
):
    out = str(tmp_path / "events_by_date")
    layout.write_partitioned(
        events_dated,
        out,
        partition_cols=["event_date"],
        sort_cols=["user_id"],
    )
    n_parts = len(
        [d for d in os.listdir(out) if d.startswith("event_date=")]
    )
    assert n_parts >= 2  # fixture spans ~30 days
    # one shuffle on the partition key => bounded files per directory,
    # not (tasks x partitions)
    assert len(layout.data_files(out)) <= n_parts * 2

    back = spark.read.parquet(out)
    assert back.count() == events_dated.count()

    one_day = events_dated.select(F.min("event_date")).first()[0]
    pruned = back.filter(F.col("event_date") == F.lit(one_day))
    plan = plan_of(pruned)
    # the date predicate must be a PARTITION filter (planning-time prune
    # of whole directories), not a data filter evaluated per row
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert pruned.count() == events_dated.filter(
        F.col("event_date") == F.lit(one_day)
    ).count()


def test_compact_unpartitioned_shrinks_file_count(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "fragmented")
    ev.repartition(32).write.parquet(path)
    before = len(layout.data_files(path))
    assert before >= 32
    n = ev.count()

    stats = layout.compact(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == before
    assert stats["files_after"] < before
    assert stats["files_after"] <= 2
    assert spark.read.parquet(path).count() == n
    # staging/backup directories must not survive
    parent = os.path.dirname(path)
    assert [d for d in os.listdir(parent) if "_compact" in d] == []


def test_compact_partitioned_keeps_layout(spark, events_dated, tmp_path):
    path = str(tmp_path / "by_date_fragmented")
    # simulate incremental ingestion debris: many tasks per directory
    events_dated.repartition(16).write.partitionBy("event_date").parquet(
        path
    )
    n = events_dated.count()
    before = len(layout.data_files(path))

    stats = layout.compact(
        spark,
        path,
        target_file_bytes=1 << 30,
        partition_cols=["event_date"],
        sort_cols=["user_id"],
    )
    assert stats["files_after"] < before
    back = spark.read.parquet(path)
    assert back.count() == n
    assert any(
        d.startswith("event_date=") for d in os.listdir(path)
    )  # hive layout preserved
    # partition pruning still works after compaction
    one_day = events_dated.select(F.min("event_date")).first()[0]
    plan = plan_of(back.filter(F.col("event_date") == F.lit(one_day)))
    assert "PartitionFilters: [" in plan


def test_compact_is_rerunnable_after_crash_debris(spark, tmp_path):
    """Stale staging/backup dirs from a crashed compaction must not make
    the next run fail -- they are cleared up front (Hadoop FS delete)."""
    ev = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "t")
    ev.repartition(8).write.parquet(path)
    os.makedirs(path + "._compact_old")
    os.makedirs(path + "._compact_tmp")
    layout.compact(spark, path, target_file_bytes=1 << 30)
    assert spark.read.parquet(path).count() == ev.count()
    parent = os.path.dirname(path)
    assert [d for d in os.listdir(parent) if "_compact" in d] == []


def test_compact_partitioned_honors_target_file_bytes(
    spark, events_dated, tmp_path
):
    """The partitioned branch must bound file size too (observed
    bytes/row -> maxRecordsPerFile), not emit one file per directory
    regardless of target_file_bytes."""
    path = str(tmp_path / "by_date")
    events_dated.write.partitionBy("event_date").parquet(path)
    total = sum(sz for _p, sz in layout._list_data_files(spark, path))
    n_dirs = len(
        [d for d in os.listdir(path) if d.startswith("event_date=")]
    )
    stats = layout.compact(
        spark,
        path,
        target_file_bytes=max(1, total // (n_dirs * 2)),
        partition_cols=["event_date"],
    )
    # a target well below the per-directory volume must split files
    assert stats["files_after"] > n_dirs
    assert spark.read.parquet(path).count() == events_dated.count()


def test_export_jsonl_roundtrip_and_shard_bound(spark, tmp_path):
    from poc_parquet_publisher_spark.pipeline.layout import export_jsonl

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = str(tmp_path / "orders_jsonl")
    n_files = export_jsonl(orders, out, max_records_per_file=100)
    n_rows = orders.count()
    assert n_files >= n_rows // 100  # shard size bound respected
    back = spark.read.json(out)
    assert back.count() == n_rows
    # spot-check a value column round-trips through JSON
    orig = {r.o_orderkey: r.o_orderstatus for r in orders.collect()}
    got = {int(r.o_orderkey): r.o_orderstatus for r in back.collect()}
    assert got == orig


def test_zorder_layout_tightens_file_envelopes(spark, tmp_path):
    """The Z-order claim, measured: range-sorting files by the Morton
    key bounds the per-file min/max envelope on BOTH dimensions, while
    a single-column sort leaves the non-leading dimension's envelope at
    ~full width (so parquet stats can never prune filters on it)."""
    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.scale import zorder_key

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select(
            (F.col("l_orderkey") % 256).alias("px"),
            (F.col("l_partkey") % 256).alias("sx"),
        )
        .withColumn("zkey", zorder_key(["px", "sx"]))
    )
    n_files = 16

    lex = str(tmp_path / "lex")
    li.repartitionByRange(n_files, "px", "sx").write.mode(
        "overwrite"
    ).parquet(lex)
    zord = str(tmp_path / "zorder")
    li.repartitionByRange(n_files, "zkey").write.mode(
        "overwrite"
    ).parquet(zord)

    def worst_mean_span(path: str) -> float:
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("px") - F.min("px")).alias("px_span"),
                (F.max("sx") - F.min("sx")).alias("sx_span"),
            )
            .agg(
                F.avg("px_span").alias("mpx"), F.avg("sx_span").alias("msx")
            )
            .first()
        )
        return max(per_file["mpx"], per_file["msx"])

    lex_worst = worst_mean_span(lex)
    z_worst = worst_mean_span(zord)
    # lexicographic: sx envelope near full width per file (unprunable;
    # ~199 of 255 on this fixture). z-order: 16 files over the 16-bit
    # Morton space give each file a ~2^12 key range = one-to-two
    # 64x64 tiles, so BOTH envelopes stay <= ~128 (measured ~113) --
    # the bound a single-column sort cannot give the trailing column.
    assert lex_worst > 150
    assert z_worst <= 130
    assert z_worst < 0.7 * lex_worst


def test_zorder_key_is_a_bijection(spark):
    """The Morton interleave must be a bijection over the full 8-bit x
    8-bit domain (65536 inputs -> 65536 distinct keys covering exactly
    [0, 65535]) -- a collision or gap would break range-partition
    balance guarantees."""
    from pyspark.sql import functions as F

    from poc_parquet_publisher_spark.scale import zorder_key

    dom = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
    )
    keys = dom.select(zorder_key(["x", "y"]).alias("z"))
    row = keys.agg(
        F.count_distinct("z").alias("n"),
        F.min("z").alias("lo"),
        F.max("z").alias("hi"),
    ).first()
    assert row["n"] == 65536 and row["lo"] == 0 and row["hi"] == 65535
