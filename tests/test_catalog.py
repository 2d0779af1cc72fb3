"""catalog.read_parquet, the one Parquet read: it must give the schema
Spark's inference gives, run no Spark job for a local file, fall back to
inference where a footer cannot reproduce it, and read TIMESTAMP(NANOS)
columns as their microsecond twins.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from poc_parquet_publisher_spark.catalog import (
    TABLES,
    load_table,
    read_parquet,
    table_path,
)
from poc_parquet_publisher_spark.pipeline import read_request, serialize_json
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

SF = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
# Epoch nanos with sub-microsecond digits, so truncation shows.
NANOS = [1704110400123456789, 1704196800999999999, 1704283200000000500]


def _jobs(spark, group: str, path: str) -> tuple[object, int]:
    """(schema read_parquet gives ``path``, Spark jobs it ran), counted
    with the status tracker for one job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        schema = read_parquet(spark, path).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return schema, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def files(spark, tmp_path_factory):
    """A pyarrow Record file, its Spark rewrite under INT96, a
    date-partitioned events tree and a pyarrow file whose duration and
    uint8 columns from_arrow_type maps differently or not at all."""
    d = tmp_path_factory.mktemp("read_parquet")
    arrow = str(d / "arrow_types.parquet")
    pq.write_table(
        pa.table({
            "d": pa.array([1, 2], pa.duration("us")),
            "u": pa.array([1, 2], pa.uint8()),
        }),
        arrow,
    )
    rec = inputs.write_onefile(inputs.record_table(7, 200), str(d / "rec"))
    int96 = str(d / "int96")
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        spark.read.parquet(rec).write.parquet(int96)
    finally:
        spark.conf.set(key, prev)
    part = str(d / "part")
    (
        load_table(spark, SF_SMOKE, "events")
        .withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .parquet(part)
    )
    return {
        "record": rec, "int96": int96, "partitioned": part, "arrow": arrow
    }


@pytest.mark.parametrize("table", TABLES)
def test_schema_matches_inference_on_fixture(spark, table):
    path = table_path(SF, table)
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("kind", ["record", "int96", "partitioned", "arrow"])
def test_schema_matches_inference_on_written_files(spark, files, kind):
    path = files[kind]
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_local_file_reads_without_a_job(spark, tmp_path):
    path = str(tmp_path / "fresh.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), path)
    schema, jobs = _jobs(spark, "read_parquet_local", path)
    assert jobs == 0
    assert schema.simpleString() == "struct<k:bigint,v:string>"


def test_int96_and_uri_paths_still_infer(spark, files):
    rec = files["record"]
    for group, path in (("int96", files["int96"]), ("uri", "file://" + rec)):
        got, jobs = _jobs(spark, f"read_parquet_{group}", path)
        assert jobs >= 1, group
        assert got == spark.read.parquet(path).schema, group


@pytest.mark.parametrize("tz", [None, "UTC"])
def test_nanos_file_reads_as_its_micros_twin(spark, tmp_path, tz):
    ns = pa.array(NANOS, pa.timestamp("ns", tz=tz))
    us = ns.cast(pa.timestamp("us", tz=tz), safe=False)
    for name, ts in (("ns", ns), ("us", us)):
        pq.write_table(
            pa.table({"id": [1, 2, 3], "ts": ts}), table_path(tmp_path, name)
        )

    def bodies(name):
        df = read_request(spark, {"paths": [table_path(tmp_path, name)]})
        return sorted(r.body for r in serialize_json(df).collect())

    assert bodies("ns") == bodies("us")
    twin = load_table(spark, str(tmp_path), "us")
    got = load_table(spark, str(tmp_path), "ns")
    assert got.schema == twin.schema
    assert got.collect() == twin.collect()
    # six fraction digits: the microseconds survive serialization
    assert json.loads(bodies("ns")[0])["ts"].startswith(
        "2024-01-01T12:00:00.123456"
    )
