"""Session lifecycle: the S34 graceful-shutdown analog.

The reference registers db.Close on SIGTERM
(cmd/duckdb-record-processor/main.go:51-55); build_session registers an
atexit hook that stops the active SparkSession at interpreter exit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from poc_parquet_publisher_spark import session as sess
from poc_parquet_publisher_spark import worker_daemon


def test_s3a_conf_contract():
    """The s3a block must mirror the reference's DuckDB S3 boot
    (cmd/duckdb-record-processor/duckdb.go:18-39: endpoint, access key,
    secret key, region for the LocalStack environment). No live object
    store exists in this sandbox, so the contract is pinned on the
    assembled conf dict -- the exact dict build_session feeds the
    builder."""
    conf = sess.assemble_conf(
        shuffle_partitions=8,
        s3_endpoint="http://localhost:4566",
        s3_access_key="test",
        s3_secret_key="test",
        s3_region="us-east-1",
    )
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://localhost:4566"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "false"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "test"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "test"
    assert conf["spark.hadoop.fs.s3a.endpoint.region"] == "us-east-1"
    assert conf["spark.sql.shuffle.partitions"] == "8"
    # engine invariants ride along regardless of the s3 leg
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    # q42's 30-step recursive CTE depends on this staying >= 30; pinned
    # so a Spark default change can't break the series
    assert conf["spark.sql.cteRecursionLevelLimit"] == "100"


def test_s3a_conf_absent_without_endpoint(monkeypatch):
    monkeypatch.delenv("S3_ENDPOINT_OVERRIDE", raising=False)
    conf = sess.assemble_conf()
    assert not any(k.startswith("spark.hadoop.fs.s3a") for k in conf)


def test_s3a_endpoint_env_fallback(monkeypatch):
    """S3_ENDPOINT_OVERRIDE env var is the reference's env-config path."""
    monkeypatch.setenv("S3_ENDPOINT_OVERRIDE", "https://minio.internal:9000")
    conf = sess.assemble_conf()
    assert (
        conf["spark.hadoop.fs.s3a.endpoint"] == "https://minio.internal:9000"
    )
    # https endpoint keeps TLS on
    assert "spark.hadoop.fs.s3a.connection.ssl.enabled" not in conf


def test_sqs_client_factory_gate():
    """Without boto3 the factory must fail loudly with the documented
    NotImplementedError, never a bare ImportError at publish time."""
    from poc_parquet_publisher_spark.pipeline.publish import (
        sqs_client_factory,
    )

    make = sqs_client_factory(region="us-east-1")
    try:
        import boto3  # noqa: F401

        has_boto3 = True
    except ImportError:
        has_boto3 = False
    if has_boto3:
        assert make() is not None
    else:
        import pytest

        with pytest.raises(NotImplementedError):
            make()


def test_build_session_registers_shutdown_hook(spark):
    # build_session ran via the fixture; the hook must be registered
    # exactly once (idempotent across repeated build_session calls).
    assert sess._shutdown_registered
    sess._register_shutdown_hook()
    assert sess._shutdown_registered


def test_stop_active_session_stops_and_tolerates_absence(monkeypatch):
    class FakeSession:
        def __init__(self):
            self.stopped = 0

        def stop(self):
            self.stopped += 1

    fake = FakeSession()
    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: fake)
    )
    sess._stop_active_session()
    assert fake.stopped == 1

    # no active session -> no-op, no raise
    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    sess._stop_active_session()

    # a session whose stop() raises must not propagate out of atexit
    class Broken:
        def stop(self):
            raise RuntimeError("JVM already gone")

    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: Broken())
    )
    sess._stop_active_session()


def test_assemble_conf_puts_package_root_on_worker_pythonpath():
    """The daemon module imports in workers from any working directory,
    and a caller's own PYTHONPATH entries survive the merge."""
    key = "spark.executorEnv.PYTHONPATH"
    conf = sess.assemble_conf()
    assert conf[key] == sess.PACKAGE_ROOT
    assert (
        conf["spark.python.daemon.module"]
        == "poc_parquet_publisher_spark.worker_daemon"
    )
    merged = sess.assemble_conf(
        extra_conf={key: os.pathsep.join(["/srv/a", sess.PACKAGE_ROOT, "/b"])}
    )
    assert merged[key].split(os.pathsep) == [
        sess.PACKAGE_ROOT, "/srv/a", "/b"
    ]


def test_worker_path_drops_spark_archives(tmp_path):
    spark_home = tmp_path / "spark"
    lib = spark_home / "python" / "lib"
    site = tmp_path / "site"
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    archives = [
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"),
    ]
    other_zip = str(tmp_path / "python311.zip")
    path = [str(tmp_path), *archives, other_zip, str(site)]

    kept = worker_daemon.worker_path(path, str(spark_home))
    assert kept == [str(tmp_path), other_zip, str(site)]
    # SPARK_HOME reached through a symlink still names the same archives
    link = tmp_path / "spark-link"
    link.symlink_to(spark_home)
    assert worker_daemon.worker_path(path, str(link)) == kept
    # without SPARK_HOME only the jar is known to be Spark's
    assert worker_daemon.worker_path(path, None) == [
        p for p in path if not p.endswith(".jar")
    ]


def test_worker_path_keeps_archives_when_pyspark_lives_only_there(tmp_path):
    """A cluster that ships pyspark only inside SPARK_HOME keeps its path."""
    spark_home = tmp_path / "spark"
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    path = [str(spark_home / "python" / "lib" / "pyspark.zip"), str(site)]
    assert worker_daemon.worker_path(path, str(spark_home)) == path
    # nothing to drop: the path comes back as it was
    assert worker_daemon.worker_path([str(site)], str(spark_home)) == [
        str(site)
    ]


def test_python_tasks_skip_spark_archives(spark):
    """A Python task on the build_session session imports the installed
    pyspark, holds no importer for a Spark archive, and pays well under
    5 ms for the importlib.invalidate_caches() every task runs."""
    spark_home = os.path.realpath(os.environ.get("SPARK_HOME", "/nonexistent"))

    def probe(_):
        import importlib
        import sys
        import time
        import zipimport

        import pyspark

        from poc_parquet_publisher_spark.worker_daemon import is_spark_archive

        home = os.environ.get("SPARK_HOME")
        archived = [
            key
            for key, imp in sys.path_importer_cache.items()
            if isinstance(imp, zipimport.zipimporter)
            and is_spark_archive(imp.archive, home)
        ]
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1000
        yield os.path.realpath(pyspark.__file__), archived, ms

    for pyspark_file, archived, ms in (
        spark.sparkContext.parallelize([0, 1], 2).mapPartitions(probe).collect()
    ):
        assert not pyspark_file.startswith(spark_home + os.sep), pyspark_file
        assert archived == []
        assert ms < 5, ms
