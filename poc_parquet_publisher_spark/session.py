"""SparkSession bootstrap.

Replaces the reference's per-Lambda engine boot:
- DuckDB in-process open + S3 config (cmd/duckdb-record-processor/main.go:36,
  duckdb.go:18-39) -> one SparkSession with s3a conf.
- parquet-go reader setup (cmd/parquetgo-record-processor/handler.go:161)
  -> Spark's vectorized parquet datasource.

Scale posture: every conf below is chosen for correctness first, then for a
multi-executor cluster -- AQE handles runtime re-planning (partition
coalescing, skew joins), shuffle partitions default to the local core count
but should be ~2-3x total cores on a real cluster, and Arrow is enabled so
any Pandas-UDF fallback path moves data in columnar batches.
"""

from __future__ import annotations

import atexit
import os

from pyspark.sql import SparkSession

# The fixtures store every timestamp as TIMESTAMP(MICROS), but files from
# outside (pyarrow's default writer) may hold TIMESTAMP(NANOS), which the
# stock reader rejects ([PARQUET_TYPE_ILLEGAL]). nanosAsLong loads such
# columns as raw nanosecond longs; catalog.read_parquet, the one Parquet
# read, casts them to the type of their microsecond twin.
_BASE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Engine-written parquet stays at micros so our own output round-trips
    # through any reader (incl. the reference's DuckDB) without the nanos trap.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # q42's recursive-CTE date series iterates 30 times; pin the limit so a
    # future Spark default change (currently 100) can't break the series or
    # silently allow runaway recursion.
    "spark.sql.cteRecursionLevelLimit": "100",
    # ~160 ops/entries localCheckpoint bounded frames (iteration
    # frontiers, shared derived tables); the ContextCleaner only
    # discovers abandoned ones via JVM GC, and its safety-net System.gc
    # fires every 30 MIN by default -- a long-lived session (the bench
    # sweep, a notebook) accumulates pinned blocks meanwhile (round-12
    # finding: repeated blocked-MNN calls degraded 20 -> 35 -> 71 s).
    # A 2-min period bounds that pile-up for ~sub-second full-GC cost
    # on the local[32] heap.
    "spark.cleaner.periodicGC.interval": "2min",
    "spark.ui.enabled": "false",
    # Python workers start without Spark's zip and jar on the import path,
    # so each task's importlib.invalidate_caches() stops re-reading them
    # (0.13-0.2 s per task; see worker_daemon). assemble_conf puts the
    # package root on the workers' PYTHONPATH so the module imports.
    "spark.python.daemon.module": "poc_parquet_publisher_spark.worker_daemon",
}

# Directory holding this package; the daemon module imports from it.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"


_shutdown_registered = False


def _stop_active_session() -> None:
    """Graceful-shutdown analog of the reference's SIGTERM hook
    (cmd/duckdb-record-processor/main.go:51-55 registers db.Close via
    lambda.WithEnableSIGTERM): stop whatever session is active at
    interpreter exit so the JVM tears down cleanly instead of being
    killed mid-flush."""
    session = SparkSession.getActiveSession()
    if session is not None:
        try:
            session.stop()
        except Exception:
            pass  # already stopped / JVM gone -- exit must not raise


def _register_shutdown_hook() -> None:
    global _shutdown_registered
    if not _shutdown_registered:
        atexit.register(_stop_active_session)
        _shutdown_registered = True


def default_parallelism() -> int:
    """CPU budget: SPARK_GRAFT_CPUS env (driver contract) or host cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def assemble_conf(
    shuffle_partitions: int | None = None,
    s3_endpoint: str | None = None,
    s3_access_key: str | None = None,
    s3_secret_key: str | None = None,
    s3_region: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The session conf as a pure dict (testable without a live JVM --
    getOrCreate silently ignores confs once a session exists, so the
    s3a contract is pinned here, not on a running session).

    The fs.s3a.* block is the analog of the reference's DuckDB S3 boot
    (cmd/duckdb-record-processor/duckdb.go:18-39: s3_endpoint,
    s3_access_key_id, s3_secret_access_key, s3_region for the local/
    LocalStack environment)."""
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or default_parallelism()
    )
    endpoint = s3_endpoint or os.environ.get("S3_ENDPOINT_OVERRIDE")
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
        conf["spark.hadoop.fs.s3a.path.style.access"] = "true"
        # plain-http endpoints (LocalStack) cannot speak TLS
        if endpoint.startswith("http://"):
            conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] = "false"
    if s3_access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = s3_access_key
    if s3_secret_key:
        conf["spark.hadoop.fs.s3a.secret.key"] = s3_secret_key
    if s3_region:
        conf["spark.hadoop.fs.s3a.endpoint.region"] = s3_region
    if extra_conf:
        conf.update(extra_conf)
    # Merged, not overwritten: without the package root every Python job
    # fails to start its daemon; without a caller's entry, their imports.
    theirs = [p for p in conf.get(_PYTHONPATH_KEY, "").split(os.pathsep) if p]
    conf[_PYTHONPATH_KEY] = os.pathsep.join(
        [PACKAGE_ROOT] + [p for p in theirs if p != PACKAGE_ROOT]
    )
    return conf


def build_session(
    app_name: str = "poc-parquet-publisher-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3_endpoint: str | None = None,
    s3_access_key: str | None = None,
    s3_secret_key: str | None = None,
    s3_region: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    ``s3_endpoint`` mirrors the reference's S3_ENDPOINT_OVERRIDE env +
    functional option (cmd/duckdb-record-processor/s3_options.go:10-16,
    duckdb.go:23-30): with it set, ``s3a://`` URIs resolve against e.g.
    LocalStack with path-style access. Unlike the reference we never stage
    S3 objects to local disk -- the parquet datasource reads s3a directly,
    so predicate pushdown and split planning happen against the object
    store (essential at 100 TB: staging a copy per worker is a non-starter).
    """
    cores = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cores}]")
    conf = assemble_conf(
        shuffle_partitions=shuffle_partitions,
        s3_endpoint=s3_endpoint,
        s3_access_key=s3_access_key,
        s3_secret_key=s3_secret_key,
        s3_region=s3_region,
        extra_conf=extra_conf,
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _register_shutdown_hook()
    return spark
