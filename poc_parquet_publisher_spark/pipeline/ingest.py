"""Request-envelope ingestion: {bucket, paths[]} -> one DataFrame.

Reference behavior being rebuilt:
- request/response JSON envelope (cmd/parquetgo-record-processor/
  handler.go:28-37, cmd/duckdb-record-processor/handler.go:17-26)
- per-path S3 GetObject + io.Copy staging to a temp dir
  (cmd/parquetgo-record-processor/handler.go:108-148) -- REPLACED by
  direct ``s3a://`` reads: at 100 TB, staging a full copy per worker is a
  non-starter, and a direct scan keeps predicate pushdown and split
  planning against the object store.
- the multi-file loop (handler.go:118) -- replaced by one
  ``catalog.read_parquet`` over all files, so Spark plans splits across
  the whole file set instead of processing files serially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet


def resolve_paths(bucket: str | None, paths: list[str]) -> list[str]:
    """Map the request envelope to datasource URIs.

    With a bucket, keys become ``s3a://bucket/key`` (the s3a endpoint /
    credentials come from session conf, mirroring the reference's
    S3_ENDPOINT_OVERRIDE -- session.build_session). Without one, paths are
    used verbatim (local files, absolute paths, or full URIs).
    """
    if not paths:
        raise ValueError("request contains no paths")
    if bucket:
        return [f"s3a://{bucket}/{p.lstrip('/')}" for p in paths]
    return list(paths)


def read_request(spark: SparkSession, request: dict) -> DataFrame:
    """{bucket, paths[]} -> DataFrame over every requested parquet file."""
    uris = resolve_paths(request.get("bucket"), list(request.get("paths", [])))
    return read_parquet(spark, uris)


def s3_client_factory(
    region: str | None = None,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
):
    """Real-S3 factory for the staged-download leg (boto3 optional).

    Static credentials ride the factory for the same reason as
    publish.sqs_client_factory: the endpoint-override deployment shape
    (LocalStack/minio/moto) pairs an explicit endpoint with explicit
    creds, independent of the process environment.
    """

    def make():
        try:
            import boto3
        except ImportError as exc:  # pragma: no cover - no boto3 here
            raise NotImplementedError(
                "boto3 is not installed; staged reads need an S3 client"
            ) from exc
        return boto3.client(
            "s3",
            region_name=region,
            endpoint_url=endpoint,
            aws_access_key_id=access_key,
            aws_secret_access_key=secret_key,
        )

    return make


def read_request_staged(
    spark: SparkSession,
    request: dict,
    client_factory,
    temp_dir: str | None = None,
) -> tuple[DataFrame, str]:
    """The reference's LITERAL S4 staging path: per-path S3 GetObject ->
    io.Copy into a temp dir -> read the staged parquet files
    (cmd/parquetgo-record-processor/handler.go:108-148).

    ``read_request`` (direct s3a) is the 100 TB scan path -- split
    planning and predicate pushdown against the object store, no full
    copy per worker. This staged variant exists for the deployments the
    reference actually ran: request-sized file lists on hosts WITHOUT an
    object-store connector on the classpath (exactly this container --
    no hadoop-aws jar), where a bounded driver-side download is the
    honest equivalent of the Lambda's temp-dir copy. Staged names are
    index-prefixed: the reference keys its temp files on
    filepath.Base(path) alone (handler.go:118-121), so two requested
    keys sharing a basename silently clobber each other there.

    LOCAL-MODE ONLY: staged files land on the DRIVER filesystem, so
    executors can open them only when they share it (``local[*]``, the
    deployment this leg exists for); on a cluster, use ``read_request``.
    Guarded loudly rather than failing opaquely at scan time.

    Returns ``(df, staging_dir)``. The CALLER owns ``staging_dir`` and
    must delete it once the DataFrame is fully consumed -- Spark reads
    lazily, so this function cannot clean up, and with ``temp_dir=None``
    the mkdtemp directory would otherwise accumulate across calls (the
    reference has the same lifecycle: its Lambda tmp dies with the
    sandbox, handler.go:108-116; long-lived sessions must clean up).
    """
    import os
    import shutil
    import tempfile

    if not spark.sparkContext.master.startswith("local"):
        raise ValueError(
            "read_request_staged stages onto the driver filesystem and "
            "is local-mode only; use read_request (direct s3a) on a "
            "cluster"
        )
    bucket = request.get("bucket")
    if not bucket:
        raise ValueError("staged read requires a bucket in the request")
    paths = list(request.get("paths", []))
    if not paths:
        raise ValueError("request contains no paths")
    tmp = temp_dir or tempfile.mkdtemp(prefix="staged-request-")
    os.makedirs(tmp, exist_ok=True)
    client = client_factory()
    local_paths: list[str] = []
    for i, p in enumerate(paths):
        local_path = f"{tmp}/{i}-{p.lstrip('/').rsplit('/', 1)[-1]}"
        body = client.get_object(Bucket=bucket, Key=p.lstrip("/"))["Body"]
        with open(local_path, "wb") as f:
            shutil.copyfileobj(body, f)
        local_paths.append(local_path)
    return read_parquet(spark, local_paths), tmp


def json_quarantine(
    df: DataFrame,
    id_col: str,
    json_col: str,
    required_path: str = "$.k",
) -> DataFrame:
    """Ingest-robustness gate for serialized-JSON columns: classify each
    row as ``ok`` (the required JSON path extracts) or ``quarantined``
    (malformed payload or missing key), so bad records route to a
    quarantine sink instead of poisoning the pipeline. The reference
    trusts its wire JSON blindly (records are marshaled and published
    with no validation, cmd/parquetgo-record-processor/handler.go:52-76);
    a 100 TB ingest cannot.

    Output: (id, status, k) -- the extracted value rides along NULL for
    quarantined rows, so the caller can split with one filter each way.

    Scale shape: pure row-local expressions (get_json_object returns
    NULL on malformed JSON rather than erroring), codegen, scan-speed.
    Oracle note: DuckDB's json_extract ERRORS on malformed JSON, so the
    mirror guards with json_valid first -- the NULL-on-bad semantics
    Spark gives for free.
    """
    k = F.get_json_object(F.col(json_col), required_path)
    status = F.when(k.isNotNull(), F.lit("ok")).otherwise(
        F.lit("quarantined")
    )
    return df.select(
        F.col(id_col),
        status.alias("status"),
        k.alias("k"),
    )
