"""Real-client integration tests for the reference's deployed wire path.

The reference's production legs are SQS SendMessageBatch with per-entry
Failed handling (cmd/parquetgo-record-processor/handler.go:73-101), queue
redrive to a DLQ at maxReceiveCount 5 (template.yaml:10-12), and per-path
S3 GetObject staging to a temp dir (handler.go:108-148). Earlier rounds
could only exercise these against in-repo doubles (DirectoryQueue); with
boto3 + moto installed, every test here runs a REAL boto3 client against
moto's AWS implementation -- genuine SendMessageBatch/ReceiveMessage/
GetObject request/response wire semantics, not a hand-rolled fake.

moto runs in SERVER mode (ThreadedMotoServer): publish() sends from Spark
python WORKER processes, where an in-process botocore mock patched on the
driver does not exist. A real HTTP endpoint is visible from every process.
"""

from __future__ import annotations

import importlib
import json

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

from pyspark.sql import functions as F  # noqa: E402

from poc_parquet_publisher_spark.catalog import load_table  # noqa: E402
from poc_parquet_publisher_spark.pipeline import ingest  # noqa: E402

# the package re-exports the publish FUNCTION, which shadows the module on
# attribute lookup -- bind the module itself
publish = importlib.import_module(
    "poc_parquet_publisher_spark.pipeline.publish"
)

SF = "/root/testdata/sf0.001"
REGION = "us-east-1"
CREDS = {"access_key": "testing", "secret_key": "testing"}


@pytest.fixture(scope="module")
def moto_endpoint():
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    host, port = server.get_host_and_port()
    yield f"http://127.0.0.1:{port}"
    server.stop()


@pytest.fixture()
def sqs(moto_endpoint):
    return publish.sqs_client_factory(
        region=REGION, endpoint=moto_endpoint, **CREDS
    )()


def _queue_pair(sqs, name: str, max_receive: int = 5) -> tuple[str, str]:
    """Main queue + DLQ wired with the reference's exact redrive policy
    (template.yaml:6-16; VisibilityTimeout 0 so tests re-receive
    immediately instead of waiting out the 30 s default)."""
    dlq_url = sqs.create_queue(QueueName=f"{name}-dlq")["QueueUrl"]
    dlq_arn = sqs.get_queue_attributes(
        QueueUrl=dlq_url, AttributeNames=["QueueArn"]
    )["Attributes"]["QueueArn"]
    main_url = sqs.create_queue(
        QueueName=name,
        Attributes={
            "RedrivePolicy": json.dumps(
                {
                    "deadLetterTargetArn": dlq_arn,
                    "maxReceiveCount": str(max_receive),
                }
            ),
            "VisibilityTimeout": "0",
        },
    )["QueueUrl"]
    return main_url, dlq_url


def _drain(sqs, queue_url: str, delete: bool = True) -> list[str]:
    """Receive every message via the real ReceiveMessage wire call."""
    bodies: list[str] = []
    empties = 0
    while empties < 3:
        resp = sqs.receive_message(
            QueueUrl=queue_url, MaxNumberOfMessages=10, WaitTimeSeconds=0
        )
        msgs = resp.get("Messages", [])
        if not msgs:
            empties += 1
            continue
        empties = 0
        for m in msgs:
            bodies.append(m["Body"])
            if delete:
                sqs.delete_message(
                    QueueUrl=queue_url, ReceiptHandle=m["ReceiptHandle"]
                )
    return bodies


def test_publish_delivers_over_real_sendmessagebatch(
    spark, sqs, moto_endpoint
):
    """End-to-end: DataFrame -> to_json -> SendMessageBatch from Spark
    workers against real SQS wire semantics -> ReceiveMessage drain
    recovers every row exactly."""
    url = sqs.create_queue(QueueName="publish-basic")["QueueUrl"]
    nation = load_table(spark, SF, "nation")
    n = nation.count()
    factory = publish.sqs_client_factory(
        region=REGION, endpoint=moto_endpoint, **CREDS
    )
    result = publish.publish(nation, factory, queue_url=url)
    assert result.published == n
    assert result.dead_lettered == 0
    bodies = _drain(sqs, url)
    assert len(bodies) == n
    got = {json.loads(b)["n_nationkey"] for b in bodies}
    want = {r["n_nationkey"] for r in nation.collect()}
    assert got == want


def test_publish_retries_partial_batch_failure(spark, sqs, moto_endpoint):
    """handler.go:89-97 semantics: a SendMessageBatch response with
    Failed entries is an error state; publish() retries the batch.
    After one injected transient failure per partition, every message
    still lands on the real queue exactly once (the dropped attempt
    never reached the wire)."""
    url = sqs.create_queue(QueueName="publish-retry")["QueueUrl"]
    region = load_table(spark, SF, "region").coalesce(1)
    n = region.count()
    real_factory = publish.sqs_client_factory(
        region=REGION, endpoint=moto_endpoint, **CREDS
    )

    # Defined inside the test so cloudpickle ships it BY VALUE to the
    # workers (the tests/ dir is not importable there). Transient
    # partial failure: the FIRST SendMessageBatch on each client
    # instance reports every entry Failed WITHOUT touching the wire (a
    # dropped request), then delegates to the real boto3 client --
    # publish() builds one client per partition, so each partition's
    # first batch exercises the retry loop against real SQS semantics.
    class _FlakyFirstSend:
        def __init__(self, real):
            self._real = real
            self._dropped = False

        def send_message_batch(self, QueueUrl="", Entries=None):
            entries = Entries or []
            if not self._dropped:
                self._dropped = True
                return {
                    "Successful": [],
                    "Failed": [
                        {
                            "Id": e["Id"],
                            "SenderFault": False,
                            "Code": "InternalError",
                        }
                        for e in entries
                    ],
                }
            return self._real.send_message_batch(
                QueueUrl=QueueUrl, Entries=entries
            )

    def flaky_factory():
        return _FlakyFirstSend(real_factory())

    result = publish.publish(
        region,
        flaky_factory,
        queue_url=url,
        max_attempts=publish.DEFAULT_MAX_ATTEMPTS,
        retry_backoff_s=0.0,
    )
    assert result.published == n
    assert result.dead_lettered == 0
    bodies = _drain(sqs, url)
    assert len(bodies) == n
    got = {json.loads(b)["r_regionkey"] for b in bodies}
    assert got == {r["r_regionkey"] for r in region.collect()}


def test_publish_exhausted_retries_dead_letter_to_real_dlq(
    spark, sqs, moto_endpoint
):
    """A batch whose Failed entries persist through max_attempts goes to
    the dead-letter client -- here a REAL queue, so the DLQ contents are
    assertable over the wire."""
    url = sqs.create_queue(QueueName="publish-dead")["QueueUrl"]
    dlq_url = sqs.create_queue(QueueName="publish-dead-dlq")["QueueUrl"]
    region = load_table(spark, SF, "region").coalesce(1)
    n = region.count()
    real_factory = publish.sqs_client_factory(
        region=REGION, endpoint=moto_endpoint, **CREDS
    )

    class _AlwaysFail:
        def send_message_batch(self, QueueUrl="", Entries=None):
            return {
                "Successful": [],
                "Failed": [
                    {
                        "Id": e["Id"],
                        "SenderFault": False,
                        "Code": "InternalError",
                    }
                    for e in (Entries or [])
                ],
            }

    result = publish.publish(
        region,
        lambda: _AlwaysFail(),
        queue_url=url,
        max_attempts=2,
        retry_backoff_s=0.0,
        dlq_client_factory=real_factory,
        dlq_url=dlq_url,
    )
    assert result.published == 0
    assert result.dead_lettered == n
    assert _drain(sqs, url) == []
    dead = _drain(sqs, dlq_url)
    assert len(dead) == n
    assert {json.loads(b)["r_regionkey"] for b in dead} == set(range(n))


def test_publish_partial_failure_resends_only_failed_entries(
    spark, sqs, moto_endpoint
):
    """Per-entry redrive over the real wire: on each partition's first
    send, entry 0 fails retryably and entry 1 with SenderFault; the rest
    go to the real queue. Only entry 0 is resent, entry 1 goes straight
    to the real DLQ, and every other row lands exactly once."""
    url = sqs.create_queue(QueueName="publish-partial")["QueueUrl"]
    dlq_url = sqs.create_queue(QueueName="publish-partial-dlq")["QueueUrl"]
    region = load_table(spark, SF, "region").coalesce(1)
    n = region.count()
    real_factory = publish.sqs_client_factory(
        region=REGION, endpoint=moto_endpoint, **CREDS
    )

    class _PartialFirstSend:
        def __init__(self, real):
            self._real = real
            self._first = True

        def send_message_batch(self, QueueUrl="", Entries=None):
            entries = Entries or []
            failed = []
            if self._first:
                self._first = False
                failed = [
                    {"Id": e["Id"], "SenderFault": j == 1, "Code": "X"}
                    for j, e in enumerate(entries[:2])
                ]
                entries = entries[2:]
            out = self._real.send_message_batch(
                QueueUrl=QueueUrl, Entries=entries
            )
            return {**out, "Failed": out.get("Failed", []) + failed}

    result = publish.publish(
        region,
        lambda: _PartialFirstSend(real_factory()),
        queue_url=url,
        max_attempts=publish.DEFAULT_MAX_ATTEMPTS,
        retry_backoff_s=0.0,
        dlq_client_factory=real_factory,
        dlq_url=dlq_url,
    )
    assert (result.published, result.dead_lettered) == (n - 1, 1)
    assert result.retried == 1
    bodies = _drain(sqs, url)
    dead = _drain(sqs, dlq_url)
    got = sorted(json.loads(b)["r_regionkey"] for b in bodies)
    assert len(dead) == 1
    lost = json.loads(dead[0])["r_regionkey"]
    assert got == sorted(set(range(n)) - {lost})


def test_redrive_policy_moves_message_after_max_receive_count(sqs):
    """The consumer-side redrive contract (template.yaml:10-12): a
    message received maxReceiveCount=5 times without deletion is moved
    to the DLQ by the QUEUE, not the client -- asserted against moto's
    real RedrivePolicy implementation."""
    url, dlq_url = _queue_pair(sqs, "redrive", max_receive=5)
    sqs.send_message(QueueUrl=url, MessageBody='{"poison": true}')
    receives = 0
    for _ in range(5):
        msgs = sqs.receive_message(
            QueueUrl=url, MaxNumberOfMessages=1
        ).get("Messages", [])
        receives += len(msgs)
    assert receives == 5  # visible for exactly maxReceiveCount receives
    assert (
        sqs.receive_message(QueueUrl=url, MaxNumberOfMessages=1).get(
            "Messages", []
        )
        == []
    )
    dead = _drain(sqs, dlq_url)
    assert dead == ['{"poison": true}']


def test_read_request_staged_from_real_s3(spark, moto_endpoint, tmp_path):
    """The reference's literal S4 behavior (handler.go:108-148): per-path
    GetObject -> temp-file copy -> read. Two same-schema parquet files
    under different keys round-trip through real S3 wire calls and come
    back as ONE DataFrame equal to the source table."""
    s3 = ingest.s3_client_factory(
        region=REGION, endpoint=moto_endpoint, **CREDS
    )()
    s3.create_bucket(Bucket="staging-bucket")
    nation = load_table(spark, SF, "nation")
    lo = nation.filter(F.col("n_nationkey") < 12)
    hi = nation.filter(F.col("n_nationkey") >= 12)
    lo.toPandas().to_parquet(tmp_path / "lo.parquet")
    hi.toPandas().to_parquet(tmp_path / "hi.parquet")
    for key, fname in [
        ("requests/2026/lo.parquet", "lo.parquet"),
        ("requests/2026/hi.parquet", "hi.parquet"),
    ]:
        s3.put_object(
            Bucket="staging-bucket",
            Key=key,
            Body=(tmp_path / fname).read_bytes(),
        )
    df, staged_dir = ingest.read_request_staged(
        spark,
        {
            "bucket": "staging-bucket",
            "paths": ["requests/2026/lo.parquet", "requests/2026/hi.parquet"],
        },
        ingest.s3_client_factory(
            region=REGION, endpoint=moto_endpoint, **CREDS
        ),
        temp_dir=str(tmp_path / "staged"),
    )
    # caller-owned staging dir (round-10 advice): the function hands
    # back the directory it staged into so the caller can delete it
    # after the DataFrame is consumed
    assert staged_dir == str(tmp_path / "staged")
    assert df.count() == nation.count()
    assert set(df.columns) == set(nation.columns)
    got = {r["n_nationkey"] for r in df.collect()}
    assert got == {r["n_nationkey"] for r in nation.collect()}


def test_staged_basename_collision_does_not_clobber(
    spark, moto_endpoint, tmp_path
):
    """Two requested keys sharing a basename must BOTH survive staging
    (the reference clobbers: its temp name is filepath.Base(path),
    handler.go:118-121 -- the index prefix here fixes that)."""
    s3 = ingest.s3_client_factory(
        region=REGION, endpoint=moto_endpoint, **CREDS
    )()
    s3.create_bucket(Bucket="collide-bucket")
    region = load_table(spark, SF, "region")
    a = region.filter(F.col("r_regionkey") < 2)
    b = region.filter(F.col("r_regionkey") >= 2)
    a.toPandas().to_parquet(tmp_path / "a.parquet")
    b.toPandas().to_parquet(tmp_path / "b.parquet")
    s3.put_object(
        Bucket="collide-bucket",
        Key="day1/part.parquet",
        Body=(tmp_path / "a.parquet").read_bytes(),
    )
    s3.put_object(
        Bucket="collide-bucket",
        Key="day2/part.parquet",
        Body=(tmp_path / "b.parquet").read_bytes(),
    )
    df, _staged = ingest.read_request_staged(
        spark,
        {
            "bucket": "collide-bucket",
            "paths": ["day1/part.parquet", "day2/part.parquet"],
        },
        ingest.s3_client_factory(
            region=REGION, endpoint=moto_endpoint, **CREDS
        ),
        temp_dir=str(tmp_path / "staged"),
    )
    assert df.count() == region.count()


def test_staged_pipeline_to_real_queue_roundtrip(
    spark, sqs, moto_endpoint, tmp_path
):
    """The full reference deployment in one test: parquet staged out of
    real S3 (S4) -> serialize (S14) -> SendMessageBatch in 10-entry
    batches (S9/S15) -> real ReceiveMessage drain recovers every source
    row field-exactly."""
    s3 = ingest.s3_client_factory(
        region=REGION, endpoint=moto_endpoint, **CREDS
    )()
    s3.create_bucket(Bucket="pipeline-bucket")
    nation = load_table(spark, SF, "nation")
    nation.toPandas().to_parquet(tmp_path / "nation.parquet")
    s3.put_object(
        Bucket="pipeline-bucket",
        Key="in/nation.parquet",
        Body=(tmp_path / "nation.parquet").read_bytes(),
    )
    url = sqs.create_queue(QueueName="pipeline-rt")["QueueUrl"]
    df, _staged = ingest.read_request_staged(
        spark,
        {"bucket": "pipeline-bucket", "paths": ["in/nation.parquet"]},
        ingest.s3_client_factory(
            region=REGION, endpoint=moto_endpoint, **CREDS
        ),
        temp_dir=str(tmp_path / "staged"),
    )
    result = publish.publish(
        df,
        publish.sqs_client_factory(
            region=REGION, endpoint=moto_endpoint, **CREDS
        ),
        queue_url=url,
    )
    assert result.published == nation.count()
    got = sorted(
        (json.loads(b)["n_nationkey"], json.loads(b)["n_name"])
        for b in _drain(sqs, url)
    )
    want = sorted(
        (r["n_nationkey"], r["n_name"]) for r in nation.collect()
    )
    assert got == want
