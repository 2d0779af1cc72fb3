"""Row -> JSON -> queue publishing (the reference's SQS leg).

Reference behavior being rebuilt (cmd/parquetgo-record-processor/):
- per-row ``json.Marshal`` with struct-tag keys (handler.go:52-62)
  -> ``to_json(struct(*cols))``, JVM-side, whole-stage codegen.
- fixed 10-message batches, the AWS SendMessageBatch hard limit
  (handler.go:23-26,199-205) -> ``itertools`` chunking inside
  ``foreachPartition``.
- concurrent batch sends via errgroup, one goroutine per batch
  (handler.go:194-216) -> a bounded thread pool per partition; across
  partitions Spark's task parallelism already fans out.
- fail-fast on the first failed entry (handler.go:89-97, 219-229) ->
  raising inside the partition function fails the task and aborts the
  job. Delivery is therefore at-least-once under task retry -- the same
  contract as SQS itself.

The queue client is pluggable: anything with a boto3-shaped
``send_message_batch(QueueUrl=..., Entries=[...]) -> {"Failed": [...]}``.
``DirectoryQueue`` is the hermetic test double (a filesystem spool that
works across Python worker processes); real SQS comes from boto3 when
available. The client is constructed INSIDE each partition (via a
picklable zero-arg factory) -- network clients never ride the closure.
"""

from __future__ import annotations

import itertools
import json
import os
import time
import uuid
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..logging_utils import json_logger

# AWS SendMessageBatch hard limit (handler.go:23-26).
SQS_BATCH_SIZE = 10

# Redrive threshold: template.yaml:10-12 (maxReceiveCount: 5).
DEFAULT_MAX_ATTEMPTS = 5


@dataclass(frozen=True)
class PublishResult:
    published: int
    dead_lettered: int
    retried: int  # entries resent after a Failed response
    batches: int


def serialize_json(df: DataFrame) -> DataFrame:
    """Each row -> one JSON document string, keys = column names.

    Mirrors json.Marshal per record (handler.go:54); nested structs and
    arrays serialize recursively, matching the struct-tag JSON shape of
    internal/models/record.go. Timestamps keep all six fraction digits, as
    json.Marshal keeps full precision; Spark's default writes three and
    drops the microseconds.
    """
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    opts = {"timestampFormat": fmt + "XXX", "timestampNTZFormat": fmt}
    return df.select(F.to_json(F.struct(*df.columns), opts).alias("body"))


class DirectoryQueue:
    """Filesystem-spool queue double.

    One ``send_message_batch`` call writes one JSON-lines file (atomic
    rename, unique name per process), so concurrent writers from many
    Spark python workers never interleave. The spool directory is the
    "queue"; each file is one delivered batch event.
    """

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)

    def send_message_batch(
        self, QueueUrl: str = "", Entries: list[dict[str, Any]] | None = None
    ) -> dict[str, Any]:
        entries = Entries or []
        name = f"{os.getpid()}-{uuid.uuid4().hex}"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        final = os.path.join(self.spool_dir, f"{name}.batch.jsonl")
        with open(tmp, "w", encoding="utf-8") as f:
            for e in entries:
                f.write(json.dumps(e) + "\n")
        os.rename(tmp, final)
        return {"Successful": [{"Id": e["Id"]} for e in entries], "Failed": []}


def sqs_client_factory(
    region: str | None = None,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
):
    """Real-SQS factory (boto3 is optional in this environment).

    Static credentials ride the factory, not the process environment:
    the factory is pickled into Spark python workers whose daemon may
    predate any env mutation on the driver (the endpoint-override
    deployment shape -- LocalStack/minio/moto -- always pairs an
    explicit endpoint with explicit static creds).
    """

    def make():
        try:
            import boto3
        except ImportError as exc:  # pragma: no cover - no boto3 here
            raise NotImplementedError(
                "boto3 is not installed; use DirectoryQueue for local runs"
            ) from exc
        return boto3.client(
            "sqs",
            region_name=region,
            endpoint_url=endpoint,
            aws_access_key_id=access_key,
            aws_secret_access_key=secret_key,
        )

    return make


def _chunks(it: Iterable, size: int) -> Iterator[list]:
    it = iter(it)
    while chunk := list(itertools.islice(it, size)):
        yield chunk


def publish(
    df: DataFrame,
    client_factory: Callable[[], Any],
    queue_url: str = "",
    batch_size: int = SQS_BATCH_SIZE,
    max_concurrency: int = 8,
    max_attempts: int = 1,
    dlq_client_factory: Callable[[], Any] | None = None,
    dlq_url: str = "",
    retry_backoff_s: float = 0.05,
) -> PublishResult:
    """Publish every row of ``df`` as a JSON message.

    Runs as one narrow pass: serialize (JVM) -> foreachPartition, each
    partition chunking into ``batch_size`` entries and sending chunks on a
    bounded thread pool (the errgroup analog -- queue I/O is
    latency-bound, so overlapping sends inside a partition matters as
    much as partition fan-out).

    Failure policy mirrors the reference's queue redrive
    (template.yaml:6-16), per entry: only the entries a response reports
    ``Failed`` are resent, up to ``max_attempts`` sends in all (pass
    DEFAULT_MAX_ATTEMPTS for the reference's maxReceiveCount=5); an entry
    failed with ``SenderFault`` is not resent, since the same request
    would fail again. Entries that exhaust their attempts, and sender
    faults, go to the dead-letter client when one is configured,
    otherwise raise -- failing the Spark task, fail-fast like
    handler.go:219-229. An entry reported ``Successful`` is never resent;
    delivery is at-least-once only under Spark task retry.

    Counts are driver-side accumulator totals -- a scan-free analog of the
    reference's publishedRows log (handler.go:231-239) -- and each run
    logs them as one JSON event (``logging_utils.json_logger``).
    """
    serialized = serialize_json(df)
    sc = df.sparkSession.sparkContext
    acc, dead, retried, batches = (sc.accumulator(0) for _ in range(4))

    def send_partition(rows: Iterator) -> None:
        client = client_factory()
        dlq = dlq_client_factory() if dlq_client_factory else None
        base = uuid.uuid4().hex[:8]

        def send(
            indexed_chunk: tuple[int, list[str]],
        ) -> tuple[int, int, int]:
            idx, chunk = indexed_chunk
            pending = [
                {"Id": f"{base}-{idx * batch_size + j}", "MessageBody": body}
                for j, body in enumerate(chunk)
            ]
            rejected: list[dict[str, Any]] = []
            n_retried = 0
            for attempt in range(max_attempts):
                if attempt:
                    n_retried += len(pending)
                    time.sleep(retry_backoff_s * attempt)
                result = client.send_message_batch(
                    QueueUrl=queue_url, Entries=pending
                )
                failed = {
                    f["Id"]: bool(f.get("SenderFault"))
                    for f in result.get("Failed") or []
                }
                rejected += [e for e in pending if failed.get(e["Id"])]
                pending = [
                    e for e in pending if failed.get(e["Id"]) is False
                ]
                if not pending:
                    break
            undelivered = rejected + pending
            n_ok = len(chunk) - len(undelivered)
            if not undelivered:
                return n_ok, 0, n_retried
            if dlq is None:
                raise RuntimeError(
                    f"failed to send {len(undelivered)} messages in batch "
                    f"{idx} after {max_attempts} attempts"
                )
            dl = dlq.send_message_batch(QueueUrl=dlq_url, Entries=undelivered)
            if dl.get("Failed"):
                raise RuntimeError(
                    f"dead-letter queue rejected {len(dl['Failed'])} "
                    f"messages of batch {idx}"
                )
            return n_ok, len(undelivered), n_retried

        bodies = (row.body for row in rows)
        # Windowed submit, NOT pool.map: map drains the whole chunk
        # iterator eagerly, buffering every serialized body of the
        # partition in memory before the first send returns. Capping
        # in-flight futures keeps the partition a true stream -- memory
        # is O(max_in_flight * batch_size) bodies regardless of
        # partition size.
        max_in_flight = max_concurrency * 2

        def drain(done) -> None:
            for fut in done:
                ok, dl, rt = fut.result()  # re-raises -> fail-fast abort
                acc.add(ok)
                dead.add(dl)
                retried.add(rt)
                batches.add(1)

        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            in_flight: set = set()
            for item in enumerate(_chunks(bodies, batch_size)):
                if len(in_flight) >= max_in_flight:
                    done, in_flight = wait(
                        in_flight, return_when=FIRST_COMPLETED
                    )
                    drain(done)
                in_flight.add(pool.submit(send, item))
            if in_flight:
                done, _ = wait(in_flight)
                drain(done)

    t0 = time.perf_counter()
    serialized.foreachPartition(send_partition)
    seconds = time.perf_counter() - t0
    result = PublishResult(
        published=acc.value,
        dead_lettered=dead.value,
        retried=retried.value,
        batches=batches.value,
    )
    rows = result.published + result.dead_lettered
    json_logger(__name__).info(
        "publish",
        extra={
            "rows_published": result.published,
            "rows_dead_lettered": result.dead_lettered,
            "entries_retried": result.retried,
            "batches": result.batches,
            "seconds": round(seconds, 6),
            "rows_per_s": round(rows / seconds, 1) if seconds > 0 else 0.0,
        },
    )
    return result


def run_pipeline(
    spark,
    request: dict,
    client_factory: Callable[[], Any],
    queue_url: str = "",
    batch_size: int = SQS_BATCH_SIZE,
) -> dict:
    """Full request -> publish -> response envelope (handler.go:104-251).

    Response carries the processed paths plus the published-row count the
    reference only logged.
    """
    from .ingest import read_request

    df = read_request(spark, request)
    result = publish(
        df, client_factory, queue_url=queue_url, batch_size=batch_size
    )
    return {
        "paths": list(request.get("paths", [])),
        "published": result.published,
    }
