"""Pipeline e2e (SURVEY.md section 5.2 item 3): parquet -> JSON -> queue.

Invariant under test: published count == df.count() and every payload
parses back to its source row -- the invariant the reference logs at
cmd/parquetgo-record-processor/handler.go:231-239.
"""

from __future__ import annotations

import json

import pytest

from poc_parquet_publisher_spark.catalog import table_path
from poc_parquet_publisher_spark.pipeline import (
    DirectoryQueue,
    consume_batch_counts,
    publish,
    read_request,
    resolve_paths,
    run_pipeline,
    serialize_json,
)
from poc_parquet_publisher_spark.pipeline.consumer import read_messages

SF = "/root/testdata/sf0.001"


def test_resolve_paths_bucket_and_local():
    assert resolve_paths("b", ["k1", "/k2"]) == ["s3a://b/k1", "s3a://b/k2"]
    assert resolve_paths(None, ["/tmp/x.parquet"]) == ["/tmp/x.parquet"]
    with pytest.raises(ValueError):
        resolve_paths("b", [])


def test_read_request(spark):
    df = read_request(spark, {"paths": [table_path(SF, "region")]})
    assert df.count() == 5


def test_publish_roundtrip(spark, tmp_path):
    spool = str(tmp_path / "spool")
    orders = spark.read.parquet(table_path(SF, "orders")).limit(137)
    total = orders.count()

    result = publish(orders, lambda: DirectoryQueue(spool), batch_size=10)
    assert result.published == total
    assert result.dead_lettered == 0

    counts = consume_batch_counts(spool)
    assert sum(counts) == total
    # AWS hard limit: no batch exceeds 10 entries (handler.go:23-26)
    assert max(counts) <= 10

    # Payloads parse back to source rows, keyed by primary key.
    msgs = {m["o_orderkey"]: m for m in read_messages(spool)}
    assert len(msgs) == total
    row = orders.orderBy("o_orderkey").first()
    msg = msgs[row.o_orderkey]
    assert msg["o_custkey"] == row.o_custkey
    assert msg["o_orderstatus"] == row.o_orderstatus


def test_publish_fail_fast(spark, tmp_path):
    class FailingQueue:
        def send_message_batch(self, QueueUrl="", Entries=None):
            return {"Failed": [{"Id": e["Id"]} for e in (Entries or [])]}

    region = spark.read.parquet(table_path(SF, "region"))
    with pytest.raises(Exception, match="failed to send"):
        publish(region, FailingQueue, batch_size=2)


def test_publish_retry_then_succeed(spark, tmp_path):
    """A transiently failing queue succeeds within the redrive budget."""
    spool = str(tmp_path / "spool")
    marker = str(tmp_path / "attempts")

    class FlakyQueue:
        """Fails each batch's first 2 attempts, then delivers."""

        def __init__(self):
            self.inner = DirectoryQueue(spool)

        def send_message_batch(self, QueueUrl="", Entries=None):
            import os as _os

            path = f"{marker}-{Entries[0]['Id']}"  # one counter per batch
            n = 0
            if _os.path.exists(path):
                with open(path) as f:
                    n = int(f.read())
            with open(path, "w") as f:
                f.write(str(n + 1))
            if n < 2:
                return {"Failed": [{"Id": e["Id"]} for e in Entries]}
            return self.inner.send_message_batch(QueueUrl, Entries)

    region = spark.read.parquet(table_path(SF, "region"))
    result = publish(
        region, FlakyQueue, batch_size=2, max_attempts=5,
        retry_backoff_s=0.001,
    )
    assert result.published == 5
    assert result.dead_lettered == 0
    assert sum(consume_batch_counts(spool)) == 5


def test_publish_dead_letters_after_exhausted_retries(spark, tmp_path):
    """template.yaml:10-12 analog: after max_attempts the batch goes to
    the DLQ instead of failing the job."""
    dlq_spool = str(tmp_path / "dlq")

    class AlwaysFailing:
        def send_message_batch(self, QueueUrl="", Entries=None):
            return {"Failed": [{"Id": e["Id"]} for e in (Entries or [])]}

    region = spark.read.parquet(table_path(SF, "region"))
    result = publish(
        region,
        AlwaysFailing,
        batch_size=2,
        max_attempts=3,
        dlq_client_factory=lambda: DirectoryQueue(dlq_spool),
        retry_backoff_s=0.001,
    )
    assert result.published == 0
    assert result.dead_lettered == 5
    assert sum(consume_batch_counts(dlq_spool)) == 5


def _spooled_ids(spool: str) -> list[str]:
    """Every entry Id written to a DirectoryQueue spool, repeats kept."""
    import glob
    import os

    ids = []
    for path in glob.glob(os.path.join(spool, "*.batch.jsonl")):
        with open(path, encoding="utf-8") as f:
            ids += [json.loads(line)["Id"] for line in f]
    return ids


def test_publish_resends_only_failed_entries(spark, tmp_path):
    """A partial failure resends only the Failed entries: no Id reported
    Successful is sent again, so every row lands exactly once."""
    spool = str(tmp_path / "spool")

    class FirstEntryFailsOnce:
        """Fails each batch's first entry on its first send and delivers
        the others."""

        def __init__(self):
            import threading

            self.inner = DirectoryQueue(spool)
            self.lock = threading.Lock()
            self.seen: set[str] = set()

        def send_message_batch(self, QueueUrl="", Entries=None):
            first = Entries[0]["Id"]
            with self.lock:
                fail = first not in self.seen
                self.seen.update(e["Id"] for e in Entries)
            ok = Entries[1:] if fail else Entries
            if ok:
                self.inner.send_message_batch(QueueUrl, ok)
            failed = [{"Id": first, "SenderFault": False}] if fail else []
            return {"Successful": [{"Id": e["Id"]} for e in ok],
                    "Failed": failed}

    orders = (
        spark.read.parquet(table_path(SF, "orders")).limit(57).coalesce(1)
    )
    total = orders.count()
    result = publish(
        orders, FirstEntryFailsOnce, batch_size=10, max_attempts=3,
        retry_backoff_s=0.001,
    )
    ids = _spooled_ids(spool)
    assert len(ids) == len(set(ids)) == total
    keys = [m["o_orderkey"] for m in read_messages(spool)]
    assert sorted(keys) == sorted(r.o_orderkey for r in orders.collect())
    assert (result.published, result.dead_lettered) == (total, 0)
    assert result.retried == result.batches == 6


def test_publish_dead_letters_per_entry(spark, tmp_path):
    """A SenderFault entry goes to the DLQ after one send; an entry that
    keeps failing goes there after max_attempts; the rest of its batch is
    delivered once and never dead-lettered."""
    spool = str(tmp_path / "spool")
    attempts = str(tmp_path / "attempts")
    dlq_spool = str(tmp_path / "dlq")

    class Selective:
        """Entry 3 of each batch is a sender fault, entry 5 always fails."""

        def __init__(self):
            self.inner = DirectoryQueue(spool)
            self.log = DirectoryQueue(attempts)

        def send_message_batch(self, QueueUrl="", Entries=None):
            self.log.send_message_batch(QueueUrl, Entries)
            failed, ok = [], []
            for e in Entries:
                j = int(e["Id"].rsplit("-", 1)[1]) % 10
                if j in (3, 5):
                    failed.append({"Id": e["Id"], "SenderFault": j == 3})
                else:
                    ok.append(e)
            if ok:
                self.inner.send_message_batch(QueueUrl, ok)
            return {"Successful": [{"Id": e["Id"]} for e in ok],
                    "Failed": failed}

    orders = spark.read.parquet(table_path(SF, "orders")).limit(40)
    result = publish(
        orders.coalesce(1), Selective, batch_size=10, max_attempts=3,
        dlq_client_factory=lambda: DirectoryQueue(dlq_spool),
        retry_backoff_s=0.001,
    )
    from collections import Counter

    tries = Counter(int(i.rsplit("-", 1)[1]) % 10
                    for i in _spooled_ids(attempts))
    assert tries[3] == 4  # one send per batch, never resent
    assert tries[5] == 12  # three sends per batch
    assert all(tries[j] == 4 for j in (0, 1, 2, 4, 6, 7, 8, 9))
    dead = sorted(int(i.rsplit("-", 1)[1]) for i in _spooled_ids(dlq_spool))
    assert dead == [3, 5, 13, 15, 23, 25, 33, 35]
    delivered = _spooled_ids(spool)
    assert len(delivered) == len(set(delivered)) == 32
    assert (result.published, result.dead_lettered) == (32, 8)
    assert result.retried == 8 and result.batches == 4


def test_publish_fails_when_the_dlq_rejects(spark):
    """An entry the dead-letter queue refuses fails the task rather than
    being counted as dead-lettered."""

    class AlwaysFailing:
        def send_message_batch(self, QueueUrl="", Entries=None):
            return {"Failed": [{"Id": e["Id"]} for e in Entries]}

    region = spark.read.parquet(table_path(SF, "region"))
    with pytest.raises(Exception, match="dead-letter queue rejected"):
        publish(
            region, AlwaysFailing, batch_size=2,
            dlq_client_factory=AlwaysFailing, retry_backoff_s=0.0,
        )


def test_run_pipeline_envelope(spark, tmp_path):
    spool = str(tmp_path / "spool")
    req = {"paths": [table_path(SF, "region")]}
    resp = run_pipeline(spark, req, lambda: DirectoryQueue(spool))
    assert resp == {"paths": req["paths"], "published": 5}
    assert sum(consume_batch_counts(spool)) == 5


def test_queue_roundtrip_as_dataframe(spark, tmp_path):
    """rows -> to_json -> queue -> from_json -> rows: full fidelity,
    down to the microseconds of events.ts."""
    from poc_parquet_publisher_spark.pipeline.consumer import (
        messages_as_dataframe,
    )

    for table in ("orders", "events"):
        spool = str(tmp_path / table)
        rows = spark.read.parquet(table_path(SF, table)).limit(50)
        publish(rows, lambda: DirectoryQueue(spool))

        back = messages_as_dataframe(spark, spool, rows.schema)
        assert back.schema.simpleString() == rows.schema.simpleString()
        src = {tuple(r) for r in rows.collect()}
        out = {tuple(r) for r in back.collect()}
        assert out == src, table


def test_serialize_json_nested(spark):
    df = spark.createDataFrame(
        [(1, {"city": "Denver"}, ["a", "b"])], "id int, address struct<city:string>, tags array<string>"
    )
    body = serialize_json(df).first().body
    parsed = json.loads(body)
    assert parsed == {"id": 1, "address": {"city": "Denver"}, "tags": ["a", "b"]}
