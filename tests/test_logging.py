"""JSON logging (S33): one parseable object per line, extra kv surfaced."""

from __future__ import annotations

import io
import json

import pytest

from poc_parquet_publisher_spark.logging_utils import json_logger


def test_json_logger_emits_parseable_lines():
    buf = io.StringIO()
    log = json_logger("test.json.logger", stream=buf)
    log.info("received request", extra={"bucket": "b", "paths": ["a", "b"]})
    log.error("failed to send", extra={"batch_index": 3})

    lines = [json.loads(x) for x in buf.getvalue().splitlines()]
    assert lines[0]["msg"] == "received request"
    assert lines[0]["level"] == "INFO"
    assert lines[0]["bucket"] == "b"
    assert lines[0]["paths"] == ["a", "b"]
    assert lines[1]["level"] == "ERROR"
    assert lines[1]["batch_index"] == 3


def test_json_logger_reuse_does_not_duplicate_handlers():
    buf = io.StringIO()
    log1 = json_logger("test.json.reuse", stream=buf)
    log2 = json_logger("test.json.reuse", stream=buf)
    assert log1 is log2
    log1.info("once")
    assert len(buf.getvalue().splitlines()) == 1


def test_publish_logs_one_run_event(spark, tmp_path):
    """Each publish run emits one JSON event with its delivery counts."""
    import logging

    from poc_parquet_publisher_spark.catalog import table_path
    from poc_parquet_publisher_spark.logging_utils import JsonFormatter
    from poc_parquet_publisher_spark.pipeline import DirectoryQueue, publish
    from tests.conftest import SF_SMOKE

    buf = io.StringIO()
    handler = logging.StreamHandler(buf)
    handler.setFormatter(JsonFormatter())
    log = json_logger("poc_parquet_publisher_spark.pipeline.publish")
    log.addHandler(handler)
    try:
        region = spark.read.parquet(table_path(SF_SMOKE, "region"))
        result = publish(
            region, lambda: DirectoryQueue(str(tmp_path)), batch_size=2
        )
    finally:
        log.removeHandler(handler)

    (event,) = [json.loads(x) for x in buf.getvalue().splitlines()]
    assert event["msg"] == "publish"
    assert event["level"] == "INFO"
    assert {
        k: event[k]
        for k in ("rows_published", "rows_dead_lettered", "entries_retried")
    } == {"rows_published": 5, "rows_dead_lettered": 0, "entries_retried": 0}
    assert event["batches"] == result.batches >= 3
    assert isinstance(event["seconds"], float) and event["seconds"] > 0
    assert event["rows_per_s"] == pytest.approx(
        5 / event["seconds"], rel=1e-3, abs=0.1
    )
