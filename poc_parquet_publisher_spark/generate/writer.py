"""Size-bounded parquet writing (cmd/create-test-data/main.go:57-91, S8).

The reference writes 10k-row batches and stats the file after each flush,
stopping at >= 1 GB -- a write-then-check loop Spark cannot do mid-write.
The Spark-native equivalent measures bytes/row on a written sample, then
writes the computed row count in one distributed pass:

- flush granularity -> Parquet row-group size (``parquet.block.size``);
- the 1 GB bound -> ``rows_for_target_bytes`` + one ``write.parquet``;
- per-file size control -> ``maxRecordsPerFile`` so a 1000-executor run
  emits uniformly sized files instead of one giant one.
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import SparkSession

from .records import generate_records

DEFAULT_TARGET_BYTES = 1 << 30  # main.go:19,87
ROWS_PER_FLUSH = 10_000  # main.go:60


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def rows_for_target_bytes(
    spark: SparkSession,
    target_bytes: int,
    sample_rows: int = ROWS_PER_FLUSH,
) -> int:
    """Estimate the row count whose parquet footprint is ~target_bytes.

    Writes a ``sample_rows`` parquet sample to scratch and measures
    bytes/row. The Record body is incompressible random text (~1 KB/row),
    so the estimate is stable -- the same ~10^6 rows/GB envelope the
    reference converges to by stat-polling.
    """
    with tempfile.TemporaryDirectory(
        prefix="sizer-", ignore_cleanup_errors=True
    ) as tmp:
        out = os.path.join(tmp, "sample.parquet")
        generate_records(spark, sample_rows).write.mode("overwrite").parquet(
            out
        )
        bytes_per_row = _dir_bytes(out) / sample_rows
    return max(1, math.ceil(target_bytes / bytes_per_row))


def write_sized_parquet(
    spark: SparkSession,
    out_path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    rows_per_file: int | None = None,
    sample_rows: int = ROWS_PER_FLUSH,
) -> int:
    """Generate + write ~target_bytes of Records; returns rows written."""
    n = rows_for_target_bytes(spark, target_bytes, sample_rows=sample_rows)
    writer = generate_records(spark, n).write.mode("overwrite")
    if rows_per_file:
        writer = writer.option("maxRecordsPerFile", rows_per_file)
    writer.parquet(out_path)
    return n
