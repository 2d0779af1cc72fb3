"""Parquet reads: the one path from a file to a DataFrame.

The reference treats "table = one parquet file" and interpolates file paths
into SQL text (cmd/duckdb-record-processor/worker.go:14, handler.go:65 -- an
injection-prone pattern). Here paths go to ``read_parquet`` and never into
SQL text.

``read_parquet`` takes the schema from a footer, as the reference's
readers do (cmd/parquetgo-record-processor/handler.go:150-165). The
fixtures store timestamps as TIMESTAMP(MICROS); TIMESTAMP(NANOS) columns
come only from outside files (pyarrow's default writer) and read as
their microsecond twins, which is also what DuckDB yields.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Runtime-settable SQL confs the engine depends on. The harness driver hands
# us *its* SparkSession (entry/queries contract), which may not have been
# built by session.build_session -- without nanosAsLong a read of a
# TIMESTAMP(NANOS) column dies with PARQUET_TYPE_ILLEGAL, and without a
# pinned UTC zone the nanos cast in read_parquet would shift by the
# session zone offset.
_REQUIRED_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}

# Types from_arrow_type gives where Spark's reader disagrees: pyarrow
# restores durations, times and nulls from its own footer metadata, while
# Spark reads the physical column (bigint, an error, int).
_UNMATCHED_TYPES = re.compile(r'"(interval [^"]*|time\(\d\)|void)"')


def _footer_schema(spark: SparkSession, paths: list[str]):
    """(read schema, {nanos column: its micros twin's type}) from the
    footer Spark's inference would read -- the smallest data file path
    -- or None where Spark must infer (see read_parquet)."""
    files = []
    for p in paths:
        if ":" in p:
            return None  # a URI: Spark's file system lists it
        isdir = os.path.isdir(p)
        files += glob.glob(os.path.join(p, "*.parquet")) if isdir else [p]
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    ntz_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    ntz = spark.conf.get(ntz_key) == "true"
    try:
        pf = pq.ParquetFile(min(map(os.path.abspath, files)))
        schema = from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=ntz)
    except (OSError, ValueError, TypeError):
        # no top-level file (a partitioned tree), a missing path, a file
        # that is not Parquet, an Arrow type Spark has no twin for
        return None
    leaves = [pf.schema.column(i) for i in range(len(pf.schema))]
    nanos = {c.path for c in leaves if "nanos" in c.logical_type.to_json()}
    if any(c.physical_type == "INT96" for c in leaves) or not (
        nanos <= set(schema.names)
    ):
        return None  # INT96 (pyarrow says nanos too) or a nested nanos leaf
    if _UNMATCHED_TYPES.search(schema.json()):
        return None
    longs = {c: T.StructField(c, T.LongType()) for c in nanos}
    read = T.StructType([longs.get(f.name, f) for f in schema])
    return read, {c: schema[c].dataType for c in nanos}


def read_parquet(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Every Parquet read of the package (x188, which asks Spark to merge
    two footers, aside): ``spark.read.parquet`` with the schema taken
    from one footer read, so no Spark job runs to infer it.

    Top-level TIMESTAMP(NANOS) columns arrive as longs and are cast,
    truncated to micros, to the type Spark gives the same column stored
    at micros. Spark infers the schema itself, and nothing is cast,
    wherever the footer cannot reproduce it: a path with a URI scheme, a
    glob, a partitioned directory, an INT96 leaf (pyarrow reports it as
    nanos too), a nested nanos leaf, or a type ``from_arrow_type``
    rejects or maps differently.
    """
    for key, value in _REQUIRED_RUNTIME_CONFS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)
    paths = [paths] if isinstance(paths, str) else list(paths)
    footer = _footer_schema(spark, paths)
    if footer is None:
        return spark.read.parquet(*paths)
    schema, twins = footer
    df = spark.read.schema(schema).parquet(*paths)
    if twins:
        # Integral `div` keeps full long precision (a double round-trip
        # would corrupt epoch-nanos > 2^53).
        df = df.withColumns({
            c: F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast(t)
            for c, t in twins.items()
        })
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table."""
    return read_parquet(spark, table_path(sf_dir, name))
