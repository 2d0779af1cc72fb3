"""Column profiling: the data-quality summary pass (the Deequ/ANALYZE
analog) a pipeline runs before trusting a new drop of data.

One full scan produces every metric: all per-column aggregates sit in a
single ``agg`` row (Spark computes them in one partial+final hash
aggregate pass over the table), which is then unpivoted to one row per
column -- the scan cost is paid once no matter how many columns are
profiled. count(DISTINCT) across several columns in one pass uses
Spark's expand-based multi-distinct; at 100 TB swap it for
``approx_count_distinct`` (x16's HLL++ path) if exact cardinality isn't
worth the expanded shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column stats for numeric columns: (col, n_rows, n_nonnull,
    n_distinct, min_v, max_v, avg_v), one row per profiled column.

    Doubles are rounded to 4; the mean accumulates in DECIMAL so
    partition order cannot change the result (the determinism contract
    every hashed entry follows).
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.round(F.min(c).cast("double"), 4).alias(f"__min_{c}"),
            F.round(F.max(c).cast("double"), 4).alias(f"__max_{c}"),
            F.round(
                (
                    F.sum(F.col(c).cast("decimal(30,8)")).cast("double")
                    / F.count(c)
                ),
                4,
            ).alias(f"__avg_{c}"),
        ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __min_{c}, __max_{c}, __avg_{c}"
        for c in cols
    )
    return one.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stack}) AS "
        "(col, n_nonnull, n_distinct, min_v, max_v, avg_v)",
    ).select("col", "n_rows", "n_nonnull", "n_distinct", "min_v", "max_v", "avg_v")


def profile_numeric_oracle_sql(source: str, cols: list[str]) -> str:
    """DuckDB SQL mirroring ``profile_numeric`` (UNION ALL per column;
    same DECIMAL-accumulated mean)."""
    parts = [
        f"""SELECT '{c}' AS col,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count({c}) AS BIGINT) AS n_nonnull,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               ROUND(CAST(MIN({c}) AS DOUBLE), 4) AS min_v,
               ROUND(CAST(MAX({c}) AS DOUBLE), 4) AS max_v,
               ROUND(CAST(SUM(CAST({c} AS DECIMAL(30,8))) AS DOUBLE)
                     / count({c}), 4) AS avg_v
        FROM {source}"""
        for c in cols
    ]
    return " UNION ALL ".join(parts) + " ORDER BY col"


def referential_integrity(
    edges: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit (the Deequ-style DQ pass): for each
    (name, child, child_key, parent, parent_key) edge, count child rows
    whose key has no parent -- the orphan rate a 100 TB ingest monitors
    before joins silently drop rows.

    Output: (edge, n_child, n_orphans, orphan_rate), one row per edge.

    Scale shape: each edge is one LEFT ANTI equi-join (broadcast when
    the parent is dimension-sized, else shuffled + AQE) feeding a 1-row
    count; the per-edge rows union into a driver-sized result. Null
    child keys count as orphans (they cannot match any parent).
    """
    parts = []
    for name, child, ck, parent, pk in edges:
        keys = child.select(F.col(ck).alias("__k"))
        pkeys = parent.select(F.col(pk).alias("__k"))
        orphans = keys.join(pkeys, "__k", "left_anti")
        parts.append(
            keys.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
            .crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("n_orphans")
                )
            )
            .select(
                F.lit(name).alias("edge"),
                "n_child",
                "n_orphans",
                F.round(
                    F.col("n_orphans") / F.col("n_child"), 4
                ).alias("orphan_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


N_BUCKETS = 10


def decile_report(df: DataFrame, value_col: str) -> DataFrame:
    """Distribution report: bucket rows by the EXACT interpolated
    quantile thresholds of ``value_col`` (deciles by default) and report
    per-bucket counts and value ranges -- the calibration table behind
    "filter the bottom quality decile" decisions.

    Output: (bucket, n_docs, lo, hi), bucket = 1 + number of thresholds
    strictly below the value (1..n_buckets).

    Scale shape: thresholds are ONE exact-percentile aggregate (a sort-
    based agg; at 100 TB swap in percentile_approx -- x17's GK sketch --
    at the cost of the hashed tier) broadcast as a 1-row array; bucket
    assignment is a narrow fold over that array; the report is one hash
    aggregate. Spark's exact interpolated `percentile` matches DuckDB's
    quantile_cont bit-for-bit (the q30 precedent), so thresholds -- and
    therefore bucket boundaries -- are hash-stable cross-engine.
    """
    probs = [i / N_BUCKETS for i in range(1, N_BUCKETS)]
    # round-6 thresholds before the bucket comparison: the engines'
    # quantile interpolation formulas can differ by 1 ulp, flipping
    # v > t exactly where a data value IS the threshold (the x119
    # sf0.1 finding)
    thr = df.agg(
        F.transform(
            F.percentile(
                F.col(value_col), F.array(*[F.lit(p) for p in probs])
            ),
            lambda t: F.round(t, 6),
        ).alias("__thr")
    )
    v = F.col(value_col).cast("double")
    bucket = (
        F.aggregate(
            F.col("__thr"),
            F.lit(1),
            lambda acc, t: acc + F.when(v > t, 1).otherwise(0),
        )
    ).alias("bucket")
    return (
        df.crossJoin(F.broadcast(thr))
        .select(bucket, F.col(value_col).alias("__v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("__v").alias("lo"),
            F.max("__v").alias("hi"),
        )
    )


def decile_report_oracle_sql(
    source: str = "documents",
    value_col: str = "n_chars",
) -> str:
    """DuckDB SQL mirroring ``decile_report`` (quantile_cont array)."""
    probs = ", ".join(
        str(i / N_BUCKETS) for i in range(1, N_BUCKETS)
    )
    return f"""
WITH thr AS (
  SELECT list_transform(quantile_cont({value_col}, [{probs}]),
                        x -> ROUND(x, 6)) AS t FROM {source}
)
SELECT 1 + len(list_filter(t, x -> CAST({value_col} AS DOUBLE) > x))
           AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       MIN({value_col}) AS lo, MAX({value_col}) AS hi
FROM {source}, thr
GROUP BY 1 ORDER BY bucket
"""


def iqr_udaf():
    """Grouped-aggregate pandas UDAF: interquartile range of a double
    column per group -- the UDAF surface (Series -> scalar inside
    groupBy().agg()), completing the custom-function inventory next to
    scalar pandas UDFs (compression_ratio), mapInPandas (brute-force
    top-k), applyInPandas (packing) and applyInPandasWithState
    (stateful sessions).

    numpy's linear-interpolation percentile is the same formula as
    Spark `percentile` / DuckDB `quantile_cont` (the q30 precedent), so
    the result is oracle-hash-exact. Rounding happens OUTSIDE the UDAF:
    Python's round() is banker's rounding while both engines round half
    away from zero.

    Scale note: a grouped-agg pandas UDF materializes each group as one
    pandas Series (no partial aggregation) -- right for group counts
    << row counts (per-type, per-source); for exact percentiles over
    huge groups use the built-in sort-based `percentile`, or x17's GK
    sketch.
    """
    import numpy as np
    import pandas
    from pyspark.sql.functions import pandas_udf

    def _iqr(v):
        a = v.to_numpy(dtype="float64")
        return float(np.percentile(a, 75) - np.percentile(a, 25))

    _iqr.__annotations__ = {"v": pandas.Series, "return": float}
    return pandas_udf(_iqr, "double")
