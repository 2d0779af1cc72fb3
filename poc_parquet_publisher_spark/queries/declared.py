"""DECLARED QUERY SET Q01-Q28 (SURVEY.md section 2.2) - reference parity.

The reference's own SQL surface is three strings (count(*), SELECT *,
LIMIT/OFFSET -- /root/reference/cmd/duckdb-record-processor/handler.go:65,
worker.go:14) issued against an embedded full-SQL engine; this module
declares the concrete query inventory that defines correctness for the
Spark rebuild, each paired with its DuckDB oracle.

Spark-first notes (scale posture, verified with .explain on sf0.01):
- filters/projections are plain DataFrame ops -> Catalyst pushes them into
  the parquet scan (PushedFilters / ReadSchema);
- joins are declared logically; small dims get an explicit broadcast hint,
  everything else is left to Catalyst + AQE (sort-merge / shuffled-hash /
  skew-join re-plan at runtime);
- every floating SUM is computed in DECIMAL so the result is independent of
  partition/merge order (a double-sum would drift at 100 TB row counts),
  then cast to DOUBLE and ROUND(4) on both engines;
- every LIMIT/OFFSET sits under a total ORDER BY: Spark has no stable
  implicit row order across partitions (unlike the reference's single-file
  DuckDB scans, SURVEY.md section 4.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..ops.text import _toks
from . import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(col: Column | str) -> Column:
    """Exact-arithmetic operand for order-independent float aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,4)")


def _dsum(col: Column | str, alias: str) -> Column:
    """ROUND(CAST(SUM(decimal) AS DOUBLE), 4) -- deterministic cross-engine."""
    return F.round(F.sum(_dec(col)).cast("double"), 4).alias(alias)


# DuckDB-side fragment mirroring _dsum
def _osum(expr: str, alias: str) -> str:
    return f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE), 4) AS {alias}"


# ---------------------------------------------------------------------------
# Scans, filters, pagination (reference: worker.go:14, handler.go:65)
# ---------------------------------------------------------------------------


@register("q01_count", "SELECT count(*) AS n FROM lineitem",
          doc="S11: the first SQL the reference runs (handler.go:65)")
def q01_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q02_scan_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
       FROM lineitem
       ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
       LIMIT 100""",
    doc="S1/S12: SELECT-* scan narrowed to a pruned projection. ORDER BY "
        "covers every output column: (l_orderkey, l_linenumber) is NOT "
        "unique at sf>=0.01, so a partial order would make the LIMIT cut "
        "nondeterministic across engines",
)
def q02_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(100)
    )


@register(
    "q03_pagination",
    """SELECT l_orderkey, l_linenumber FROM lineitem
       ORDER BY l_orderkey, l_linenumber LIMIT 100 OFFSET 500""",
    doc="S13: LIMIT/OFFSET (worker.go:14) under a total order -- Spark has "
        "no stable implicit order, so pagination requires ORDER BY",
)
def q03_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
        .offset(500)
        .limit(100)
    )


@register(
    "q04_filter",
    """SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice_r
       FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 1000
       ORDER BY o_orderkey""",
)
def q04_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice_r"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q05_filter_in_between",
    """SELECT c_custkey FROM customer
       WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
         AND c_acctbal BETWEEN 0 AND 5000
       ORDER BY c_custkey""",
)
def q05_filter_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .filter(
            F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
            & F.col("c_acctbal").between(0, 5000)
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q06_filter_like",
    """SELECT p_partkey, p_name FROM part
       WHERE p_name LIKE '%widget%' ORDER BY p_partkey""",
)
def q06_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Aggregation (reference: S11 count(*) generalized)
# ---------------------------------------------------------------------------


@register(
    "q07_group_agg",
    f"""SELECT l_returnflag, l_linestatus,
               {_osum('l_quantity', 'sum_qty')},
               {_osum('l_extendedprice', 'sum_base_price')},
               ROUND(AVG(l_discount), 4) AS avg_disc,
               count(*) AS cnt
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",
    doc="TPC-H Q1 shape; partial+final hash aggregation is automatic",
)
def q07_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate")
            <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q08_distinct_agg",
    "SELECT count(DISTINCT o_custkey) AS n FROM orders",
)
def q08_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n")
    )


@register(
    "q09_having",
    """SELECT o_custkey, count(*) AS cnt FROM orders
       GROUP BY o_custkey HAVING count(*) >= 3 ORDER BY o_custkey""",
)
def q09_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 3)
        .orderBy("o_custkey")
    )


@register(
    "q10_rollup",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders
       GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
       ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
)
def q10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q11_join_inner",
    """SELECT o.o_orderkey, c.c_name FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey""",
)
def q11_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    )


@register(
    "q12_join_multiway",
    """SELECT n.n_name,
              ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) *
                             (CAST(1 AS DECIMAL(18,4)) -
                              CAST(l.l_discount AS DECIMAL(18,4))))
                    AS DOUBLE), 4) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name ORDER BY n.n_name""",
    doc="TPC-H Q5 shape. Dim tables (region/nation/supplier) are broadcast "
        "-- at 100 TB the fact-side shuffle is the cost; broadcasting every "
        "dim removes 3 of 5 shuffles. The revenue product is computed in "
        "DECIMAL so the grouped sum is merge-order independent.",
)
def q12_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - _dec("l_discount")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 4).alias("revenue"))
        .orderBy("n_name")
    )


@register(
    "q13_join_left",
    """SELECT c.c_custkey, count(o.o_orderkey) AS cnt FROM customer c
       LEFT JOIN orders o ON o.o_custkey = c.c_custkey
       GROUP BY c.c_custkey ORDER BY c.c_custkey""",
)
def q13_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("cnt"))
        .orderBy("c_custkey")
    )


@register(
    "q14_join_semi",
    """SELECT c_custkey FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 5000)
       ORDER BY c_custkey""",
    doc="EXISTS decorrelates to a left-semi join",
)
def q14_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 5000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q15_join_anti",
    """SELECT c_custkey FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey)
       ORDER BY c_custkey""",
)
def q15_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q16_join_broadcast",
    """SELECT n.n_name, r.r_name FROM nation n
       JOIN region r ON n.n_regionkey = r.r_regionkey ORDER BY n.n_name""",
    doc="explicit broadcast hint: region is always tiny, shuffle-free join",
)
def q16_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name", "r_name")
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "q17_window_rank",
    """SELECT o_custkey, o_orderkey, rn FROM (
         SELECT o_custkey, o_orderkey,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders)
       WHERE rn <= 2 ORDER BY o_custkey, rn""",
    doc="top-N per group; o_orderkey tiebreak makes ranking total",
)
def q17_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


@register(
    "q18_window_running_sum",
    """SELECT l_orderkey, l_linenumber,
              ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                    OVER (PARTITION BY l_orderkey
                          ORDER BY l_linenumber, l_quantity
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE), 4) AS running
       FROM lineitem ORDER BY l_orderkey, l_linenumber, running LIMIT 500""",
    doc="(l_orderkey, l_linenumber) duplicates at sf>=0.01: the window "
        "order adds l_quantity so tied rows accumulate identically in both "
        "engines, and the outer ORDER BY includes running so the LIMIT cut "
        "is total",
)
def q18_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.sum(_dec("l_quantity")).over(w).cast("double"), 4).alias(
                "running"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber", "running")
        .limit(500)
    )


@register(
    "q19_window_lag",
    """SELECT o_custkey, o_orderkey,
              lag(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev
       FROM orders ORDER BY o_custkey, o_orderkey""",
)
def q19_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_orderkey").over(w).alias("prev"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Top-k, set ops
# ---------------------------------------------------------------------------


@register(
    "q20_topk",
    """SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice_r FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    doc="physical plan is TakeOrderedAndProject: per-partition heap + merge, "
        "no global sort -- the pattern that survives 100 TB",
)
def q20_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice_r")
        )
    )


@register(
    "q21_intersect",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
       ORDER BY o_custkey""",
)
def q21_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op).orderBy("o_custkey")


@register(
    "q21_union_all",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
       UNION ALL
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
       ORDER BY o_custkey""",
)
def q21_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.unionAll(op).orderBy("o_custkey")


@register(
    "q21_except",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
       EXCEPT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
       ORDER BY o_custkey""",
)
def q21_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    # subtract == SQL EXCEPT (distinct semantics), unlike exceptAll
    return f.subtract(op).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Scalar functions (reference generator helpers S18-S25 exercised relationally)
# ---------------------------------------------------------------------------


@register(
    "q22_string_funcs",
    """SELECT c_custkey, lower(c_name) AS lname, upper(c_mktsegment) AS useg,
              CAST(length(c_name) AS BIGINT) AS name_len,
              substr(c_name, 1, 8) AS name_pref,
              concat(c_name, '#', c_mktsegment) AS name_tag
       FROM customer ORDER BY c_custkey""",
    doc="S20: lower/concat are the reference's email synthesis ops",
)
def q22_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.lower("c_name").alias("lname"),
            F.upper("c_mktsegment").alias("useg"),
            F.length("c_name").cast("long").alias("name_len"),
            F.substring("c_name", 1, 8).alias("name_pref"),
            F.concat(
                F.col("c_name"), F.lit("#"), F.col("c_mktsegment")
            ).alias("name_tag"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q23_date_funcs",
    """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y,
              CAST(month(o_orderdate) AS INT) AS m,
              CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
       FROM orders ORDER BY o_orderkey LIMIT 200""",
    doc="S22/S24 date handling; DATE cast bridges Spark ts vs DuckDB date",
)
def q23_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("month_start"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


@register(
    "q24_math_funcs",
    """SELECT l_orderkey, l_linenumber,
              CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,4)) *
                         (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4))) *
                         (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(5,4))),
                         4) AS DOUBLE) AS charge,
              CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
              ABS(l_discount - 0.05) < 0.03 AS near_disc
       FROM lineitem
       ORDER BY l_orderkey, l_linenumber, charge, qty_floor, near_disc
       LIMIT 500""",
    doc="charge computed in DECIMAL: ROUND on a raw double is engine-"
        "dependent (Spark rounds the shortest decimal repr, DuckDB the "
        "binary expansion -- 86684.105 vs 86684.1049), decimal arithmetic "
        "has one well-defined answer. ORDER BY covers all output columns "
        "(composite lineitem key duplicates at sf>=0.01)",
)
def q24_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    one = F.lit(1).cast("decimal(5,4)")
    charge = F.round(
        F.col("l_extendedprice").cast("decimal(12,4)")
        * (one - F.col("l_discount").cast("decimal(5,4)"))
        * (one + F.col("l_tax").cast("decimal(5,4)")),
        4,
    ).cast("double")
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            charge.alias("charge"),
            F.floor("l_quantity").cast("long").alias("qty_floor"),
            (F.abs(F.col("l_discount") - 0.05) < 0.03).alias("near_disc"),
        )
        .orderBy("l_orderkey", "l_linenumber", "charge", "qty_floor", "near_disc")
        .limit(500)
    )


@register(
    "q25_array_funcs",
    """SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
              list_contains(string_split(text, ' '), 'spark') AS has_spark,
              array_to_string((string_split(text, ' '))[1:5], ' ') AS head5
       FROM documents ORDER BY doc_id""",
    doc="S25 / record.go:29,33 array surface; oracle uses the DuckDB list "
        "dialect (len/list_contains/array_to_string)",
)
def q25_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_toks"),
            F.array_contains(toks, "spark").alias("has_spark"),
            F.array_join(F.slice(toks, 1, 5), " ").alias("head5"),
        )
        .orderBy("doc_id")
    )


@register(
    "q25_events_in",
    """SELECT event_type, count(*) AS cnt FROM events
       WHERE event_type IN ('click', 'view')
       GROUP BY event_type ORDER BY event_type""",
)
def q25_events_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("event_type")
    )


@register(
    "q26_json_extract",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
       FROM events ORDER BY event_id LIMIT 500""",
    doc="S14: JSON on the wire (handler.go:54); Spark get_json_object "
        "<-> DuckDB json_extract_string",
)
def q26_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .orderBy("event_id")
        .limit(500)
    )


@register(
    "q27_window_hourly",
    f"""SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS cnt,
               {_osum('value', 'sum_value')}
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="tumbling-window batch analog of the SQS consumer "
        "(sqs-record-consumer/main.go:29); streaming variant in streaming/",
)
def q27_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts"))
            .cast("timestamp_ntz")
            .alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"), _dsum("value", "sum_value"))
        .orderBy("w", "event_type")
    )


@register(
    "q28_json_roundtrip",
    """SELECT l_orderkey, l_linenumber,
              to_json(struct_pack(l_orderkey := l_orderkey,
                                  l_quantity := l_quantity)) AS js
       FROM lineitem ORDER BY l_orderkey, l_linenumber, js LIMIT 100""",
    doc="S14 record->JSON (handler.go:52-62); to_json output verified "
        "byte-identical across Spark/DuckDB for long+double fields",
)
def q28_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.to_json(F.struct("l_orderkey", "l_quantity")).alias("js"),
        )
        .orderBy("l_orderkey", "l_linenumber", "js")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Family-coverage variants: SURVEY section 2.2 claims rollup "also covers
# cube / grouping sets" and Q17 "also rank / dense_rank" -- these make the
# claims hash-verified instead of implied.
# ---------------------------------------------------------------------------


@register(
    "q10b_cube",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders
       GROUP BY CUBE(o_orderstatus, o_orderpriority)
       ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
)
def q10b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q10c_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
                cnt""",
)
def q10c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
            "cnt",
        )
    )


@register(
    "q17b_rank_dense_ntile",
    """SELECT o_custkey, o_orderkey,
              CAST(rank() OVER w AS BIGINT) AS rnk,
              CAST(dense_rank() OVER w AS BIGINT) AS drnk,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, o_orderkey""",
    doc="rank/dense_rank/ntile over one window spec; the o_orderkey "
        "tiebreak makes every ranking total, so ntile bucket boundaries "
        "agree across engines",
)
def q17b_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "q19b_lead",
    """SELECT o_custkey, o_orderkey,
              lead(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey)
                  AS nxt2
       FROM orders ORDER BY o_custkey, o_orderkey""",
)
def q19b_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.lead("o_orderkey", 2).over(w).alias("nxt2"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "q29_stats_aggs",
    """SELECT o_orderstatus,
              ROUND(CAST(stddev_samp(o_totalprice) AS DOUBLE), 4) AS sd,
              ROUND(CAST(var_samp(o_totalprice) AS DOUBLE), 2) AS var,
              ROUND(CAST(corr(o_totalprice, o_custkey) AS DOUBLE), 4)
                  AS price_cust_corr,
              ROUND(CAST(covar_samp(o_totalprice, o_custkey) AS DOUBLE), 2)
                  AS price_cust_cov
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    doc="statistical aggregates (Welford-style single-pass, mergeable per "
        "partition in both engines); variance/covariance rounded at 2 "
        "decimals -- their magnitude amplifies ulp-level differences in "
        "the merge order",
)
def q29_stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.stddev_samp("o_totalprice"), 4).alias("sd"),
            F.round(F.var_samp("o_totalprice"), 2).alias("var"),
            F.round(F.corr("o_totalprice", "o_custkey"), 4).alias(
                "price_cust_corr"
            ),
            F.round(F.covar_samp("o_totalprice", "o_custkey"), 2).alias(
                "price_cust_cov"
            ),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q30_exact_percentiles",
    """SELECT ROUND(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4)
                  AS p50,
              ROUND(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4)
                  AS p90,
              ROUND(CAST(quantile_cont(o_totalprice, 0.99) AS DOUBLE), 4)
                  AS p99
       FROM orders""",
    doc="exact interpolated percentiles: Spark percentile() == DuckDB "
        "quantile_cont() (both linear interpolation on the sorted "
        "multiset); contrast with x17's sketch tier",
)
def q30_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "q31_conditional_funcs",
    """SELECT o_orderkey,
              coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
              CASE WHEN o_totalprice > 5000 THEN 'high'
                   WHEN o_totalprice > 1000 THEN 'mid'
                   ELSE 'low' END AS price_band,
              ROUND(greatest(o_totalprice, 1000.0), 4) AS at_least_1k,
              ROUND(least(o_totalprice, 9000.0), 4) AS at_most_9k,
              (o_orderstatus IS DISTINCT FROM 'F') AS not_f
       FROM orders ORDER BY o_orderkey""",
    doc="conditional/null-handling scalars: coalesce, nullif, CASE ladder, "
        "greatest/least, IS DISTINCT FROM -- all codegen, no branches in "
        "Python",
)
def q31_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")
        ).alias("status_or_open"),
        F.when(F.col("o_totalprice") > 5000, "high")
        .when(F.col("o_totalprice") > 1000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.round(F.greatest("o_totalprice", F.lit(1000.0)), 4).alias(
            "at_least_1k"
        ),
        F.round(F.least("o_totalprice", F.lit(9000.0)), 4).alias(
            "at_most_9k"
        ),
        (~F.col("o_orderstatus").eqNullSafe(F.lit("F"))).alias("not_f"),
    ).orderBy("o_orderkey")


@register(
    "q32_date_arithmetic",
    """SELECT o_orderkey,
              CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
              CAST(o_orderdate AS DATE) - INTERVAL 7 DAY AS week_before,
              datediff('day', CAST(o_orderdate AS DATE),
                       DATE '1998-12-31') AS days_to_eoy,
              CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
       FROM orders ORDER BY o_orderkey LIMIT 300""",
    doc="date arithmetic: interval add/subtract, datediff, quarter trunc. "
        "DuckDB's DATE + INTERVAL yields TIMESTAMP, so the Spark side "
        "matches with a timestamp-typed result (canon compares isoformat)",
)
def q32_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).cast("timestamp_ntz").alias("due_date"),
        F.date_sub(d, 7).cast("timestamp_ntz").alias("week_before"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias(
            "days_to_eoy"
        ),
        F.date_trunc("quarter", "o_orderdate").cast("date").alias(
            "quarter_start"
        ),
    ).orderBy("o_orderkey").limit(300)


@register(
    "q33_array_hof",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                  FROM documents)
       SELECT doc_id,
              CAST(len(list_filter(toks, t -> strlen(t) > 4)) AS BIGINT)
                  AS n_long,
              CAST(list_reduce(list_prepend(0,
                       list_transform(toks, t -> strlen(t))),
                       (a, b) -> a + b) AS BIGINT) AS total_len,
              array_to_string(list_sort(toks)[1:3], ' ') AS first3_sorted
       FROM t ORDER BY doc_id""",
    doc="higher-order functions: filter / transform+aggregate fold / "
        "array_sort+slice, dialect-mapped to DuckDB list_* (fold init via "
        "list_prepend since list_reduce has no explicit accumulator). "
        "first3_sorted is string-serialized on both engines: the driver's "
        "pandas canonicalizer cannot sort/hash raw array cells",
)
def q33_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.col("toks")
    return (
        docs.select("doc_id", _toks("text").alias("toks"))
        .select(
            "doc_id",
            F.size(F.filter(toks, lambda t: F.length(t) > 4))
            .cast("long")
            .alias("n_long"),
            F.aggregate(
                toks,
                F.lit(0),
                lambda acc, t: acc + F.length(t),
            )
            .cast("long")
            .alias("total_len"),
            F.array_join(F.slice(F.array_sort(toks), 1, 3), " ").alias(
                "first3_sorted"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "q34_scalar_subquery",
    """SELECT o_orderkey, ROUND(o_totalprice, 4) AS price_r
       FROM orders
       WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
       ORDER BY o_orderkey""",
    doc="uncorrelated scalar subquery, exercised through the spark.sql "
        "entry path (parse -> analyze -> optimize -> subquery broadcast); "
        "every other declared query uses the DataFrame API -- both fronts "
        "share one Catalyst plan space",
)
def q34_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """SELECT o_orderkey, ROUND(o_totalprice, 4) AS price_r
           FROM orders
           WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
           ORDER BY o_orderkey"""
    )


@register(
    "q35_pivot",
    """SELECT o_orderpriority,
              count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
              count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
              count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    doc="pivot: Spark's groupBy().pivot() against a portable conditional-"
        "aggregation oracle (FILTER clauses) -- same result, and the "
        "physical plan is the same single hash aggregate either way",
)
def q35_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("f_cnt"),
        F.coalesce(F.col("O"), F.lit(0)).alias("o_cnt"),
        F.coalesce(F.col("P"), F.lit(0)).alias("p_cnt"),
    ).orderBy("o_orderpriority")


@register(
    "q36_correlated_subquery",
    """SELECT c_custkey,
              (SELECT ROUND(MAX(o_totalprice), 4) FROM orders o
               WHERE o.o_custkey = c.c_custkey) AS max_order
       FROM customer c ORDER BY c_custkey""",
    doc="correlated scalar subquery: Catalyst decorrelates it into a "
        "left outer join against a pre-aggregated (already small) "
        "per-customer MAX -- never a per-row re-execution of the inner "
        "query, the property that keeps correlation viable at scale",
)
def q36_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """SELECT c_custkey,
                  (SELECT ROUND(MAX(o_totalprice), 4) FROM orders o
                   WHERE o.o_custkey = c.c_custkey) AS max_order
           FROM customer c ORDER BY c_custkey"""
    )


@register(
    "q37_range_frame_window",
    """SELECT o_custkey, o_orderkey,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate
                  RANGE BETWEEN INTERVAL 30 DAY PRECEDING
                        AND CURRENT ROW) AS DOUBLE), 4) AS sum_30d
       FROM orders ORDER BY o_custkey, o_orderkey""",
    doc="time-RANGE window frame (trailing 30-day sum per customer): the "
        "value-based frame q18's ROWS frame cannot express -- peers are "
        "chosen by o_orderdate distance, not row position. One shuffle "
        "on the partition key, same as any window",
)
def q37_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """SELECT o_custkey, o_orderkey,
                  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) OVER (
                      PARTITION BY o_custkey ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 30 DAY PRECEDING
                            AND CURRENT ROW) AS DOUBLE), 4) AS sum_30d
           FROM orders ORDER BY o_custkey, o_orderkey"""
    )


_Q38_SQL = """SELECT o_custkey, o_orderkey,
       ROUND(percent_rank() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey), 4) AS pct_rank,
       ROUND(cume_dist() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey), 4) AS cdist
FROM orders ORDER BY o_custkey, o_orderkey"""


@register(
    "q38_percent_rank_cume_dist",
    _Q38_SQL,
    doc="relative-position window functions (percent_rank, cume_dist) "
        "completing the ranking family q17/q17b opened; integer-ratio "
        "results are IEEE-exact cross-engine, the o_orderkey tiebreak "
        "makes ranks total. Single-row partitions: percent_rank 0.0 in "
        "both dialects",
)
def q38_percent_rank_cume_dist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q38_SQL)


_Q39_SQL = """SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS first_ok,
       last_value(o_orderkey) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_ok,
       nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_ok
FROM orders ORDER BY o_custkey, o_orderkey"""


@register(
    "q39_first_last_nth_value",
    _Q39_SQL,
    doc="value-navigation window functions (first_value, last_value, "
        "nth_value) over an explicit full frame -- last_value under the "
        "DEFAULT frame is the current row in both dialects, the classic "
        "trap; the full frame plus unique o_orderkey tiebreak makes all "
        "three deterministic (nth 2 is NULL for 1-order customers)",
)
def q39_first_last_nth_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q39_SQL)


_Q40_SQL = """SELECT c.c_custkey, o.o_orderkey AS top_orderkey,
       ROUND(o.o_totalprice, 4) AS top_totalprice
FROM customer c LEFT JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
) o ON true
ORDER BY c.c_custkey"""


@register(
    "q40_lateral_join",
    _Q40_SQL,
    doc="LEFT JOIN LATERAL (correlated top-1 subquery per outer row): "
        "Catalyst decorrelates the LIMIT-ed lateral into a ranked "
        "window + outer join rather than re-running the subquery per "
        "row; customers with no orders keep a NULL top order. Same SQL "
        "text runs on both engines",
)
def q40_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q40_SQL)


@register(
    "q41_array_agg",
    """SELECT o_custkey,
              array_to_string(list_sort(list(o_orderkey)), ',')
                  AS orderkeys,
              CAST(len(list(o_orderkey)) AS BIGINT) AS n_orders
       FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    doc="aggregate-to-array (collect_list/list): per-customer order-key "
        "arrays, sorted post-aggregation so the nondeterministic "
        "collection order cancels out -- the portable way to hash-match "
        "an array aggregate across engines. Dialect map: collect_list "
        "<-> list, array_sort <-> list_sort, size <-> len. The array is "
        "string-serialized on both engines (q33 precedent): the driver's "
        "pandas canonicalizer cannot sort/hash raw array cells",
)
def q41_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("o_orderkey")),
                    lambda k: k.cast("string"),
                ),
                ",",
            ).alias("orderkeys"),
            F.size(F.collect_list("o_orderkey")).cast("long").alias(
                "n_orders"
            ),
        )
        .orderBy("o_custkey")
    )


def _q42_sql(dialect: str) -> str:
    """Recursive-CTE date-series gap fill (q42), per dialect: Spark 4
    recursive CTEs (spark.sql.cteRecursionLevelLimit defaults to 100,
    so the series is capped at 30 days) vs DuckDB; the only dialect
    differences are date arithmetic (date_add/datediff vs +/-).

    The anchor carries (min_day, cap) THROUGH the recursion: a naive
    ``WHERE i < (SELECT ...)`` loop condition re-runs the scalar
    subquery's full scan every iteration (measured 15.6 s at sf0.1 --
    Spark executes each recursive step as its own job); with the bound
    materialized in the anchor each step is a 1-row local filter.
    """
    mind = "(SELECT MIN(CAST(o_orderdate AS DATE)) FROM orders)"
    maxd = "(SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)"
    if dialect == "spark":
        span = f"datediff({maxd}, {mind})"
        day = "date_add(min_day, i)"
    else:
        span = f"({maxd} - {mind})"
        day = "(min_day + i)"
    return f"""
WITH RECURSIVE n(i, min_day, cap) AS (
  SELECT 0, {mind}, LEAST({span}, 29)
  UNION ALL SELECT i + 1, min_day, cap FROM n WHERE i < cap
), days AS (
  SELECT {day} AS day FROM n
), cnt AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS c
  FROM orders GROUP BY 1
)
SELECT days.day, CAST(COALESCE(c, 0) AS BIGINT) AS n_orders
FROM days LEFT JOIN cnt USING (day)
ORDER BY days.day
"""


@register(
    "q42_recursive_series",
    _q42_sql("duckdb"),
    doc="recursive CTE (Spark 4.x): 30-day contiguous date series from "
        "the order-date span, left-joined to per-day counts -- the "
        "gap-filling report shape (days with zero orders appear as 0, "
        "which a plain GROUP BY cannot produce); capped below Spark's "
        "default cteRecursionLevelLimit of 100",
)
def q42_recursive_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_q42_sql("spark"))
