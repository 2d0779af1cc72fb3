"""Scale-utility tests: salting preserves join semantics while spreading
hot keys; bucketing eliminates the join-time shuffle entirely.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poc_parquet_publisher_spark import scale
from poc_parquet_publisher_spark.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def skewed(spark):
    """A deliberately skewed fact table: 90% of rows share one key."""
    big = spark.range(20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    return big, small


def _counts(df):
    return {
        (r.k, r.v, r.w)
        for r in df.select("k", "v", "w").collect()
    }


def test_salted_join_matches_plain_join(skewed):
    big, small = skewed
    plain = _counts(big.join(small, "k", "inner"))
    salted = _counts(scale.salted_join(big, small, "k", n_salts=8))
    assert salted == plain
    assert len(plain) == 20_000  # every big row matched exactly once


def test_salted_left_join_matches(spark, skewed):
    big, small = skewed
    tiny = small.filter(F.col("k") < 10)  # force unmatched big rows
    plain = {
        (r.k, r.v, r.w) for r in big.join(tiny, "k", "left").collect()
    }
    salted = {
        (r.k, r.v, r.w)
        for r in scale.salted_join(big, tiny, "k", n_salts=8, how="left").collect()
    }
    assert salted == plain


def test_salted_join_deterministic_salt(skewed):
    """salt_col=: row-identical to the plain join AND the salt assignment
    is reproducible under repartitioning (hash-of-row-unique-column,
    not rand(), which is partition-order-dependent)."""
    big, small = skewed
    plain = _counts(big.join(small, "k", "inner"))
    det = scale.salted_join(big, small, "k", n_salts=8, salt_col="v")
    assert _counts(det) == plain

    def salt_map(b):
        sb = b.withColumn(
            "__salt", F.pmod(F.hash(F.col("v"), F.lit(7)), F.lit(8))
        )
        return {(r.v, r["__salt"]) for r in sb.select("v", "__salt").collect()}

    assert salt_map(big) == salt_map(big.repartition(13))
    # the hot key k=7 still spreads across many salts
    hot = (
        big.filter(F.col("k") == 7)
        .select(F.pmod(F.hash(F.col("v"), F.lit(7)), F.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert hot == 8
    with pytest.raises(ValueError):
        scale.salted_join(big, small, "k", salt_col="k")


def test_salted_join_spreads_hot_key(skewed):
    big, small = skewed
    out = scale.salted_join(big, small, "k", n_salts=8)
    # the physical join key is (k, __salt): the hot key k=7 hashes into
    # up to 8 distinct shuffle partitions instead of 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_partition_pruning(spark, tmp_path):
    """A filter on the partition column prunes directories at planning
    time: PartitionFilters set, and only the matching partition is read."""
    out = str(tmp_path / "events_by_type")
    events = load_table(spark, SF, "events")
    scale.write_partitioned(events, out, ["event_type"])

    df = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "event_type" in plan.split("PartitionFilters:")[1].splitlines()[0]
    expected = events.filter(F.col("event_type") == "click").count()
    assert df.count() == expected


def test_bucketed_join_is_shuffle_free(spark):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    scale.write_bucketed(orders, "orders_b", "o_custkey", n_buckets=8)
    scale.write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "customer_b",
        "o_custkey",
        n_buckets=8,
    )
    try:
        joined = scale.bucketed_join(spark, "orders_b", "customer_b", "o_custkey")
        # forbid broadcast so the test exercises the merge path
        merge = spark.table("orders_b").hint("merge").join(
            spark.table("customer_b"), "o_custkey"
        )
        plan = merge._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and the answer matches the unbucketed join
        expected = orders.join(
            customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        ).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_prefix_sum_matches_global_window(spark):
    """prefix_sum == COALESCE(SUM(v) OVER (ORDER BY k ROWS UNBOUNDED
    PRECEDING), 0) on every row, including null values (contribute 0;
    an all-null prefix is 0, not NULL), regardless of the input's
    partitioning."""
    from pyspark.sql.window import Window

    df = spark.range(5_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 97 == 0, F.lit(None))
        .otherwise((F.col("id") * 7) % 13)
        .alias("v"),
    )
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expected = {
        (r.k, r.s)
        for r in df.select(
            "k",
            F.coalesce(F.sum("v").over(w), F.lit(0))
            .cast("long")
            .alias("s"),
        ).collect()
    }
    for reshaped in (df, df.repartition(7), df.coalesce(1)):
        got = {
            (r.k, r.s)
            for r in scale.prefix_sum(reshaped, "k", "v", "s")
            .select("k", F.col("s").cast("long"))
            .collect()
        }
        assert got == expected


def test_prefix_sum_few_partitions_and_empty(spark):
    """Degenerate shapes: fewer rows than partitions, and an empty
    frame, both come back exact."""
    tiny = spark.range(3).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    got = {
        (r.k, r.s)
        for r in scale.prefix_sum(
            tiny, "k", "v", "s", num_partitions=16
        ).collect()
    }
    assert got == {(0, 1), (1, 2), (2, 3)}
    empty = tiny.where(F.lit(False))
    assert scale.prefix_sum(empty, "k", "v", "s").count() == 0


def test_global_row_number_matches_window(spark):
    """global_row_number == ROW_NUMBER() OVER (ORDER BY ...) for a
    multi-column descending order with a unique tiebreak, under any
    input partitioning."""
    from pyspark.sql.window import Window

    df = spark.range(4_000).select(
        F.col("id").alias("k"), ((F.col("id") * 13) % 50).alias("score")
    )
    w = Window.orderBy(F.col("score").desc(), F.col("k"))
    expected = {
        (r.k, r.rn)
        for r in df.select(
            "k", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    order = [F.col("score").desc(), F.col("k")]
    for reshaped in (df, df.repartition(5)):
        got = {
            (r.k, r.rn)
            for r in scale.global_row_number(reshaped, order).select(
                "k", F.col("rn").cast("long")
            ).collect()
        }
        assert got == expected


def test_x104_warm_edge_table_matches_cold(spark):
    """x104's amortized-graph path: with the sf-keyed bucketed edge
    table present, the entry reads it instead of re-deriving -- results
    must be row-identical, and the table name is sf-keyed so another
    scale factor never sees it."""
    from poc_parquet_publisher_spark.ops import graph
    from poc_parquet_publisher_spark.queries.extensions import x104_pagerank

    tbl = graph.copurchase_edge_table_name(SF)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        cold = x104_pagerank(spark, SF).collect()
        graph.persist_copurchase_edges(
            spark, load_table(spark, SF, "lineitem"), tbl
        )
        assert spark.catalog.tableExists(tbl)
        warm = x104_pagerank(spark, SF).collect()
        assert warm == cold
        assert graph.copurchase_edge_table_name("/other/sf") != tbl
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_prefix_sum_negative_and_large_magnitudes(spark):
    """The mapInPandas cumsum path must stay exact for NEGATIVE
    values and magnitudes far above float53 (the n-scaled centering
    integers several entries feed through day-domain prefix sums are
    ~1e17 at sf100): int64 arithmetic end-to-end, no silent float
    round-trip."""
    from pyspark.sql.window import Window

    big = 1 << 40
    df = spark.range(2_000).select(
        F.col("id").alias("k"),
        (
            F.when(F.col("id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
            * (F.col("id") % 1000 + 1)
            * F.lit(big)
        ).cast("long").alias("v"),
    )
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expected = {
        (r.k, r.s)
        for r in df.select(
            "k", F.sum("v").over(w).cast("long").alias("s")
        ).collect()
    }
    got = {
        (r.k, r.s)
        for r in scale.prefix_sum(df.repartition(9), "k", "v", "s")
        .select("k", F.col("s").cast("long"))
        .collect()
    }
    assert got == expected
    # alternating signs keep the running total bounded while every
    # element is ~2^50 -- the cumsum never leaves int64, and the final
    # value is the exact alternating-series tail, not a float artifact
    assert any(abs(s) > (1 << 49) for _, s in got)


def test_prefix_sum_date_passthrough_columns(spark):
    """Non-numeric passthrough columns (DATE tiebreaks -- the x542
    shape) ride the Arrow cumsum pass untouched: values identical to
    the window reference, types preserved. This is the case that
    motivated the round-12 mapInArrow rewrite -- the pandas path
    materialized every passthrough DATE as a per-row Python object
    (measured ~24 s of task CPU on a 1.2M-row rank)."""
    from pyspark.sql.window import Window

    df = spark.range(3_000).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2030-01-01").cast("date"),
                   (F.col("id") % 365).cast("int")).alias("day"),
        (F.col("id") % 7).alias("v"),
    )
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expected = {
        (r.k, r.day, r.s)
        for r in df.select(
            "k", "day", F.sum("v").over(w).cast("long").alias("s")
        ).collect()
    }
    out = scale.prefix_sum(df.repartition(6), "k", "v", "s")
    assert dict(out.dtypes)["day"] == "date"
    got = {
        (r.k, r.day, r.s)
        for r in out.select("k", "day", F.col("s").cast("long")).collect()
    }
    assert got == expected

def test_pairs_within_order_and_short_arrays(spark):
    """pairs_within yields every i < j pair in (i, j) order; arrays of
    fewer than two elements, empty or null, yield nothing."""
    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4]), (3, []), (4, None)], "id int, a array<int>"
    )
    pairs = scale.pairs_within(
        F.col("a"), lambda x, y: F.struct(x.alias("x"), y.alias("y"))
    )
    got = (
        df.select("id", F.explode(pairs).alias("p"))
        .select("id", "p.x", "p.y")
        .collect()
    )
    assert [tuple(r) for r in got] == [(1, 1, 2), (1, 1, 3), (1, 2, 3)]


def test_prefix_sum_float_nan_treated_as_zero(spark):
    """A float value_col containing NaN must contribute 0 to the running
    sum (the old pandas path's fillna(0) semantics): pyarrow's cast with
    allow_float_truncate silently maps NaN to INT64_MIN, which would
    corrupt that row and every one after it. Fractional values truncate
    per value in both passes, so six rows of 0.6 sum to 0 at any
    partition count (with exact per-partition totals a 3-way split
    gave 0, 0, 1, 1, 2, 2)."""
    cases = [
        (
            [(0, 1.0), (1, float("nan")), (2, 2.0), (3, None), (4, 3.0)],
            None,
            {(0, 1), (1, 1), (2, 3), (3, 3), (4, 6)},
        ),
        ([(k, 0.6) for k in range(6)], 3, {(k, 0) for k in range(6)}),
    ]
    for rows, num_partitions, expected in cases:
        df = spark.createDataFrame(rows, "k int, v double")
        got = {
            (r.k, r.s)
            for r in scale.prefix_sum(df, "k", "v", "s", num_partitions)
            .select("k", "s")
            .collect()
        }
        assert got == expected, (rows, num_partitions)
