"""Extension entries x151-x247: temporal rollups, revenue/ledger
analytics, profiling, SQL-surface parity and scale machinery.

Split (round 7) from the former single-file queries/extensions.py
(31,988 lines) preserving registration order; see the package
__init__ for the import order that reproduces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table, read_parquet
from ...scale import pairs_within
from ...ops import dedup, graph, sampling
from ...ops.text import _toks
from .. import register
from .foundations import _events_stream

@register(
    "x151_rolling_revenue",
    """WITH d AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_orders,
                SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
         FROM orders GROUP BY 1
       )
       SELECT day, n_orders,
              ROUND(CAST(rev AS DOUBLE), 2) AS rev,
              ROUND(CAST(SUM(rev) OVER (
                  ORDER BY date_diff('day', DATE '1992-01-01', day)
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS DOUBLE), 2) AS rev_7d,
              CAST(count(*) OVER (
                  ORDER BY date_diff('day', DATE '1992-01-01', day)
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_days_7d
       FROM d ORDER BY day""",
    doc="7-day trailing revenue via a RANGE-frame window on an integer "
        "day index -- RANGE (value-based, gap-aware: a missing calendar "
        "day shrinks the window) vs the ROWS frames used everywhere "
        "else; completes the window-frame surface next to x81's lag "
        "and x74's rolling distinct. The corpus-sized pass is the "
        "day groupBy (map-side partial agg); the global-ordered window "
        "then runs over CALENDAR-cardinality rows (~2.4k days at "
        "sf0.1, ~36k for a century) -- a deliberate, documented "
        "SinglePartition over bounded data, the same contract as "
        "x81/x77. DECIMAL-exact daily sums; doubles only at the "
        "rounded edge",
)
def x151_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    d = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias(
                "drev"
            ),
        )
        .withColumn(
            "dayi", F.datediff("day", F.lit("1992-01-01").cast("date"))
        )
    )
    w = Window.orderBy("dayi").rangeBetween(-6, 0)
    return (
        d.select(
            "day",
            "n_orders",
            F.round(F.col("drev").cast("double"), 2).alias("rev"),
            F.round(F.sum("drev").over(w).cast("double"), 2).alias(
                "rev_7d"
            ),
            F.count(F.lit(1)).over(w).cast("long").alias("n_days_7d"),
        )
        .orderBy("day")
    )


@register(
    "x152_weighted_topk_sample",
    """WITH h AS (
         SELECT doc_id, n_chars,
                CAST(('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR),
                      ':es')), 1, 8)) AS BIGINT) AS v
         FROM documents WHERE n_chars >= 1
       )
       SELECT doc_id, n_chars,
              ROUND(-ln((v + 1) / 4294967297.0) /
                    CAST(n_chars AS DOUBLE), 12) AS es_key
       FROM h ORDER BY es_key, doc_id LIMIT 100""",
    doc="weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
        "exponential keys): es_key = -ln(u)/w with u hash-derived from "
        "md5(doc_id), w = n_chars; the k smallest keys are an exact "
        "weight-proportional-without-replacement draw. Distinct from "
        "x36's Bernoulli thresholding (with-replacement semantics, "
        "approximate total) -- this yields an EXACT sample size, the "
        "contract batch construction needs. Key assignment is a "
        "row-local expression (no RNG state, stable under retry/"
        "rescale); selection plans as TakeOrderedAndProject (per-"
        "partition top-k, k-sized merge -- no global sort shuffle). "
        "u=(v+1)/2^32+1 lands in (0,1] so ln is total; round-12 keys "
        "+ doc_id tiebreak absorb last-ulp ln() divergence",
)
def x152_weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") >= 1
    )
    v = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(":es"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (v + F.lit(1)) / F.lit(4294967297.0)
    key = F.round(-F.log(u) / F.col("n_chars").cast("double"), 12)
    return (
        docs.select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(100)
    )


@register(
    "x153_quantile_normalize",
    """WITH r AS (
         SELECT o_orderkey, o_totalprice,
                CAST(row_number() OVER (
                  ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn
         FROM orders
       ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
       SELECT o_orderkey,
              ROUND(o_totalprice, 2) AS o_totalprice,
              rn,
              ROUND(CAST(rn AS DOUBLE) / (SELECT n FROM nn), 6) AS pct,
              CAST(least(CAST(floor(ROUND(CAST(rn AS DOUBLE) /
                    (SELECT n FROM nn), 6) * 10) AS BIGINT), 9)
                AS BIGINT) AS decile
       FROM r WHERE rn % 97 = 0 ORDER BY rn""",
    doc="quantile normalization: map every order price to its exact "
        "global percentile (and decile bucket) WITHOUT a global sort -- "
        "the rank comes from scale.global_row_number (per-range-"
        "partition counts fold into broadcast offsets; no Exchange "
        "SinglePartition), where the textbook PERCENT_RANK()/NTILE() "
        "window funnels the corpus through one task. The percentile "
        "map feeds rank-based feature scaling and equal-frequency "
        "binning at 100 TB; (price, orderkey) is a total order so "
        "ties are bit-identical cross-engine. Output is the "
        "deterministic rn%97 systematic sample of the full mapping "
        "(covers the whole range, keeps the artifact bounded); "
        "plan-gated alongside x90 (no SinglePartition rank)",
)
def x153_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    n1 = orders.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = scale.global_row_number(
        orders,
        [F.col("o_totalprice"), F.col("o_orderkey")],
        out_col="rn",
    )
    pct = F.round(F.col("rn").cast("double") / F.col("n"), 6)
    return (
        r.filter(F.col("rn") % 97 == 0)
        .crossJoin(F.broadcast(n1))
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("rn").cast("long").alias("rn"),
            pct.alias("pct"),
            F.least(F.floor(pct * 10).cast("long"), F.lit(9).cast("long"))
            .cast("long")
            .alias("decile"),
        )
        .orderBy("rn")
    )


@register(
    "x154_mutual_info",
    """WITH cells AS (
         SELECT o_orderpriority AS pr, o_orderstatus AS st,
                CAST(count(*) AS BIGINT) AS cnt
         FROM orders GROUP BY 1, 2
       ), rt AS (SELECT pr, SUM(cnt) AS rt FROM cells GROUP BY pr),
       ct AS (SELECT st, SUM(cnt) AS ct FROM cells GROUP BY st),
       nn AS (SELECT SUM(cnt) AS n FROM cells),
       mi AS (
         SELECT ROUND(CAST(SUM(CAST(ROUND(
                  (CAST(c.cnt AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
                  ln((CAST(c.cnt AS DOUBLE) / CAST(nn.n AS DOUBLE)) /
                     ((CAST(r.rt AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
                      (CAST(t.ct AS DOUBLE) / CAST(nn.n AS DOUBLE)))), 6)
                AS DECIMAL(28,6))) AS DOUBLE), 4) AS mi
         FROM cells c
         JOIN rt r ON c.pr = r.pr
         JOIN ct t ON c.st = t.st
         CROSS JOIN nn
       ), hp AS (
         SELECT ROUND(CAST(SUM(CAST(ROUND(
                  -(CAST(rt AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
                  ln(CAST(rt AS DOUBLE) / CAST(nn.n AS DOUBLE)), 6)
                AS DECIMAL(28,6))) AS DOUBLE), 4) AS h_priority
         FROM rt CROSS JOIN nn
       ), hs AS (
         SELECT ROUND(CAST(SUM(CAST(ROUND(
                  -(CAST(ct AS DOUBLE) / CAST(nn.n AS DOUBLE)) *
                  ln(CAST(ct AS DOUBLE) / CAST(nn.n AS DOUBLE)), 6)
                AS DECIMAL(28,6))) AS DOUBLE), 4) AS h_status
         FROM ct CROSS JOIN nn
       )
       SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n,
              mi.mi, hp.h_priority, hs.h_status,
              ROUND(mi.mi / sqrt(hp.h_priority * hs.h_status), 4) AS nmi
       FROM mi, hp, hs""",
    doc="mutual information between order priority and status (plus "
        "marginal entropies and sqrt-normalized NMI): the feature-"
        "dependence screen that catches NONLINEAR association x147's "
        "Pearson corr misses and x148's chi2 only thresholds. Same "
        "contingency shape as x148: ONE groupBy reduces the corpus to "
        "category-cardinality cells; every term is arithmetic over that "
        "tiny table (broadcast joins, 1-row total); ln() over identical "
        "doubles, each term round-6 DECIMAL-summed (x88 recipe), so "
        "cell order cannot move the result",
)
def x154_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.groupBy(
            F.col("o_orderpriority").alias("pr"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    rt = cells.groupBy("pr").agg(F.sum("cnt").alias("rt"))
    ct = cells.groupBy("st").agg(F.sum("cnt").alias("ct"))
    nn = cells.agg(F.sum("cnt").alias("n"))

    def _p(col):
        return F.col(col).cast("double") / F.col("n").cast("double")

    mi_term = F.round(
        _p("cnt") * F.log(_p("cnt") / (_p("rt") * _p("ct"))), 6
    ).cast("decimal(28,6)")
    mi = (
        cells.join(F.broadcast(rt), "pr")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(nn))
        .agg(F.round(F.sum(mi_term).cast("double"), 4).alias("mi"))
    )
    hp = (
        rt.crossJoin(F.broadcast(nn))
        .agg(
            F.round(
                F.sum(
                    F.round(-_p("rt") * F.log(_p("rt")), 6).cast(
                        "decimal(28,6)"
                    )
                ).cast("double"),
                4,
            ).alias("h_priority")
        )
    )
    hs = (
        ct.crossJoin(F.broadcast(nn))
        .agg(
            F.round(
                F.sum(
                    F.round(-_p("ct") * F.log(_p("ct")), 6).cast(
                        "decimal(28,6)"
                    )
                ).cast("double"),
                4,
            ).alias("h_status")
        )
    )
    nsel = nn.select(F.col("n").cast("long").alias("n"))
    return (
        nsel.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hp))
        .crossJoin(F.broadcast(hs))
        .select(
            "n",
            "mi",
            "h_priority",
            "h_status",
            F.round(
                F.col("mi")
                / F.sqrt(F.col("h_priority") * F.col("h_status")),
                4,
            ).alias("nmi"),
        )
    )


@register(
    "x155_date_spine_fill",
    """WITH d AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_orders,
                SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
         FROM orders GROUP BY 1
       ), mn AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
       spine AS (
         SELECT CAST(unnest(generate_series(lo, hi,
                  INTERVAL 1 DAY)) AS DATE) AS day
         FROM mn
       )
       SELECT s.day,
              COALESCE(d.n_orders, 0) AS n_orders,
              ROUND(CAST(COALESCE(d.rev, 0) AS DOUBLE), 2) AS rev,
              CAST(CASE WHEN d.day IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_gap
       FROM spine s LEFT JOIN d ON s.day = d.day ORDER BY s.day""",
    doc="calendar gap-filling: a generated date spine (sequence from "
        "the corpus min to max day, exploded from a 1-row aggregate) "
        "LEFT-joins the daily revenue rollup, zero-filling missing "
        "days and flagging them -- the time-series regularization step "
        "x151's gap-AWARE window deliberately skips, and the "
        "prerequisite for any fixed-length model input. The corpus-"
        "sized pass is the day groupBy; spine generation and the fill "
        "join are calendar-cardinality (the spine explode never "
        "touches data). DECIMAL-exact daily sums",
)
def x155_date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"),
    )
    spine = (
        d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return (
        spine.join(d.withColumnRenamed("day", "dday"),
                   spine.day == F.col("dday"), "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias(
                "n_orders"
            ),
            F.round(
                F.coalesce(
                    F.col("rev"), F.lit(0).cast("decimal(30,2)")
                ).cast("double"),
                2,
            ).alias("rev"),
            F.when(F.col("dday").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_gap"),
        )
        .orderBy("day")
    )


@register(
    "x156_partition_manifest",
    """SELECT CAST(ts AS DATE) AS event_date,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(MIN(event_id) AS BIGINT) AS min_id,
              CAST(MAX(event_id) AS BIGINT) AS max_id,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1 ORDER BY event_date""",
    doc="data-layout round-trip through the correctness gate (x114's "
        "contract, for the hive-partitioned leg): events are written "
        "as a date-partitioned parquet tree (pipeline/layout.py "
        "write_partitioned -- one shuffle on the partition key bounds "
        "the file count; sortWithinPartitions gives tight row-group "
        "stats), read back through partition discovery, and rolled up "
        "BY THE PARTITION COLUMN; hash-matching the direct per-day SQL "
        "proves the layout write/read leg is lossless and the "
        "partition column round-trips with DATE type intact. At 100 TB "
        "this manifest (rows + key ranges per partition) is what "
        "drives partition pruning and incremental-load bookkeeping",
)
def x156_partition_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ...pipeline.layout import write_partitioned

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    with tempfile.TemporaryDirectory(
        prefix="x156_layout_", ignore_cleanup_errors=True
    ) as tmp:
        write_partitioned(
            ev, tmp, ["event_date"], sort_cols=["event_id"]
        )
        back = read_parquet(spark, tmp)
        out = (
            back.groupBy("event_date")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.min("event_id").cast("long").alias("min_id"),
                F.max("event_id").cast("long").alias("max_id"),
                F.countDistinct("user_id").cast("long").alias("n_users"),
            )
            .orderBy("event_date")
            .localCheckpoint()  # materialize before the tree disappears
        )
    return out


@register(
    "x157_user_history",
    """WITH e AS (
         SELECT user_id, ts, event_id, event_type FROM events
       ), s AS (
         SELECT user_id,
                CAST(count(*) AS BIGINT) AS n_events,
                string_agg(event_type, '>' ORDER BY ts, event_id)
                    AS history
         FROM e GROUP BY user_id
       )
       SELECT user_id, n_events,
              CASE WHEN length(history) > 200
                   THEN substr(history, 1, 200) ELSE history
              END AS history_prefix,
              md5(history) AS history_hash
       FROM s ORDER BY user_id""",
    doc="per-user event-history serialization: each user's full event "
        "sequence in (ts, event_id) order collapsed to one delimited "
        "string -- the session/history flattening step that turns an "
        "event log into sequence-model training rows (next-event "
        "prediction, behavioral embeddings). Declarative secondary "
        "sort: ONE shuffle on user_id, the order imposed by "
        "array_sort over (ts, event_id, type) structs INSIDE the "
        "aggregate -- no repartitionAndSortWithinPartitions RDD "
        "detour, no per-group Python. The unique event_id tiebreak "
        "makes the serialization bit-identical cross-engine; the "
        "md5 proves full-sequence equality while the stored prefix "
        "stays bounded",
)
def x157_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hist = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", "event_type")
                )
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            hist.alias("history"),
        )
        .select(
            "user_id",
            "n_events",
            F.when(
                F.length("history") > 200,
                F.substring("history", 1, 200),
            )
            .otherwise(F.col("history"))
            .alias("history_prefix"),
            F.md5("history").alias("history_hash"),
        )
        .orderBy("user_id")
    )


@register(
    "x158_order_reconciliation",
    """WITH li AS (
         SELECT l_orderkey,
                CAST(count(*) AS BIGINT) AS n_lines,
                SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                    AS DECIMAL(28,4))) AS li_total
         FROM lineitem GROUP BY 1
       ), j AS (
         SELECT o.o_orderkey,
                CAST(o.o_totalprice AS DECIMAL(28,4)) AS o_total,
                li.n_lines, li.li_total
         FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
       ), c AS (
         SELECT CASE
                  WHEN n_lines IS NULL THEN 'no_lineitems'
                  WHEN li_total = o_total THEN 'exact'
                  WHEN abs(CAST(li_total - o_total AS DOUBLE)) /
                       CAST(o_total AS DOUBLE) <= 0.01
                    THEN 'within_1pct'
                  ELSE 'mismatch'
                END AS bucket,
                o_total, li_total
         FROM j
       )
       SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(o_total) AS DOUBLE), 2) AS header_total,
              ROUND(CAST(SUM(COALESCE(li_total, 0)) AS DOUBLE), 2)
                  AS detail_total
       FROM c GROUP BY bucket ORDER BY bucket""",
    doc="cross-table reconciliation (the financial-close DQ audit): "
        "order-header totals vs the SUM of their line items, bucketed "
        "exact / within-1%% / mismatch / no-lineitems, with DECIMAL-"
        "exact totals per bucket. The canonical fact-vs-rollup "
        "consistency check a warehouse runs after every load. One "
        "orderkey groupBy + one co-partitionable orderkey equi-join "
        "(both sides shuffle on the same key -- bucketed tables would "
        "make it exchange-free); per-row arithmetic is round-4 "
        "DECIMAL (x45's recipe), relative-diff comparison in double "
        "on identical inputs",
)
def x158_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount")),
                    4,
                ).cast("decimal(28,4)")
            ).alias("li_total"),
        )
    )
    j = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(28,4)").alias("o_total"),
    ).join(li, orders.o_orderkey == li.l_orderkey, "left")
    bucket = (
        F.when(F.col("n_lines").isNull(), "no_lineitems")
        .when(F.col("li_total") == F.col("o_total"), "exact")
        .when(
            F.abs(
                (F.col("li_total") - F.col("o_total")).cast("double")
            )
            / F.col("o_total").cast("double")
            <= 0.01,
            "within_1pct",
        )
        .otherwise("mismatch")
    )
    return (
        j.select(bucket.alias("bucket"), "o_total", "li_total")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_total").cast("double"), 2).alias(
                "header_total"
            ),
            F.round(
                F.sum(
                    F.coalesce(
                        F.col("li_total"),
                        F.lit(0).cast("decimal(28,4)"),
                    )
                ).cast("double"),
                2,
            ).alias("detail_total"),
        )
        .orderBy("bucket")
    )


@register(
    "x159_histogram_2d",
    """SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bin,
              CAST(floor(l_discount / 0.02) AS BIGINT) AS disc_bin,
              CAST(count(*) AS BIGINT) AS n,
              ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2)))
                    AS DOUBLE), 2) AS revenue
       FROM lineitem
       GROUP BY 1, 2 ORDER BY qty_bin, disc_bin""",
    doc="2-D equi-width histogram (quantity x discount heatmap with a "
        "revenue measure): the joint-distribution readout behind drift "
        "monitors and pricing heatmaps, and the binned pre-aggregation "
        "that lets a dashboard query bins instead of rows. ONE "
        "partial-aggregating groupBy on row-local bin expressions -- "
        "bin-cardinality output regardless of corpus size; bin edges "
        "are exact (divide by 10 / 0.02 on identical doubles, floor is "
        "total) so assignment is bit-identical cross-engine",
)
def x159_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / 10)
            .cast("long")
            .alias("qty_bin"),
            F.floor(F.col("l_discount") / 0.02)
            .cast("long")
            .alias("disc_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(30,2)")
                ).cast("double"),
                2,
            ).alias("revenue"),
        )
        .orderBy("qty_bin", "disc_bin")
    )


@register(
    "x160_csv_roundtrip_dedup",
    """SELECT md5(lower(text)) AS h, MIN(doc_id) AS keep_id,
              count(*) AS dup_cnt
       FROM documents GROUP BY md5(lower(text)) ORDER BY h""",
    doc="format-abstraction contract for the CSV leg (x114's JSONL "
        "twin): export the corpus as headered CSV shards (Spark csv "
        "sink -- quoting/escaping is where CSV round-trips silently "
        "corrupt text columns), read them back with the ORIGINAL "
        "schema, and run x01's exact dedup on the round-tripped "
        "corpus; hash-matching the parquet-sourced oracle proves the "
        "quote/escape cycle is byte-lossless THROUGH the correctness "
        "gate. Shards write/read in parallel (csv sink, no collect)",
)
def x160_csv_roundtrip_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="x160_csv_", ignore_cleanup_errors=True
    ) as tmp:
        (
            docs.write.mode("overwrite")
            .option("header", True)
            .option("quoteAll", True)
            .csv(tmp)
        )
        back = (
            spark.read.schema(docs.schema)
            .option("header", True)
            .csv(tmp)
        )
        out = dedup.exact_dedup(back, "doc_id", "text").orderBy("h")
        out = out.localCheckpoint()  # materialize before tmp vanishes
    return out


@register(
    "x161_interevent_gaps",
    """WITH g AS (
         -- integer MICROsecond difference, floored to whole seconds:
         -- truncating each endpoint to seconds first (unix_timestamp
         -- semantics) bins sub-second-straddling gaps differently
         SELECT event_type,
                CAST(FLOOR((epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                      / 1000000.0) AS BIGINT) AS gap_s
         FROM events
       ), b AS (
         SELECT event_type,
                CAST(length(bin(CAST(gap_s + 1 AS BIGINT))) - 1
                  AS BIGINT) AS gap_bin
         FROM g WHERE gap_s IS NOT NULL
       )
       SELECT event_type, gap_bin, CAST(count(*) AS BIGINT) AS n
       FROM b GROUP BY 1, 2 ORDER BY event_type, gap_bin""",
    doc="inter-event gap distribution (burstiness profile): per user, "
        "the seconds between consecutive events (lag over the user "
        "timeline), log2-bucketed per event type -- the signal behind "
        "bot detection, session-gap calibration (x21's 30-min cutoff "
        "is READ OFF this histogram), and arrival-process modeling. "
        "One user-key shuffle; lag windows run per user in parallel; "
        "output is type x bucket cardinality. Integer epoch seconds "
        "make the bins exact; (ts, event_id) tiebreak pins duplicate "
        "timestamps cross-engine",
)
def x161_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.floor(
        (us - F.lag(us).over(w)) / F.lit(1000000.0)
    ).cast("long")
    return (
        ev.select("event_type", gap.alias("gap_s"))
        .filter(F.col("gap_s").isNotNull())
        .select(
            "event_type",
            # floor(log2(n)) as an exact INTEGER op: binary-digit
            # count minus 1 -- ln(x)/ln(2) floors wrong by 1 ulp at
            # power-of-2 boundaries depending on the engine's libm
            (
                F.length(F.bin((F.col("gap_s") + 1).cast("long"))) - 1
            )
            .cast("long")
            .alias("gap_bin"),
        )
        .groupBy("event_type", "gap_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("event_type", "gap_bin")
    )


@register(
    "x162_cumulative_reach",
    """WITH f AS (
         SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
         FROM events GROUP BY user_id
       ), d AS (
         SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new_users
         FROM f GROUP BY first_day
       )
       SELECT day, n_new_users,
              CAST(SUM(n_new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
       FROM d ORDER BY day""",
    doc="cumulative user reach (growth curve): first-seen day per user "
        "(one user-key groupBy), daily new-user counts, running total "
        "-- the acquisition metric next to x74's WINDOWED active users "
        "(reach never resets; WAU does). Two partial-aggregating "
        "groupBys reduce the corpus to day-cardinality before the "
        "running sum, which is a documented bounded SinglePartition "
        "over calendar-sized rows (x81/x151's contract); exact "
        "integers end to end",
)
def x162_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    d = f.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        d.select(
            "day",
            "n_new_users",
            F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
        )
        .orderBy("day")
    )


@register(
    "x163_feature_hashing",
    """WITH tok AS (
         SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
         FROM documents
       ), h AS (
         SELECT doc_id,
                CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT) % 64
                    AS idx
         FROM tok WHERE length(t) > 0
       ), c AS (
         SELECT doc_id, idx, CAST(count(*) AS BIGINT) AS cnt
         FROM h GROUP BY 1, 2
       )
       SELECT doc_id,
              CAST(count(*) AS BIGINT) AS nnz,
              CAST(SUM(cnt) AS BIGINT) AS l1,
              md5(string_agg(idx || ':' || cnt, ',' ORDER BY idx))
                  AS feat_hash
       FROM c GROUP BY doc_id ORDER BY doc_id""",
    doc="hashing-trick featurization (the fixed-width sparse vector "
        "every linear/DNN text baseline trains on): tokens hash into "
        "64 buckets via md5 (cross-engine -- Spark's hash() is Murmur3 "
        "and DuckDB's is not, so md5 is the portable bucket map), "
        "per-doc bucket counts serialize to a canonical 'idx:cnt' "
        "string whose md5 proves the full vector equal while the "
        "output row stays 4 columns. Two partial-aggregating groupBys "
        "(doc x bucket, then doc); no vocabulary build, no broadcast "
        "-- the property that makes feature hashing work at 100 TB",
)
def x163_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(_toks("text")).alias("t"),
    ).filter(F.length("t") > 0)
    idx = F.pmod(
        F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("long"),
        F.lit(64),
    )
    c = tok.select("doc_id", idx.alias("idx")).groupBy(
        "doc_id", "idx"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    feat = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cnt"))),
                lambda s: F.concat_ws(":", s["idx"], s["cnt"]),
            ),
            ",",
        )
    )
    return (
        c.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nnz"),
            F.sum("cnt").cast("long").alias("l1"),
            feat.alias("feat_hash"),
        )
        .orderBy("doc_id")
    )


@register(
    "x164_split_balance",
    f"""WITH s AS (
         SELECT doc_id, lang, n_chars,
                CASE WHEN substr(md5(concat(CAST(doc_id AS VARCHAR),
                       ':split')), 1, 4) < '{sampling._threshold_hex(0.25)}'
                     THEN 'test' ELSE 'train' END AS split
         FROM documents
       )
       SELECT split, lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE)
                    / count(*), 2) AS avg_chars
       FROM s GROUP BY 1, 2 ORDER BY split, lang""",
    doc="split balance audit (the A/A test run before trusting any "
        "eval number): per split x language, document counts and mean "
        "length -- a hash split that skews on a covariate invalidates "
        "the holdout, and this is how it is caught. Split assignment "
        "is x18's row-local md5 expression; ONE partial-aggregating "
        "groupBy; the mean divides a DECIMAL-exact sum by an exact "
        "count in double (identical inputs -> identical rounding)",
)
def x164_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = sampling.deterministic_split(docs, "doc_id", 0.25, out="split")
    return (
        s.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(28,0)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                2,
            ).alias("avg_chars"),
        )
        .orderBy("split", "lang")
    )


@register(
    "x165_audience_overlap",
    """WITH u AS (
         SELECT user_id, list_sort(list_distinct(list(event_type)))
                    AS types
         FROM events GROUP BY user_id
       ), pairs AS (
         SELECT a.x AS type_a, b.x AS type_b, count(*) AS both_users
         FROM u,
              unnest(types) a(x),
              unnest(types) b(x)
         WHERE a.x < b.x
         GROUP BY 1, 2
       ), per AS (
         SELECT x AS t, count(*) AS n_users
         FROM u, unnest(types) t(x) GROUP BY 1
       )
       SELECT p.type_a, p.type_b,
              CAST(p.both_users AS BIGINT) AS both_users,
              CAST(pa.n_users AS BIGINT) AS n_a,
              CAST(pb.n_users AS BIGINT) AS n_b,
              ROUND(CAST(p.both_users AS DOUBLE) /
                    (pa.n_users + pb.n_users - p.both_users), 4)
                  AS jaccard
       FROM pairs p
       JOIN per pa ON pa.t = p.type_a
       JOIN per pb ON pb.t = p.type_b
       ORDER BY type_a, type_b""",
    doc="audience-overlap matrix: for every event-type pair, how many "
        "users do both, plus per-type reach and audience Jaccard -- "
        "the segment-overlap readout behind campaign dedup and "
        "cross-feature cannibalization checks. x102's in-bucket "
        "pattern one level up: ONE user-key groupBy collapses each "
        "user to a distinct type set, pairs expand INSIDE the "
        "(type-cardinality) array, and every downstream row is "
        "type-pair-sized -- the user cross product never exists. "
        "Per-type reach folds from the same sets; broadcast joins "
        "stitch the tiny tables",
)
def x165_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    ts = F.col("types")
    pairs = (
        u.select(
            F.explode(
                pairs_within(
                    ts,
                    lambda x, y: F.struct(
                        x.alias("type_a"), y.alias("type_b")
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("both_users"))
    )
    per = (
        u.select(F.explode("types").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    pa = per.select(
        F.col("t").alias("type_a"), F.col("n_users").alias("n_a")
    )
    pb = per.select(
        F.col("t").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .select(
            "type_a",
            "type_b",
            "both_users",
            "n_a",
            "n_b",
            F.round(
                F.col("both_users").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("both_users")),
                4,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "x166_time_to_convert",
    """WITH f AS (
         SELECT user_id,
                MIN(ts) AS first_ts,
                MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS first_purchase
         FROM events GROUP BY user_id
       ), b AS (
         SELECT CASE WHEN first_purchase IS NULL THEN -1
                     ELSE CAST(FLOOR((epoch_us(first_purchase) -
                                      epoch_us(first_ts)) /
                                     86400000000.0) AS BIGINT)
                END AS days_bin
         FROM f
       ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)
       SELECT days_bin,
              CAST(count(*) AS BIGINT) AS n_users,
              ROUND(CAST(count(*) AS DOUBLE) / (SELECT n FROM nn), 4)
                  AS share
       FROM b GROUP BY days_bin ORDER BY days_bin""",
    doc="time-to-convert survival table WITH censoring: per user, whole "
        "days from first-ever event to first purchase, binned; users "
        "who never purchase land in the -1 censored bucket instead of "
        "silently dropping out -- the censoring semantics x110's "
        "converters-only latency percentiles cannot express, and what "
        "makes the shares a valid survival readout. ONE user-key "
        "groupBy computes both anchors via a conditional MIN in the "
        "same pass (no self-join of the events table); day arithmetic "
        "in exact integer microseconds (x161's recipe); output is "
        "bin-cardinality",
)
def x166_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    days = F.floor(
        (us("first_purchase") - us("first_ts")) / F.lit(86400000000.0)
    ).cast("long")
    b = f.select(
        F.when(F.col("first_purchase").isNull(), F.lit(-1).cast("long"))
        .otherwise(days)
        .alias("days_bin")
    )
    nn = f.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        b.groupBy("days_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .crossJoin(F.broadcast(nn))
        .select(
            "days_bin",
            "n_users",
            F.round(
                F.col("n_users").cast("double") / F.col("n"), 4
            ).alias("share"),
        )
        .orderBy("days_bin")
    )


@register(
    "x167_stream_latest_state",
    """WITH r AS (
         SELECT user_id, event_type, value,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
         FROM events
       )
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_users,
              ROUND(CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(28,2)))
                    AS DOUBLE), 2) AS sum_latest_value
       FROM r WHERE rn = 1
       GROUP BY event_type ORDER BY event_type""",
    doc="streaming materialized latest-state view (incremental SCD1 "
        "maintenance): the events file-stream aggregates max_by(latest "
        "row, (ts, event_id)) PER USER in complete mode -- each "
        "micro-batch upserts the keyed state declaratively, no "
        "foreachBatch merge code -- then the drained state rolls up "
        "per latest event type; hash-matched against the batch "
        "argmax-per-user oracle, so stream==batch through the "
        "correctness gate. State is user-cardinality by design (the "
        "materialized-view trade; x143's dedup state is watermark-"
        "bounded instead); state stores sized to state (x103's "
        "recipe). The (ts, event_id) ordering struct makes the argmax "
        "total, so duplicate timestamps pick the same row cross-engine",
)
def x167_stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ...streaming.windows import drain_to_memory, event_time

    with tempfile.TemporaryDirectory(
        prefix="x167_stream_", ignore_cleanup_errors=True
    ) as tmp:
        stream = event_time(_events_stream(spark, sf_dir, tmp, 1), "ts")
        latest = drain_to_memory(
            stream.groupBy("user_id").agg(
                F.max_by(
                    F.struct("event_type", "value"),
                    F.struct("ts", "event_id"),
                ).alias("latest")
            ),
            "complete",
            f"{tmp}/ckpt",
        )
    return (
        latest.select(
            F.col("latest.event_type").alias("event_type"),
            F.col("latest.value").alias("value"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(
                F.sum(
                    F.round(F.col("value"), 2).cast("decimal(28,2)")
                ).cast("double"),
                2,
            ).alias("sum_latest_value"),
        )
        .orderBy("event_type")
    )


@register(
    "x168_multimodal_fingerprint",
    """WITH m AS (
         SELECT doc_id AS media_id,
                CASE doc_id % 3 WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                md5(text) || md5(text || '#2') || md5(text || '#3')
                    AS hex
         FROM documents WHERE doc_id % 20 = 0
       ), f AS (
         SELECT media_id, kind,
                CAST(length(hex) / 2 AS BIGINT) AS byte_len,
                sha256(hex) AS sha_hex
         FROM m
       )
       SELECT media_id, kind, byte_len, sha_hex,
              CAST(('0x' || substr(sha_hex, 1, 2)) AS BIGINT) || ',' ||
              CAST(('0x' || substr(sha_hex, 3, 2)) AS BIGINT) || ',' ||
              CAST(('0x' || substr(sha_hex, 5, 2)) AS BIGINT) || ',' ||
              CAST(('0x' || substr(sha_hex, 7, 2)) AS BIGINT) || ',' ||
              CAST(('0x' || substr(sha_hex, 9, 2)) AS BIGINT) || ',' ||
              CAST(('0x' || substr(sha_hex, 11, 2)) AS BIGINT) || ',' ||
              CAST(('0x' || substr(sha_hex, 13, 2)) AS BIGINT) || ',' ||
              CAST(('0x' || substr(sha_hex, 15, 2)) AS BIGINT) AS feat
       FROM f ORDER BY media_id""",
    doc="the multimodal decode PLUMBING through the correctness gate: "
        "deterministic 48-byte binary payloads (unhex of chained md5s) "
        "attach to a 5% document slice, cross the JVM->Arrow->Python "
        "boundary in columnar batches, and a mapInPandas kernel "
        "fingerprints the received BYTES (ops/multimodal.py "
        "fingerprint_media) -- length, digest, and an 8-byte feature "
        "row. The oracle reconstructs every value from the hex the "
        "payload was built from, so one corrupted, reordered, or "
        "truncated byte in the binary transfer cascades into a hash "
        "mismatch. This is x13's metadata surface plus the actual "
        "binary data path; the decode kernels stay deterministic "
        "fakes (multimodal.py) until codec libraries exist",
)
def x168_multimodal_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops import multimodal

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.unhex(
            F.concat(
                F.md5("text"),
                F.md5(F.concat(F.col("text"), F.lit("#2"))),
                F.md5(F.concat(F.col("text"), F.lit("#3"))),
            )
        ).alias("payload"),
    )
    return multimodal.fingerprint_media(media).orderBy("media_id")


@register(
    "x169_scalable_median",
    """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
       r AS (
         SELECT l_extendedprice,
                CAST(row_number() OVER (
                  ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                  AS BIGINT) AS rn
         FROM lineitem
       )
       SELECT (SELECT n FROM nn) AS n,
              ROUND(AVG(l_extendedprice), 2) AS median_price
       FROM r
       WHERE rn IN (SELECT (n + 1) // 2 FROM nn)
          OR rn IN (SELECT n // 2 + 1 FROM nn)""",
    doc="EXACT global median without materializing the column in one "
        "task: q30's percentile()/quantile_cont aggregate buffers every "
        "value in the final aggregate -- the hidden scale-killer in "
        "'exact percentile' at 100 TB. Here the two-pass prefix-sum "
        "rank (scale.global_row_number: range partition + broadcast "
        "offsets, no Exchange SinglePartition, no Window) finds the "
        "middle row(s) by POSITION and averages them -- two corpus "
        "passes, constant memory per task, same answer. The "
        "(price, orderkey, linenumber) total order pins rank ties; "
        "averaging the two middles matches quantile_cont(0.5) "
        "interpolation exactly for both parities",
)
def x169_scalable_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    nn = li.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = scale.global_row_number(
        li,
        [
            F.col("l_extendedprice"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        out_col="rn",
    )
    # integer division semantics: (n+1)//2 and n//2+1 via floor
    mid = (
        r.crossJoin(F.broadcast(nn))
        .filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor(F.col("n") / 2) + 1)
        )
    )
    return mid.groupBy().agg(
        F.first("n").alias("n"),
        F.round(F.avg("l_extendedprice"), 2).alias("median_price"),
    )


@register(
    "x170_top_paths",
    """WITH p AS (
         SELECT user_id,
                string_agg(event_type, '>' ORDER BY ts, event_id) AS path
         FROM events GROUP BY user_id
       )
       SELECT path,
              CAST(len(string_split(path, '>')) AS BIGINT) AS n_steps,
              CAST(count(*) AS BIGINT) AS n_users
       FROM p GROUP BY path
       ORDER BY n_users DESC, path LIMIT 20""",
    doc="top-20 full user-journey paths (the sequence-mining rollup "
        "behind funnel design): one user-key groupBy collapses each "
        "user's events into an ordered type string -- array_sort over "
        "(ts, event_id, type) structs pins tie order exactly as the "
        "oracle's ORDER BY ts, event_id -- then a path-key groupBy "
        "counts travelers and TakeOrderedAndProject keeps the head. "
        "Per-user state is event-cardinality-per-user (the x157 "
        "contract), never corpus-sized; both groupBys partial-agg "
        "map-side. x96/x107 see windows of the journey; this is the "
        "whole journey as the key",
)
def x170_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    paths = ev.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            "path",
            F.size(F.split(F.col("path"), ">")).cast("long").alias("n_steps"),
            "n_users",
        )
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


@register(
    "x171_weighted_median",
    """WITH g AS (
         SELECT l_returnflag, l_extendedprice,
                SUM(CAST(l_quantity AS DECIMAL(30,6))) AS w
         FROM lineitem GROUP BY 1, 2
       ), c AS (
         SELECT l_returnflag, l_extendedprice, w,
                SUM(w) OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice) AS cw
         FROM g
       ), t AS (
         SELECT l_returnflag, SUM(w) AS tw FROM g GROUP BY 1
       )
       SELECT c.l_returnflag,
              ROUND(MIN(c.l_extendedprice), 2) AS wmedian,
              ROUND(CAST(MAX(t.tw) AS DOUBLE), 2) AS total_qty
       FROM c JOIN t USING (l_returnflag)
       WHERE 2 * cw >= tw
       GROUP BY 1 ORDER BY 1""",
    doc="exact QUANTITY-WEIGHTED median price per return flag (lower "
        "weighted median: smallest price whose cumulative weight "
        "reaches half the total). The cumulative window NEVER sees "
        "corpus rows: a (flag, price) groupBy first compresses to "
        "distinct-price cardinality with DECIMAL-exact weight sums "
        "(the aggregate-first window contract, x62/x86), so the "
        "3-partition window rides a value-domain-sized table. "
        "Half-total comparison is 2*cw >= tw in DECIMAL -- no "
        "division, no float threshold, partition-order independent",
)
def x171_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    g = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("w")
    )
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    c = g.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("w").over(w).alias("cw"),
    )
    t = g.groupBy("l_returnflag").agg(F.sum("w").alias("tw"))
    j = c.join(F.broadcast(t), "l_returnflag").filter(
        F.lit(2) * F.col("cw") >= F.col("tw")
    )
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("wmedian"),
            F.round(F.max("tw").cast("double"), 2).alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "x172_k_anonymity",
    """WITH q AS (
         SELECT c_nationkey, c_mktsegment,
                CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_bucket
         FROM customer
       ), g AS (
         SELECT CAST(count(*) AS BIGINT) AS k
         FROM q GROUP BY c_nationkey, c_mktsegment, bal_bucket
       )
       SELECT k, CAST(count(*) AS BIGINT) AS n_groups,
              CAST(SUM(k) AS BIGINT) AS n_rows
       FROM g GROUP BY k ORDER BY k""",
    doc="k-anonymity audit over the quasi-identifier (nation, segment, "
        "balance-centile bucket): the k-distribution -- how many QI "
        "equivalence classes have exactly k members and how many rows "
        "sit in them -- is the privacy release gate (rows in k=1 "
        "groups are singled out; k<5 is the conventional red line a "
        "downstream policy reads off this table). Two partial-"
        "aggregating groupBys, QI-cardinality intermediate, no joins; "
        "the bucket floor is IEEE-identical in both engines",
)
def x172_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal_bucket"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return (
        g.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("k").cast("long").alias("n_rows"),
        )
        .orderBy("k")
    )


@register(
    "x173_novel_ngrams",
    """WITH t AS (
         SELECT doc_id,
                list_distinct(list_transform(
                  range(1, len(string_split(lower(text), ' ')) - 1),
                  i -> array_to_string(
                         (string_split(lower(text), ' '))[i:i+2], ' ')
                )) AS sh
         FROM documents
         WHERE len(string_split(lower(text), ' ')) >= 3
       ), e AS (
         SELECT CAST(floor(doc_id * 10 /
                  ((SELECT max(doc_id) FROM documents) + 1)) AS BIGINT)
                  AS batch,
                unnest(sh) AS shingle
         FROM t
       ), b AS (
         SELECT DISTINCT batch, shingle FROM e
       ), per_batch AS (
         SELECT batch, CAST(count(*) AS BIGINT) AS n_tri FROM b GROUP BY 1
       ), fb AS (
         SELECT shingle, MIN(batch) AS first_batch FROM b GROUP BY 1
       ), novel AS (
         SELECT first_batch AS batch, CAST(count(*) AS BIGINT) AS n_novel
         FROM fb GROUP BY 1
       )
       SELECT p.batch, p.n_tri,
              CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
              ROUND(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / p.n_tri, 4)
                  AS novelty_rate
       FROM per_batch p LEFT JOIN novel n ON p.batch = n.batch
       ORDER BY p.batch""",
    doc="crawl-novelty curve: docs bucket into 10 ingestion batches by "
        "id range (the broadcast 1-row max sets the range; batch = "
        "arrival decile), and each batch reports how many of its "
        "distinct trigrams first appear THERE -- the declining "
        "novelty_rate is the diminishing-returns signal that tells a "
        "crawl when more data stops adding information. Shapes: one "
        "(batch, shingle) distinct, then two shingle-key groupBys "
        "(min-batch, counts) -- all partial-aggregating, nothing "
        "corpus-quadratic; reuses x03's tokenizer so the oracle "
        "shares the proven shingle dialect",
)
def x173_novel_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("mx"))
    sh = dedup.shingles(docs, "doc_id", "text").select("doc", "shingle")
    b = (
        sh.crossJoin(F.broadcast(mx))
        .select(
            F.floor(F.col("doc") * 10 / (F.col("mx") + 1))
            .cast("long")
            .alias("batch"),
            "shingle",
        )
        .distinct()
    )
    per_batch = b.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_tri")
    )
    fb = b.groupBy("shingle").agg(F.min("batch").alias("first_batch"))
    novel = fb.groupBy(F.col("first_batch").alias("batch")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    return (
        per_batch.join(novel, "batch", "left")
        .select(
            "batch",
            "n_tri",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long")
            .alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_tri"),
                4,
            ).alias("novelty_rate"),
        )
        .orderBy("batch")
    )


@register(
    "x174_column_profile",
    """WITH u AS (
         SELECT 'l_quantity' AS col, l_quantity AS val FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT 'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT 'l_tax', l_tax FROM lineitem
       )
       SELECT col,
              CAST(count(*) AS BIGINT) AS n,
              CAST(count(val) AS BIGINT) AS n_nonnull,
              CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
              MIN(val) AS min_val,
              MAX(val) AS max_val,
              ROUND(CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE)
                    / count(val), 4) AS mean_val
       FROM u GROUP BY col ORDER BY col""",
    doc="one-pass multi-column data profile via UNPIVOT (melt): the "
        "four lineitem measures pivot long through Spark's native "
        "unpivot (an Expand node -- 4x row fan-out but zero Python, "
        "zero extra scans; column pruning still reaches the parquet "
        "reader) into a single partial-aggregating groupBy emitting "
        "count / null-count / exact distinct / min / max / "
        "DECIMAL-exact mean per column. The long-format twin of x43's "
        "per-column wide profile, and the inverse operator of x141's "
        "pivot",
)
def x174_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    u = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "col",
        "val",
    )
    return (
        u.groupBy("col")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("val").cast("long").alias("n_nonnull"),
            F.countDistinct("val").cast("long").alias("n_distinct"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.round(
                F.sum(F.col("val").cast("decimal(30,6)")).cast("double")
                / F.count("val"),
                4,
            ).alias("mean_val"),
        )
        .orderBy("col")
    )


@register(
    "x175_rollup_revenue",
    """SELECT r_name, n_name,
              CAST(GROUPING(r_name) AS BIGINT) AS g_region,
              CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                    AS DOUBLE), 2) AS revenue
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY ROLLUP(r_name, n_name)
       ORDER BY g_region, g_nation,
                r_name NULLS FIRST, n_name NULLS FIRST""",
    doc="hierarchical ROLLUP (nation -> region subtotal -> grand "
        "total) with GROUPING() level markers -- the drill-down "
        "report x142's full CUBE overshoots (ROLLUP emits the 3 "
        "hierarchy levels, not all 4 combinations). The geography dim "
        "(region x nation x customer) assembles broadcast-side and "
        "rides a BroadcastHashJoin onto orders (dim is "
        "customer-cardinality -- broadcastable by the x78 contract); "
        "the rollup itself is one Expand + partial/final "
        "HashAggregate pair, so the shuffle carries 3 group rows per "
        "partition per key, never raw orders",
)
def x175_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        customer.join(
            nation, customer.c_nationkey == nation.n_nationkey
        )
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name", "n_name")
    )
    j = orders.join(
        F.broadcast(dim), orders.o_custkey == dim.c_custkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("long").alias("g_region"),
            F.grouping("n_name").cast("long").alias("g_nation"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
        .select(
            "r_name", "n_name", "g_region", "g_nation", "n_orders",
            "revenue",
        )
        .orderBy(
            "g_region",
            "g_nation",
            F.col("r_name").asc_nulls_first(),
            F.col("n_name").asc_nulls_first(),
        )
    )


@register(
    "x176_churn_candidates",
    """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS m FROM orders),
       pc AS (
         SELECT o_custkey,
                max(CAST(o_orderdate AS DATE)) AS last_order,
                CAST(count(*) AS BIGINT) AS n_orders,
                SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS spend
         FROM orders GROUP BY 1
       )
       SELECT c_custkey, c_mktsegment, last_order, n_orders,
              CAST(datediff('day', last_order, (SELECT m FROM mx))
                   AS BIGINT) AS days_inactive,
              ROUND(CAST(spend AS DOUBLE), 2) AS lifetime_spend
       FROM pc JOIN customer ON o_custkey = c_custkey
       WHERE last_order < (SELECT m FROM mx) - INTERVAL 365 DAY
       ORDER BY lifetime_spend DESC, c_custkey LIMIT 50""",
    doc="churned-whale list: highest-lifetime-spend customers whose "
        "LAST order predates the corpus horizon by a year -- the "
        "win-back campaign seed. One orders groupBy compresses to "
        "customer cardinality (count + max-date + DECIMAL spend in "
        "the same pass), the corpus max-date rides a broadcast 1-row "
        "aggregate, the segment attach is a broadcast dim join, and "
        "TakeOrderedAndProject keeps the top 50 under a "
        "(spend, custkey) total order. Inactivity is date arithmetic "
        "against the data's own horizon, so the query is "
        "reproducible -- no wall-clock dependence",
)
def x176_churn_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    mx = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("m")
    )
    pc = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("spend"),
    )
    return (
        pc.crossJoin(F.broadcast(mx))
        .filter(F.col("last_order") < F.date_sub(F.col("m"), 365))
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            pc.o_custkey == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            "last_order",
            "n_orders",
            F.datediff(F.col("m"), F.col("last_order"))
            .cast("long")
            .alias("days_inactive"),
            F.round(F.col("spend").cast("double"), 2).alias(
                "lifetime_spend"
            ),
        )
        .orderBy(F.desc("lifetime_spend"), "c_custkey")
        .limit(50)
    )


@register(
    "x177_ohlc_bars",
    """SELECT date_trunc('hour', ts) AS bar,
              first(value ORDER BY ts, event_id) AS open,
              MAX(value) AS high,
              MIN(value) AS low,
              last(value ORDER BY ts, event_id) AS close,
              CAST(count(*) AS BIGINT) AS n_trades,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 4)
                  AS turnover
       FROM events
       WHERE event_type = 'purchase' AND value IS NOT NULL
       GROUP BY 1 ORDER BY 1""",
    doc="hourly OHLC bars over purchase values -- the time-series "
        "downsample every market/telemetry dashboard draws. "
        "Open/close are argmin/argmax by (ts, event_id) via Spark's "
        "min_by/max_by over a struct ordering key (event_id breaks "
        "same-microsecond ties, so the bar is deterministic; the "
        "oracle's ordered-aggregate first()/last() pins the same "
        "order) -- ONE partial-aggregating groupBy computes all six "
        "measures, no window, no self-join; the type filter pushes "
        "to the parquet scan",
)
def x177_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    ordk = F.struct("ts", "event_id")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bar"))
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double"),
                4,
            ).alias("turnover"),
        )
        .orderBy("bar")
    )


@register(
    "x178_token_pmi",
    """WITH tok AS (
         SELECT DISTINCT doc_id, t FROM (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
           FROM documents
         ) WHERE length(t) > 0
       ), v AS (
         SELECT t, CAST(count(*) AS BIGINT) AS n_docs
         FROM tok GROUP BY t ORDER BY n_docs DESC, t LIMIT 100
       ), kept AS (
         SELECT tok.doc_id, tok.t FROM tok JOIN v USING (t)
       ), p AS (
         SELECT a.t AS tok_a, b.t AS tok_b,
                CAST(count(*) AS BIGINT) AS n_ab
         FROM kept a JOIN kept b USING (doc_id)
         WHERE a.t < b.t GROUP BY 1, 2
       ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
       SELECT tok_a, tok_b, n_ab,
              ROUND(ln(CAST(n_ab AS DOUBLE) * (SELECT n FROM nn)
                       / (va.n_docs * vb.n_docs)), 4) AS pmi
       FROM p
       JOIN v va ON p.tok_a = va.t
       JOIN v vb ON p.tok_b = vb.t
       ORDER BY n_ab DESC, tok_a, tok_b LIMIT 50""",
    doc="pointwise mutual information over top-vocab token "
        "co-occurrence (the collocation signal behind phrase mining "
        "and tokenizer-merge candidates): doc frequency picks the "
        "top-100 vocabulary (deterministic (count, token) tie-break), "
        "docs project onto it through a broadcast semi-join, and "
        "in-doc pairs expand INSIDE the per-doc sorted token array "
        "via the x165 HOF pattern -- bounded by C(100,2) per doc, "
        "never a corpus self-join; PMI arithmetic is exact-integer "
        "ratios pushed through one ln() at the end",
)
def x178_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(_toks("text")).alias("t"),
        )
        .filter(F.length("t") > 0)
        .distinct()
    )
    v = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "t")
        .limit(100)
    )
    kept = tok.join(F.broadcast(v.select("t")), "t", "leftsemi")
    u = kept.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("t")).alias("toks")
    )
    ts = F.col("toks")
    pairs = (
        u.select(
            F.explode(
                pairs_within(
                    ts,
                    lambda x, y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    va = v.select(F.col("t").alias("tok_a"), F.col("n_docs").alias("n_a"))
    vb = v.select(F.col("t").alias("tok_b"), F.col("n_docs").alias("n_b"))
    return (
        pairs.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(nn))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double") * F.col("n")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("n_ab"), "tok_a", "tok_b")
        .limit(50)
    )


@register(
    "x179_ship_sla",
    """WITH fs AS (
         SELECT l_orderkey,
                min(CAST(l_shipdate AS DATE)) AS first_ship
         FROM lineitem GROUP BY 1
       ), j AS (
         SELECT o_orderpriority,
                datediff('day', CAST(o_orderdate AS DATE), first_ship)
                    AS days
         FROM orders JOIN fs ON o_orderkey = l_orderkey
       )
       SELECT o_orderpriority,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(days) AS DOUBLE) / count(*), 4) AS avg_days,
              ROUND(100.0 * SUM(CASE WHEN days <= 30 THEN 1 ELSE 0 END)
                    / count(*), 4) AS pct_30,
              ROUND(100.0 * SUM(CASE WHEN days <= 60 THEN 1 ELSE 0 END)
                    / count(*), 4) AS pct_60,
              ROUND(100.0 * SUM(CASE WHEN days > 60 THEN 1 ELSE 0 END)
                    / count(*), 4) AS pct_late
       FROM j GROUP BY 1 ORDER BY 1""",
    doc="order-to-first-shipment SLA per priority class: lineitem "
        "compresses to order cardinality (min shipdate) BEFORE the "
        "big-big equi-join with orders -- the aggregate-first side "
        "halves the shuffle and the join stays a key-partitioned "
        "SMJ/AQE choice, never a broadcast of a fact table; SLA "
        "shares are integer CASE sums over exact day arithmetic, "
        "divided once at the end (orders with no lineitems are "
        "outside the SLA population by definition -- inner join)",
)
def x179_ship_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    fs = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship")
    )
    j = orders.join(
        fs, orders.o_orderkey == fs.l_orderkey
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("first_ship"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    cnt = F.count(F.lit(1))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            cnt.cast("long").alias("n_orders"),
            F.round(F.sum("days").cast("double") / cnt, 4).alias(
                "avg_days"
            ),
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("days") <= 30, 1).otherwise(0))
                / cnt,
                4,
            ).alias("pct_30"),
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("days") <= 60, 1).otherwise(0))
                / cnt,
                4,
            ).alias("pct_60"),
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("days") > 60, 1).otherwise(0))
                / cnt,
                4,
            ).alias("pct_late"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "x180_time_weighted_avg",
    """WITH s AS (
         SELECT user_id,
                CAST(round(value * 1e6) AS BIGINT) AS value_u,
                epoch_us(ts) AS t_us,
                lead(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS nxt_us
         FROM events WHERE value IS NOT NULL
       ), d AS (
         SELECT user_id, value_u, nxt_us - t_us AS dur_us
         FROM s WHERE nxt_us IS NOT NULL
       )
       SELECT user_id,
              CAST(count(*) AS BIGINT) AS n_steps,
              ROUND(SUM(dur_us) / 1e6, 3) AS span_sec,
              ROUND(CAST(SUM(CAST(value_u AS DECIMAL(19,0))
                              * CAST(dur_us AS DECIMAL(19,0))) AS DOUBLE)
                    / (1e6 * SUM(dur_us)), 6) AS twa
       FROM d GROUP BY 1 ORDER BY user_id""",
    doc="time-weighted average of each user's value step function "
        "(the right mean for irregularly-sampled telemetry -- a "
        "value held for an hour must outweigh one held a second): "
        "lead() over the user-key window yields each step's exact "
        "microsecond duration, weights multiply in DECIMAL(38,0) "
        "integer micro-units (value x 1e6, duration in us -- no "
        "float accumulation, partition-order independent), one "
        "double division at the end. Window and groupBy share the "
        "one user-key shuffle; single-event users have no interval "
        "and drop out by definition",
)
def x180_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; unix_micros needs TIMESTAMP.
    # The session-tz shift the cast applies is CONSTANT, so it cancels
    # in the lead() difference -- durations are exact either way.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    s = ev.select(
        "user_id",
        F.round(F.col("value") * 1e6, 0).cast("long").alias("value_u"),
        us.alias("t_us"),
        F.lead(us).over(w).alias("nxt_us"),
    )
    d = s.filter(F.col("nxt_us").isNotNull()).select(
        "user_id",
        "value_u",
        (F.col("nxt_us") - F.col("t_us")).alias("dur_us"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_steps"),
            F.round(F.sum("dur_us") / 1e6, 3).alias("span_sec"),
            F.round(
                F.sum(
                    F.col("value_u").cast("decimal(19,0)")
                    * F.col("dur_us").cast("decimal(19,0)")
                ).cast("double")
                / (F.lit(1e6) * F.sum("dur_us")),
                6,
            ).alias("twa"),
        )
        .orderBy("user_id")
    )


@register(
    "x181_part_liveness",
    """WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem),
       f AS (
         SELECT p_brand, p_partkey,
                CASE WHEN l_partkey IS NOT NULL THEN 1 ELSE 0 END AS hit
         FROM part LEFT JOIN sold ON p_partkey = l_partkey
       )
       SELECT p_brand,
              CAST(count(*) AS BIGINT) AS n_parts,
              CAST(SUM(hit) AS BIGINT) AS n_sold,
              CAST(count(*) - SUM(hit) AS BIGINT) AS n_never_sold,
              ROUND(100.0 * (count(*) - SUM(hit)) / count(*), 4)
                  AS pct_never
       FROM f GROUP BY 1 ORDER BY 1""",
    doc="catalog-liveness audit per brand: which parts have never "
        "shipped (the dead-stock / cold-start list every "
        "recommender and inventory plan needs). Spark side runs the "
        "REAL set operators -- LEFT SEMI for sold, LEFT ANTI for "
        "never-sold -- against the distinct-partkey projection of "
        "lineitem (fact compresses to key cardinality first, so the "
        "semi/anti probe side is distinct-key-sized); the oracle's "
        "left-join CASE formulation is the same set algebra. Brand "
        "rollups are dim-cardinality; counts join broadcast-side",
)
def x181_part_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    sold_keys = li.select(F.col("l_partkey")).distinct()
    n_parts = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    n_sold = (
        part.join(sold_keys, part.p_partkey == sold_keys.l_partkey, "leftsemi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sold"))
    )
    n_never = (
        part.join(sold_keys, part.p_partkey == sold_keys.l_partkey, "leftanti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("long").alias("n_never_sold"))
    )
    return (
        n_parts.join(F.broadcast(n_sold), "p_brand", "left")
        .join(F.broadcast(n_never), "p_brand", "left")
        .select(
            "p_brand",
            "n_parts",
            F.coalesce("n_sold", F.lit(0)).cast("long").alias("n_sold"),
            F.coalesce("n_never_sold", F.lit(0))
            .cast("long")
            .alias("n_never_sold"),
            F.round(
                F.lit(100.0)
                * F.coalesce("n_never_sold", F.lit(0))
                / F.col("n_parts"),
                4,
            ).alias("pct_never"),
        )
        .orderBy("p_brand")
    )


@register(
    "x182_cohort_ltv",
    """WITH c AS (
         SELECT o_custkey,
                min(date_trunc('month', CAST(o_orderdate AS DATE)))
                    AS cohort
         FROM orders GROUP BY 1
       ), j AS (
         SELECT cohort,
                datediff('month', cohort,
                         date_trunc('month', CAST(o_orderdate AS DATE)))
                    AS age,
                o_totalprice
         FROM orders JOIN c USING (o_custkey)
       ), cell AS (
         SELECT cohort, CAST(age AS BIGINT) AS age,
                CAST(count(*) AS BIGINT) AS n_orders,
                SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
         FROM j GROUP BY 1, 2
       )
       SELECT cohort, age, n_orders,
              ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
              ROUND(CAST(SUM(rev) OVER (
                PARTITION BY cohort ORDER BY age) AS DOUBLE), 2)
                  AS cum_revenue
       FROM cell ORDER BY cohort, age""",
    doc="cohort-LTV triangle (acquisition month x months-since): the "
        "revenue curve per acquisition cohort that x131's retention "
        "counts can't price. First-order month per customer from one "
        "orders groupBy (customer-cardinality, broadcastable by the "
        "x78 dim contract), cohort cells from a second "
        "partial-aggregating groupBy, and the cumulative-LTV window "
        "rides the cohort x age CELL table (a few hundred rows at "
        "any corpus size) -- the aggregate-first window contract; "
        "revenue is DECIMAL-exact until one final rounding cast",
)
def x182_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.min(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).cast(
                "date"
            )
        ).alias("cohort")
    )
    j = orders.join(F.broadcast(c), "o_custkey").select(
        "cohort",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).cast(
                "date"
            ),
            F.col("cohort"),
        )
        .cast("long")
        .alias("age"),
        "o_totalprice",
    )
    cell = j.groupBy("cohort", "age").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"),
    )
    w = Window.partitionBy("cohort").orderBy("age")
    return (
        cell.select(
            "cohort",
            "age",
            "n_orders",
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
            F.round(F.sum("rev").over(w).cast("double"), 2).alias(
                "cum_revenue"
            ),
        )
        .orderBy("cohort", "age")
    )


@register(
    "x183_hhi_concentration",
    """WITH spend AS (
         SELECT c_mktsegment,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) * 100
                     AS BIGINT) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment, o_custkey
       )
       SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_customers,
              ROUND(CAST(SUM(cents) AS DOUBLE) / 100, 2) AS revenue,
              ROUND(1e4 * CAST(SUM(CAST(cents AS DECIMAL(19,0))
                                   * CAST(cents AS DECIMAL(19,0)))
                               AS DOUBLE)
                    / (CAST(SUM(cents) AS DOUBLE)
                       * CAST(SUM(cents) AS DOUBLE)), 4) AS hhi
       FROM spend GROUP BY 1 ORDER BY 1""",
    doc="Herfindahl-Hirschman concentration index per market segment "
        "(0 = atomized, 10000 = one customer owns the segment -- the "
        "dependency-risk number x108's Gini ranks but doesn't price "
        "in antitrust units): per-customer spend reduces to exact "
        "integer cents, squares accumulate in DECIMAL(38,0) (no "
        "float sum ordering anywhere), and HHI = 1e4 * sum(s^2) / "
        "total^2 is two double divisions at the very end. Two "
        "partial-aggregating groupBys; the customer dim joins "
        "broadcast-side",
)
def x183_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                * 100
            )
            .cast("long")
            .alias("cents")
        )
    )
    c = F.col("cents")
    return (
        spend.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum(c).cast("double") / 100, 2).alias("revenue"),
            F.round(
                F.lit(1e4)
                * F.sum(
                    c.cast("decimal(19,0)") * c.cast("decimal(19,0)")
                ).cast("double")
                / (F.sum(c).cast("double") * F.sum(c).cast("double")),
                4,
            ).alias("hhi"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "x184_grouped_topn_array",
    """WITH spend AS (
         SELECT c_nationkey, o_custkey AS ck,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) * 100
                     AS BIGINT) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2
       ), r AS (
         SELECT *, row_number() OVER (
                  PARTITION BY c_nationkey
                  ORDER BY cents DESC, ck) AS rk
         FROM spend
       )
       SELECT c_nationkey,
              string_agg(ck || ':' || cents, '|' ORDER BY rk) AS top3
       FROM r WHERE rk <= 3 GROUP BY 1 ORDER BY 1""",
    doc="grouped top-N as a NESTED column: each nation's three "
        "biggest customers, ordered, serialized 'custkey:cents' (the "
        "q33/q41 array-hashing precedent -- exact integer cents keep "
        "the string cross-engine byte-identical). The rank window "
        "rides the (nation, customer) AGGREGATE (aggregate-first "
        "contract), rank<=3 filters before the collect, and the "
        "per-nation array assembles from three rows -- collect_list "
        "is provably bounded, the general grouped-top-N shape that "
        "replaces ORDER BY ... LIMIT per group at scale",
)
def x184_grouped_topn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", F.col("o_custkey").alias("ck"))
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                * 100
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("cents"), F.col("ck")
    )
    r = spend.select(
        "c_nationkey",
        F.concat_ws(":", F.col("ck"), F.col("cents")).alias("s"),
        F.row_number().over(w).alias("rk"),
    ).filter(F.col("rk") <= 3)
    return (
        r.groupBy("c_nationkey")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rk", "s"))),
                    lambda x: x["s"],
                ),
            ).alias("top3")
        )
        .orderBy("c_nationkey")
    )


@register(
    "x185_daily_ledger",
    """WITH e AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY 1
       ), o AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_orders,
                SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
         FROM orders GROUP BY 1
       )
       SELECT COALESCE(e.day, o.day) AS day,
              CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
              CAST(COALESCE(n_users, 0) AS BIGINT) AS n_users,
              CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
              ROUND(CAST(COALESCE(rev, 0) AS DOUBLE), 2) AS revenue
       FROM e FULL OUTER JOIN o ON e.day = o.day
       ORDER BY day""",
    doc="unified activity ledger across two fact tables on "
        "non-overlapping calendars: FULL OUTER join of daily event "
        "rollups and daily order rollups -- the one join type that "
        "keeps BOTH unmatched sides (a left/right join would silently "
        "drop one era of the business). Each side aggregates to day "
        "cardinality FIRST (corpus rows never reach the join), so the "
        "full-outer runs on two tiny day tables; COALESCE fills the "
        "holes with explicit zeros, not nulls",
)
def x185_daily_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    e = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    o = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"),
    )
    return (
        e.join(o, "day", "full_outer")
        .select(
            "day",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.round(
                F.coalesce(F.col("rev"), F.lit(0)).cast("double"), 2
            ).alias("revenue"),
        )
        .orderBy("day")
    )


@register(
    "x186_readability",
    """WITH d AS (
         SELECT lang,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                     AS BIGINT) AS s,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                     AS BIGINT) AS y
         FROM documents
       ), p AS (
         SELECT lang, w, s, y,
                206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                        - 84.6 * (CAST(y AS DOUBLE) / w) AS fre
         FROM d
       )
       SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(w) AS BIGINT) AS words,
              CAST(SUM(s) AS BIGINT) AS sentences,
              CAST(SUM(y) AS BIGINT) AS syllables,
              ROUND(206.835
                    - 1.015 * (CAST(SUM(w) AS DOUBLE) / SUM(s))
                    - 84.6 * (CAST(SUM(y) AS DOUBLE) / SUM(w)), 4)
                  AS corpus_fre,
              CAST(SUM(CASE WHEN fre < 30 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hard
       FROM p GROUP BY lang ORDER BY lang""",
    doc="Flesch reading-ease readability per language -- the "
        "quality-filter axis x11's length/punct ratios don't measure "
        "(a wall of long sentences scores low even with clean "
        "punctuation): words / sentence-terminator runs / vowel-group "
        "syllable proxy are three regexp_count expressions (pure "
        "codegen, no explode -- the counts never materialize token "
        "rows), per-doc hard-document flags compare row-locally, and "
        "the corpus score recomputes from exact integer count sums so "
        "no float mean ever accumulates across rows",
)
def x186_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.size(F.split("text", " ")).cast("long")
    s = F.greatest(
        F.lit(1), F.regexp_count("text", F.lit("[.!?]+"))
    ).cast("long")
    y = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("long")
    d = docs.select(
        "lang", w.alias("w"), s.alias("s"), y.alias("y")
    ).withColumn(
        "fre",
        F.lit(206.835)
        - F.lit(1.015) * (F.col("w").cast("double") / F.col("s"))
        - F.lit(84.6) * (F.col("y").cast("double") / F.col("w")),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("words"),
            F.sum("s").cast("long").alias("sentences"),
            F.sum("y").cast("long").alias("syllables"),
            F.round(
                F.lit(206.835)
                - F.lit(1.015)
                * (F.sum("w").cast("double") / F.sum("s"))
                - F.lit(84.6)
                * (F.sum("y").cast("double") / F.sum("w")),
                4,
            ).alias("corpus_fre"),
            F.sum(F.when(F.col("fre") < 30, 1).otherwise(0))
            .cast("long")
            .alias("n_hard"),
        )
        .orderBy("lang")
    )


@register(
    "x187_content_checksum",
    """SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(bit_xor(CAST(('0x' || substr(
                     md5(doc_id || '|' || text), 1, 15)) AS BIGINT))
                   AS BIGINT) AS checksum
       FROM documents GROUP BY source ORDER BY source""",
    doc="order-independent content checksum per source -- the "
        "migration/replication integrity primitive: every row hashes "
        "to 60 bits of its md5(id|text) and XOR-folds per group, so "
        "two copies of a corpus match iff their row MULTISETS match "
        "(any dropped, duplicated, or corrupted row flips the "
        "checksum) regardless of partitioning or row order -- the "
        "property a SUM- or concat-based digest lacks. One partial-"
        "aggregating groupBy; XOR is associative-commutative, so the "
        "map-side combine is exact",
)
def x187_content_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col("text"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.bit_xor(h).cast("long").alias("checksum"),
        )
        .orderBy("source")
    )


@register(
    "x188_schema_merge_audit",
    """SELECT 'v1' AS ver,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(*) AS BIGINT) AS n_null_source,
              CAST(count(*) AS BIGINT) AS n_null_quality
       FROM documents
       UNION ALL
       SELECT 'v2',
              CAST(count(*) AS BIGINT),
              CAST(0 AS BIGINT),
              CAST(0 AS BIGINT)
       FROM documents
       ORDER BY ver""",
    doc="schema-evolution round-trip: the corpus writes twice -- a v1 "
        "epoch with the original 3-column schema and a v2 epoch that "
        "adds source and a derived quality column -- and reads back "
        "through mergeSchema=true, the mechanism that lets a year of "
        "heterogeneous parquet epochs scan as ONE table; the audit "
        "counts the null-filled columns per epoch, which is exactly "
        "what downstream code must tolerate. The oracle states the "
        "invariant directly: every v1 row null-fills the v2-only "
        "columns, no v2 row does. Writes go to a per-run temp dir "
        "(x160's round-trip idiom), result localCheckpoints before "
        "cleanup",
)
def x188_schema_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="x188_schema_", ignore_cleanup_errors=True
    ) as tmp:
        v1 = docs.select("doc_id", "text", "lang", F.lit("v1").alias("ver"))
        v2 = docs.select(
            "doc_id",
            "text",
            "lang",
            "source",
            (F.col("n_chars") / 100.0).alias("quality"),
            F.lit("v2").alias("ver"),
        )
        p1, p2 = os.path.join(tmp, "epoch1"), os.path.join(tmp, "epoch2")
        v1.write.mode("overwrite").parquet(p1)
        v2.write.mode("overwrite").parquet(p2)
        merged = spark.read.option("mergeSchema", "true").parquet(p1, p2)
        out = (
            merged.groupBy("ver")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(F.col("source").isNull(), 1).otherwise(0)
                ).cast("long").alias("n_null_source"),
                F.sum(
                    F.when(F.col("quality").isNull(), 1).otherwise(0)
                ).cast("long").alias("n_null_quality"),
            )
            .orderBy("ver")
            .localCheckpoint()  # materialize before tmp vanishes
        )
    return out


@register(
    "x189_discount_elasticity",
    """WITH m AS (
         SELECT p_brand,
                CAST(round(l_discount * 100) AS BIGINT) AS d,
                CAST(l_quantity AS BIGINT) AS q
         FROM lineitem JOIN part ON l_partkey = p_partkey
       ), a AS (
         SELECT p_brand,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(d) AS BIGINT) AS sd,
                CAST(SUM(q) AS BIGINT) AS sq,
                CAST(SUM(d * q) AS BIGINT) AS sdq,
                CAST(SUM(d * d) AS BIGINT) AS sd2,
                CAST(SUM(q * q) AS BIGINT) AS sq2
         FROM m GROUP BY 1
       )
       SELECT p_brand, n AS n_items,
              ROUND(CAST(sd AS DOUBLE) / (100.0 * n), 4) AS avg_discount,
              CASE WHEN (CAST(n AS DOUBLE) * sd2 - CAST(sd AS DOUBLE) * sd)
                        * (CAST(n AS DOUBLE) * sq2 - CAST(sq AS DOUBLE) * sq)
                        > 0
                   THEN ROUND(
                     (CAST(n AS DOUBLE) * sdq
                      - CAST(sd AS DOUBLE) * sq)
                     / sqrt((CAST(n AS DOUBLE) * sd2
                             - CAST(sd AS DOUBLE) * sd)
                            * (CAST(n AS DOUBLE) * sq2
                               - CAST(sq AS DOUBLE) * sq)), 4)
                   ELSE NULL END AS corr_dq
       FROM a ORDER BY p_brand""",
    doc="grouped Pearson correlation of discount vs quantity per part "
        "brand (the price-elasticity screen; x147 correlates global "
        "column pairs -- this is per-GROUP correlation at fact-table "
        "scale): discounts become exact integer percent units, the "
        "five moment sums accumulate as exact integers in ONE "
        "partial-aggregating groupBy behind a broadcast dim join, and "
        "the correlation assembles in double from six exact numbers "
        "per brand -- float never sums across rows, so the result is "
        "partition-order independent; zero-variance brands surface "
        "NULL, not NaN",
)
def x189_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    m = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    ).select(
        "p_brand",
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    a = m.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("d") * F.col("q")).cast("long").alias("sdq"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sd2"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sq2"),
    )
    nd = F.col("n").cast("double")
    sd, sq = F.col("sd").cast("double"), F.col("sq").cast("double")
    var_d = nd * F.col("sd2") - sd * sd
    var_q = nd * F.col("sq2") - sq * sq
    return a.select(
        "p_brand",
        F.col("n").alias("n_items"),
        F.round(sd / (F.lit(100.0) * F.col("n")), 4).alias("avg_discount"),
        F.when(
            var_d * var_q > 0,
            F.round(
                (nd * F.col("sdq") - sd * sq) / F.sqrt(var_d * var_q), 4
            ),
        ).alias("corr_dq"),
    ).orderBy("p_brand")


@register(
    "x190_first_transition",
    """WITH r AS (
         SELECT user_id, event_type,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn
         FROM events
       ), ft AS (
         SELECT user_id,
                MAX(CASE WHEN rn = 1 THEN event_type END) AS first_type,
                COALESCE(MAX(CASE WHEN rn = 2 THEN event_type END),
                         '(none)') AS second_type
         FROM r WHERE rn <= 2 GROUP BY user_id
       ), g AS (
         SELECT first_type, second_type,
                CAST(count(*) AS BIGINT) AS n_users
         FROM ft GROUP BY 1, 2
       )
       SELECT first_type, second_type, n_users,
              ROUND(100.0 * n_users / SUM(n_users) OVER (
                PARTITION BY first_type), 4) AS pct_of_first
       FROM g ORDER BY first_type, second_type""",
    doc="onboarding matrix: each user's FIRST event-type transition "
        "(x96 counts every adjacent transition; product decisions "
        "about the first session need only this one), single-event "
        "users land in an explicit '(none)' bucket instead of "
        "vanishing. The rank window shares the user-key shuffle with "
        "the pivot groupBy (rn<=2 filters before the pivot so "
        "per-user state is two rows), the share window rides the "
        "type-pair AGGREGATE (tens of rows); (ts, event_id) makes "
        "first/second deterministic under ties",
)
def x190_first_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    ft = r.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
            "first_type"
        ),
        F.coalesce(
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.lit("(none)"),
        ).alias("second_type"),
    )
    g = ft.groupBy("first_type", "second_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    share_w = Window.partitionBy("first_type")
    return (
        g.select(
            "first_type",
            "second_type",
            "n_users",
            F.round(
                F.lit(100.0)
                * F.col("n_users")
                / F.sum("n_users").over(share_w),
                4,
            ).alias("pct_of_first"),
        )
        .orderBy("first_type", "second_type")
    )


@register(
    "x191_equidepth_histogram",
    """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
       r AS (
         SELECT l_extendedprice,
                CAST(row_number() OVER (
                  ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                  AS BIGINT) AS rn
         FROM lineitem
       ), ks AS (
         SELECT unnest(range(1, 10)) AS decile
       ), pos AS (
         SELECT CAST(decile AS BIGINT) AS decile,
                greatest(1, (CAST(decile AS BIGINT)
                             * (SELECT n FROM nn)) // 10) AS pos
         FROM ks
       )
       SELECT decile, CAST(pos AS BIGINT) AS pos,
              l_extendedprice AS edge_price
       FROM pos JOIN r ON r.rn = pos.pos
       ORDER BY decile""",
    doc="EXACT equi-depth decile edges by POSITION -- the histogram "
        "boundaries x17's GK sketch approximates, computed exactly "
        "without ever buffering the column: x169's two-pass "
        "prefix-sum rank (range partition + broadcast offsets, no "
        "SinglePartition, no Window) numbers the total order once, "
        "then the nine cut positions -- a 9-row derived table off the "
        "broadcast 1-row count -- equi-join back on rank. Total-order "
        "tiebreak (price, orderkey, linenumber) pins every edge; "
        "generalizing x169's single midpoint to any quantile grid "
        "costs one more broadcast join, not another pass",
)
def x191_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    nn = li.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = scale.global_row_number(
        li,
        [
            F.col("l_extendedprice"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        out_col="rn",
    )
    pos = nn.select(
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("decile"), "n"
    ).select(
        F.col("decile").cast("long").alias("decile"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(decile * n) div 10"),
        ).alias("pos"),
    )
    return (
        r.join(F.broadcast(pos), r.rn == pos.pos)
        .select("decile", "pos", F.col("l_extendedprice").alias("edge_price"))
        .orderBy("decile")
    )


@register(
    "x192_value_mix_shift",
    """WITH b AS (
         SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
                CAST(least(floor(o_totalprice / 50000), 5) AS BIGINT)
                    AS band,
                o_orderkey
         FROM orders
       ), g AS (
         SELECT yr, band, CAST(count(*) AS BIGINT) AS n_orders
         FROM b GROUP BY 1, 2
       ), t AS (
         SELECT yr, CAST(SUM(n_orders) AS BIGINT) AS n_tot FROM g
         GROUP BY 1
       ), s AS (
         SELECT g.yr, g.band, g.n_orders,
                CAST(g.n_orders AS DOUBLE) / t.n_tot AS share
         FROM g JOIN t USING (yr)
       )
       SELECT yr, band, n_orders,
              ROUND(share, 4) AS share,
              ROUND(share - lag(share) OVER (
                PARTITION BY band ORDER BY yr), 4) AS share_delta
       FROM s ORDER BY yr, band""",
    doc="order-value mix-shift monitor: yearly share of each value "
        "band plus the year-over-year share delta -- the "
        "distribution-drift alarm for a revenue pipeline (x128 "
        "measures corpus mix against a TARGET; this tracks it "
        "against its own past). Corpus rows reduce to a year x band "
        "cell table in one partial-aggregating groupBy; shares join "
        "year totals broadcast-side and the lag window rides the "
        "tiny cell table. Band floors are IEEE-identical; shares "
        "subtract BEFORE the single rounding so the delta is exact "
        "to the representation",
)
def x192_value_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        F.year(F.col("o_orderdate").cast("date")).cast("long").alias("yr"),
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(5))
        .cast("long")
        .alias("band"),
    )
    g = b.groupBy("yr", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    t = g.groupBy("yr").agg(F.sum("n_orders").cast("long").alias("n_tot"))
    s = g.join(F.broadcast(t), "yr").withColumn(
        "share", F.col("n_orders").cast("double") / F.col("n_tot")
    )
    w = Window.partitionBy("band").orderBy("yr")
    return (
        s.select(
            "yr",
            "band",
            "n_orders",
            F.round("share", 4).alias("share"),
            F.round(
                F.col("share") - F.lag("share").over(w), 4
            ).alias("share_delta"),
        )
        .orderBy("yr", "band")
    )


@register(
    "x193_budget_curve",
    """WITH d AS (
         SELECT doc_id, n_chars,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         FROM documents
       ), c AS (
         SELECT doc_id, tok,
                CAST(row_number() OVER (
                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn,
                CAST(SUM(tok) OVER (
                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum
         FROM d
       ), t AS (SELECT CAST(SUM(tok) AS BIGINT) AS tot FROM d),
       ks AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS k)
       SELECT k,
              CAST(min(rn) AS BIGINT) AS n_docs,
              CAST(arg_min(cum, rn) AS BIGINT) AS cum_tokens
       FROM c, t, ks
       WHERE 10 * c.cum >= k * t.tot
       GROUP BY k ORDER BY k""",
    doc="token-budget selection curve: docs rank by quality proxy "
        "(longest-first here; any score column slots in) and the "
        "curve answers 'how many top docs until 10%..100% of the "
        "token budget' -- the cutoff table a data-mix planner reads "
        "before sampling (x33 samples TO a budget; this prices every "
        "budget at once). Scale shape: global_row_number + "
        "prefix_sum rank-and-accumulate the total order in two "
        "passes (no SinglePartition), then each row emits only the "
        "budget levels IT crosses via an integer-exact "
        "sequence((10*prev) div tot + 1 .. (10*cum) div tot) -- at "
        "most 10 rows survive corpus-wide, so the oracle's "
        "cross-join formulation never materializes on the Spark "
        "side",
)
def x193_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("tok"),
    )
    order = [F.col("n_chars").desc(), F.col("doc_id")]
    r = scale.global_row_number(docs, order, out_col="rn")
    c = scale.prefix_sum(r, order, "tok", out_col="cum")
    tot = docs.agg(F.sum("tok").cast("long").alias("tot"))
    j = c.crossJoin(F.broadcast(tot)).select(
        "rn",
        "cum",
        F.expr("(10 * (cum - tok)) div tot + 1").alias("k_lo"),
        F.least(F.expr("(10 * cum) div tot"), F.lit(10).cast("long"))
        .alias("k_hi"),
    )
    hits = j.select(
        "rn",
        "cum",
        F.explode(
            F.when(
                F.col("k_hi") >= F.col("k_lo"),
                F.sequence(F.col("k_lo"), F.col("k_hi")),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("k"),
    )
    return hits.select(
        "k",
        F.col("rn").alias("n_docs"),
        F.col("cum").alias("cum_tokens"),
    ).orderBy("k")


@register(
    "x194_correlated_subquery",
    """SELECT c_nationkey,
              CAST(count(*) AS BIGINT) AS n_rich_active
       FROM customer c
       WHERE CAST(round(c_acctbal * 100) AS BIGINT)
             * (SELECT count(*) FROM customer c2
                WHERE c2.c_nationkey = c.c_nationkey)
             > (SELECT SUM(CAST(round(c3.c_acctbal * 100) AS BIGINT))
                FROM customer c3
                WHERE c3.c_nationkey = c.c_nationkey)
         AND EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey)
       GROUP BY c_nationkey ORDER BY c_nationkey""",
    doc="the correlated-subquery SURFACE itself: customers above "
        "their nation's mean balance (stated sum/count-wise in exact "
        "integer cents -- no float mean at a comparison boundary) "
        "who have ordered, via TWO correlated scalar subqueries plus "
        "a correlated EXISTS, submitted as raw SQL. Catalyst "
        "DECORRELATES all three into aggregate-then-join plans (the "
        "per-row rescan a naive engine would do is the scale-killer); "
        "the oracle runs the SAME text modulo nothing -- both "
        "dialects accept it verbatim, so this entry also pins SQL "
        "portability",
)
def x194_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_rich_active
        FROM customer c
        WHERE CAST(round(c_acctbal * 100) AS BIGINT)
              * (SELECT count(*) FROM customer c2
                 WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT SUM(CAST(round(c3.c_acctbal * 100) AS BIGINT))
                 FROM customer c3
                 WHERE c3.c_nationkey = c.c_nationkey)
          AND EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_nationkey ORDER BY c_nationkey
        """
    )


@register(
    "x195_token_positions",
    """WITH tk AS (
         SELECT doc_id, string_split(lower(text), ' ') AS toks
         FROM documents
       ), e AS (
         SELECT doc_id, len(toks) AS n_toks,
                unnest(toks) AS t,
                unnest(range(0, len(toks))) AS pos
         FROM tk
       ), v AS (
         SELECT t, CAST(count(*) AS BIGINT) AS n_occ
         FROM e GROUP BY t ORDER BY n_occ DESC, t LIMIT 20
       )
       SELECT e.t AS token, v.n_occ,
              ROUND(CAST(SUM(e.pos) AS DOUBLE) / SUM(e.n_toks), 4)
                  AS avg_rel_pos
       FROM e JOIN v ON e.t = v.t
       GROUP BY e.t, v.n_occ
       ORDER BY v.n_occ DESC, e.t""",
    doc="positional token statistics via posexplode: where in a "
        "document does each high-frequency token tend to sit "
        "(boilerplate headers score near 0, signatures near 1 -- the "
        "positional prior behind x26's boilerplate detection). "
        "Position and token co-explode in ONE generator pass; the "
        "top-20 vocabulary joins back broadcast-side; the relative "
        "position is a ratio of two exact integer sums (sum(pos) / "
        "sum(doc_len)) so no float crosses a row boundary. Oracle "
        "zips DuckDB's parallel unnests to the same (token, "
        "position) pairs",
)
def x195_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", _toks("text").alias("toks"))
    e = tk.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.posexplode("toks").alias("pos", "t"),
    )
    v = (
        e.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
        .orderBy(F.desc("n_occ"), "t")
        .limit(20)
    )
    return (
        e.join(F.broadcast(v), "t")
        .groupBy(F.col("t").alias("token"), "n_occ")
        .agg(
            F.round(
                F.sum("pos").cast("double") / F.sum("n_toks"), 4
            ).alias("avg_rel_pos")
        )
        .orderBy(F.desc("n_occ"), "token")
    )


@register(
    "x196_lang_count_map",
    """WITH g AS (
         SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
         FROM documents GROUP BY 1, 2
       )
       SELECT source,
              CAST(SUM(cnt) AS BIGINT) AS n_docs,
              '{' || string_agg('"' || lang || '":' || cnt,
                                ',' ORDER BY lang) || '}' AS lang_counts
       FROM g GROUP BY source ORDER BY source""",
    doc="per-source language histogram as a MAP column (the nested "
        "key-value shape metadata catalogs store): (source, lang) "
        "counts assemble into map<string,long> via map_from_entries "
        "over the lang-sorted entry array -- insertion order is "
        "pinned, so to_json renders a canonical {..en..:123} JSON "
        "string the oracle rebuilds byte-identically with an ordered "
        "string_agg. Two partial-aggregating groupBys; the map is "
        "language-cardinality, provably bounded per group",
)
def x196_lang_count_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.to_json(
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(F.struct("lang", "cnt"))
                    )
                )
            ).alias("lang_counts"),
        )
        .orderBy("source")
    )


@register(
    "x197_weekday_overlap",
    """WITH f AS (
         SELECT user_id, event_type,
                MAX(CASE WHEN isodow(ts) <= 5 THEN 1 ELSE 0 END) AS wd,
                MAX(CASE WHEN isodow(ts) > 5 THEN 1 ELSE 0 END) AS we
         FROM events GROUP BY 1, 2
       ), u AS (
         SELECT user_id,
                CAST(SUM(wd * we) AS BIGINT) AS n_shared,
                CAST(SUM(wd * (1 - we)) AS BIGINT) AS n_wd_only,
                CAST(SUM(we * (1 - wd)) AS BIGINT) AS n_we_only
         FROM f GROUP BY 1
       )
       SELECT n_shared, n_wd_only, n_we_only,
              CAST(count(*) AS BIGINT) AS n_users
       FROM u GROUP BY 1, 2, 3
       ORDER BY n_shared, n_wd_only, n_we_only""",
    doc="weekday/weekend behavioral overlap via the ARRAY SET "
        "operators: per user, the weekday event-type set and weekend "
        "set materialize from conditional collect_sets in one "
        "user-key groupBy, then array_intersect / array_except "
        "compute shared and exclusive behaviors ROW-LOCALLY (set "
        "algebra on type-cardinality arrays, never a join), and the "
        "(shared, wd-only, we-only) signature histogram is a second "
        "tiny groupBy. The oracle states the same set algebra "
        "relationally (max-flag pivot + flag products) -- two "
        "formulations, one truth",
)
def x197_weekday_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_wd = F.weekday("ts") < 5
    u = ev.groupBy("user_id").agg(
        F.collect_set(F.when(is_wd, F.col("event_type"))).alias("wd"),
        F.collect_set(F.when(~is_wd, F.col("event_type"))).alias("we"),
    )
    sig = u.select(
        F.size(F.array_intersect("wd", "we"))
        .cast("long")
        .alias("n_shared"),
        F.size(F.array_except("wd", "we")).cast("long").alias("n_wd_only"),
        F.size(F.array_except("we", "wd")).cast("long").alias("n_we_only"),
    )
    return (
        sig.groupBy("n_shared", "n_wd_only", "n_we_only")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("n_shared", "n_wd_only", "n_we_only")
    )


@register(
    "x198_trend_fit",
    """WITH mn AS (
         SELECT min(CAST(ts AS DATE)) AS d0 FROM events
       ), d AS (
         SELECT event_type,
                CAST(datediff('day', (SELECT d0 FROM mn),
                              CAST(ts AS DATE)) AS BIGINT) AS x,
                CAST(count(*) AS BIGINT) AS y
         FROM events GROUP BY 1, 2
       ), a AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(x) AS BIGINT) AS sx,
                CAST(SUM(y) AS BIGINT) AS sy,
                CAST(SUM(x * y) AS BIGINT) AS sxy,
                CAST(SUM(x * x) AS BIGINT) AS sx2,
                CAST(SUM(y * y) AS BIGINT) AS sy2
         FROM d GROUP BY 1
       )
       SELECT event_type, n AS n_days,
              ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                    / (CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx),
                    6) AS slope,
              ROUND((CAST(sy AS DOUBLE)
                     - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * sx2
                          - CAST(sx AS DOUBLE) * sx) * sx) / n, 4)
                  AS intercept,
              ROUND(CASE WHEN (CAST(n AS DOUBLE) * sy2
                               - CAST(sy AS DOUBLE) * sy) > 0
                    THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                         * (CAST(n AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                         / ((CAST(n AS DOUBLE) * sx2
                             - CAST(sx AS DOUBLE) * sx)
                            * (CAST(n AS DOUBLE) * sy2
                               - CAST(sy AS DOUBLE) * sy))
                    ELSE NULL END, 4) AS r2
       FROM a ORDER BY event_type""",
    doc="per-type linear trend of daily event volume (the "
        "capacity-planning slope + goodness-of-fit): day counts "
        "reduce corpus rows to a type x day cell table, the day "
        "index anchors to the corpus' own min date (broadcast 1-row "
        "-- reproducible, no wall clock), and OLS slope / intercept "
        "/ R^2 assemble in double from SIX exact integer moment "
        "sums per type -- the x189 moments pattern extended to "
        "regression; float never accumulates across rows. "
        "Zero-variance series surface NULL R^2, not NaN",
)
def x198_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mn = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    d = (
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .crossJoin(F.broadcast(mn))
        .select(
            "event_type",
            F.datediff("day", "d0").cast("long").alias("x"),
            "y",
        )
    )
    a = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sy2"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov = nd * F.col("sxy") - sx * sy
    var_x = nd * F.col("sx2") - sx * sx
    var_y = nd * F.col("sy2") - sy * sy
    slope = cov / var_x
    return a.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / F.col("n"), 4).alias("intercept"),
        F.round(
            F.when(var_y > 0, cov * cov / (var_x * var_y)), 4
        ).alias("r2"),
    ).orderBy("event_type")


@register(
    "x199_lateral_topn",
    """SELECT r.r_name, t.n_name, t.n_cust
       FROM region r JOIN LATERAL (
         SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_cust
         FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
         WHERE n.n_regionkey = r.r_regionkey
         GROUP BY n.n_name
         ORDER BY n_cust DESC, n.n_name LIMIT 2
       ) t ON TRUE
       ORDER BY r.r_name, t.n_cust DESC, t.n_name""",
    doc="correlated LATERAL top-N -- the 'for each outer row, run "
        "this parameterized subquery' surface (with ORDER BY + LIMIT "
        "inside the lateral, the shape engines historically "
        "rejected): per region, its two most-customered nations. "
        "Catalyst DECORRELATES the lateral into a join + per-group "
        "rank rather than re-executing the inner query per region "
        "-- the plan a 100 TB engine must produce; the oracle runs "
        "the equivalent LATERAL verbatim in DuckDB. Submitted as raw "
        "SQL to pin the API surface end-to-end",
)
def x199_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "region").createOrReplaceTempView("region")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.n_cust
        FROM region r JOIN LATERAL (
          SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_cust
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_cust DESC, n.n_name LIMIT 2
        ) t
        ORDER BY r.r_name, t.n_cust DESC, t.n_name
        """
    )


@register(
    "x200_null_imputation",
    """WITH w AS (
         SELECT event_type,
                CASE WHEN event_id % 7 = 0 THEN NULL
                     ELSE CAST(round(value * 1e6) AS BIGINT) END AS v_u
         FROM events
       ), a AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(v_u) AS BIGINT) AS n_obs,
                CAST(SUM(v_u) AS BIGINT) AS s_u
         FROM w GROUP BY 1
       )
       SELECT event_type, n,
              CAST(n - n_obs AS BIGINT) AS n_imputed,
              ROUND(CAST(s_u AS DOUBLE) / (1e6 * n_obs), 4)
                  AS mean_observed,
              ROUND(CAST(s_u + (n - n_obs) * (s_u // n_obs) AS DOUBLE)
                    / (1e6 * n), 4) AS mean_imputed
       FROM a ORDER BY event_type""",
    doc="group-mean null imputation audit (the standard ML-prep "
        "fill): a deterministic missingness mask (every 7th event -- "
        "the x53 synthetic-corruption precedent, since the fixture "
        "has no natural nulls) knocks out values, per-type means "
        "compute in exact integer micro-units, and the fill value is "
        "the INTEGER-DIVISION mean so the post-imputation mean is "
        "itself exact arithmetic -- both engines agree to the bit, "
        "no float mean ever feeds back into data. One "
        "partial-aggregating groupBy carries count, observed count, "
        "and sum together",
)
def x200_null_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = ev.select(
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.lit(None).cast("long")
        )
        .otherwise(F.round(F.col("value") * 1e6, 0).cast("long"))
        .alias("v_u"),
    )
    a = w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("v_u").cast("long").alias("n_obs"),
        F.sum("v_u").cast("long").alias("s_u"),
    )
    return a.select(
        "event_type",
        "n",
        (F.col("n") - F.col("n_obs")).cast("long").alias("n_imputed"),
        F.round(
            F.col("s_u").cast("double") / (F.lit(1e6) * F.col("n_obs")), 4
        ).alias("mean_observed"),
        F.round(
            (
                F.col("s_u")
                + (F.col("n") - F.col("n_obs"))
                * F.expr("s_u div n_obs")
            ).cast("double")
            / (F.lit(1e6) * F.col("n")),
            4,
        ).alias("mean_imputed"),
    ).orderBy("event_type")


@register(
    "x201_pareto_skyline",
    """WITH g AS (
         SELECT l_extendedprice AS price, l_discount AS disc,
                CAST(count(*) AS BIGINT) AS n_lines
         FROM lineitem GROUP BY 1, 2
       ), p AS (
         SELECT price, MAX(disc) AS disc,
                arg_max(n_lines, disc) AS n_lines
         FROM g GROUP BY price
       ), s AS (
         SELECT price, disc, n_lines,
                MAX(disc) OVER (
                  ORDER BY price DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS best_disc_at_higher_price
         FROM p
       )
       SELECT price, disc, n_lines
       FROM s
       WHERE best_disc_at_higher_price IS NULL
          OR disc > best_disc_at_higher_price
       ORDER BY price DESC""",
    doc="2-D Pareto skyline (maximize price AND discount): the "
        "non-dominated frontier of (price, discount) -- a point "
        "survives iff no strictly-higher-priced point had an equal "
        "or better discount, i.e. a running MAX over the price-sorted "
        "order beats the O(n^2) dominance self-join a naive skyline "
        "does. Same-price points collapse to the best discount FIRST "
        "(same-price dominance is a groupBy max, and it makes every "
        "window row's price DISTINCT -- a ROWS frame over tied keys "
        "would see ties in nondeterministic order), then the running "
        "max rides the per-price aggregate -- value-domain "
        "cardinality, the x171 aggregate-first contract (documented "
        "bounded-domain SinglePartition, x81's trade); ROWS ... 1 "
        "PRECEDING makes the self-exclusion exact",
)
def x201_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.groupBy(
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("disc"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_lines"))
    g = pairs.groupBy("price").agg(
        F.max("disc").alias("disc"),
        F.max_by("n_lines", "disc").alias("n_lines"),
    )
    w = (
        Window.orderBy(F.desc("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = g.select(
        "price",
        "disc",
        "n_lines",
        F.max("disc").over(w).alias("best"),
    )
    return (
        s.filter(F.col("best").isNull() | (F.col("disc") > F.col("best")))
        .select("price", "disc", "n_lines")
        .orderBy(F.desc("price"))
    )


@register(
    "x202_set_operations",
    """WITH a AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
       b AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 1)
       SELECT 'common' AS set_op, CAST(count(*) AS BIGINT) AS n
       FROM (SELECT h FROM a INTERSECT SELECT h FROM b)
       UNION ALL
       SELECT 'only_even', CAST(count(*) AS BIGINT)
       FROM (SELECT h FROM a EXCEPT SELECT h FROM b)
       UNION ALL
       SELECT 'only_odd', CAST(count(*) AS BIGINT)
       FROM (SELECT h FROM b EXCEPT SELECT h FROM a)
       ORDER BY set_op""",
    doc="the relational SET OPERATORS themselves -- INTERSECT and "
        "EXCEPT (distinct semantics) over content-hash projections of "
        "two corpus halves: the snapshot-diff primitive x50 builds "
        "with joins, expressed through the operators users actually "
        "type. Spark plans both as hash-partitioned aggregates/joins "
        "on the md5 key (skew-immune by construction); the three "
        "counts assemble with a lit-labeled union of 1-row "
        "aggregates. Parity split keys the halves deterministically",
)
def x202_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("h")
    )
    b = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.md5("text").alias("h")
    )

    def counted(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit(label).alias("set_op"), "n"
        )

    return (
        counted(a.intersect(b), "common")
        .unionByName(counted(a.subtract(b), "only_even"))
        .unionByName(counted(b.subtract(a), "only_odd"))
        .orderBy("set_op")
    )


@register(
    "x203_stock_ledger",
    """WITH top AS (
         SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_moves
         FROM lineitem GROUP BY 1
         ORDER BY n_moves DESC, l_partkey LIMIT 20
       ), led AS (
         SELECT l.l_partkey,
                SUM(CASE WHEN l.l_returnflag = 'R'
                         THEN -CAST(l.l_quantity AS BIGINT)
                         ELSE CAST(l.l_quantity AS BIGINT) END)
                  OVER (PARTITION BY l.l_partkey
                        ORDER BY l.l_shipdate, l.l_orderkey,
                                 l.l_linenumber) AS bal
         FROM lineitem l JOIN top USING (l_partkey)
       )
       SELECT t.l_partkey, t.n_moves,
              CAST(mb.min_bal AS BIGINT) AS min_balance,
              CAST(fin.final_bal AS BIGINT) AS final_balance
       FROM top t
       JOIN (SELECT l_partkey, MIN(bal) AS min_bal
             FROM led GROUP BY 1) mb USING (l_partkey)
       JOIN (SELECT l.l_partkey,
                    SUM(CASE WHEN l.l_returnflag = 'R'
                             THEN -CAST(l.l_quantity AS BIGINT)
                             ELSE CAST(l.l_quantity AS BIGINT) END)
                        AS final_bal
             FROM lineitem l JOIN top USING (l_partkey)
             GROUP BY 1) fin USING (l_partkey)
       ORDER BY t.n_moves DESC, t.l_partkey""",
    doc="running stock ledger with drawdown: per part, returns (flag "
        "R) debit and shipments credit a signed-quantity ledger "
        "ordered by (shipdate, orderkey, linenumber); the running "
        "balance is a KEY-PARTITIONED window (each part's history in "
        "its own partition -- scales with parts, not corpus), and "
        "min-balance is the inventory drawdown a planner alerts on. "
        "Focused on the 20 highest-velocity parts via "
        "TakeOrderedAndProject + broadcast semi-join BEFORE the "
        "window, so the windowed slice is 20 parts' rows, not the "
        "fact table. Integer quantities end to end -- no float "
        "accumulation. Final balance = total signed sum (order-free); "
        "oracle reads it as the max-rank running value, same number",
)
def x203_stock_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_moves"))
        .orderBy(F.desc("n_moves"), "l_partkey")
        .limit(20)
    )
    signed = F.when(
        F.col("l_returnflag") == "R",
        -F.col("l_quantity").cast("long"),
    ).otherwise(F.col("l_quantity").cast("long"))
    led = li.join(F.broadcast(top.select("l_partkey")), "l_partkey").select(
        "l_partkey",
        signed.alias("dq"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = led.select("l_partkey", F.sum("dq").over(w).alias("bal"))
    mb = bal.groupBy("l_partkey").agg(
        F.min("bal").cast("long").alias("min_balance")
    )
    # final balance == total signed sum: order-independent, no window
    fin = led.groupBy("l_partkey").agg(
        F.sum("dq").cast("long").alias("final_balance")
    )
    return (
        top.join(F.broadcast(mb), "l_partkey")
        .join(F.broadcast(fin), "l_partkey")
        .select(
            "l_partkey", "n_moves", "min_balance", "final_balance"
        )
        .orderBy(F.desc("n_moves"), "l_partkey")
    )


@register(
    "x204_json_nested_roundtrip",
    """WITH js AS (
         SELECT user_id,
                '[' || string_agg(
                  '{"event_id":' || event_id
                  || ',"event_type":"' || event_type || '"}',
                  ',' ORDER BY event_id) || ']' AS j,
                CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY user_id
       )
       SELECT CAST(user_id % 16 AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n_users,
              CAST(SUM(n_events) AS BIGINT) AS n_events,
              CAST(bit_xor(CAST(('0x' || substr(md5(j), 1, 15))
                   AS BIGINT)) AS BIGINT) AS json_checksum
       FROM js GROUP BY 1 ORDER BY 1""",
    doc="nested-JSON round-trip integrity: each user's event list "
        "serializes to a canonical JSON array of structs (to_json "
        "over an event_id-sorted collect_list -- field order and "
        "element order both pinned), parses BACK through from_json "
        "with the declared array<struct> schema, and the recovered "
        "element count re-aggregates -- so a single byte of "
        "serializer drift, field reordering, or parse loss flips the "
        "per-bucket XOR checksum of the JSON text itself. This is "
        "the x14-style export/import contract for NESTED payloads "
        "(x114 proves flat JSONL); the oracle rebuilds the exact "
        "JSON byte string relationally",
)
def x204_json_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ev = load_table(spark, sf_dir, "events")
    schema = ArrayType(
        StructType(
            [
                StructField("event_id", LongType()),
                StructField("event_type", StringType()),
            ]
        )
    )
    js = ev.groupBy("user_id").agg(
        F.to_json(
            F.array_sort(F.collect_list(F.struct("event_id", "event_type")))
        ).alias("j")
    ).select(
        "user_id",
        "j",
        F.size(F.from_json("j", schema)).cast("long").alias("n_events"),
    )
    h = F.conv(F.substring(F.md5("j"), 1, 15), 16, 10).cast("long")
    return (
        js.groupBy((F.col("user_id") % 16).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.bit_xor(h).cast("long").alias("json_checksum"),
        )
        .orderBy("bucket")
    )


@register(
    "x205_activity_bitmask",
    """WITH mn AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
       m AS (
         SELECT user_id,
                bit_or(CAST(1 AS BIGINT) << CAST(
                  least(datediff('day', (SELECT d0 FROM mn),
                                 CAST(ts AS DATE)) // 7, 62)
                  AS INTEGER)) AS mask
         FROM events GROUP BY 1
       )
       SELECT CAST(bit_count(mask) AS BIGINT) AS n_weeks,
              CAST(count(*) AS BIGINT) AS n_users,
              CAST(bit_xor(mask) AS BIGINT) AS mask_checksum
       FROM m GROUP BY 1 ORDER BY 1""",
    doc="per-user activity encoded as a WEEK BITMASK -- 64 weeks of "
        "presence in one long via bit_or(1 << week_index) (the "
        "compact engagement encoding retention systems store instead "
        "of (user, week) rows -- 8 bytes replaces a row per active "
        "week): week indexes anchor to the corpus min date "
        "(broadcast 1-row, reproducible), bit_or folds map-side like "
        "any partial aggregate, bit_count reads weeks-active "
        "row-locally, and the per-cohort XOR checksum pins every "
        "individual mask through the hash gate. Two partial-agg "
        "groupBys, zero joins on corpus rows",
)
def x205_activity_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mn = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    wk = F.least(
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.col("d0")) / 7
        ),
        F.lit(62),
    ).cast("int")
    m = (
        ev.crossJoin(F.broadcast(mn))
        .select("user_id", wk.alias("wk"))
        .groupBy("user_id")
        # shiftleft's Python wrapper wants a literal bit count; the SQL
        # function form takes the wk COLUMN
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), wk))").alias(
                "mask"
            )
        )
    )
    return (
        m.groupBy(F.bit_count("mask").cast("long").alias("n_weeks"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.bit_xor("mask").cast("long").alias("mask_checksum"),
        )
        .orderBy("n_weeks")
    )


@register(
    "x206_wallet_share",
    """WITH m AS (
         SELECT o.o_custkey, p.p_brand,
                CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS cents
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         GROUP BY 1, 2
       ), c AS (
         SELECT o_custkey,
                CAST(SUM(cents) AS BIGINT) AS total_c,
                CAST(MAX(cents) AS BIGINT) AS top_c
         FROM m GROUP BY 1
       )
       SELECT CAST(least(floor(10.0 * top_c / total_c), 9) AS BIGINT)
                  AS share_decile,
              CAST(count(*) AS BIGINT) AS n_customers,
              ROUND(CAST(SUM(top_c) AS DOUBLE) / SUM(total_c), 4)
                  AS avg_share
       FROM c GROUP BY 1 ORDER BY 1""",
    doc="wallet-share concentration: how much of each customer's "
        "spend lands on their single favorite brand -- the loyalty "
        "distribution behind assortment planning. A THREE-hop "
        "fact-dim-fact chain: part attaches broadcast-side, the "
        "lineitem-orders join is the real big-big shuffle "
        "(key-partitioned SMJ/AQE -- the plan shape 100 TB requires), "
        "then two partial-agg groupBys collapse to (customer, brand) "
        "and customer. Cents are exact integers; the decile floor "
        "and pooled avg-share divide once at the end",
)
def x206_wallet_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    m = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey", "p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    c = m.groupBy("o_custkey").agg(
        F.sum("cents").cast("long").alias("total_c"),
        F.max("cents").cast("long").alias("top_c"),
    )
    return (
        c.groupBy(
            F.least(
                F.floor(
                    F.lit(10.0) * F.col("top_c") / F.col("total_c")
                ),
                F.lit(9),
            )
            .cast("long")
            .alias("share_decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum("top_c").cast("double") / F.sum("total_c"), 4
            ).alias("avg_share"),
        )
        .orderBy("share_decile")
    )


@register(
    "x207_forecast_wmape",
    """WITH d AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS y
         FROM events GROUP BY 1, 2
       ), j AS (
         SELECT a.event_type, a.y, b.y AS yhat
         FROM d a JOIN d b
           ON a.event_type = b.event_type
          AND b.day = a.day - INTERVAL 7 DAY
       )
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_days,
              ROUND(CAST(SUM(abs(y - yhat)) AS DOUBLE) / SUM(y), 4)
                  AS wmape,
              CAST(SUM(CASE WHEN yhat > y THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_over
       FROM j GROUP BY 1 ORDER BY 1""",
    doc="seasonal-naive forecast scorecard: yhat(t) = y(t-7) (the "
        "baseline every real forecaster must beat) evaluated as "
        "weighted MAPE -- sum|err| / sum actual, the aggregate-ratio "
        "form that is EXACT integer arithmetic until one final "
        "division (per-day APE averaging would divide per row and "
        "accumulate floats). Corpus rows reduce to type x day cells "
        "first; the 7-day-lag self-join runs on the tiny cell table "
        "via exact date equality, not a window over sparse days "
        "(missing days must NOT slide -- a lag(7 rows) would)",
)
def x207_forecast_wmape(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    b = d.select(
        F.col("event_type").alias("bt"),
        F.col("day").alias("bday"),
        F.col("y").alias("yhat"),
    )
    j = d.join(
        b,
        (F.col("event_type") == F.col("bt"))
        & (F.col("bday") == F.date_sub(F.col("day"), 7)),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                F.sum(F.abs(F.col("y") - F.col("yhat"))).cast("double")
                / F.sum("y"),
                4,
            ).alias("wmape"),
            F.sum(
                F.when(F.col("yhat") > F.col("y"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_over"),
        )
        .orderBy("event_type")
    )


@register(
    "x208_regex_parse",
    """WITH p AS (
         SELECT CAST(nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1),
                            '') AS BIGINT) AS k
         FROM events
       )
       SELECT CAST(k // 10 AS BIGINT) AS k_bucket,
              CAST(count(*) AS BIGINT) AS n,
              CAST(MIN(k) AS BIGINT) AS k_min,
              CAST(MAX(k) AS BIGINT) AS k_max
       FROM p WHERE k IS NOT NULL
       GROUP BY 1 ORDER BY 1""",
    doc="regex field extraction from semi-structured payloads -- the "
        "non-JSON-path twin of x53's parser (log lines and legacy "
        "formats don't parse as JSON; capture groups do the work): "
        "regexp_extract with a capture group pulls the numeric field, "
        "nullif guards the no-match empty string BEFORE the cast "
        "(ANSI-safe on both engines), and the decade-bucket rollup "
        "is one partial-agg groupBy. Pure codegen expressions -- the "
        "regex runs row-local in the scan stage, pushdown-friendly",
)
def x208_regex_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(
        F.regexp_extract("props", r'"k":\s*(\d+)', 1), F.lit("")
    ).cast("long")
    p = ev.select(k.alias("k")).filter(F.col("k").isNotNull())
    return (
        p.groupBy(F.expr("k div 10").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
        )
        .orderBy("k_bucket")
    )


@register(
    "x209_topk_concentration",
    """WITH u AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1
       ), r AS (
         SELECT n, CAST(row_number() OVER (
                  ORDER BY n DESC, user_id) AS BIGINT) AS rn
         FROM u
       ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot,
                       CAST(count(*) AS BIGINT) AS n_users FROM u)
       SELECT k.k AS top_k,
              CAST(SUM(CASE WHEN rn <= k.k THEN n ELSE 0 END) AS BIGINT)
                  AS events_covered,
              ROUND(CAST(SUM(CASE WHEN rn <= k.k THEN n ELSE 0 END)
                         AS DOUBLE) / MAX(t.tot), 4) AS share
       FROM r, t, (SELECT unnest([1, 10, 100, 1000]) AS k) k
       WHERE k.k <= t.n_users OR k.k = 1
       GROUP BY k.k ORDER BY k.k""",
    doc="audience concentration curve: what share of all events do "
        "the top-1/10/100/1000 most-active users produce (the "
        "platform-dependency number x41's heavy-hitter LIST doesn't "
        "summarize; a skew early-warning for training-data "
        "user-diversity): users aggregate first, x90's two-pass "
        "global rank orders them without a SinglePartition window, "
        "and the four coverage sums fold in ONE conditional "
        "aggregate over the user-cardinality table -- exact integer "
        "counts, one division per k at the end",
)
def x209_topk_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    r = scale.global_row_number(
        u, [F.col("n").desc(), F.col("user_id")], out_col="rn"
    )
    t = u.agg(
        F.sum("n").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    ks = spark.range(0, 4).select(
        F.element_at(
            F.array(F.lit(1), F.lit(10), F.lit(100), F.lit(1000)),
            (F.col("id") + 1).cast("int"),
        ).cast("long").alias("k")
    )
    j = r.crossJoin(F.broadcast(ks)).crossJoin(F.broadcast(t)).filter(
        (F.col("k") <= F.col("n_users")) | (F.col("k") == 1)
    )
    return (
        j.groupBy("k")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("k"), F.col("n"))
                  .otherwise(0))
            .cast("long")
            .alias("events_covered"),
            F.round(
                F.sum(
                    F.when(F.col("rn") <= F.col("k"), F.col("n"))
                    .otherwise(0)
                ).cast("double")
                / F.max("tot"),
                4,
            ).alias("share"),
        )
        .select(
            F.col("k").alias("top_k"), "events_covered", "share"
        )
        .orderBy("top_k")
    )


@register(
    "x210_triangle_count",
    """WITH items AS (
         SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       ), p AS (
         SELECT a.l_partkey AS u, b.l_partkey AS v,
                count(*) AS n
         FROM items a JOIN items b USING (l_orderkey)
         WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2
       ), e AS (SELECT u, v FROM p WHERE n >= 2),
       tri AS (
         SELECT e1.u AS a, e1.v AS b, e2.v AS c
         FROM e e1
         JOIN e e2 ON e1.v = e2.u
         JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
       ), nodes AS (
         SELECT a AS x FROM tri UNION SELECT b FROM tri
         UNION SELECT c FROM tri
       )
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
              (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles,
              (SELECT CAST(count(*) AS BIGINT) FROM nodes)
                  AS n_tri_nodes""",
    doc="triangle counting on the support>=2 co-purchase graph -- the "
        "clustering-coefficient numerator, the graph statistic x68's "
        "degrees and x104's ranks don't see: each triangle counts "
        "exactly once through the id-total-order orientation "
        "(a<b<c), so the count is two edge-sized equi-joins (wedge "
        "build + closure check), never an open wedge explosion over "
        "the raw graph -- the support filter prunes the hub edges "
        "that make naive triangle joins quadratic (production "
        "systems orient by DEGREE for the same reason; id-order is "
        "the deterministic stand-in). Edges derive once and "
        "localCheckpoint; three 1-row aggregates assemble "
        "broadcast-side",
)
def x210_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = graph.support2_edges(load_table(spark, sf_dir, "lineitem"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e.join(e2, e.v == e2.b2)
        .join(e3, (e.u == e3.a3) & (e2.c2 == e3.c3))
        .select(F.col("u").alias("a"), F.col("v").alias("b"),
                F.col("c2").alias("c"))
        .localCheckpoint(eager=False)
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    nodes = (
        tri.select(F.col("a").alias("x"))
        .union(tri.select(F.col("b").alias("x")))
        .union(tri.select(F.col("c").alias("x")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri_nodes"))
    )
    return n_edges.crossJoin(F.broadcast(n_tri)).crossJoin(
        F.broadcast(nodes)
    )


@register(
    "x211_locf_fill",
    """WITH d AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS y
         FROM events GROUP BY 1, 2
       ), sp AS (
         SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
         FROM events
       ), days AS (
         SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                     AS DATE) AS day
         FROM sp
       ), ty AS (SELECT DISTINCT event_type FROM events),
       spine AS (SELECT ty.event_type, days.day FROM days, ty),
       j AS (
         SELECT spine.event_type, spine.day, d.y
         FROM spine LEFT JOIN d USING (event_type, day)
       ), f AS (
         SELECT event_type, day, y,
                COALESCE(last_value(y IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  0) AS fy
         FROM j
       )
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_days,
              CAST(count(y) AS BIGINT) AS n_present,
              CAST(count(*) - count(y) AS BIGINT) AS n_gaps,
              CAST(SUM(fy) AS BIGINT) AS sum_filled
       FROM f GROUP BY 1 ORDER BY 1""",
    doc="last-observation-carried-forward gap fill -- the time-series "
        "imputation x155's zero-fill can't express (a sensor that "
        "reports nothing repeats its LAST reading, it doesn't read "
        "zero): the date spine generates from the corpus' own span "
        "(1-row broadcast), crosses the tiny type dim "
        "broadcast-side, left-joins the day cells, and "
        "last(ignoreNulls) over the per-type day window carries "
        "values across gaps -- the window rides the spine (days x "
        "types), never corpus rows; pre-first-observation days "
        "COALESCE to 0 explicitly. Integer counts end to end",
)
def x211_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    sp = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = sp.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    ty = ev.select("event_type").distinct()
    spine = days.crossJoin(F.broadcast(ty))
    j = spine.join(d, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = j.select(
        "event_type",
        "day",
        "y",
        F.coalesce(
            F.last("y", ignorenulls=True).over(w), F.lit(0)
        ).alias("fy"),
    )
    return (
        f.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.count("y").cast("long").alias("n_present"),
            (F.count(F.lit(1)) - F.count("y"))
            .cast("long")
            .alias("n_gaps"),
            F.sum("fy").cast("long").alias("sum_filled"),
        )
        .orderBy("event_type")
    )


@register(
    "x212_burst_detection",
    """WITH s AS (
         SELECT user_id, epoch_us(ts) // 1000000 AS es
         FROM events
       ), b AS (
         SELECT user_id,
                count(*) OVER (
                  PARTITION BY user_id ORDER BY es
                  RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS burst
         FROM s
       ), m AS (
         SELECT user_id, CAST(MAX(burst) AS BIGINT) AS max_burst
         FROM b GROUP BY 1
       )
       SELECT max_burst, CAST(count(*) AS BIGINT) AS n_users
       FROM m GROUP BY 1 ORDER BY 1""",
    doc="rate-burst detector: each user's peak events-per-rolling-"
        "60-seconds, via a RANGE-interval window frame over integer "
        "epoch seconds -- RANGE (value-based, tie-inclusive) is the "
        "correct frame here where a ROWS frame would count a fixed "
        "number of events regardless of how long they took; both "
        "engines treat same-second peers identically by SQL "
        "semantics. The window shares the one user-key shuffle with "
        "the per-user max; the abuse-detection histogram is a final "
        "tiny groupBy. The streaming twin of this shape is x27's "
        "sliding window -- this is its exact-batch readout",
)
def x212_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) div 1000000"
        ).alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-59, Window.currentRow)
    )
    b = s.select(
        "user_id", F.count(F.lit(1)).over(w).alias("burst")
    )
    m = b.groupBy("user_id").agg(
        F.max("burst").cast("long").alias("max_burst")
    )
    return (
        m.groupBy("max_burst")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("max_burst")
    )


@register(
    "x213_time_grain_rollup",
    """WITH b AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                     AS DATE) AS month,
                CAST(date_trunc('year', CAST(o_orderdate AS DATE))
                     AS DATE) AS yr,
                o_totalprice
         FROM orders
       )
       SELECT CASE WHEN day IS NOT NULL THEN 'day'
                   WHEN month IS NOT NULL THEN 'month'
                   ELSE 'year' END AS grain,
              COALESCE(day, month, yr) AS key_date,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                         AS DOUBLE), 2) AS revenue
       FROM b
       GROUP BY GROUPING SETS ((day), (month), (yr))
       ORDER BY grain, key_date""",
    doc="multi-granularity time rollup in ONE pass: revenue at day, "
        "month, and year grain via GROUPING SETS over precomputed "
        "calendar columns (x142's CUBE enumerates attribute "
        "combinations; this enumerates a time HIERARCHY, the "
        "materialized-rollup table serving layers precompute) -- one "
        "Expand node fans each order to its three grains, one "
        "partial/final HashAggregate pair does all three rollups, "
        "versus three scans in the naive UNION ALL. Grain labels "
        "read off the null pattern; DECIMAL-exact revenue",
)
def x213_time_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date")
    b = orders.select(
        day.alias("day"),
        F.date_trunc("month", day).cast("date").alias("month"),
        F.date_trunc("year", day).cast("date").alias("yr"),
        "o_totalprice",
    )
    g = b.groupingSets(
        [["day"], ["month"], ["yr"]], "day", "month", "yr"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast(
                "double"
            ),
            2,
        ).alias("revenue"),
    )
    return (
        g.select(
            F.when(F.col("day").isNotNull(), F.lit("day"))
            .when(F.col("month").isNotNull(), F.lit("month"))
            .otherwise(F.lit("year"))
            .alias("grain"),
            F.coalesce("day", "month", "yr").alias("key_date"),
            "n_orders",
            "revenue",
        )
        .orderBy("grain", "key_date")
    )


@register(
    "x214_csv_corruption_audit",
    """SELECT lang,
              CAST(count(*) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_corrupt,
              CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE n_chars END)
                   AS BIGINT) AS good_chars
       FROM documents GROUP BY lang ORDER BY lang""",
    doc="malformed-CSV ingestion audit -- the dirty-file contract "
        "x53 proves for JSON, proven for CSV: a deterministic "
        "corruption mask (every 13th row's numeric field becomes "
        "non-numeric -- the x53 precedent) writes through a text "
        "round-trip, reads back with a STRING schema (parse cannot "
        "fail) and quarantines via try_cast -- the ANSI-era contract "
        "where a bare cast would kill the job on the first dirty "
        "byte; the audit counts quarantined rows and sums the "
        "surviving numeric field per language, proving bad rows "
        "neither abort nor silently leak into aggregates. "
        "localCheckpoint before the temp dir vanishes",
)
def x214_csv_corruption_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    line = F.concat_ws(
        ",",
        F.col("doc_id"),
        F.col("lang"),
        # cast BEFORE the when: under ANSI, a STRING/BIGINT CASE
        # resolves to BIGINT and would cast the 'xx' literal
        F.when(F.col("doc_id") % 13 == 0, F.lit("xx")).otherwise(
            F.col("n_chars").cast("string")
        ),
    )
    with tempfile.TemporaryDirectory(
        prefix="x214_csv_", ignore_cleanup_errors=True
    ) as tmp:
        docs.select(line.alias("value")).write.mode("overwrite").text(tmp)
        back = spark.read.schema(
            "doc_id STRING, lang STRING, n_chars_raw STRING"
        ).csv(tmp)
        parsed = back.select(
            "lang",
            F.expr("try_cast(n_chars_raw AS BIGINT)").alias("n_chars"),
            F.col("n_chars_raw").isNotNull().alias("had_raw"),
        )
        out = (
            parsed.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.when(
                        F.col("had_raw") & F.col("n_chars").isNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_corrupt"),
                F.sum(F.coalesce("n_chars", F.lit(0)))
                .cast("long")
                .alias("good_chars"),
            )
            .orderBy("lang")
            .localCheckpoint()
        )
    return out


@register(
    "x215_distinctive_terms",
    """WITH tok AS (
         SELECT lang, unnest(string_split(lower(text), ' ')) AS t
         FROM documents
       ), c AS (
         SELECT lang, t, CAST(count(*) AS BIGINT) AS c
         FROM tok WHERE length(t) > 0 GROUP BY 1, 2
       ), nl AS (
         SELECT lang, CAST(SUM(c) AS BIGINT) AS nl FROM c GROUP BY 1
       ), gt AS (
         SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM c GROUP BY 1
       ), nt AS (SELECT CAST(SUM(c) AS BIGINT) AS ntot FROM c),
       lo AS (
         SELECT c.lang, c.t, c.c,
                ln((c.c + 0.5) / (nl.nl - c.c + 0.5))
                - ln((gt.ct - c.c + 0.5)
                     / ((SELECT ntot FROM nt) - nl.nl
                        - (gt.ct - c.c) + 0.5)) AS lodds
         FROM c JOIN nl USING (lang) JOIN gt USING (t)
         WHERE c.c >= 20
       ), r AS (
         SELECT lang, t, c, lodds,
                row_number() OVER (PARTITION BY lang
                                   ORDER BY lodds DESC, t) AS rk
         FROM lo
       )
       SELECT lang, rk, t AS term, c AS n_occ,
              ROUND(lodds, 4) AS log_odds
       FROM r WHERE rk <= 5 ORDER BY lang, rk""",
    doc="distinctive vocabulary per language via smoothed log-odds "
        "(the corpus-comparison statistic behind 'what words "
        "characterize THIS slice' -- x19's tf-idf ranks within a "
        "document, this contrasts a partition against the REST of "
        "the corpus): per-(lang, token) counts, per-lang and global "
        "totals all reduce in partial-agg groupBys, the odds ratio "
        "assembles row-locally from exact integers (+0.5 Haldane "
        "smoothing keeps zero rest-counts finite), and the top-5 "
        "window rides the token-cardinality aggregate. The "
        "support>=20 floor drops noise terms before ranking",
)
def x215_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(_toks("text")).alias("t")
    ).filter(F.length("t") > 0)
    c = tok.groupBy("lang", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nl = c.groupBy("lang").agg(F.sum("c").cast("long").alias("nl"))
    gt = c.groupBy("t").agg(F.sum("c").cast("long").alias("ct"))
    nt = c.agg(F.sum("c").cast("long").alias("ntot"))
    lo = (
        c.filter(F.col("c") >= 20)
        .join(F.broadcast(nl), "lang")
        .join(gt, "t")
        .crossJoin(F.broadcast(nt))
        .select(
            "lang",
            "t",
            "c",
            (
                F.log(
                    (F.col("c") + 0.5)
                    / (F.col("nl") - F.col("c") + 0.5)
                )
                - F.log(
                    (F.col("ct") - F.col("c") + 0.5)
                    / (
                        F.col("ntot")
                        - F.col("nl")
                        - (F.col("ct") - F.col("c"))
                        + 0.5
                    )
                )
            ).alias("lodds"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("lodds"), "t")
    r = lo.select(
        "lang", "t", "c", "lodds", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 5)
    return r.select(
        "lang",
        "rk",
        F.col("t").alias("term"),
        F.col("c").alias("n_occ"),
        F.round("lodds", 4).alias("log_odds"),
    ).orderBy("lang", "rk")


@register(
    "x216_merge_upsert",
    """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       upd AS (
         SELECT doc_id, 'UPD:' || text AS t FROM documents
         WHERE doc_id % 10 = 0
       ), ins AS (
         SELECT doc_id + (SELECT m FROM mx) + 1 AS doc_id,
                'NEW:' || text AS t
         FROM documents WHERE doc_id % 17 = 0
       ), u AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
       merged AS (
         SELECT COALESCE(b.doc_id, u.doc_id) AS id,
                COALESCE(u.t, b.text) AS t,
                CASE WHEN b.doc_id IS NULL THEN 'insert'
                     WHEN u.doc_id IS NULL THEN 'keep'
                     ELSE 'update' END AS action
         FROM documents b FULL OUTER JOIN u ON b.doc_id = u.doc_id
       )
       SELECT action, CAST(count(*) AS BIGINT) AS n,
              CAST(bit_xor(CAST(('0x' || substr(
                     md5(id || '|' || t), 1, 15)) AS BIGINT))
                   AS BIGINT) AS state_checksum
       FROM merged GROUP BY action ORDER BY action""",
    doc="MERGE INTO semantics without a table format -- the lakehouse "
        "upsert expressed as FULL OUTER join + COALESCE (matched -> "
        "update, unmatched-source -> insert, unmatched-target -> "
        "keep), the batch path behind x167's streaming SCD1 and "
        "x50's snapshot diff: a deterministic update batch (every "
        "10th doc rewritten) and insert batch (every 17th, keys "
        "offset past max id) merge in ONE key-partitioned join, and "
        "the per-action counts plus the x187 XOR content checksum "
        "pin the ENTIRE post-merge state through the hash gate -- "
        "any lost update, duplicate insert, or clobbered keeper "
        "flips a checksum",
)
def x216_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("m"))
    upd = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.concat(F.lit("UPD:"), F.col("text")).alias("t")
    )
    ins = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("doc_id") + F.col("m") + 1).alias("doc_id"),
            F.concat(F.lit("NEW:"), F.col("text")).alias("t"),
        )
    )
    u = upd.unionByName(ins)
    b = docs.select(F.col("doc_id").alias("b_id"), "text")
    merged = b.join(u, b.b_id == u.doc_id, "full_outer").select(
        F.coalesce("b_id", "doc_id").alias("id"),
        F.coalesce("t", "text").alias("t"),
        F.when(F.col("b_id").isNull(), F.lit("insert"))
        .when(F.col("doc_id").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
        .alias("action"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("id"), F.col("t"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.bit_xor(h).cast("long").alias("state_checksum"),
        )
        .orderBy("action")
    )


@register(
    "x217_bucketed_join",
    """SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                         AS DOUBLE), 2) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY 1 ORDER BY 1""",
    doc="the co-located BUCKETED join -- the layout investment that "
        "deletes the shuffle from every future join on the key: both "
        "sides persist via write_bucketed (bucketBy + sortBy on the "
        "catalog table -- bare parquet carries no bucket metadata), "
        "then the join planner sees matching bucket specs and "
        "merge-joins bucket i to bucket i with ZERO Exchange "
        "(plan-gated in tests/test_plans.py) -- at 100 TB this is "
        "the difference between an hourly pipeline re-shuffling the "
        "fact table every run and reading it pre-partitioned. "
        "Result hash-matches the plain shuffle join oracle exactly",
)
def x217_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from ... import scale

    tag = _re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_").lower()
    t_o, t_c = f"x217_orders_{tag}", f"x217_customer_{tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    scale.write_bucketed(orders, t_o, "o_custkey")
    scale.write_bucketed(customer, t_c, "o_custkey")
    j = scale.bucketed_join(spark, t_o, t_c, "o_custkey")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "x218_sql_udf",
    """SELECT l_returnflag,
              CAST(count(*) AS BIGINT) AS n_lines,
              ROUND(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100) AS BIGINT))
                    / 100.0, 2) AS net_revenue
       FROM lineitem GROUP BY 1 ORDER BY 1""",
    doc="SQL-defined scalar UDF (CREATE FUNCTION ... RETURN expr -- "
        "the catalog-resident business-logic unit Spark 4 added, NOT "
        "a Python UDF): net_cents(price, discount, tax) is declared "
        "once in SQL and inlined by Catalyst into codegen like any "
        "expression -- zero serialization cost, full pushdown, the "
        "right way to centralize a revenue formula; it returns EXACT "
        "integer cents (round happens per-row inside the UDF) so "
        "the aggregate is a long sum, order-independent. The oracle "
        "inlines the identical expression -- proving the UDF is pure "
        "sugar over the same plan",
)
def x218_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_cents(
          p DOUBLE, d DOUBLE, t DOUBLE) RETURNS BIGINT
        RETURN CAST(round(p * (1 - d) * (1 + t) * 100) AS BIGINT)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_lines,
               ROUND(SUM(net_cents(l_extendedprice, l_discount, l_tax))
                     / 100.0, 2) AS net_revenue
        FROM lineitem GROUP BY 1 ORDER BY 1
        """
    )


@register(
    "x219_variant_json",
    """WITH v AS (
         SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k
         FROM events
       )
       SELECT CAST(k // 10 AS BIGINT) AS k_decade,
              CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(k) AS BIGINT) AS k_sum
       FROM v WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""",
    doc="the VARIANT semi-structured type (Spark 4's open-ended JSON "
        "column -- parse once into a binary-encoded variant, extract "
        "typed paths without re-parsing text per access): props "
        "parses via parse_json, variant_get pulls '$.k' as a typed "
        "long, and the decade rollup is one partial-agg groupBy. "
        "Against x208's regex and x53's per-field JSON-path, variant "
        "is the scale answer when documents have HUNDREDS of paths: "
        "one parse, many cheap typed gets. Oracle reads the same "
        "path through DuckDB's JSON extraction",
)
def x219_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.expr(
        "variant_get(parse_json(props), '$.k', 'bigint')"
    ).alias("k")
    v = ev.select(k).filter(F.col("k").isNotNull())
    return (
        v.groupBy(F.expr("k div 10").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
        )
        .orderBy("k_decade")
    )


@register(
    "x220_python_datasource",
    """WITH s AS (
         SELECT i, (i * 2654435761) % 2147483647 AS v
         FROM (SELECT unnest(range(0, 100000)) AS i)
       )
       SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(v) AS BIGINT) AS v_sum,
              CAST(bit_xor(v) AS BIGINT) AS v_xor
       FROM s""",
    doc="a CUSTOM PYTHON DATA SOURCE (Spark 4's pyspark.sql.datasource "
        "API -- the extension point for reading systems Spark has no "
        "connector for, with partition planning owned by Python): "
        "the source declares 8 range partitions, each reader emits "
        "its slice of a deterministic Knuth-hash sequence, and Spark "
        "scans them as parallel tasks like any native source. The "
        "count / sum / xor triple fingerprints every emitted row, so "
        "a dropped partition, duplicated split, or wrong slice "
        "boundary fails the hash against the closed-form oracle. "
        "Pure-integer generation -- nothing engine-specific to drift",
)
def x220_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _DetRangeReader(DataSourceReader):
        def __init__(self, n_rows: int, n_parts: int):
            self.n_rows, self.n_parts = n_rows, n_parts

        def partitions(self):
            step = self.n_rows // self.n_parts
            return [
                InputPartition((p * step,
                                self.n_rows if p == self.n_parts - 1
                                else (p + 1) * step))
                for p in range(self.n_parts)
            ]

        def read(self, partition):
            lo, hi = partition.value
            for i in range(lo, hi):
                yield (i, (i * 2654435761) % 2147483647)

    class _DetRangeSource(DataSource):
        @classmethod
        def name(cls):
            return "detrange"

        def schema(self):
            return "i BIGINT, v BIGINT"

        def reader(self, schema):
            return _DetRangeReader(100000, 8)

    # idempotent per session: re-registering the same name is allowed
    spark.dataSource.register(_DetRangeSource)
    df = spark.read.format("detrange").load()
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("v_sum"),
        F.bit_xor("v").cast("long").alias("v_xor"),
    )


@register(
    "x221_group_by_all",
    """SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
              o_orderstatus,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                         AS DOUBLE), 2) AS revenue
       FROM orders GROUP BY ALL ORDER BY yr, o_orderstatus""",
    doc="GROUP BY ALL -- the infer-the-grouping-keys dialect both "
        "engines now share (every non-aggregate select item becomes "
        "a key; DuckDB coined it, Spark 4 adopted it): the SAME "
        "query text runs verbatim on both sides, which is exactly "
        "what makes analyst SQL portable off a warehouse onto the "
        "cluster. Plans identically to an explicit GROUP BY -- one "
        "partial/final HashAggregate pair; DECIMAL-exact revenue",
)
def x221_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
               o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                          AS DOUBLE), 2) AS revenue
        FROM orders GROUP BY ALL ORDER BY yr, o_orderstatus
        """
    )


@register(
    "x222_observe_metrics",
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS total_cents,
              CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_large
       FROM orders WHERE o_orderstatus = 'F'""",
    doc="the OBSERVE API -- metrics piggybacked on a pass the job "
        "already makes (df.observe attaches aggregate accumulators "
        "to the plan; the scan that feeds the real workload also "
        "yields row counts / sums / distincts with ZERO extra scans "
        "-- at 100 TB the difference between data-quality telemetry "
        "that is free and telemetry that doubles the bill): the "
        "observed totals re-materialize as a 1-row DataFrame and "
        "hash-match the oracle's direct aggregation, proving the "
        "side-channel loses nothing. Integer cents keep the sum "
        "exact",
)
def x222_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    obs = Observation("x222")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("total_cents"),
        # DISTINCT aggregates are not observable (they need a shuffle;
        # observed metrics fold in the existing pass) -- conditional
        # counts are the supported shape
        F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0))
        .cast("long")
        .alias("n_large"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "real" job
    row = obs.get
    return spark.createDataFrame(
        [(row["n_rows"], row["total_cents"], row["n_large"])],
        "n_rows BIGINT, total_cents BIGINT, n_large BIGINT",
    )


@register(
    "x223_try_arithmetic",
    """WITH b AS (
         SELECT CAST(l_quantity AS BIGINT) AS qty,
                CAST(round(l_discount * 100) AS BIGINT) AS d,
                CASE WHEN l_quantity >= 25 THEN 0
                     ELSE CAST(l_quantity AS BIGINT) END AS safe_div
         FROM lineitem
       )
       SELECT qty % 5 AS qty_band,
              CAST(count(*) AS BIGINT) AS n,
              ROUND(CAST(SUM(d) AS DOUBLE) / count(*), 4)
                  AS avg_disc_pct,
              CAST(SUM(CASE WHEN safe_div = 0 THEN NULL
                            ELSE d // safe_div END) AS BIGINT)
                  AS ratio_sum
       FROM b GROUP BY 1 ORDER BY 1""",
    doc="ANSI-era TRY arithmetic -- under Spark 4's default ANSI mode "
        "a division by zero ABORTS the job (the silent-null era is "
        "over), and try_divide is the explicit opt-back-in for data "
        "where zero denominators are expected: rows route through "
        "try_divide(d, safe_div) whose zero-denominator cases yield "
        "NULL and drop out of SUM by SQL semantics -- no crash, no "
        "poisoned aggregate, and the intent is visible in the query "
        "text. The oracle states the same semantics with an explicit "
        "CASE; integer division keeps both engines exact",
)
def x223_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.when(F.col("l_quantity") >= 25, F.lit(0).cast("long"))
        .otherwise(F.col("l_quantity").cast("long"))
        .alias("safe_div"),
    )
    return (
        b.groupBy((F.col("qty") % 5).alias("qty_band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("d").cast("double") / F.count(F.lit(1)), 4)
            .alias("avg_disc_pct"),
            F.sum(
                F.expr("try_divide(d, safe_div)").cast("long")
            )
            .cast("long")
            .alias("ratio_sum"),
        )
        .orderBy("qty_band")
    )


@register(
    "x224_ks_test",
    """WITH v AS (
         SELECT CASE WHEN isodow(ts) <= 5 THEN 'wd' ELSE 'we' END AS g,
                CAST(round(value * 1e6) AS BIGINT) AS x
         FROM events
         WHERE event_type = 'purchase' AND value IS NOT NULL
       ), c AS (
         SELECT x,
                CAST(SUM(CASE WHEN g = 'wd' THEN 1 ELSE 0 END)
                     AS BIGINT) AS nwd,
                CAST(SUM(CASE WHEN g = 'we' THEN 1 ELSE 0 END)
                     AS BIGINT) AS nwe
         FROM v GROUP BY x
       ), t AS (
         SELECT CAST(SUM(nwd) AS BIGINT) AS twd,
                CAST(SUM(nwe) AS BIGINT) AS twe
         FROM c
       ), e AS (
         SELECT SUM(nwd) OVER (ORDER BY x) AS cwd,
                SUM(nwe) OVER (ORDER BY x) AS cwe
         FROM c
       )
       SELECT (SELECT twd FROM t) AS n_weekday,
              (SELECT twe FROM t) AS n_weekend,
              ROUND(MAX(abs(CAST(cwd AS DOUBLE) / (SELECT twd FROM t)
                            - CAST(cwe AS DOUBLE) / (SELECT twe FROM t))),
                    6) AS ks_stat
       FROM e""",
    doc="two-sample Kolmogorov-Smirnov statistic -- the "
        "distribution-shift detector for CONTINUOUS metrics (x148's "
        "chi-squared needs bins; KS compares whole ECDFs): weekday "
        "vs weekend purchase values reduce to per-VALUE group counts "
        "first (the aggregate-first contract -- the ECDF window "
        "rides the value-domain table, x81's documented bounded "
        "SinglePartition), both cumulative counts ride ONE window "
        "pass, and the sup-gap computes from exact integer "
        "cumulatives with two divisions per row. Micro-unit "
        "quantization makes the value key integer-exact cross-engine",
)
def x224_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    v = ev.select(
        F.when(F.weekday("ts") < 5, F.lit("wd"))
        .otherwise(F.lit("we"))
        .alias("g"),
        F.round(F.col("value") * 1e6, 0).cast("long").alias("x"),
    )
    c = v.groupBy("x").agg(
        F.sum(F.when(F.col("g") == "wd", 1).otherwise(0))
        .cast("long")
        .alias("nwd"),
        F.sum(F.when(F.col("g") == "we", 1).otherwise(0))
        .cast("long")
        .alias("nwe"),
    )
    t = c.agg(
        F.sum("nwd").cast("long").alias("twd"),
        F.sum("nwe").cast("long").alias("twe"),
    )
    w = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = c.select(
        F.sum("nwd").over(w).alias("cwd"),
        F.sum("nwe").over(w).alias("cwe"),
    )
    return (
        e.crossJoin(F.broadcast(t))
        .agg(
            F.max("twd").alias("n_weekday"),
            F.max("twe").alias("n_weekend"),
            F.round(
                F.max(
                    F.abs(
                        F.col("cwd").cast("double") / F.col("twd")
                        - F.col("cwe").cast("double") / F.col("twe")
                    )
                ),
                6,
            ).alias("ks_stat"),
        )
    )


@register(
    "x225_business_days",
    """WITH fs AS (
         SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS d1
         FROM lineitem GROUP BY 1
       ), j AS (
         SELECT o_orderpriority,
                datediff('day', CAST(o_orderdate AS DATE), d1) AS diff,
                isodow(CAST(o_orderdate AS DATE)) AS dow0
         FROM orders JOIN fs ON o_orderkey = l_orderkey
       ), b AS (
         SELECT o_orderpriority, diff,
                diff
                - (CASE WHEN diff > (6 - dow0 + 7) % 7
                        THEN (diff - 1 - (6 - dow0 + 7) % 7) // 7 + 1
                        ELSE 0 END)
                - (CASE WHEN diff > (7 - dow0 + 7) % 7
                        THEN (diff - 1 - (7 - dow0 + 7) % 7) // 7 + 1
                        ELSE 0 END) AS bd
         FROM j
       )
       SELECT o_orderpriority,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(diff) AS DOUBLE) / count(*), 4)
                  AS avg_calendar_days,
              ROUND(CAST(SUM(bd) AS DOUBLE) / count(*), 4)
                  AS avg_business_days
       FROM b GROUP BY 1 ORDER BY 1""",
    doc="BUSINESS-day shipping latency per priority -- the calendar "
        "arithmetic every SLA report actually wants (x179 counts "
        "weekends as lateness): Saturdays and Sundays inside each "
        "[order, first-ship) interval count via the closed-form "
        "occurrences-of-weekday-r formula (first-offset modulo + "
        "integer division -- row-local exact integers, NO per-day "
        "explode, which would fan the fact table up to 121x at "
        "scale); the same aggregate-first lineitem compression and "
        "big-big equi-join as x179. Both engines evaluate the "
        "identical closed form, and the calendar-day column keeps "
        "x179's semantics alongside for contrast",
)
def x225_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    fs = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("d1")
    )
    od = F.col("o_orderdate").cast("date")
    j = orders.join(fs, orders.o_orderkey == fs.l_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("d1"), od).alias("diff"),
        # isodow: Monday=1..Sunday=7  ==  Spark weekday()+1
        (F.weekday(od) + 1).alias("dow0"),
    )

    def _count_dow(r: int):
        k0 = (F.lit(r) - F.col("dow0") + 7) % 7
        return F.when(
            F.col("diff") > k0,
            F.floor((F.col("diff") - 1 - k0) / 7) + 1,
        ).otherwise(F.lit(0))

    b = j.select(
        "o_orderpriority",
        "diff",
        (F.col("diff") - _count_dow(6) - _count_dow(7)).alias("bd"),
    )
    cnt = F.count(F.lit(1))
    return (
        b.groupBy("o_orderpriority")
        .agg(
            cnt.cast("long").alias("n_orders"),
            F.round(F.sum("diff").cast("double") / cnt, 4).alias(
                "avg_calendar_days"
            ),
            F.round(F.sum("bd").cast("double") / cnt, 4).alias(
                "avg_business_days"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "x226_incremental_agg_merge",
    """WITH d AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2
       )
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_days,
              CAST(SUM(n) AS BIGINT) AS n_events
       FROM d GROUP BY 1 ORDER BY 1""",
    doc="incremental aggregate maintenance (the lambda-architecture "
        "merge): the corpus splits at a cutoff day into a BASE "
        "partial aggregate and a DELTA partial aggregate -- each at "
        "(type, day) grain, the grain that makes counts and "
        "day-distincts MERGEABLE -- and union + re-aggregate "
        "reconstitutes the exact full rollup, hash-equal to the "
        "direct recompute oracle. At 100 TB this is the pattern that "
        "turns a daily full-corpus scan into a delta-only scan "
        "against a stored state table; the merge itself touches "
        "state-sized rows only. Cutoff derives from the corpus' own "
        "span (broadcast 1-row, reproducible)",
)
def x226_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mn = ev.agg(
        F.date_add(F.min(F.col("ts").cast("date")), 30).alias("cutoff")
    )
    tagged = ev.crossJoin(F.broadcast(mn)).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (F.col("ts").cast("date") < F.col("cutoff")).alias("is_base"),
    )
    base = (
        tagged.filter(F.col("is_base"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    delta = (
        tagged.filter(~F.col("is_base"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    merged = (
        base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "x227_percentile_scoring",
    """WITH ref AS (
         SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                CAST(count(*) AS BIGINT) AS cnt
         FROM orders
         WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1
       ), rs AS (
         SELECT cents, SUM(cnt) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum
         FROM ref
       ), rt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM ref),
       tgt AS (
         SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                CAST(count(*) AS BIGINT) AS cnt
         FROM orders
         WHERE year(CAST(o_orderdate AS DATE)) = 1996 GROUP BY 1
       ), u AS (
         SELECT cents, 0 AS tag, cum, NULL AS cnt FROM rs
         UNION ALL
         SELECT cents, 1 AS tag, NULL AS cum, cnt FROM tgt
       ), c AS (
         SELECT cents, tag, cnt,
                last_value(cum IGNORE NULLS) OVER (
                  ORDER BY cents, tag
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS carry
         FROM u
       )
       SELECT CAST(least(floor(10.0 * COALESCE(carry, 0)
                         / (SELECT tot FROM rt)), 9) AS BIGINT)
                  AS ref_decile,
              CAST(SUM(cnt) AS BIGINT) AS n_orders
       FROM c WHERE tag = 1
       GROUP BY 1 ORDER BY 1""",
    doc="distribution scoring against a REFERENCE population: every "
        "1996 order scores as its percentile within the 1995 price "
        "distribution (the calibrated drift readout behind 'are this "
        "year's orders bigger?') -- both populations compress to "
        "exact-cent value domains first, the reference ECDF and the "
        "target domain merge-sort into ONE carry-forward window "
        "(ref rows sort before target at equal cents, so <= "
        "semantics are exact; the window rides the merged "
        "value-domain table, x224's bounded contract), and target "
        "counts weight the decile rollup. Integer cents + one floor "
        "division -- cross-engine exact",
)
def x227_percentile_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    yr = F.year(F.col("o_orderdate").cast("date"))
    ref = (
        orders.filter(yr == 1995)
        .groupBy(cents.alias("cents"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rs = ref.select("cents", F.sum("cnt").over(w).alias("cum"))
    rt = ref.agg(F.sum("cnt").cast("long").alias("tot"))
    tgt = (
        orders.filter(yr == 1996)
        .groupBy(cents.alias("cents"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    u = rs.select(
        "cents", F.lit(0).alias("tag"), "cum",
        F.lit(None).cast("long").alias("cnt"),
    ).unionByName(
        tgt.select(
            "cents", F.lit(1).alias("tag"),
            F.lit(None).cast("long").alias("cum"), "cnt",
        )
    )
    wc = Window.orderBy("cents", "tag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = u.select(
        "tag",
        "cnt",
        F.last("cum", ignorenulls=True).over(wc).alias("carry"),
    ).filter(F.col("tag") == 1)
    return (
        c.crossJoin(F.broadcast(rt))
        .groupBy(
            F.least(
                F.floor(
                    F.lit(10.0)
                    * F.coalesce(F.col("carry"), F.lit(0))
                    / F.col("tot")
                ),
                F.lit(9),
            )
            .cast("long")
            .alias("ref_decile")
        )
        .agg(F.sum("cnt").cast("long").alias("n_orders"))
        .orderBy("ref_decile")
    )


@register(
    "x228_embedding_dim_stats",
    """WITH e AS (
         SELECT unnest(range(0, len(embedding))) AS dim,
                CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6)
                     AS BIGINT) AS vu
         FROM embeddings
       )
       SELECT CAST(dim AS BIGINT) AS dim,
              CAST(count(*) AS BIGINT) AS n,
              CAST(MIN(vu) AS BIGINT) AS min_u,
              CAST(MAX(vu) AS BIGINT) AS max_u,
              ROUND(CAST(SUM(CAST(vu AS DECIMAL(18,0))) AS DOUBLE)
                    / (1e6 * count(*)), 6) AS mean,
              ROUND(sqrt((CAST(SUM(CAST(vu AS DECIMAL(19,0))
                                  * CAST(vu AS DECIMAL(19,0)))
                               AS DOUBLE)
                          - CAST(SUM(CAST(vu AS DECIMAL(18,0)))
                                 AS DOUBLE)
                            * SUM(CAST(vu AS DECIMAL(18,0)))
                            / count(*))
                         / count(*)) / 1e6, 6) AS std
       FROM e GROUP BY dim ORDER BY dim""",
    doc="feature-wise embedding statistics (per-DIMENSION mean/std/"
        "range -- the normalization table a feature store keeps; "
        "x63 audits per-ROW norms, this audits per-COLUMN "
        "distributions): values quantize by IEEE-exact floor into "
        "integer micro-units (no round() -- the x94 no-rounding-mode "
        "rule), position and value co-explode once, and the moment "
        "sums accumulate in DECIMAL -- float never sums across rows, "
        "so mean and std are partition-order independent and "
        "engine-identical. 64 output rows from one generator pass + "
        "one partial-agg groupBy",
)
def x228_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
            )
        ).alias("dim", "vu")
    )
    n = F.count(F.lit(1))
    s = F.sum(F.col("vu").cast("decimal(18,0)")).cast("double")
    s2 = F.sum(
        F.col("vu").cast("decimal(19,0)") * F.col("vu").cast("decimal(19,0)")
    ).cast("double")
    return (
        e.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            n.cast("long").alias("n"),
            F.min("vu").cast("long").alias("min_u"),
            F.max("vu").cast("long").alias("max_u"),
            F.round(s / (F.lit(1e6) * n), 6).alias("mean"),
            F.round(
                F.sqrt((s2 - s * F.sum(F.col("vu").cast("decimal(18,0)"))
                        .cast("double") / n) / n)
                / F.lit(1e6),
                6,
            ).alias("std"),
        )
        .orderBy("dim")
    )


@register(
    "x229_jl_projection",
    """WITH q AS (
         SELECT vec_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(floor(x / (list_max(
                         list_transform(CAST(embedding AS DOUBLE[]),
                                        y -> abs(y))) / 127.0) + 0.5)
                       AS BIGINT)) AS qv
         FROM embeddings
         WHERE list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       y -> abs(y))) > 0
       ), ex AS (
         SELECT vec_id,
                unnest(range(0, len(qv))) AS i,
                unnest(qv) AS qi
         FROM q
       ), proj AS (
         SELECT vec_id, j.j,
                CAST(SUM(qi * (CASE WHEN (i * 31 + j.j * 17) % 2 = 0
                                    THEN 1 ELSE -1 END)) AS BIGINT) AS p
         FROM ex, (SELECT unnest(range(0, 16)) AS j) j
         GROUP BY 1, 2
       ), norms AS (
         SELECT ex.vec_id,
                CAST(SUM(qi * qi) AS BIGINT) AS nq
         FROM ex GROUP BY 1
       ), pn AS (
         SELECT proj.vec_id, CAST(SUM(p * p) AS BIGINT) AS np
         FROM proj GROUP BY 1
       )
       SELECT CAST(floor(10.0 * sqrt(CAST(np AS DOUBLE) / 16.0)
                         / sqrt(CAST(nq AS DOUBLE))) AS BIGINT)
                  AS ratio_decibucket,
              CAST(count(*) AS BIGINT) AS n_vectors
       FROM pn JOIN norms USING (vec_id)
       WHERE nq > 0
       GROUP BY 1 ORDER BY 1""",
    doc="Johnson-Lindenstrauss random projection 64 -> 16 dims with a "
        "norm-preservation audit (the cheap-ANN trick: project, "
        "bucket, refine -- x08 uses hyperplane SIGNS, this keeps "
        "MAGNITUDES): vectors first quantize by x94's exact int8 "
        "floor formula so every dot product is INTEGER arithmetic, "
        "the +-1 plane matrix is a shared arithmetic parity rule "
        "((i*31 + j*17) mod 2 -- both engines compute it, no literal "
        "shipping), and the norm-ratio histogram shows the "
        "sqrt(1/16)-scaled projections concentrating around 1. "
        "Spark side is one narrow HOF pipeline per row; the oracle "
        "states the same algebra relationally via co-unnest",
)
def x229_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(ev, lambda x: F.abs(x)))
    q = (
        emb.select(F.col("vec_id"), ev.alias("e"), maxabs.alias("m"))
        .filter(F.col("m") > 0)
        .select(
            "vec_id",
            F.transform(
                F.col("e"),
                lambda x: F.floor(
                    x / (F.col("m") / F.lit(127.0)) + F.lit(0.5)
                ).cast("long"),
            ).alias("qv"),
        )
    )
    qv = F.col("qv")
    # p_j = sum_i qv[i] * sign(i, j); sign = parity of (i*31 + j*17)
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: F.aggregate(
            F.zip_with(
                qv,
                F.transform(
                    F.sequence(F.lit(0), F.size(qv) - 1),
                    lambda i: F.when(
                        (i * 31 + j * 17) % 2 == 0, F.lit(1)
                    ).otherwise(F.lit(-1)),
                ),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    norms = q.select(
        "vec_id",
        F.aggregate(
            qv, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("nq"),
        F.aggregate(
            proj,
            F.lit(0).cast("long"),
            lambda acc, p: acc + p * p,
        ).alias("np"),
    ).filter(F.col("nq") > 0)
    ratio = F.sqrt(F.col("np").cast("double") / 16.0) / F.sqrt(
        F.col("nq").cast("double")
    )
    return (
        norms.groupBy(
            F.floor(F.lit(10.0) * ratio).cast("long").alias(
                "ratio_decibucket"
            )
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("ratio_decibucket")
    )


@register(
    "x230_heldout_perplexity",
    """WITH split AS (
         SELECT doc_id, lower(text) AS t,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 10 < 8 AS is_train
         FROM documents
       ), tok AS (
         SELECT doc_id, is_train,
                unnest(string_split(t, ' ')) AS w,
                unnest(range(1, len(string_split(t, ' ')) + 1)) AS pos
         FROM split
       ), big AS (
         SELECT a.doc_id, a.is_train, a.w AS w1, b.w AS w2
         FROM tok a JOIN tok b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       ), c2 AS (
         SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
         FROM big WHERE is_train GROUP BY 1, 2
       ), c1 AS (
         SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
       ), vv AS (
         SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM c2
       ), held AS (
         SELECT b.w1, b.w2 FROM big b WHERE NOT b.is_train
       ), scored AS (
         SELECT CAST(round(
                  ln((COALESCE(c2.c2, 0) + 1.0)
                     / (COALESCE(c1.c1, 0) + (SELECT v FROM vv))),
                  12) AS DECIMAL(28,12)) AS lp
         FROM held
         LEFT JOIN c2 ON held.w1 = c2.w1 AND held.w2 = c2.w2
         LEFT JOIN c1 ON held.w1 = c1.w1
       )
       SELECT CAST(count(*) AS BIGINT) AS n_bigrams,
              ROUND(CAST(-SUM(lp) AS DOUBLE) / count(*), 6)
                  AS avg_nll
       FROM scored""",
    doc="held-out language-model evaluation -- the train/test "
        "separation x52's self-scored logprob lacks (a model scored "
        "on its own training data can only flatter itself): an 80/20 "
        "md5-bucket doc split (x18's deterministic assignment), "
        "add-one-smoothed bigram model FROM TRAIN ONLY (context "
        "counts derived from the bigram table so conditionals "
        "normalize exactly; unseen contexts fall back to the uniform "
        "1/V floor), held-out bigrams score through two left joins, "
        "and per-token log-losses round to 12 dp then sum in "
        "DECIMAL(28,12) -- the x37/x88 determinism recipe, no float "
        "accumulation. One number out: held-out cross-entropy",
)
def x230_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_train = (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long"),
            F.lit(10),
        )
        < 8
    )
    tk = docs.select(
        "doc_id",
        is_train.alias("is_train"),
        _toks("text").alias("toks"),
    )
    big = tk.select(
        "is_train",
        F.explode(
            F.filter(
                F.zip_with(
                    F.col("toks"),
                    F.slice(
                        F.concat(
                            F.col("toks"), F.array(F.lit(None))
                        ),
                        2,
                        F.size("toks"),
                    ),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                ),
                lambda s: s["w2"].isNotNull(),
            )
        ).alias("bg"),
    ).select("is_train", "bg.w1", "bg.w2")
    c2 = (
        big.filter(F.col("is_train"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vv = c2.agg(F.countDistinct("w2").cast("long").alias("v"))
    held = big.filter(~F.col("is_train")).select("w1", "w2")
    scored = (
        held.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vv))
        .select(
            F.round(
                F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                ),
                12,
            )
            .cast("decimal(28,12)")
            .alias("lp")
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            (-F.sum("lp")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_nll"),
    )


@register(
    "x231_pipe_syntax",
    """SELECT o_orderpriority,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    / 100.0, 2) AS revenue
       FROM orders
       WHERE o_orderstatus = 'O'
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""",
    doc="SQL PIPE syntax (Spark 4's |> operator chain -- queries read "
        "top-to-bottom in execution order, the composability fix "
        "GoogleSQL proposed and Spark adopted): FROM |> WHERE |> "
        "EXTEND |> AGGREGATE ... GROUP BY |> ORDER BY, submitted "
        "verbatim. The parser lowers pipes to exactly the relational "
        "plan the classic form produces (the oracle IS the classic "
        "form), so the surface is free -- same Catalyst plan, same "
        "pushdown, same codegen; exact integer cents keep the "
        "aggregate order-independent",
)
def x231_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE CAST(count(*) AS BIGINT) AS n_orders,
                     ROUND(SUM(cents) / 100.0, 2) AS revenue
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


@register(
    "x232_ht_estimator",
    """WITH s AS (
         SELECT event_type,
                CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 10 = 0
                    AS in_sample
         FROM events
       )
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS true_n,
              CAST(10 * SUM(CASE WHEN in_sample THEN 1 ELSE 0 END)
                   AS BIGINT) AS est_n,
              ROUND(abs(10.0 * SUM(CASE WHEN in_sample THEN 1 ELSE 0 END)
                        - count(*)) / count(*), 4) AS rel_err
       FROM s GROUP BY 1 ORDER BY 1""",
    doc="Horvitz-Thompson estimation QA: a deterministic 10% "
        "md5-bucket sample (x18's assignment -- reproducible, "
        "join-stable, unlike TABLESAMPLE) inflates by the inverse "
        "inclusion probability and the entry reports estimate vs "
        "truth per type -- the calibration table that justifies "
        "running the NEXT query on the sample instead of the corpus "
        "(at 100 TB, the 10x-90x cost saving is only defensible "
        "with this error sheet next to it). Exact integer counts; "
        "one division per row at the end",
)
def x232_ht_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    in_sample = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.col("event_id").cast("string")), 1, 8
                ),
                16,
                10,
            ).cast("long"),
            F.lit(10),
        )
        == 0
    )
    s = ev.select("event_type", in_sample.alias("in_sample"))
    n_s = F.sum(F.when(F.col("in_sample"), 1).otherwise(0))
    cnt = F.count(F.lit(1))
    return (
        s.groupBy("event_type")
        .agg(
            cnt.cast("long").alias("true_n"),
            (F.lit(10) * n_s).cast("long").alias("est_n"),
            F.round(
                F.abs(F.lit(10.0) * n_s - cnt) / cnt, 4
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


@register(
    "x233_stream_multibatch",
    """WITH b AS (
         SELECT user_id % 4 AS bucket, CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1
       )
       SELECT CAST(count(*) AS BIGINT) AS n_batches,
              CAST(SUM(n) AS BIGINT) AS total_rows,
              string_agg(CAST(n AS VARCHAR), '|' ORDER BY n, bucket)
                  AS batch_sizes
       FROM b""",
    doc="bounded-backlog micro-batch pacing: the corpus lands as four "
        "single-partition files, a file-source stream with "
        "maxFilesPerTrigger=1 under Trigger.AvailableNow drains them "
        "as FOUR paced micro-batches (the backpressure contract that "
        "keeps a 100 TB backlog from entering one giant batch when a "
        "stream restarts), and a foreachBatch sink records each "
        "batch's row count -- batch count, total, and the sorted "
        "size multiset all hash against the per-file oracle; a "
        "single-batch drain or a skipped file flips them. The "
        "order-insensitive serialization absorbs nondeterministic "
        "file pickup order",
)
def x233_stream_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    counts: list[int] = []
    with (
        tempfile.TemporaryDirectory(
            prefix="x233_files_", ignore_cleanup_errors=True
        ) as tmp,
        tempfile.TemporaryDirectory(
            prefix="x233_ckpt_", ignore_cleanup_errors=True
        ) as ckpt,
    ):
        for b in range(4):
            (
                ev.filter(F.col("user_id") % 4 == b)
                .coalesce(1)
                .write.mode("append")
                .parquet(tmp)
            )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )

        def sink(batch_df, batch_id):
            n = batch_df.count()
            if n:
                counts.append(n)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("x233 stream drain timed out")
        out = spark.createDataFrame(
            [
                (
                    len(counts),
                    sum(counts),
                    "|".join(str(c) for c in sorted(counts)),
                )
            ],
            "n_batches BIGINT, total_rows BIGINT, batch_sizes STRING",
        ).localCheckpoint()
    return out


@register(
    "x234_seq_predictability",
    """WITH s AS (
         SELECT user_id, event_type AS nxt,
                lag(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS p1,
                lag(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS p2
         FROM events
       ), tri AS (
         SELECT p2, p1, nxt, CAST(count(*) AS BIGINT) AS c
         FROM s WHERE p2 IS NOT NULL GROUP BY 1, 2, 3
       ), ctx AS (
         SELECT p2, p1, CAST(SUM(c) AS BIGINT) AS tot
         FROM tri GROUP BY 1, 2
       ), bi AS (
         SELECT p1, nxt, CAST(count(*) AS BIGINT) AS c
         FROM s WHERE p1 IS NOT NULL GROUP BY 1, 2
       ), bctx AS (
         SELECT p1, CAST(SUM(c) AS BIGINT) AS tot FROM bi GROUP BY 1
       ), h3 AS (
         SELECT CAST(SUM(tri.c) AS BIGINT) AS n,
                SUM(tri.c * CAST(round(ln(CAST(tri.c AS DOUBLE)
                                          / ctx.tot), 12)
                                 AS DECIMAL(28,12))) AS s
         FROM tri JOIN ctx USING (p2, p1)
       ), h2 AS (
         SELECT CAST(SUM(bi.c) AS BIGINT) AS n,
                SUM(bi.c * CAST(round(ln(CAST(bi.c AS DOUBLE)
                                         / bctx.tot), 12)
                                AS DECIMAL(28,12))) AS s
         FROM bi JOIN bctx USING (p1)
       )
       SELECT h3.n AS n_trigrams,
              ROUND(CAST(-h2.s AS DOUBLE) / h2.n, 6) AS h_given_1,
              ROUND(CAST(-h3.s AS DOUBLE) / h3.n, 6) AS h_given_2,
              ROUND(CAST(-h2.s AS DOUBLE) / h2.n
                    - CAST(-h3.s AS DOUBLE) / h3.n, 6)
                  AS predictability_gain
       FROM h3, h2""",
    doc="behavioral predictability: conditional entropy of the next "
        "event given one vs two steps of history (how much does a "
        "longer context actually buy a sequence model -- x96/x107 "
        "count the transitions, this prices them in nats): lag "
        "windows share one user-key shuffle, trigram/bigram count "
        "tables reduce to context-cardinality, and each entropy term "
        "is count x round(ln(c/tot), 12) accumulated in "
        "DECIMAL(28,12) -- the x37/x88 recipe, integer-weighted so "
        "no float ever sums across rows. The gain H(n|1) - H(n|2) "
        ">= 0 is the information a second-order model captures",
)
def x234_seq_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("nxt"),
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    tri = (
        s.filter(F.col("p2").isNotNull())
        .groupBy("p2", "p1", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ctx = tri.groupBy("p2", "p1").agg(
        F.sum("c").cast("long").alias("tot")
    )
    bi = (
        s.filter(F.col("p1").isNotNull())
        .groupBy("p1", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bctx = bi.groupBy("p1").agg(F.sum("c").cast("long").alias("tot"))

    def entropy_sum(counts, totals, keys):
        term = (
            F.col("c")
            * F.round(
                F.log(F.col("c").cast("double") / F.col("tot")), 12
            ).cast("decimal(28,12)")
        )
        return counts.join(F.broadcast(totals), keys).agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(term).alias("s"),
        )

    h3 = entropy_sum(tri, ctx, ["p2", "p1"]).select(
        F.col("n").alias("n3"), F.col("s").alias("s3")
    )
    h2 = entropy_sum(bi, bctx, ["p1"]).select(
        F.col("n").alias("n2"), F.col("s").alias("s2")
    )
    g1 = (-F.col("s2")).cast("double") / F.col("n2")
    g2 = (-F.col("s3")).cast("double") / F.col("n3")
    return h3.crossJoin(F.broadcast(h2)).select(
        F.col("n3").alias("n_trigrams"),
        F.round(g1, 6).alias("h_given_1"),
        F.round(g2, 6).alias("h_given_2"),
        F.round(g1 - g2, 6).alias("predictability_gain"),
    )


@register(
    "x235_join_hints",
    """SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_orders,
              ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))
                         AS DOUBLE), 2) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY 1 ORDER BY 1""",
    doc="the JOIN STRATEGY HINT surface: the same rollup forced "
        "through a SHUFFLE_HASH hint -- the escape hatch when the "
        "planner's default (broadcast under threshold, else "
        "sort-merge) is wrong for a workload the operator knows "
        "better (x104's PageRank refuses broadcast with exactly this "
        "hint; a hash join skips both sort phases when one side fits "
        "a task's memory). The hint changes the PHYSICAL strategy "
        "only -- the hash gate proves the result identical to the "
        "unhinted oracle, and the plan gate in tests/test_plans.py "
        "proves a ShuffledHashJoin was actually chosen",
)
def x235_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = orders.join(
        customer.hint("shuffle_hash"),
        orders.o_custkey == customer.c_custkey,
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "x236_bag_difference",
    """WITH c AS (
         SELECT source, md5(text) AS h, CAST(count(*) AS BIGINT) AS c
         FROM documents GROUP BY 1, 2
       )
       SELECT source,
              CAST(SUM(c - 1) AS BIGINT) AS n_dup_copies,
              CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_groups
       FROM c GROUP BY source ORDER BY source""",
    doc="EXCEPT ALL -- bag semantics where x202 proved set semantics: "
        "subtracting the DISTINCT projection from the full multiset "
        "leaves exactly the redundant copies (c-1 per duplicate "
        "group), the rows a dedup pass would delete -- as an "
        "operator expression, not a count formula; Spark plans "
        "exceptAll as a counted anti-form that never materializes "
        "pairs. The per-source redundancy report is the x60 dup-rate "
        "readout derived through the set-operator algebra instead "
        "of a groupBy-having; oracle states the c-1 identity "
        "directly",
)
def x236_bag_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select("source", F.md5("text").alias("h"))
    excess = a.exceptAll(a.distinct())
    dup_copies = excess.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_copies")
    )
    dup_groups = (
        excess.distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_groups"))
    )
    base = docs.select("source").distinct()
    return (
        base.join(F.broadcast(dup_copies), "source", "left")
        .join(F.broadcast(dup_groups), "source", "left")
        .select(
            "source",
            F.coalesce("n_dup_copies", F.lit(0))
            .cast("long")
            .alias("n_dup_copies"),
            F.coalesce("n_dup_groups", F.lit(0))
            .cast("long")
            .alias("n_dup_groups"),
        )
        .orderBy("source")
    )


@register(
    "x237_filter_clause",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_all,
              CAST(count(*) FILTER (WHERE value > 50) AS BIGINT)
                  AS n_high,
              CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT)
                  AS n_null,
              CAST(SUM(CAST(round(value * 100) AS BIGINT))
                   FILTER (WHERE value > 50) AS BIGINT)
                  AS high_cents
       FROM events GROUP BY event_type ORDER BY event_type""",
    doc="the aggregate FILTER clause -- per-aggregate predicates in "
        "ONE pass over the data (the standard-SQL form of the "
        "CASE-WHEN-inside-SUM idiom used across this repo; both "
        "engines parse it natively, so the text ships verbatim): "
        "four differently-filtered aggregates share one scan and one "
        "partial/final HashAggregate pair -- at 100 TB the "
        "alternative UNION of filtered subqueries would re-scan the "
        "fact table per metric. Exact integer cents under the "
        "filtered SUM",
)
def x237_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_all,
               CAST(count(*) FILTER (WHERE value > 50) AS BIGINT)
                   AS n_high,
               CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT)
                   AS n_null,
               CAST(SUM(CAST(round(value * 100) AS BIGINT))
                    FILTER (WHERE value > 50) AS BIGINT)
                   AS high_cents
        FROM events GROUP BY event_type ORDER BY event_type
        """
    )


@register(
    "x238_values_dim",
    """SELECT z.zone,
              CAST(count(*) AS BIGINT) AS n_customers,
              CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
                   AS BIGINT) AS balance_cents
       FROM customer
       JOIN (VALUES (0, 'Z0'), (1, 'Z1'), (2, 'Z2'), (3, 'Z3'),
                    (4, 'Z4')) AS z(nk, zone)
         ON c_nationkey % 5 = z.nk
       GROUP BY z.zone ORDER BY z.zone""",
    doc="inline VALUES dimension -- the zero-infrastructure lookup "
        "table (a mapping that lives in the query text instead of a "
        "file or catalog table; the pattern for enum decodes, region "
        "groupings, config constants): both engines accept the same "
        "VALUES(...) AS t(cols) derived-table syntax, Spark folds "
        "the literal relation into a LocalRelation and broadcasts "
        "it by construction -- a join against it can never shuffle "
        "the fact side on the dim's account. Exact cents under the "
        "rollup",
)
def x238_values_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    return spark.sql(
        """
        SELECT z.zone,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
                    AS BIGINT) AS balance_cents
        FROM customer
        JOIN (VALUES (0, 'Z0'), (1, 'Z1'), (2, 'Z2'), (3, 'Z3'),
                     (4, 'Z4')) AS z(nk, zone)
          ON c_nationkey % 5 = z.nk
        GROUP BY z.zone ORDER BY z.zone
        """
    )


@register(
    "x239_recursive_tree_depth",
    """WITH RECURSIVE w AS (
         SELECT doc_id AS id, doc_id AS cur, 0 AS depth
         FROM documents WHERE doc_id >= 1
         UNION ALL
         SELECT id, cur // 2, depth + 1 FROM w WHERE cur > 1
       )
       SELECT CAST(depth AS BIGINT) AS depth,
              CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(SUM(id) AS BIGINT) AS id_checksum
       FROM w WHERE cur = 1
       GROUP BY 1 ORDER BY 1""",
    doc="recursive CTE over a DATA-SIZED hierarchy -- each doc walks "
        "the implicit binary tree id -> id/2 to the root (q42 "
        "recurses over a generator; this recurses over corpus rows, "
        "the org-chart/BOM/thread-ancestry shape): every iteration "
        "is one set-based step over the surviving frontier (rows "
        "halve each round, O(log max_id) rounds -- the same "
        "fixed-point shape as x24's label propagation, driven by "
        "the engine's own WITH RECURSIVE execution under the pinned "
        "cteRecursionLevelLimit), and the depth histogram + "
        "id-checksum pin every walk's termination point. Spark and "
        "DuckDB differ only in integer-division spelling (div vs //)",
)
def x239_recursive_tree_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(
        """
        WITH RECURSIVE w AS (
          SELECT doc_id AS id, doc_id AS cur, 0 AS depth
          FROM documents WHERE doc_id >= 1
          UNION ALL
          SELECT id, cur div 2, depth + 1 FROM w WHERE cur > 1
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(SUM(id) AS BIGINT) AS id_checksum
        FROM w WHERE cur = 1
        GROUP BY 1 ORDER BY 1
        """
    )


@register(
    "x240_debounce",
    """WITH s AS (
         SELECT event_type,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                  PARTITION BY user_id, event_type
                  ORDER BY ts, event_id) AS gap_us
         FROM events
       )
       SELECT event_type,
              CAST(count(*) AS BIGINT) AS n_total,
              CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1000000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(SUM(CASE WHEN gap_us IS NOT NULL
                             AND gap_us <= 1000000
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       FROM s GROUP BY 1 ORDER BY 1""",
    doc="telemetry debounce: collapse same-user same-type events "
        "arriving within one second of the previous one (the "
        "double-click / retry-storm filter that runs before any "
        "behavioral analysis; x95 dedups identical CONTENT, this "
        "dedups identical INTENT in time): one lag over the "
        "(user, type)-key window -- shared shuffle with nothing "
        "else needed -- and exact integer microsecond gaps decide "
        "keep vs drop; the per-type report sizes how much of the "
        "event stream is mechanical repetition. Chained bursts "
        "keep their first event per >1s gap by the lag-vs-anchor "
        "definition, identical in both engines",
)
def x240_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    s = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    kept = F.col("gap_us").isNull() | (F.col("gap_us") > 1_000_000)
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
        .orderBy("event_type")
    )


@register(
    "x241_revenue_bridge",
    """WITH y AS (
         SELECT c_mktsegment,
                year(CAST(o_orderdate AS DATE)) AS yr,
                CAST(count(*) AS BIGINT) AS vol,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
         GROUP BY 1, 2
       ), p AS (
         SELECT c_mktsegment,
                MAX(CASE WHEN yr = 1995 THEN vol END) AS vol0,
                MAX(CASE WHEN yr = 1995 THEN cents END) AS r0,
                MAX(CASE WHEN yr = 1996 THEN vol END) AS vol1,
                MAX(CASE WHEN yr = 1996 THEN cents END) AS r1
         FROM y GROUP BY 1
       )
       SELECT c_mktsegment,
              ROUND((r1 - r0) / 100.0, 2) AS revenue_delta,
              ROUND((vol1 - vol0) * (CAST(r0 AS DOUBLE) / vol0)
                    / 100.0, 2) AS volume_effect,
              ROUND((r1 - r0) / 100.0
                    - (vol1 - vol0) * (CAST(r0 AS DOUBLE) / vol0)
                      / 100.0, 2) AS price_effect
       FROM p ORDER BY c_mktsegment""",
    doc="revenue bridge (price/volume decomposition): the YoY revenue "
        "delta per segment splits into 'more orders at last year's "
        "average ticket' (volume effect) and the residual ticket-"
        "size change (price effect) -- the finance-review "
        "decomposition x81's growth rates can't explain. One "
        "broadcast-dim join + one (segment, year) partial-agg "
        "groupBy reduce the corpus; the two-year pivot is a "
        "MAX-CASE over a segment-cardinality table; arithmetic runs "
        "on exact integer cents with doubles only in the final "
        "three expressions -- identical order of operations on both "
        "engines",
)
def x241_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    yr = F.year(F.col("o_orderdate").cast("date"))
    y = (
        orders.filter(yr.isin(1995, 1996))
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", yr.alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("vol"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    p = y.groupBy("c_mktsegment").agg(
        F.max(F.when(F.col("yr") == 1995, F.col("vol"))).alias("vol0"),
        F.max(F.when(F.col("yr") == 1995, F.col("cents"))).alias("r0"),
        F.max(F.when(F.col("yr") == 1996, F.col("vol"))).alias("vol1"),
        F.max(F.when(F.col("yr") == 1996, F.col("cents"))).alias("r1"),
    )
    vol_eff = (
        (F.col("vol1") - F.col("vol0"))
        * (F.col("r0").cast("double") / F.col("vol0"))
        / F.lit(100.0)
    )
    delta = (F.col("r1") - F.col("r0")) / F.lit(100.0)
    return p.select(
        "c_mktsegment",
        F.round(delta, 2).alias("revenue_delta"),
        F.round(vol_eff, 2).alias("volume_effect"),
        F.round(delta - vol_eff, 2).alias("price_effect"),
    ).orderBy("c_mktsegment")


@register(
    "x242_map_hofs",
    """WITH g AS (
         SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
         FROM documents GROUP BY 1, 2
       ), t AS (
         SELECT source, CAST(SUM(cnt) AS BIGINT) AS total FROM g
         GROUP BY 1
       ), pm AS (
         SELECT g.source, g.lang,
                CAST((g.cnt * 1000) // t.total AS BIGINT) AS permille
         FROM g JOIN t USING (source)
       )
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_langs,
              CAST(SUM(CASE WHEN permille >= 50 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_major,
              '{' || COALESCE(string_agg(
                       '"' || lang || '":' || permille, ','
                       ORDER BY lang)
                       FILTER (WHERE permille >= 50), '')
                  || '}' AS majors
       FROM pm GROUP BY source ORDER BY source""",
    doc="MAP higher-order functions -- transform_values and map_filter "
        "operating on a real nested column (x196 builds the map; this "
        "entry COMPUTES on it without ever exploding back to rows): "
        "per-source language counts become a map, transform_values "
        "rescales every value to integer permille of the source total "
        "(exact -- integer division, no float shares), map_filter "
        "keeps the >=5% major languages, and the filtered map "
        "serializes canonically through the lang-sorted entry order. "
        "Row-local map algebra -- the nested-data path that avoids "
        "explode/groupBy round-trips at 100 TB",
)
def x242_map_hofs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    per_src = g.groupBy("source").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("lang", "cnt")))
        ).alias("m"),
        F.sum("cnt").cast("long").alias("total"),
    )
    pm = per_src.select(
        "source",
        # integer permille of the source total, computed in place on
        # the map values -- exact integer floor division
        F.transform_values(
            F.col("m"),
            lambda k, v: F.floor((v * 1000) / F.col("total")).cast(
                "long"
            ),
        ).alias("permille"),
    )
    majors = pm.select(
        "source",
        F.size("permille").cast("long").alias("n_langs"),
        F.map_filter(
            F.col("permille"), lambda k, v: v >= 50
        ).alias("majors_map"),
    )
    return majors.select(
        "source",
        "n_langs",
        F.size("majors_map").cast("long").alias("n_major"),
        F.to_json("majors_map").alias("majors"),
    ).orderBy("source")


@register(
    "x243_kcore",
    """WITH items AS MATERIALIZED (
         SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       ), p AS MATERIALIZED (
         SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
         FROM items a JOIN items b USING (l_orderkey)
         WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2
       ), e0 AS MATERIALIZED (SELECT u, v FROM p WHERE n >= 2),
       d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
              GROUP BY 1),
       k1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 2),
       e1 AS MATERIALIZED (SELECT u, v FROM e0
              WHERE u IN (SELECT node FROM k1)
                AND v IN (SELECT node FROM k1)),
       d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
              GROUP BY 1),
       k2 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= 2),
       e2 AS MATERIALIZED (SELECT u, v FROM e1
              WHERE u IN (SELECT node FROM k2)
                AND v IN (SELECT node FROM k2)),
       d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
              GROUP BY 1),
       k3 AS MATERIALIZED (SELECT node FROM d3 WHERE deg >= 2),
       e3 AS MATERIALIZED (SELECT u, v FROM e2
              WHERE u IN (SELECT node FROM k3)
                AND v IN (SELECT node FROM k3)),
       d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
              GROUP BY 1),
       k4 AS MATERIALIZED (SELECT node FROM d4 WHERE deg >= 2),
       e4 AS MATERIALIZED (SELECT u, v FROM e3
              WHERE u IN (SELECT node FROM k4)
                AND v IN (SELECT node FROM k4))
       SELECT 1 AS round,
              (SELECT CAST(count(*) AS BIGINT) FROM k1) AS n_nodes,
              (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges
       UNION ALL SELECT 2, (SELECT count(*) FROM k2),
                           (SELECT count(*) FROM e2)
       UNION ALL SELECT 3, (SELECT count(*) FROM k3),
                           (SELECT count(*) FROM e3)
       UNION ALL SELECT 4, (SELECT count(*) FROM k4),
                           (SELECT count(*) FROM e4)
       ORDER BY round""",
    doc="2-core peeling on the support>=2 co-purchase graph -- the "
        "degeneracy pruning that strips hairball fringe (degree-1 "
        "tendrils) before community/triangle analysis, completing "
        "the graph suite (x24 components, x68 degrees, x104 ranks, "
        "x150 BFS, x210 triangles): four FIXED peeling rounds, each "
        "one degree count (edge-sized union + groupBy) and two "
        "LEFT SEMI joins back onto the shrinking edge list -- rows "
        "only ever decrease, the same monotone-frontier shape as "
        "BFS, and the per-round (nodes, edges) trajectory is the "
        "output so convergence is VISIBLE in the hash. Fixed depth "
        "keeps lineage bounded and the oracle replayable as "
        "unrolled CTEs (x104's contract)",
)
def x243_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = graph.support2_edges(load_table(spark, sf_dir, "lineitem"))
    out_rows = []
    for rnd in range(1, 5):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= 2).select("node")
        e = (
            e.join(
                keep.select(F.col("node").alias("u")), "u", "leftsemi"
            )
            .join(
                keep.select(F.col("node").alias("v")), "v", "leftsemi"
            )
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        nk = keep.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        out_rows.append(
            nk.crossJoin(F.broadcast(ne)).select(
                F.lit(rnd).cast("long").alias("round"),
                "n_nodes",
                "n_edges",
            )
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


@register(
    "x244_dedup_cascade",
    """WITH s0 AS (SELECT doc_id, text FROM documents),
       e AS (
         SELECT md5(lower(text)) AS h, MIN(doc_id) AS keep_id
         FROM s0 GROUP BY 1
       ), s1 AS (
         SELECT s0.doc_id, s0.text FROM s0
         JOIN e ON s0.doc_id = e.keep_id
       ), f AS (
         SELECT md5(array_to_string(list_sort(list_distinct(
                  string_split(lower(text), ' '))), ' ')) AS fp,
                MIN(doc_id) AS keep_id
         FROM s1 GROUP BY 1
       ), s2 AS (
         SELECT s1.doc_id, s1.text FROM s1
         JOIN f ON s1.doc_id = f.keep_id
       ), sh AS (SELECT doc_id, concat(CASE WHEN s0 >= 0 THEN '1' ELSE '0' END, CASE WHEN s1 >= 0 THEN '1' ELSE '0' END, CASE WHEN s2 >= 0 THEN '1' ELSE '0' END, CASE WHEN s3 >= 0 THEN '1' ELSE '0' END, CASE WHEN s4 >= 0 THEN '1' ELSE '0' END, CASE WHEN s5 >= 0 THEN '1' ELSE '0' END, CASE WHEN s6 >= 0 THEN '1' ELSE '0' END, CASE WHEN s7 >= 0 THEN '1' ELSE '0' END, CASE WHEN s8 >= 0 THEN '1' ELSE '0' END, CASE WHEN s9 >= 0 THEN '1' ELSE '0' END, CASE WHEN s10 >= 0 THEN '1' ELSE '0' END, CASE WHEN s11 >= 0 THEN '1' ELSE '0' END, CASE WHEN s12 >= 0 THEN '1' ELSE '0' END, CASE WHEN s13 >= 0 THEN '1' ELSE '0' END, CASE WHEN s14 >= 0 THEN '1' ELSE '0' END, CASE WHEN s15 >= 0 THEN '1' ELSE '0' END, CASE WHEN s16 >= 0 THEN '1' ELSE '0' END, CASE WHEN s17 >= 0 THEN '1' ELSE '0' END, CASE WHEN s18 >= 0 THEN '1' ELSE '0' END, CASE WHEN s19 >= 0 THEN '1' ELSE '0' END, CASE WHEN s20 >= 0 THEN '1' ELSE '0' END, CASE WHEN s21 >= 0 THEN '1' ELSE '0' END, CASE WHEN s22 >= 0 THEN '1' ELSE '0' END, CASE WHEN s23 >= 0 THEN '1' ELSE '0' END, CASE WHEN s24 >= 0 THEN '1' ELSE '0' END, CASE WHEN s25 >= 0 THEN '1' ELSE '0' END, CASE WHEN s26 >= 0 THEN '1' ELSE '0' END, CASE WHEN s27 >= 0 THEN '1' ELSE '0' END, CASE WHEN s28 >= 0 THEN '1' ELSE '0' END, CASE WHEN s29 >= 0 THEN '1' ELSE '0' END, CASE WHEN s30 >= 0 THEN '1' ELSE '0' END, CASE WHEN s31 >= 0 THEN '1' ELSE '0' END, CASE WHEN s32 >= 0 THEN '1' ELSE '0' END, CASE WHEN s33 >= 0 THEN '1' ELSE '0' END, CASE WHEN s34 >= 0 THEN '1' ELSE '0' END, CASE WHEN s35 >= 0 THEN '1' ELSE '0' END, CASE WHEN s36 >= 0 THEN '1' ELSE '0' END, CASE WHEN s37 >= 0 THEN '1' ELSE '0' END, CASE WHEN s38 >= 0 THEN '1' ELSE '0' END, CASE WHEN s39 >= 0 THEN '1' ELSE '0' END, CASE WHEN s40 >= 0 THEN '1' ELSE '0' END, CASE WHEN s41 >= 0 THEN '1' ELSE '0' END, CASE WHEN s42 >= 0 THEN '1' ELSE '0' END, CASE WHEN s43 >= 0 THEN '1' ELSE '0' END, CASE WHEN s44 >= 0 THEN '1' ELSE '0' END, CASE WHEN s45 >= 0 THEN '1' ELSE '0' END, CASE WHEN s46 >= 0 THEN '1' ELSE '0' END, CASE WHEN s47 >= 0 THEN '1' ELSE '0' END, CASE WHEN s48 >= 0 THEN '1' ELSE '0' END, CASE WHEN s49 >= 0 THEN '1' ELSE '0' END, CASE WHEN s50 >= 0 THEN '1' ELSE '0' END, CASE WHEN s51 >= 0 THEN '1' ELSE '0' END, CASE WHEN s52 >= 0 THEN '1' ELSE '0' END, CASE WHEN s53 >= 0 THEN '1' ELSE '0' END, CASE WHEN s54 >= 0 THEN '1' ELSE '0' END, CASE WHEN s55 >= 0 THEN '1' ELSE '0' END, CASE WHEN s56 >= 0 THEN '1' ELSE '0' END, CASE WHEN s57 >= 0 THEN '1' ELSE '0' END, CASE WHEN s58 >= 0 THEN '1' ELSE '0' END, CASE WHEN s59 >= 0 THEN '1' ELSE '0' END, CASE WHEN s60 >= 0 THEN '1' ELSE '0' END, CASE WHEN s61 >= 0 THEN '1' ELSE '0' END, CASE WHEN s62 >= 0 THEN '1' ELSE '0' END, CASE WHEN s63 >= 0 THEN '1' ELSE '0' END) AS simhash FROM (SELECT doc_id, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s0, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s1, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s2, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s3, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s4, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s5, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s6, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s7, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s8, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s9, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s10, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s11, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s12, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s13, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s14, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s15, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s16, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s17, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s18, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s19, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s20, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s21, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s22, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s23, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s24, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s25, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s26, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s27, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s28, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s29, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s30, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s31, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 9, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s32, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 9, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s33, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 9, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s34, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 9, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s35, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 10, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s36, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 10, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s37, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 10, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s38, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 10, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s39, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 11, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s40, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 11, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s41, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 11, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s42, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 11, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s43, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 12, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s44, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 12, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s45, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 12, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s46, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 12, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s47, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 13, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s48, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 13, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s49, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 13, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s50, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 13, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s51, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 14, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s52, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 14, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s53, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 14, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s54, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 14, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s55, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 15, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s56, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 15, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s57, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 15, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s58, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 15, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s59, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 16, 1)) - 1) IN (8, 9, 10, 11, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s60, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 16, 1)) - 1) IN (4, 5, 6, 7, 12, 13, 14, 15) THEN 1 ELSE -1 END) AS s61, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 16, 1)) - 1) IN (2, 3, 6, 7, 10, 11, 14, 15) THEN 1 ELSE -1 END) AS s62, SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 16, 1)) - 1) IN (1, 3, 5, 7, 9, 11, 13, 15) THEN 1 ELSE -1 END) AS s63 FROM (SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok FROM s2) GROUP BY doc_id) ORDER BY doc_id),
       n0 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM s0),
       n1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM e),
       n2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM f),
       n3 AS (SELECT CAST(count(DISTINCT simhash) AS BIGINT) AS c
              FROM sh)
       SELECT '1_exact' AS stage,
              (SELECT c FROM n0) AS n_in,
              (SELECT c FROM n0) - (SELECT c FROM n1) AS n_removed,
              (SELECT c FROM n1) AS n_out
       UNION ALL
       SELECT '2_fingerprint', (SELECT c FROM n1),
              (SELECT c FROM n1) - (SELECT c FROM n2),
              (SELECT c FROM n2)
       UNION ALL
       SELECT '3_simhash', (SELECT c FROM n2),
              (SELECT c FROM n2) - (SELECT c FROM n3),
              (SELECT c FROM n3)
       ORDER BY stage""",
    doc="the curation CASCADE datasheet: exact -> fingerprint -> "
        "simhash dedup stages applied IN SEQUENCE, each only on the "
        "previous stage's survivors, reporting marginal removals per "
        "stage -- the diminishing-returns table that decides where a "
        "pipeline stops paying for more dedup (x23 composes a "
        "pipeline; this measures each stage's marginal yield; x120 "
        "summarizes one stage). Every stage is the verified x01/x02/"
        "x05 machinery -- hash-groupBy per stage, survivors via "
        "LEFT SEMI on keeper ids, never a pairwise join -- and the "
        "composed oracle re-derives all three stages in one chained "
        "CTE, so the CASCADE (not just its parts) is hash-checked",
)
def x244_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s0 = docs.select("doc_id", "text")
    e = s0.groupBy(F.md5(F.lower("text")).alias("h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    s1 = s0.join(
        e.select(F.col("keep_id").alias("doc_id")), "doc_id", "leftsemi"
    )
    f = dedup.fingerprint_dedup(s1, "doc_id", "text")
    s2 = s1.join(
        f.select(F.col("keep_id").alias("doc_id")), "doc_id", "leftsemi"
    )
    sh = dedup.simhash(s2)
    n0 = s0.agg(F.count(F.lit(1)).cast("long").alias("n0"))
    n1 = e.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2 = f.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    n3 = sh.agg(F.countDistinct("simhash").cast("long").alias("n3"))
    r = (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
    )
    return r.select(
        F.expr(
            "stack(3, "
            "'1_exact', n0, n0 - n1, n1, "
            "'2_fingerprint', n1, n1 - n2, n2, "
            "'3_simhash', n2, n2 - n3, n3) "
            "AS (stage, n_in, n_removed, n_out)"
        )
    ).orderBy("stage")


@register(
    "x245_pit_enrichment",
    """WITH p AS (SELECT DISTINCT user_id, ts FROM events
                  WHERE event_type = 'purchase'),
       iv AS (SELECT user_id, ts AS start_ts,
                     LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       AS end_ts,
                     CAST(LEAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts), 3) AS BIGINT)
                       AS tier
              FROM p),
       c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
       j AS (SELECT c.user_id, COALESCE(iv.tier, 0) AS tier
             FROM c LEFT JOIN iv
               ON iv.user_id = c.user_id AND c.ts >= iv.start_ts
              AND (iv.end_ts IS NULL OR c.ts < iv.end_ts))
       SELECT tier, CAST(count(*) AS BIGINT) AS n_clicks,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM j GROUP BY tier ORDER BY tier""",
    doc="point-in-time SCD2 CONSUMPTION -- x113 builds validity "
        "intervals, x29 as-of joins event-to-event; this is the "
        "feature-store read path: per-user loyalty-tier intervals "
        "derive from the purchase history (distinct purchase ts -> "
        "row_number tier capped at 3, lead() closes each interval), "
        "then every click is enriched with the tier VALID AT ITS "
        "TIMESTAMP via a user-keyed equi-join with the range "
        "predicate as the residual condition -- never a cross "
        "product, per-user interval lists are purchase-count "
        "bounded. Clicks before the first purchase left-join to "
        "tier 0 explicitly (the anti-leak default: no future tier "
        "bleeds backward). Intervals PARTITION each user's "
        "timeline, so every click matches at most one row -- the "
        "join cannot fan out",
)
def x245_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    iv = p.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        F.lead("ts").over(w).alias("end_ts"),
        F.least(F.row_number().over(w), F.lit(3))
        .cast("long")
        .alias("tier"),
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    j = c.join(
        iv,
        (c["user_id"] == iv["user_id"])
        & (c["ts"] >= iv["start_ts"])
        & (iv["end_ts"].isNull() | (c["ts"] < iv["end_ts"])),
        "left",
    ).select(c["user_id"], F.coalesce(iv["tier"], F.lit(0)).alias("tier"))
    return (
        j.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("tier")
    )


@register(
    "x246_l_diversity",
    """WITH g AS (SELECT lang, n_chars // 100 AS size_bucket,
                         CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(count(DISTINCT source) AS BIGINT) AS l
                  FROM documents GROUP BY 1, 2)
       SELECT l, CAST(count(*) AS BIGINT) AS n_groups,
              CAST(SUM(n_docs) AS BIGINT) AS n_docs
       FROM g GROUP BY l ORDER BY l""",
    doc="l-diversity audit -- the sensitive-attribute complement of "
        "x172's k-anonymity: within each quasi-identifier group "
        "(lang x n_chars-century), how many DISTINCT values of the "
        "sensitive column (source) coexist; groups with l = 1 leak "
        "the sensitive value by membership alone even when k is "
        "large. Two partial-agg groupBys (QI cells, then the "
        "l-histogram over the tiny cell table); count(DISTINCT) "
        "plans one Expand, no joins, nothing collects",
)
def x246_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "lang",
            F.expr("n_chars DIV 100").alias("size_bucket"),
            "source",
        )
        .groupBy("lang", "size_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("l"),
        )
    )
    return (
        g.groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
        .orderBy("l")
    )


@register(
    "x247_event_rle",
    """WITH o AS (SELECT user_id, event_type,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS rn_all,
                    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                      ORDER BY ts, event_id) AS rn_t
                  FROM events),
       runs AS (SELECT user_id, event_type, rn_all - rn_t AS grp,
                       CAST(count(*) AS BIGINT) AS run_len
                FROM o GROUP BY 1, 2, 3)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_runs,
              CAST(MAX(run_len) AS BIGINT) AS max_run,
              CAST(SUM(run_len) AS BIGINT) AS n_events,
              CAST(SUM(run_len) * 100 // count(*) AS BIGINT)
                AS avg_len_x100
       FROM runs GROUP BY event_type ORDER BY event_type""",
    doc="run-length encoding of per-user event streams -- the "
        "sequence-compression stat behind repetition audits (a bot "
        "emits 400-click runs, a human alternates): classic "
        "gaps-and-islands via the rn_all - rn_per_type difference, "
        "both row_numbers ride ONE user-key exchange (the user_id "
        "window plans first, the (user_id, event_type) window's "
        "clustering is satisfied by the existing partitioning -- "
        "subset rule, no second shuffle), runs collapse in a "
        "partial-agg groupBy, mean run length is integer-exact "
        "(x100 DIV, no float accumulation). (ts, event_id) makes "
        "the order total so island ids are deterministic",
)
def x247_event_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_t = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    o = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w_all).alias("rn_all"),
        F.row_number().over(w_t).alias("rn_t"),
    )
    runs = (
        o.select(
            "user_id",
            "event_type",
            (F.col("rn_all") - F.col("rn_t")).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
    )
    return (
        runs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run"),
            F.sum("run_len").cast("long").alias("n_events"),
            F.expr("CAST(SUM(run_len) * 100 DIV COUNT(*) AS BIGINT)")
            .alias("avg_len_x100"),
        )
        .orderBy("event_type")
    )
