"""Extension entries x248-x331: engine-semantics parity, sketches,
sessions/CDC, retrieval fusion and classical stats tests.

Split (round 7) from the former single-file queries/extensions.py
(31,988 lines) preserving registration order; see the package
__init__ for the import order that reproduces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...scale import pairs_within, rebalanced
from ...ops import dedup, graph, sampling, similarity, text
from ...ops.text import _toks
from .. import register
from .foundations import _STOP_EN, _X03_PAIRS_CTE, _shared_jaccard_pairs

@register(
    "x248_rounding_semantics",
    """WITH t AS (SELECT CAST(l_quantity AS BIGINT) AS n,
                    (CAST(l_quantity AS BIGINT) * 10 + 5) / 10.0 AS tie
                  FROM lineitem)
       SELECT n % 2 AS parity, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(SUM(CAST(round(tie, 0) AS BIGINT)) AS BIGINT)
                AS sum_half_up,
              CAST(SUM(CAST(round_even(tie, 0) AS BIGINT)) AS BIGINT)
                AS sum_half_even
       FROM t GROUP BY 1 ORDER BY parity""",
    doc="financial rounding-mode seam, pinned by construction: every "
        "row is an EXACT .5 tie (10n+5 over 10.0 is the exactly "
        "representable n + 0.5 for every fixture quantity), so "
        "HALF_UP (Spark round / DuckDB round, away-from-zero on "
        "positives) and HALF_EVEN (Spark bround / DuckDB round_even, "
        "banker's) are forced to disagree on every odd-parity... "
        "even-parity n -- and the per-parity sums prove exactly "
        "where: HALF_UP always rounds n+0.5 up, HALF_EVEN only when "
        "n is odd. The entry documents WHICH native function "
        "implements which mode in each engine -- the seam that "
        "silently shifts money in a migrated billing pipeline "
        "(SURVEY dialect-seams list)",
)
def x248_rounding_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_quantity").cast("long").alias("n"),
        (
            (F.col("l_quantity").cast("long") * 10 + 5) / F.lit(10.0)
        ).alias("tie"),
    )
    return (
        t.groupBy((F.col("n") % 2).alias("parity"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.round(F.col("tie"), 0).cast("long"))
            .cast("long")
            .alias("sum_half_up"),
            F.sum(F.bround(F.col("tie"), 0).cast("long"))
            .cast("long")
            .alias("sum_half_even"),
        )
        .orderBy("parity")
    )


@register(
    "x249_order_backlog",
    """WITH cl AS (SELECT l_orderkey, MAX(l_shipdate) AS close_d
                   FROM lineitem GROUP BY 1),
       oo AS (SELECT date_trunc('month', o.o_orderdate) AS om,
                     date_trunc('month', cl.close_d) AS cm
              FROM orders o
              LEFT JOIN cl ON o.o_orderkey = cl.l_orderkey),
       d AS (SELECT om AS m, CAST(count(*) AS BIGINT) AS opened,
                    CAST(0 AS BIGINT) AS closed
             FROM oo GROUP BY 1
             UNION ALL
             SELECT cm, CAST(0 AS BIGINT), CAST(count(*) AS BIGINT)
             FROM oo WHERE cm IS NOT NULL GROUP BY 1),
       cells AS (SELECT m, CAST(SUM(opened) AS BIGINT) AS opened,
                        CAST(SUM(closed) AS BIGINT) AS closed
                 FROM d GROUP BY m)
       SELECT CAST(m AS DATE) AS month, opened, closed,
              CAST(SUM(opened - closed) OVER (ORDER BY m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS backlog
       FROM cells ORDER BY month""",
    doc="open-order backlog time series -- the operations twin of "
        "x203's per-part stock ledger, at ORDER grain: each order "
        "contributes +1 at its order month and -1 at its LAST ship "
        "month (max l_shipdate per order); the orders-lineitem "
        "attach is the key-partitioned big-big SMJ (the 100 TB "
        "shape, x206's contract), everything after reduces to "
        "month-cardinality cells, so the running backlog window "
        "rides a bounded value-domain table (x81's contract) -- "
        "the single-partition sort costs ~nothing at any corpus "
        "size. Orders that never ship stay open forever via the "
        "LEFT join (no silent inner-join closure)",
)
def x249_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cl = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_d"))
    oo = o.join(
        cl, o["o_orderkey"] == cl["l_orderkey"], "left"
    ).select(
        F.date_trunc("month", "o_orderdate").alias("om"),
        F.date_trunc("month", "close_d").alias("cm"),
    )
    d = (
        oo.groupBy(F.col("om").alias("m"))
        .agg(F.count(F.lit(1)).cast("long").alias("opened"))
        .withColumn("closed", F.lit(0).cast("long"))
        .unionByName(
            oo.filter(F.col("cm").isNotNull())
            .groupBy(F.col("cm").alias("m"))
            .agg(F.count(F.lit(1)).cast("long").alias("closed"))
            .withColumn("opened", F.lit(0).cast("long"))
        )
    )
    cells = d.groupBy("m").agg(
        F.sum("opened").cast("long").alias("opened"),
        F.sum("closed").cast("long").alias("closed"),
    )
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cells.select(
        F.col("m").cast("date").alias("month"),
        "opened",
        "closed",
        F.sum(F.col("opened") - F.col("closed"))
        .over(w)
        .cast("long")
        .alias("backlog"),
    ).orderBy("month")


@register(
    "x250_schema_drift",
    """SELECT col, n0, d0, n1, d1,
              CAST(CASE WHEN ABS(d0 - d1) * 100 > 10 * GREATEST(d0, d1)
                   THEN 1 ELSE 0 END AS BIGINT) AS drifted
       FROM (
         SELECT col,
                CAST(count(CASE WHEN epoch = 0 THEN 1 END) AS BIGINT)
                  AS n0,
                CAST(count(DISTINCT CASE WHEN epoch = 0 THEN val END)
                  AS BIGINT) AS d0,
                CAST(count(CASE WHEN epoch = 1 THEN 1 END) AS BIGINT)
                  AS n1,
                CAST(count(DISTINCT CASE WHEN epoch = 1 THEN val END)
                  AS BIGINT) AS d1
         FROM (
           SELECT doc_id % 2 AS epoch, 'lang' AS col, lang AS val
           FROM documents
           UNION ALL SELECT doc_id % 2, 'source', source FROM documents
           UNION ALL SELECT doc_id % 2, 'n_chars',
                            CAST(n_chars AS VARCHAR) FROM documents
           UNION ALL SELECT doc_id % 2, 'text', text FROM documents)
         GROUP BY col)
       ORDER BY col""",
    doc="cross-epoch schema/content drift detector -- x174 profiles "
        "ONE corpus column-wise; this compares TWO epochs (doc_id "
        "parity split standing in for yesterday/today) column by "
        "column: per-column row and distinct-value counts per epoch "
        "plus a 10%-relative-gap drift flag, the check that catches "
        "an upstream feed silently collapsing a column's domain. "
        "One stack() generator fans each row to 4 (col, val) pairs "
        "in the scan stage, one groupBy(col) with conditional "
        "count(DISTINCT)s (one Expand, x250's only multiplier), "
        "drift arithmetic is integer-exact; the flag computes in an "
        "outer projection because a sibling aggregate alias is not "
        "referenceable in either dialect (x209's lateral-alias "
        "seam)",
)
def x250_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = docs.select(
        (F.col("doc_id") % 2).alias("epoch"),
        F.expr(
            "stack(4, 'lang', lang, 'source', source, "
            "'n_chars', CAST(n_chars AS STRING), 'text', text) "
            "AS (col, val)"
        ),
    )
    agg = u.groupBy("col").agg(
        F.count(F.when(F.col("epoch") == 0, 1)).cast("long").alias("n0"),
        F.countDistinct(F.when(F.col("epoch") == 0, F.col("val")))
        .cast("long")
        .alias("d0"),
        F.count(F.when(F.col("epoch") == 1, 1)).cast("long").alias("n1"),
        F.countDistinct(F.when(F.col("epoch") == 1, F.col("val")))
        .cast("long")
        .alias("d1"),
    )
    return agg.select(
        "col",
        "n0",
        "d0",
        "n1",
        "d1",
        F.when(
            F.abs(F.col("d0") - F.col("d1")) * 100
            > 10 * F.greatest("d0", "d1"),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("drifted"),
    ).orderBy("col")


@register(
    "x251_cogroup_reconcile",
    """WITH v AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nv,
                         MIN(ts) AS first_view
                  FROM events WHERE event_type = 'view' GROUP BY 1),
       p AS (SELECT user_id, ts FROM events
             WHERE event_type = 'purchase'),
       pu AS (SELECT p.user_id, CAST(count(*) AS BIGINT) AS np,
                     CAST(SUM(CASE WHEN v.first_view IS NULL
                              OR p.ts < v.first_view
                              THEN 1 ELSE 0 END) AS BIGINT) AS blind
              FROM p LEFT JOIN v ON p.user_id = v.user_id
              GROUP BY 1),
       u AS (SELECT COALESCE(pu.user_id, v.user_id) AS user_id,
                    COALESCE(v.nv, 0) AS nv,
                    COALESCE(pu.np, 0) AS np,
                    COALESCE(pu.blind, 0) AS blind
             FROM pu FULL OUTER JOIN v ON pu.user_id = v.user_id)
       SELECT blind AS blind_purchases,
              CAST(count(*) AS BIGINT) AS n_users,
              CAST(SUM(np) AS BIGINT) AS n_purchases,
              CAST(SUM(nv) AS BIGINT) AS n_views
       FROM u GROUP BY 1 ORDER BY blind_purchases""",
    doc="the COGROUP API surface (groupBy().cogroup().applyInPandas) "
        "-- two event streams meet per user in ONE Arrow-batched "
        "Python stage instead of a join: each (views_pdf, "
        "purchases_pdf) group computes view count, purchase count, "
        "and BLIND purchases (before the user's first view -- the "
        "attribution-integrity number), then the user-level rows "
        "reduce to a blind-count histogram JVM-side. Both sides "
        "shuffle once on the user key (the same exchange a join "
        "would pay), per-group state is one user's events, and the "
        "oracle re-derives the identical numbers relationally "
        "(LEFT JOIN on first-view ts + FULL OUTER user union) -- "
        "so the cogroup path is hash-pinned to the join path",
)
def x251_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # The two cogroup sides MUST come from independent scans: deriving
    # both from one parent DataFrame gives their columns identical
    # attribute ids, and Spark's self-join dedup silently drops the
    # right side's non-key columns from the Arrow batches (observed:
    # right pdf arrives with only ['user_id']). Same family as the
    # documented self-join ambiguity; a second load_table() creates
    # fresh ids.
    ev = load_table(spark, sf_dir, "events")
    ev2 = load_table(spark, sf_dir, "events")
    # Cogroup on a hashed USER BUCKET, not the raw user id: per-group
    # applyInPandas pays ~2.5 ms of Arrow/pandas plumbing per call
    # (measured 3.8 s for 1500 single-user groups at sf0.1), so the
    # group key is coarsened to ~4 groups per core and the per-user
    # reconciliation is vectorized pandas INSIDE each call (guide
    # section 4.2: hand whole batches to vectorized libraries). The
    # bucket is a deterministic hash, so results are identical; bucket
    # count scales with the session's parallelism, keeping per-task
    # state bounded at any scale.
    n_buckets = 4 * spark.sparkContext.defaultParallelism
    ub = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("ub")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", ub
    )
    p = ev2.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", ub
    )

    def empty(**dtypes) -> pd.DataFrame:
        # a one-sided group: typed columns on a named int64 user index, so
        # the merge, outer join and fillna below never see object columns
        index = pd.Index([], dtype="int64", name="user_id")
        return pd.DataFrame(index=index, columns=list(dtypes)).astype(dtypes)

    def reconcile(key, vdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        va = (
            vdf.groupby("user_id")["ts"].agg(nv="count", first_view="min")
            if len(vdf)
            else empty(nv="int64", first_view=pdf["ts"].dtype)
        )
        if len(pdf):
            pj = pdf.merge(
                va["first_view"],
                how="left",
                left_on="user_id",
                right_index=True,
            )
            blind_mask = pj["first_view"].isna() | (
                pj["ts"] < pj["first_view"]
            )
            pa = pj.assign(blind=blind_mask).groupby("user_id").agg(
                np=("ts", "count"), blind=("blind", "sum")
            )
        else:
            pa = empty(np="int64", blind="int64")
        out = va[["nv"]].join(pa, how="outer")
        out = out.fillna(0).astype("int64").reset_index()
        return out[["user_id", "nv", "np", "blind"]]

    u = (
        v.groupBy("ub")
        .cogroup(p.groupBy("ub"))
        .applyInPandas(
            reconcile,
            "user_id bigint, nv bigint, np bigint, blind bigint",
        )
    )
    return (
        u.groupBy(F.col("blind").alias("blind_purchases"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("np").cast("long").alias("n_purchases"),
            F.sum("nv").cast("long").alias("n_views"),
        )
        .orderBy("blind_purchases")
    )


@register(
    "x252_arrow_bytes",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
              CAST(SUM(length(text)) AS BIGINT) AS total_chars
       FROM documents GROUP BY source ORDER BY source""",
    doc="the mapInArrow API surface -- the zero-copy tier below "
        "mapInPandas (no pandas conversion at all; pyarrow "
        "RecordBatches in and out): each batch computes utf8 BYTE "
        "lengths via pyarrow.compute.binary_length on the "
        "utf8->binary view plus codepoint counts, emitting narrow "
        "(source, nbytes, nchars) batches; the JVM aggregates per "
        "source. Bytes != chars the moment a corpus goes "
        "multibyte -- the storage-sizing number ingestion needs. "
        "Oracle pins both sums via DuckDB strlen (bytes) vs length "
        "(codepoints); only the narrow projection crosses Python, "
        "Arrow-batched, never row-at-a-time",
)
def x252_arrow_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "text")

    def measure(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            text = b.column("text")
            nbytes = pc.binary_length(text.cast(pa.binary()))
            nchars = pc.utf8_length(text)
            yield pa.RecordBatch.from_arrays(
                [b.column("source"), nbytes.cast(pa.int64()),
                 nchars.cast(pa.int64())],
                ["source", "nbytes", "nchars"],
            )

    m = docs.mapInArrow(
        measure, "source string, nbytes long, nchars long"
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nbytes").cast("long").alias("total_bytes"),
            F.sum("nchars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )


@register(
    "x253_udtf_shards",
    """WITH r AS (SELECT source,
                    ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY doc_id) - 1 AS i
                  FROM documents)
       SELECT source, CAST(i // 10 AS BIGINT) AS shard_idx,
              CAST(count(*) AS BIGINT) AS shard_rows
       FROM r GROUP BY 1, 2 ORDER BY source, shard_idx""",
    doc="the Python UDTF surface (Spark 4 @udtf, one-to-many table "
        "function in SQL FROM position) -- the reference's shard "
        "planner (S16, handler.go shard clamp) re-expressed as a "
        "LATERAL-correlated UDTF: per (source, n_docs) row it "
        "yields one row per 10-doc shard with the tail shard "
        "clamped; the oracle re-derives the same shards by "
        "bucketing row_number (DuckDB's generate_series cannot "
        "take lateral column parameters -- dialect seam). "
        "Python UDTFs evaluate row-at-a-time, so the contract is "
        "the input MUST be aggregate-sized (here: one row per "
        "source, bounded by source cardinality) -- corpus rows "
        "never meet the UDTF; the corpus-sized work is the one "
        "partial-agg groupBy that feeds it",
)
def x253_udtf_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="shard_idx: bigint, shard_rows: bigint")
    class ShardPlanner:
        def eval(self, n_docs: int):
            size = 10
            full, rem = divmod(int(n_docs), size)
            for i in range(full):
                yield (i, size)
            if rem:
                yield (full, rem)

    spark.udtf.register("x253_shard_planner", ShardPlanner)
    docs = load_table(spark, sf_dir, "documents")
    docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).createOrReplaceTempView("x253_src_counts")
    return spark.sql(
        """SELECT s.source, t.shard_idx, t.shard_rows
           FROM x253_src_counts s,
                LATERAL x253_shard_planner(s.n_docs) t
           ORDER BY s.source, t.shard_idx"""
    )


@register(
    "x254_percentile_semantics",
    """WITH t AS (SELECT event_type,
                    CAST(round(value * 100, 0) AS BIGINT) AS cents
                  FROM events)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(quantile_disc(cents, 0.5) AS BIGINT) AS p50_disc,
              CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT)
                AS p50_cont_x2
       FROM t GROUP BY event_type ORDER BY event_type""",
    doc="percentile SEMANTICS seam, pinned: DISC returns an actual "
        "data value (the lower of the two middle ranks), CONT "
        "interpolates between them -- on an even-count group they "
        "disagree by half the middle gap, and a migration that "
        "swaps one for the other silently shifts every SLA "
        "threshold. Spark percentile_disc <-> DuckDB quantile_disc, "
        "Spark percentile_cont <-> quantile_cont; values are "
        "integer cents so DISC is integer-exact, and CONT at 0.5 "
        "is reported x2 (the only possible fraction is .5, so "
        "doubling is exact) -- no float hash risk. One groupBy, "
        "both percentiles in the same aggregate",
)
def x254_percentile_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(
                "CAST(percentile_disc(0.5) WITHIN GROUP "
                "(ORDER BY cents) AS BIGINT)"
            ).alias("p50_disc"),
            F.expr(
                "CAST(percentile_cont(0.5) WITHIN GROUP "
                "(ORDER BY cents) * 2 AS BIGINT)"
            ).alias("p50_cont_x2"),
        )
        .orderBy("event_type")
    )


@register(
    "x255_explode_outer",
    """WITH f AS (SELECT doc_id, lang,
                    list_filter(string_split(lower(text), ' '),
                                x -> len(x) >= 8) AS longs
                  FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN len(longs) = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_no_long,
              CAST(SUM(len(longs)) AS BIGINT) AS n_long_tokens
       FROM f GROUP BY lang ORDER BY lang""",
    doc="explode vs explode_outer NULL-preservation seam: a plain "
        "explode DROPS every document whose filtered token array is "
        "empty -- the silent row loss that understates corpus "
        "coverage stats; explode_outer keeps them as one NULL-token "
        "row each. The entry runs the OUTER generator over "
        "length>=8 tokens (empty for most docs) and counts docs, "
        "empty docs (NULL rows), and surviving tokens per lang -- "
        "numbers a dropped row would visibly corrupt (n_docs would "
        "shrink). The oracle needs no generator at all: the same "
        "three numbers fold over the array lengths row-locally -- "
        "mechanism differs, hash must not",
)
def x255_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        "lang",
        F.filter(_toks("text"), lambda x: F.length(x) >= 8).alias("longs"),
    )
    e = f.select(
        "doc_id", "lang", F.explode_outer("longs").alias("tok")
    )
    return (
        e.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.when(F.col("tok").isNull(), 1))
            .cast("long")
            .alias("n_docs_no_long"),
            F.count("tok").cast("long").alias("n_long_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "x256_array_align",
    """WITH c AS (SELECT user_id, ts,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts) AS rn
                  FROM events WHERE event_type = 'click'),
       p AS (SELECT user_id, ts,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts) AS rn
             FROM events WHERE event_type = 'purchase'),
       j AS (SELECT COALESCE(c.rn, p.rn) AS rn,
                    c.ts AS cts, p.ts AS pts
             FROM c FULL OUTER JOIN p
               ON c.user_id = p.user_id AND c.rn = p.rn)
       SELECT CAST(rn AS BIGINT) AS idx,
              CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(SUM(CASE WHEN cts IS NOT NULL AND pts IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
              CAST(SUM(CASE WHEN pts > cts THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase_after
       FROM j GROUP BY rn ORDER BY idx""",
    doc="index-aligned array pairing via arrays_zip + posexplode -- "
        "each user's k-th click meets their k-th purchase without "
        "any join: both ordered ts arrays build in ONE user-key "
        "groupBy (two conditional collect_lists share the "
        "exchange), arrays_zip NULL-pads the shorter side exactly "
        "like the oracle's FULL OUTER rank join, and posexplode "
        "re-derives the rank from the array position. Per-index "
        "pair counts and the k-th-purchase-after-k-th-click tally "
        "are the hash surface. Duplicate ts within a user make "
        "row_number ties arbitrary BUT value-identical, so the "
        "k-th VALUE is deterministic either way -- the reason this "
        "hashes without an event_id tiebreak",
)
def x256_array_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arr = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("event_type") == "click", F.col("ts"))
                )
            ).alias("clicks"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("event_type") == "purchase", F.col("ts")
                    )
                )
            ).alias("purchases"),
        )
    )
    z = arr.select(
        F.posexplode(F.arrays_zip("clicks", "purchases")).alias(
            "pos", "pair"
        )
    ).select(
        (F.col("pos") + 1).cast("long").alias("idx"),
        F.col("pair.clicks").alias("cts"),
        F.col("pair.purchases").alias("pts"),
    )
    return (
        z.groupBy("idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count(
                F.when(
                    F.col("cts").isNotNull() & F.col("pts").isNotNull(),
                    1,
                )
            )
            .cast("long")
            .alias("n_both"),
            F.count(F.when(F.col("pts") > F.col("cts"), 1))
            .cast("long")
            .alias("n_purchase_after"),
        )
        .orderBy("idx")
    )


@register(
    "x257_decimal_contract",
    """WITH t AS (SELECT l_returnflag,
                    CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                      AS cents,
                    CAST(round(l_discount * 10000, 0) AS BIGINT) AS bp
                  FROM lineitem),
       d AS (SELECT l_returnflag,
                    CAST(CAST(cents AS DECIMAL(18,2)) / 100
                      AS DECIMAL(18,2)) AS price,
                    CAST(CAST(bp AS DECIMAL(10,4)) / 10000
                      AS DECIMAL(10,4)) AS rate
             FROM t)
       SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(price * (1 - rate) AS DECIMAL(28,8)))
                AS DECIMAL(38,8)) AS net_sum
       FROM d GROUP BY l_returnflag ORDER BY l_returnflag""",
    doc="the DECIMAL type-contract seam, pinned end to end: Spark and "
        "DuckDB assign DIFFERENT precision/scale to decimal division "
        "and multiplication results (Spark widens scale to >= 6 on "
        "divide, DuckDB follows its own rule), so any money pipeline "
        "that lets the engine infer intermediate types diverges "
        "silently. The entry CASTS every intermediate explicitly -- "
        "cents -> DECIMAL(18,2) price, basis points -> DECIMAL(10,4) "
        "rate, product -> DECIMAL(28,8), sum -> DECIMAL(38,8) -- and "
        "all values are exact at every step (2dp x 4dp = 6dp < 8dp), "
        "so the hash pins that BOTH engines honor explicit decimal "
        "casts bit-for-bit; x45/x46's round-then-DECIMAL recipe "
        "generalized into the full arithmetic chain",
)
def x257_decimal_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        F.round(F.col("l_discount") * 10000, 0).cast("long").alias("bp"),
    )
    d = t.select(
        "l_returnflag",
        (F.col("cents").cast("decimal(18,2)") / 100)
        .cast("decimal(18,2)")
        .alias("price"),
        (F.col("bp").cast("decimal(10,4)") / 10000)
        .cast("decimal(10,4)")
        .alias("rate"),
    )
    return (
        d.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                (F.col("price") * (1 - F.col("rate"))).cast(
                    "decimal(28,8)"
                )
            )
            .cast("decimal(38,8)")
            .alias("net_sum"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "x258_collation_distinct",
    """WITH t AS (SELECT source,
                    CASE WHEN doc_id % 2 = 0 THEN upper(lang)
                         ELSE lang END AS k
                  FROM documents)
       SELECT source,
              CAST(count(DISTINCT k) AS BIGINT) AS n_case_sensitive,
              CAST(count(DISTINCT lower(k)) AS BIGINT)
                AS n_case_insensitive,
              CAST(SUM(CASE WHEN lower(k) = 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_en_ci
       FROM t GROUP BY source ORDER BY source""",
    doc="Spark 4 COLLATION surface: the same distinct/equality "
        "semantics lower() hand-rolls, declared as a column property "
        "instead -- count(DISTINCT collate(k, 'UTF8_LCASE')) and a "
        "collated equality filter against a mixed-case key (doc "
        "parity upper-cases half the rows). Counts are deterministic "
        "under collation where the GROUP KEY VALUE would not be "
        "(which case representative a collated groupBy returns is "
        "arbitrary -- the reason this entry outputs counts, never "
        "collated keys). Oracle states the identical semantics via "
        "lower(); one groupBy, Expand for the two distincts",
)
def x258_collation_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
        .otherwise(F.col("lang"))
        .alias("k"),
    )
    ci = F.collate(F.col("k"), "UTF8_LCASE")
    return (
        t.groupBy("source")
        .agg(
            F.countDistinct("k").cast("long").alias("n_case_sensitive"),
            F.countDistinct(ci).cast("long").alias("n_case_insensitive"),
            F.sum(
                F.when(ci == F.lit("en"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_en_ci"),
        )
        .orderBy("source")
    )


@register(
    "x259_month_arithmetic",
    """WITH me AS (SELECT CAST(o_orderdate AS DATE) AS d
                   FROM orders
                   WHERE CAST(o_orderdate AS DATE)
                         = last_day(CAST(o_orderdate AS DATE))),
       s AS (SELECT d, CAST(d + INTERVAL 1 MONTH AS DATE) AS d1
             FROM me)
       SELECT CAST(EXTRACT(year FROM d) AS BIGINT) AS yr,
              CAST(count(*) AS BIGINT) AS n_month_end,
              CAST(SUM(CASE WHEN EXTRACT(day FROM d1)
                            < EXTRACT(day FROM d)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
              CAST(SUM(EXTRACT(day FROM d1)) AS BIGINT) AS day_sig
       FROM s GROUP BY 1 ORDER BY yr""",
    doc="calendar month-arithmetic seam, pinned on the clamping edge: "
        "Jan 31 + 1 month must land on Feb 28/29 in BOTH engines "
        "(Spark add_months and DuckDB + INTERVAL 1 MONTH both clamp "
        "to month end -- but a pipeline that emulates month shifts "
        "with +30 days or date_add does NOT, and every month-end "
        "row drifts). Month-end orders filter via last_day "
        "self-equality, the shifted day-of-month sums into an "
        "integer signature that any clamp divergence flips; "
        "pure codegen, one groupBy on year",
)
def x259_month_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    me = o.select(F.col("o_orderdate").cast("date").alias("d")).filter(
        F.col("d") == F.last_day("d")
    )
    s = me.select("d", F.add_months("d", 1).alias("d1"))
    return (
        s.groupBy(F.year("d").cast("long").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_month_end"),
            F.sum(
                F.when(F.dayofmonth("d1") < F.dayofmonth("d"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_clamped"),
            F.sum(F.dayofmonth("d1")).cast("long").alias("day_sig"),
        )
        .orderBy("yr")
    )


@register(
    "x260_quantile_array",
    """WITH t AS (SELECT event_type,
                    CAST(round(value * 100, 0) AS BIGINT) AS cents
                  FROM events)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              array_to_string(list_transform(
                quantile_cont(cents, [0.25, 0.5, 0.75]),
                x -> CAST(CAST(x * 4 AS BIGINT) AS VARCHAR)), ',')
                AS quartiles_x4
       FROM t GROUP BY event_type ORDER BY event_type""",
    doc="the array-of-fractions percentile surface (ONE aggregate "
        "returns all three quartiles -- at scale, one sort-based "
        "aggregation pass instead of three): Spark "
        "percentile(col, array(...)) <-> DuckDB "
        "quantile_cont(col, [...]); the list serializes to a string "
        "in-query on both engines (q33/q41 array-hash precedent) "
        "and values report x4 so the only possible interpolation "
        "fractions (.25/.5/.75 between integer cents) become exact "
        "integers -- no float in the hash. One groupBy, no Expand "
        "(a single percentile aggregate, not three)",
)
def x260_quantile_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.concat_ws(
                ",",
                F.transform(
                    F.percentile(
                        F.col("cents"),
                        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                    ),
                    lambda x: (x * 4).cast("long").cast("string"),
                ),
            ).alias("quartiles_x4"),
        )
        .orderBy("event_type")
    )


@register(
    "x261_hll_native",
    None,
    doc="Spark 4's NATIVE DataSketches HLL surface (hll_sketch_agg / "
        "hll_sketch_estimate / hll_union_agg) -- the engine-built "
        "mergeable sketch that replaces x16's hand-rolled HLL++ at "
        "100 TB: per-lang content sketches estimate distinct texts, "
        "and the union row proves MERGEABILITY (union the per-lang "
        "sketches, estimate once -- the two-level rollup pattern "
        "where per-partition sketches fold without re-reading data, "
        "x112's WAU contract on native machinery). Rows-only by "
        "design: DuckDB's approx_count_distinct is a different "
        "sketch with different estimates; the pytest gate bounds "
        "every estimate within 5% of the exact count "
        "(tests/test_ops_quality.py::test_hll_native_within_error)",
)
def x261_hll_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("lang")
        .agg(F.hll_sketch_agg(F.md5("text"), F.lit(14)).alias("sk"))
    )
    by_lang = per.select(
        F.col("lang").alias("scope"),
        F.hll_sketch_estimate("sk").cast("long").alias("est_distinct"),
    )
    union_row = per.agg(
        F.hll_union_agg("sk").alias("u")
    ).select(
        F.lit("__union__").alias("scope"),
        F.hll_sketch_estimate("u").cast("long").alias("est_distinct"),
    )
    return by_lang.unionByName(union_row).orderBy("scope")


@register(
    "x262_orc_roundtrip",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(bit_xor(CAST(('0x' || substr(
                md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))
                AS BIGINT)) AS BIGINT) AS checksum
       FROM documents GROUP BY source ORDER BY source""",
    doc="format-abstraction contract for the ORC leg -- the third "
        "interchange format after JSONL (x114) and CSV (x160), and "
        "the one with its own writer stack (ORC stripe encoding vs "
        "parquet pages): export the corpus as ORC shards, read them "
        "back, and XOR-fold x187's order-independent 60-bit content "
        "checksum per source; hash-matching the parquet-sourced "
        "oracle proves the encode/decode cycle byte-lossless through "
        "the correctness gate. Shards write/read in parallel (orc "
        "sink, no collect); checksum is partition-order immune by "
        "XOR algebra, so the round-trip's different file split "
        "cannot fake a pass or a fail",
)
def x262_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="x262_orc_", ignore_cleanup_errors=True
    ) as tmp:
        docs.write.mode("overwrite").orc(tmp)
        back = spark.read.schema(docs.schema).orc(tmp)
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.col("doc_id"), F.col("text"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        out = (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.bit_xor(h).cast("long").alias("checksum"),
            )
            .orderBy("source")
        )
        out = out.localCheckpoint()  # materialize before tmp vanishes
    return out


@register(
    "x263_string_parity",
    """WITH s AS (SELECT lang,
                    md5(concat_ws('#',
                      upper(text),
                      substr(text, 5, 20),
                      reverse(substr(text, 1, 16)),
                      lpad(substr(text, 1, 4), 8, '_'),
                      translate(substr(text, 1, 32), 'aeiou', 'AEIOU'),
                      replace(substr(text, 1, 32), ' ', '~'),
                      trim(substr(text, 1, 12)),
                      CAST(ascii(text) AS VARCHAR),
                      CAST(length(text) AS VARCHAR))) AS fp
                  FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(bit_xor(CAST(('0x' || substr(fp, 1, 15)) AS BIGINT))
                AS BIGINT) AS parity_checksum
       FROM s GROUP BY lang ORDER BY lang""",
    doc="string-function PARITY MATRIX: nine core functions (upper, "
        "substr 1-based, reverse, lpad, translate, replace, trim, "
        "ascii, length) composed into one md5 fingerprint per row and "
        "XOR-folded per lang -- a single hash row pins the exact "
        "byte semantics of the whole battery across engines (any "
        "off-by-one in substr indexing, pad direction, or translate "
        "mapping flips the checksum). This is the migration "
        "smoke-test for expression-level compatibility, the "
        "expression-layer complement of the x187 content checksum; "
        "pure codegen, one partial-agg groupBy",
)
def x263_string_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    fp = F.md5(
        F.concat_ws(
            "#",
            F.upper(t),
            F.substring(t, 5, 20),
            F.reverse(F.substring(t, 1, 16)),
            F.lpad(F.substring(t, 1, 4), 8, "_"),
            F.translate(F.substring(t, 1, 32), "aeiou", "AEIOU"),
            F.replace(F.substring(t, 1, 32), F.lit(" "), F.lit("~")),
            F.trim(F.substring(t, 1, 12)),
            F.ascii(t).cast("string"),
            F.length(t).cast("string"),
        )
    )
    s = docs.select("lang", fp.alias("fp"))
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.bit_xor(
                F.conv(F.substring("fp", 1, 15), 16, 10).cast("long")
            )
            .cast("long")
            .alias("parity_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "x264_date_parsing",
    """WITH r AS (SELECT strftime(CAST(o_orderdate AS DATE),
                                  '%m/%d/%Y') AS us_str
                  FROM orders),
       p AS (SELECT CAST(strptime(us_str, '%m/%d/%Y') AS DATE) AS d
             FROM r)
       SELECT CAST(EXTRACT(year FROM d) AS BIGINT) AS yr,
              CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(EXTRACT(doy FROM d)) AS BIGINT) AS doy_sum
       FROM p GROUP BY 1 ORDER BY yr""",
    doc="date FORMAT-PATTERN dialect seam: the same US-style "
        "MM/DD/YYYY string renders and parses through Spark's Java "
        "DateTimeFormatter patterns (date_format / to_date with "
        "'MM/dd/yyyy') and DuckDB's strftime/strptime ('%m/%d/%Y') "
        "-- two pattern LANGUAGES, one calendar; the round-trip "
        "(render -> parse -> day-of-year sum) flips on any "
        "zero-padding, month/minute confusion ('mm' vs 'MM' is the "
        "classic), or pivot-year divergence. Numeric patterns only "
        "-- month NAMES would drag locale into the hash (documented "
        "exclusion). Pure codegen both sides",
)
def x264_date_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    r = o.select(
        F.date_format(
            F.col("o_orderdate").cast("date"), "MM/dd/yyyy"
        ).alias("us_str")
    )
    p = r.select(F.to_date("us_str", "MM/dd/yyyy").alias("d"))
    return (
        p.groupBy(F.year("d").cast("long").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.dayofyear("d")).cast("long").alias("doy_sum"),
        )
        .orderBy("yr")
    )


@register(
    "x265_centroid_shift",
    """WITH e AS (
         SELECT label, vec_id % 2 AS epoch,
                unnest(range(0, len(embedding))) AS pos,
                CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6, 0)
                     AS BIGINT) AS q
         FROM embeddings),
       c AS (SELECT label, epoch, pos,
                    CAST(SUM(q) AS BIGINT) AS s
             FROM e GROUP BY 1, 2, 3),
       w AS (SELECT label, pos,
                    CAST(SUM(CASE WHEN epoch = 0 THEN s END)
                      AS BIGINT) AS s0,
                    CAST(SUM(CASE WHEN epoch = 1 THEN s END)
                      AS BIGINT) AS s1
             FROM c GROUP BY 1, 2),
       d AS (SELECT label,
                    CAST(SUM(s0 * s1) AS BIGINT) AS dot,
                    CAST(SUM(s0 * s0) AS BIGINT) AS n0,
                    CAST(SUM(s1 * s1) AS BIGINT) AS n1
             FROM w GROUP BY 1)
       SELECT CAST(label AS BIGINT) AS label,
              CAST(round(CAST(dot AS DOUBLE)
                   / sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
                   * 1e6, 0) AS BIGINT) AS cos_x1e6
       FROM d ORDER BY label""",
    doc="per-label centroid DRIFT between two corpus epochs (vec_id "
        "parity split): the embedding-space answer to x250's "
        "columnar drift -- a label whose epoch centroids decohere "
        "signals distribution shift the scalar profiles miss. "
        "Everything order-dependent is eliminated: components "
        "quantize to integer micro-units at the scan, centroid "
        "sums / dot / norms accumulate as EXACT integers (partial "
        "agg over (label, epoch, pos) cells, dim x label x 2 "
        "bounded), and the single double division + sqrt at the end "
        "is IEEE-identical cross-engine; cosine reports in integer "
        "micro-units. The unnormalized-sum trick: cosine of sums "
        "equals cosine of means -- the counts cancel, so per-epoch "
        "counts never enter the arithmetic",
)
def x265_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("epoch"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "label",
        "epoch",
        "pos",
        F.round(F.col("x").cast("double") * 1e6, 0)
        .cast("long")
        .alias("q"),
    )
    c = e.groupBy("label", "epoch", "pos").agg(
        F.sum("q").cast("long").alias("s")
    )
    w = c.groupBy("label", "pos").agg(
        F.sum(F.when(F.col("epoch") == 0, F.col("s")))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("epoch") == 1, F.col("s")))
        .cast("long")
        .alias("s1"),
    )
    d = w.groupBy("label").agg(
        F.sum(F.col("s0") * F.col("s1")).cast("long").alias("dot"),
        F.sum(F.col("s0") * F.col("s0")).cast("long").alias("n0"),
        F.sum(F.col("s1") * F.col("s1")).cast("long").alias("n1"),
    )
    return d.select(
        F.col("label").cast("long").alias("label"),
        F.round(
            F.col("dot").cast("double")
            / F.sqrt(
                F.col("n0").cast("double") * F.col("n1").cast("double")
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("cos_x1e6"),
    ).orderBy("label")


@register(
    "x266_rank_nulls",
    """WITH t AS (SELECT event_type,
                    NULLIF(CAST(round(value * 100, 0) AS BIGINT) % 7,
                           0) AS v
                  FROM events),
       r AS (SELECT event_type, v,
                    rank() OVER (PARTITION BY event_type
                      ORDER BY v ASC NULLS LAST) AS rk
             FROM t)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
              CAST(SUM(CASE WHEN v IS NOT NULL THEN rk END)
                AS BIGINT) AS rank_sum_nonnull,
              CAST(MAX(rk) AS BIGINT) AS max_rank
       FROM r GROUP BY event_type ORDER BY event_type""",
    doc="NULL sort-order seam, pinned: Spark default-sorts NULLS "
        "FIRST ascending, DuckDB NULLS LAST -- an unannotated ORDER "
        "BY inside any window gives every null-containing partition "
        "DIFFERENT rank values on the two engines. The entry ranks "
        "a deterministically-nulled column (cents % 7, zero -> "
        "NULL) with EXPLICIT asc_nulls_last on both sides; the "
        "non-null rank sum and max rank flip if either engine "
        "defaults differently. Window is event_type-partitioned "
        "(never global), rank arithmetic integer-exact; ties get "
        "equal ranks so duplicate values cannot destabilize the "
        "hash",
)
def x266_rank_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.nullif(
            F.round(F.col("value") * 100, 0).cast("long") % 7, F.lit(0)
        ).alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("v").asc_nulls_last()
    )
    r = t.select("event_type", "v", F.rank().over(w).alias("rk"))
    return (
        r.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
            F.sum(F.when(F.col("v").isNotNull(), F.col("rk")))
            .cast("long")
            .alias("rank_sum_nonnull"),
            F.max("rk").cast("long").alias("max_rank"),
        )
        .orderBy("event_type")
    )


@register(
    "x267_higher_moments",
    """WITH t AS (SELECT event_type,
                    CAST(round(value * 100, 0) AS BIGINT) AS c
                  FROM events),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    CAST(SUM(CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0))
                      AS s1,
                    CAST(SUM(CAST(c AS DECIMAL(19,0))
                             * CAST(c AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) AS s2,
                    CAST(SUM(CAST(CAST(c AS DECIMAL(19,0))
                                  * CAST(c AS DECIMAL(19,0))
                               AS DECIMAL(19,0))
                             * CAST(c AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) AS s3,
                    CAST(SUM(CAST(CAST(c AS DECIMAL(19,0))
                                  * CAST(c AS DECIMAL(19,0))
                               AS DECIMAL(19,0))
                             * CAST(CAST(c AS DECIMAL(19,0))
                                    * CAST(c AS DECIMAL(19,0))
                                 AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) AS s4
             FROM t GROUP BY event_type)
       SELECT event_type, n,
              ROUND((CAST(s3 AS DOUBLE) / n
                     - 3 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s2 AS DOUBLE) / n)
                     + 2 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))
                    / ((CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n))
                       * sqrt(CAST(s2 AS DOUBLE) / n
                              - (CAST(s1 AS DOUBLE) / n)
                                  * (CAST(s1 AS DOUBLE) / n))),
                    6) AS skew_pop,
              ROUND((CAST(s4 AS DOUBLE) / n
                     - 4 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s3 AS DOUBLE) / n)
                     + 6 * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s2 AS DOUBLE) / n)
                     - 3 * ((CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n))
                         * ((CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n)))
                    / ((CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n))
                       * (CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n)
                              * (CAST(s1 AS DOUBLE) / n)))
                    - 3, 6) AS kurt_excess_pop
       FROM m ORDER BY event_type""",
    doc="skewness/kurtosis the SCALE-SAFE way -- four exact integer "
        "power sums (DECIMAL(38,0) accumulation, x189's moment "
        "pattern run to 4th order) assembled into population moments "
        "by ONE double expression written identically in both "
        "dialects (no pow() -- engine-divergent per the verify "
        "gotchas; var^1.5 is var*sqrt(var)). The NATIVE skewness()/"
        "kurtosis() functions are deliberately absent from the hash: "
        "Spark returns population g1/excess-g2 while DuckDB returns "
        "SAMPLE-corrected b1/b2 -- the formula seam this entry "
        "documents by reconstructing from sums both engines agree "
        "on. One partial-agg groupBy; cents^4 at 1e16 per row needs "
        "the decimal sums (a DOUBLE sum drifts by partition order)",
)
def x267_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    cd = F.col("c").cast("decimal(19,0)")
    c2 = (cd * cd).cast("decimal(19,0)")
    m = t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cd).cast("decimal(38,0)").alias("s1"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("s2"),
        F.sum(c2 * cd).cast("decimal(38,0)").alias("s3"),
        F.sum(c2 * c2).cast("decimal(38,0)").alias("s4"),
    )
    # identical expression text as the oracle, evaluated by Spark SQL
    return m.selectExpr(
        "event_type",
        "n",
        """ROUND((CAST(s3 AS DOUBLE) / n
                  - 3 * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s2 AS DOUBLE) / n)
                  + 2 * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s1 AS DOUBLE) / n))
                 / ((CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))
                    * sqrt(CAST(s2 AS DOUBLE) / n
                           - (CAST(s1 AS DOUBLE) / n)
                               * (CAST(s1 AS DOUBLE) / n))),
                 6) AS skew_pop""",
        """ROUND((CAST(s4 AS DOUBLE) / n
                  - 4 * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s3 AS DOUBLE) / n)
                  + 6 * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s1 AS DOUBLE) / n)
                      * (CAST(s2 AS DOUBLE) / n)
                  - 3 * ((CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))
                      * ((CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n)))
                 / ((CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))
                    * (CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n)
                           * (CAST(s1 AS DOUBLE) / n)))
                 - 3, 6) AS kurt_excess_pop""",
    ).orderBy("event_type")


@register(
    "x268_id_gaps",
    """WITH g AS (SELECT o_orderkey AS ok,
                    lead(o_orderkey) OVER (ORDER BY o_orderkey)
                      - o_orderkey - 1 AS gap
                  FROM orders)
       SELECT CASE WHEN gap = 1 THEN '1_single'
                   WHEN gap <= 10 THEN '2_small'
                   ELSE '3_large' END AS gap_class,
              CAST(count(*) AS BIGINT) AS n_gaps,
              CAST(SUM(gap) AS BIGINT) AS total_missing,
              CAST(MAX(gap) AS BIGINT) AS max_gap
       FROM g WHERE gap > 0 GROUP BY 1 ORDER BY gap_class""",
    doc="missing-ID-range detection (integer islands -- x149's "
        "time-interval twin on the KEY domain; TPC-H orderkeys are "
        "sparse by construction, the perfect fixture): the oracle "
        "states the naive global lead(), the Spark side computes the "
        "SAME gaps with NO global sort -- lead() runs inside "
        "4096-wide key-range buckets (partition-local windows), and "
        "the cross-bucket seams stitch via one lead() over the "
        "bucket-cardinality (min, max) table, which also absorbs "
        "entirely-empty buckets. The two-level decomposition is "
        "exact: every gap is either interior to a bucket or spans "
        "bucket boundaries, never both. This is how global "
        "order-dependent scans survive 100 TB -- x90/x169's "
        "two-pass philosophy applied to lead()",
)
def x268_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        (F.col("o_orderkey") / F.lit(4096)).cast("long").alias("b"),
    )
    win = Window.partitionBy("b").orderBy("ok")
    inner = o.select(
        (F.lead("ok").over(win) - F.col("ok") - 1).alias("gap")
    ).filter(F.col("gap") > 0)
    spans = o.groupBy("b").agg(
        F.min("ok").alias("mn"), F.max("ok").alias("mx")
    )
    bwin = Window.orderBy("b")  # bucket-cardinality table: bounded
    seams = spans.select(
        (F.lead("mn").over(bwin) - F.col("mx") - 1).alias("gap")
    ).filter(F.col("gap") > 0)
    g = inner.unionByName(seams)
    return (
        g.select(
            F.when(F.col("gap") == 1, "1_single")
            .when(F.col("gap") <= 10, "2_small")
            .otherwise("3_large")
            .alias("gap_class"),
            "gap",
        )
        .groupBy("gap_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("gap").cast("long").alias("total_missing"),
            F.max("gap").cast("long").alias("max_gap"),
        )
        .orderBy("gap_class")
    )


@register(
    "x269_str_to_map",
    """WITH s AS (SELECT 'lang=' || lang || ',src=' || source ||
                         ',len=' || CAST(n_chars AS VARCHAR) AS cfg
                  FROM documents)
       SELECT string_split(string_split(cfg, ',')[1], '=')[2] AS lang,
              string_split(string_split(cfg, ',')[2], '=')[2]
                AS src,
              CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(string_split(string_split(cfg, ',')[3],
                            '=')[2] AS BIGINT)) AS BIGINT) AS len_sum
       FROM s GROUP BY 1, 2 ORDER BY lang, src""",
    doc="config-string parsing via str_to_map -- the k=v,k=v payload "
        "format that predates JSON in logs and job confs: the entry "
        "SYNTHESIZES the config string from typed columns, parses it "
        "back with str_to_map(cfg, ',', '=') and aggregates on the "
        "extracted keys, so the parse is pinned against the ground "
        "truth it was rendered from. DuckDB has no str_to_map; the "
        "oracle does the same extraction with indexed string_split "
        "(1-based lists -- dialect seam). Pure codegen, the map "
        "lives only inside the row",
)
def x269_str_to_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        F.concat(
            F.lit("lang="), F.col("lang"),
            F.lit(",src="), F.col("source"),
            F.lit(",len="), F.col("n_chars").cast("string"),
        ).alias("cfg")
    )
    m = s.select(
        F.expr("str_to_map(cfg, ',', '=')").alias("m")
    ).select(
        F.col("m")["lang"].alias("lang"),
        F.col("m")["src"].alias("src"),
        F.col("m")["len"].cast("long").alias("len"),
    )
    return (
        m.groupBy("lang", "src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("len").cast("long").alias("len_sum"),
        )
        .orderBy("lang", "src")
    )


@register(
    "x270_from_csv",
    """WITH s AS (SELECT CAST(l_orderkey AS VARCHAR) || ',' ||
                         CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                         || ',' || l_returnflag AS line
                  FROM lineitem)
       SELECT string_split(line, ',')[3] AS rf,
              CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(string_split(line, ',')[2] AS BIGINT))
                AS BIGINT) AS qty_sum
       FROM s GROUP BY 1 ORDER BY rf""",
    doc="embedded-CSV column parsing via from_csv -- the schema'd "
        "single-line parser for CSV payloads INSIDE a column (a "
        "Kafka value, a log field), distinct from the x160 file "
        "source: lines synthesize from typed columns, from_csv "
        "parses them back with a declared schema (typed BIGINT "
        "extraction, not string surgery), and the per-flag rollup "
        "hash-pins the parse against the ground truth. Oracle "
        "splits positionally (DuckDB has no from_csv; 1-based list "
        "indexing again). Pure codegen; the struct lives only "
        "inside the row",
)
def x270_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.select(
        F.concat_ws(
            ",",
            F.col("l_orderkey").cast("string"),
            F.col("l_quantity").cast("long").cast("string"),
            F.col("l_returnflag"),
        ).alias("line")
    )
    p = s.select(
        F.from_csv(
            "line", "ok BIGINT, qty BIGINT, rf STRING"
        ).alias("r")
    ).select(F.col("r.rf").alias("rf"), F.col("r.qty").alias("qty"))
    return (
        p.groupBy("rf")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("qty").cast("long").alias("qty_sum"),
        )
        .orderBy("rf")
    )


@register(
    "x271_timezone_buckets",
    """WITH t AS (SELECT CAST(ts AS TIMESTAMP) AT TIME ZONE 'UTC'
                           AT TIME ZONE 'America/New_York' AS local_ts
                  FROM events)
       SELECT CAST(EXTRACT(hour FROM local_ts) AS BIGINT) AS ny_hour,
              CAST(count(*) AS BIGINT) AS n,
              CAST(count(DISTINCT CAST(local_ts AS DATE)) AS BIGINT)
                AS n_local_days
       FROM t GROUP BY 1 ORDER BY ny_hour""",
    doc="IANA timezone conversion seam (the DST trap every hourly "
        "rollup migration hits): naive UTC event timestamps render "
        "as America/New_York wall-clock -- Spark from_utc_timestamp "
        "<-> DuckDB's AT TIME ZONE 'UTC' AT TIME ZONE chain (ICU) "
        "-- and aggregate per LOCAL hour-of-day; the fixture's "
        "multi-month span crosses DST transitions, so any "
        "fixed-offset shortcut (ts - INTERVAL 5 HOUR) puts a slice "
        "of events in the wrong local hour and flips both the "
        "per-hour counts and the distinct local-date count. Both "
        "engines resolve the SAME IANA database; wall-clock "
        "conversion is a scan-stage expression, the groupBy is "
        "24-cell bounded",
)
def x271_timezone_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        F.from_utc_timestamp(
            F.col("ts").cast("timestamp"), "America/New_York"
        ).alias("local_ts")
    )
    return (
        t.groupBy(F.hour("local_ts").cast("long").alias("ny_hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct(F.col("local_ts").cast("date"))
            .cast("long")
            .alias("n_local_days"),
        )
        .orderBy("ny_hour")
    )


@register(
    "x272_approx_top_k",
    None,
    doc="Spark 4's native approx_top_k aggregate -- the bounded-memory "
        "heavy-hitter that replaces x41's exact two-pass when the key "
        "domain outgrows memory: one pass, maxItemsTracked-bounded "
        "state, mergeable across partitions. The entry reports the "
        "top-10 corpus tokens with their approximate counts; "
        "rows-only by design (DuckDB has no counterpart sketch), "
        "quality-gated against the exact x41-style counts: every "
        "reported count within 2% and >= 8/10 overlap with the exact "
        "top-10 (tests/test_ops_quality.py::"
        "test_approx_top_k_matches_exact_heavy_hitters)",
)
def x272_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(_toks("text")).alias("tok")
    ).filter(F.length("tok") >= 1)
    return (
        toks.agg(
            F.expr("approx_top_k(tok, 10, 10000)").alias("top")
        )
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("long").alias("approx_count"),
        )
        .orderBy(F.desc("approx_count"), "token")
    )


@register(
    "x273_url_parse",
    """WITH u AS (SELECT source || '.example.com' AS host, lang,
                         doc_id % 7 AS ref
                  FROM documents)
       SELECT host, CAST(count(*) AS BIGINT) AS n,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              CAST(SUM(ref) AS BIGINT) AS ref_sum
       FROM u GROUP BY host ORDER BY host""",
    doc="URL decomposition via parse_url -- the web-corpus grouping "
        "primitive (per-host dedup budgets, crawl politeness, domain "
        "mixing weights all start here): URLs SYNTHESIZE injectively "
        "from typed columns, parse_url extracts HOST / the PATH lang "
        "segment / the ?ref= query parameter, and the per-host "
        "rollup hash-pins every extraction against the ground truth "
        "it rendered from (x269/x270's synthesis contract -- DuckDB "
        "has no parse_url, so the oracle states the truth directly). "
        "Pure codegen; a malformed-URL NULL would break a group out "
        "of the hash instantly",
)
def x273_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="), (F.col("doc_id") % 7).cast("string"),
    )
    u = docs.select(url.alias("url")).select(
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.split(F.parse_url("url", F.lit("PATH")), "/")
        .getItem(1)
        .alias("lang"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref"))
        .cast("long")
        .alias("ref"),
    )
    return (
        u.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("ref").cast("long").alias("ref_sum"),
        )
        .orderBy("host")
    )


@register(
    "x274_char_trigrams",
    """WITH g AS (SELECT lang,
                    unnest(list_transform(
                      range(1, len(lower(text)) - 1),
                      i -> substr(lower(text), CAST(i AS INTEGER), 3)))
                      AS tri
                  FROM documents WHERE len(lower(text)) >= 3),
       c AS (SELECT lang, tri, CAST(count(*) AS BIGINT) AS cnt
             FROM g GROUP BY 1, 2),
       r AS (SELECT lang, tri, cnt,
                    row_number() OVER (PARTITION BY lang
                      ORDER BY cnt DESC, tri) AS rk
             FROM c)
       SELECT lang, CAST(rk AS BIGINT) AS rk, tri, cnt
       FROM r WHERE rk <= 5 ORDER BY lang, rk""",
    doc="character trigram profile per language -- the sub-token "
        "signal real language-ID models use (x12 votes on stopWORDS; "
        "char n-grams catch languages with no token overlap at all): "
        "every sliding 3-char window generates via a HOF transform "
        "over an index sequence (substr with a COLUMN start only "
        "works inside SQL lambdas -- the F.substring wrapper is "
        "literal-only, x205's wrapper-vs-SQL seam again), counts "
        "reduce in one partial-agg groupBy, top-5 rides a window "
        "over the (lang, trigram) AGGREGATE with a total (cnt, tri) "
        "order so ties are deterministic",
)
def x274_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # length >= 3 BEFORE the sequence: Spark's sequence(1, n) with
    # n <= 0 yields a DESCENDING sequence ([1, 0, ...]), not empty --
    # the round-4 bpe_learn_merges trap; DuckDB's range(1, n) is
    # upper-exclusive and simply empties. Filter both sides.
    # lower(text) bound as an attribute first: inlined in the lambda it
    # re-lowercases the document once per character position (HOF-lambda
    # CSE trap, O(n^2) chars/doc -- see ops/dedup.py shingles()); the
    # single-split scan is rebalanced so the trigram explode
    # parallelizes (no-op at real scale).
    lt = (
        rebalanced(docs)
        .select("lang", F.lower(F.col("text")).alias("__lt"))
        .filter(F.length("__lt") >= 3)
    )
    g = lt.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(__lt) - 2), "
                "i -> substr(__lt, i, 3))"
            )
        ).alias("tri"),
    )
    c = g.groupBy("lang", "tri").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "tri")
    return (
        c.select(
            "lang", "tri", "cnt",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
        .select("lang", "rk", "tri", "cnt")
        .orderBy("lang", "rk")
    )


@register(
    "x275_xpath_extract",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(n_chars) AS BIGINT) AS chars_sum
       FROM documents GROUP BY lang ORDER BY lang""",
    doc="XML field extraction via the xpath_* family -- the legacy "
        "feed format the reference's JSON pipeline never covers: "
        "row-level XML documents synthesize from typed columns "
        "(alphanumeric fields only -- embedding free text would "
        "need entity escaping, documented exclusion), xpath_string "
        "and xpath_long pull the fields back out through real XPath "
        "evaluation, and the per-lang rollup hash-pins the "
        "round-trip against ground truth (the x269/x270/x273 "
        "synthesis contract). Spark evaluates XPath in codegen "
        "scope; DuckDB has no XML support at all -- the oracle is "
        "mechanism-free by necessity",
)
def x275_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    xml = F.concat(
        F.lit("<doc><lang>"), F.col("lang"),
        F.lit("</lang><n>"), F.col("n_chars").cast("string"),
        F.lit("</n></doc>"),
    )
    x = docs.select(xml.alias("xml")).select(
        F.expr("xpath_string(xml, '/doc/lang')").alias("lang"),
        F.expr("xpath_long(xml, '/doc/n')").alias("n_chars"),
    )
    return (
        x.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
        .orderBy("lang")
    )


@register(
    "x276_bounded_levenshtein",
    """WITH sh AS (SELECT levenshtein(substr(lower(text), 1, 12),
                      substr(lower(text),
                             1 + CAST(doc_id % 3 AS INTEGER) + 1, 12))
                      AS d
                   FROM documents),
       a AS (SELECT doc_id, substr(lower(text), 1, 24) AS p
             FROM documents),
       adj AS (SELECT levenshtein(a.p, b.p) AS d
               FROM a JOIN a b ON b.doc_id = a.doc_id + 1),
       u AS (SELECT 'shifted_self' AS pair_kind,
                    CASE WHEN d > 5 THEN -1 ELSE d END AS d FROM sh
             UNION ALL
             SELECT 'adjacent_doc',
                    CASE WHEN d > 5 THEN -1 ELSE d END FROM adj)
       SELECT pair_kind, CAST(d AS BIGINT) AS dist,
              CAST(count(*) AS BIGINT) AS n_pairs
       FROM u GROUP BY 1, 2 ORDER BY pair_kind, dist""",
    doc="THRESHOLD-bounded edit distance (Spark 4's 3-arg "
        "levenshtein): the banded O(k*n) computation that makes "
        "edit-distance dedup affordable -- past the threshold the "
        "engine stops and returns -1 instead of filling the full "
        "matrix (x123's blocked ER pays full O(n^2) per candidate "
        "pair; this is the kernel upgrade). TWO pair populations "
        "pin BOTH regimes: shifted-self prefixes (a string vs its "
        "own 1-char shift -- distances land in 0..5, exercising "
        "the in-band exact path at several distances) and "
        "adjacent-doc prefixes "
        "(unrelated text -- lands in the -1 overflow bucket); the "
        "oracle computes UNBOUNDED levenshtein and clamps, so the "
        "early-exit band must agree with the exact distance "
        "everywhere within the threshold, not just on overflow",
)
def x276_bounded_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # shift varies 2..4 by doc parity -> distances spread over the
    # in-band range (2, 4) AND the -1 overflow, so BOTH regimes of the
    # banded kernel appear in the histogram
    sh = docs.select(
        F.expr(
            "levenshtein(substr(lower(text), 1, 12), "
            "substr(lower(text), 1 + CAST(doc_id % 3 AS INT) + 1, 12), "
            "5)"
        ).alias("d")
    ).select(F.lit("shifted_self").alias("pair_kind"), "d")
    a = docs.select(
        "doc_id", F.substring(F.lower("text"), 1, 24).alias("p")
    )
    b = a.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("p").alias("p2")
    )
    adj = (
        a.join(b, "doc_id")
        .select(F.expr("levenshtein(p, p2, 5)").alias("d"))
        .select(F.lit("adjacent_doc").alias("pair_kind"), "d")
    )
    u = sh.unionByName(adj)
    return (
        u.groupBy("pair_kind", F.col("d").cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("pair_kind", "dist")
    )


@register(
    "x277_luhn_check",
    """WITH n AS (SELECT lpad(CAST(o_orderkey * 7919 %
                           1000000000000000 AS VARCHAR), 16, '0')
                    AS num,
                  o_orderpriority AS prio
                  FROM orders),
       v AS (SELECT prio,
                    CASE WHEN list_sum(list_transform(
                           range(1, 17),
                           i -> CASE WHEN i % 2 = 1 THEN
                                  CASE WHEN 2 * CAST(substr(num,
                                         CAST(i AS INTEGER), 1)
                                       AS INTEGER) > 9
                                  THEN 2 * CAST(substr(num,
                                         CAST(i AS INTEGER), 1)
                                       AS INTEGER) - 9
                                  ELSE 2 * CAST(substr(num,
                                         CAST(i AS INTEGER), 1)
                                       AS INTEGER) END
                                ELSE CAST(substr(num,
                                       CAST(i AS INTEGER), 1)
                                     AS INTEGER) END))
                         % 10 = 0
                    THEN 1 ELSE 0 END AS ok
             FROM n)
       SELECT prio, CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(ok) AS BIGINT) AS n_luhn_valid
       FROM v GROUP BY prio ORDER BY prio""",
    doc="checksum-validation parity: Spark's native luhn_check "
        "(card-number validation -- the PII-scrub gate x49 would "
        "use to confirm a 16-digit hit IS a card before redacting) "
        "against an oracle that REIMPLEMENTS Luhn from first "
        "principles (digit doubling from the right via a list "
        "transform) -- the native function and the textbook "
        "algorithm must agree on every synthesized 16-digit "
        "number (injective from orderkey, ~1 in 10 passes). Any "
        "off-by-one in doubling position parity flips the "
        "per-priority valid counts",
)
def x277_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    n = o.select(
        F.lpad(
            ((F.col("o_orderkey") * 7919) % F.lit(1000000000000000))
            .cast("string"),
            16,
            "0",
        ).alias("num"),
        F.col("o_orderpriority").alias("prio"),
    )
    v = n.select(
        "prio",
        F.expr("luhn_check(num)").cast("int").alias("ok"),
    )
    return (
        v.groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ok").cast("long").alias("n_luhn_valid"),
        )
        .orderBy("prio")
    )


@register(
    "x278_bitmap_distinct",
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
              CAST(count(*) AS BIGINT) AS n_orders,
              CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
       FROM orders GROUP BY 1 ORDER BY month""",
    doc="EXACT distinct counting via roaring-style bitmaps (Spark "
        "3.5's bitmap_bucket_number / bitmap_bit_position / "
        "bitmap_construct_agg / bitmap_count) -- the mergeable exact "
        "alternative to x261's approximate HLL: keys bucket into "
        "32768-bit bitmap segments, each (month, bucket) cell folds "
        "its bit positions map-side, and per-month distinct = "
        "SUM(bitmap_count(segment)) because buckets partition the "
        "key domain. Two partial-agg groupBys, state bounded by "
        "occupied buckets (key-density), never by row count -- the "
        "100 TB exact-distinct shape when HLL error is not "
        "acceptable. The oracle's plain count(DISTINCT) must agree "
        "EXACTLY (bitmaps are not approximate)",
)
def x278_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    b = (
        o.select(
            F.date_trunc("month", "o_orderdate").alias("m"),
            F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("m", "bkt")
        .agg(
            F.expr("bitmap_construct_agg(pos)").alias("bm"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return (
        b.groupBy(F.col("m").cast("date").alias("month"))
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum(F.expr("bitmap_count(bm)"))
            .cast("long")
            .alias("n_customers"),
        )
        .orderBy("month")
    )


@register(
    "x279_array_parity",
    """WITH a AS (SELECT lang,
                    (string_split(lower(text), ' '))[1:12] AS ar
                  FROM documents),
       f AS (SELECT lang, md5(concat_ws('|',
                CAST(len(ar) AS VARCHAR),
                CAST(len(list_distinct(ar)) AS VARCHAR),
                array_to_string(list_sort(ar), ','),
                array_to_string(list_reverse_sort(ar), ','),
                CAST(list_position(ar, 'the') AS VARCHAR),
                array_to_string(list_filter(ar, x -> x <> 'the'),
                                ','),
                ar[3],
                array_to_string(list_reverse(ar), ','),
                list_max(ar),
                list_min(ar))) AS fp
             FROM a)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(bit_xor(CAST(('0x' || substr(fp, 1, 15)) AS BIGINT))
                AS BIGINT) AS parity_checksum
       FROM f GROUP BY lang ORDER BY lang""",
    doc="ARRAY-function parity matrix (x263's battery for the nested "
        "domain): ten operations -- size, distinct-size, asc/desc "
        "sort, 1-based position, remove-by-predicate, element_at, "
        "reverse, max, min -- compose into one md5 per row and "
        "XOR-fold per lang. The name map is the payload: "
        "array_distinct<->list_distinct, sort_array(desc)<->"
        "list_reverse_sort, array_position<->list_position (both "
        "1-based, both 0/NULL-on-missing -- pinned by 'the' being "
        "genuinely absent from some rows), array_remove<->"
        "list_filter, element_at<->[i]. One flipped sort order or "
        "off-by-one index anywhere flips the checksum",
)
def x279_array_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        "lang",
        F.slice(_toks("text"), 1, 12).alias("ar"),
    )
    ar = F.col("ar")
    fp = F.md5(
        F.concat_ws(
            "|",
            F.size(ar).cast("string"),
            F.size(F.array_distinct(ar)).cast("string"),
            F.array_join(F.sort_array(ar), ","),
            F.array_join(F.sort_array(ar, asc=False), ","),
            F.array_position(ar, "the").cast("string"),
            F.array_join(F.array_remove(ar, "the"), ","),
            F.element_at(ar, 3),
            F.array_join(F.reverse(ar), ","),
            F.array_max(ar),
            F.array_min(ar),
        )
    )
    f = a.select("lang", fp.alias("fp"))
    return (
        f.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.bit_xor(
                F.conv(F.substring("fp", 1, 15), 16, 10).cast("long")
            )
            .cast("long")
            .alias("parity_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "x280_mask_pii",
    """WITH m AS (SELECT lang,
                    regexp_replace(regexp_replace(regexp_replace(
                      substr(text, 1, 40),
                      '[A-Z]', 'X', 'g'),
                      '[a-z]', 'x', 'g'),
                      '[0-9]', 'n', 'g') AS masked
                  FROM documents)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT masked) AS BIGINT) AS n_shapes,
              CAST(bit_xor(CAST(('0x' || substr(md5(masked), 1, 15))
                AS BIGINT)) AS BIGINT) AS mask_checksum
       FROM m GROUP BY lang ORDER BY lang""",
    doc="structure-preserving PII masking via Spark 3.5's native "
        "mask() (upper->X, lower->x, digit->n, punctuation kept) -- "
        "the redaction that keeps FORMAT signal (a masked card "
        "still LOOKS like nnnn-nnnn...) so downstream shape "
        "analytics survive, unlike x20's token replacement; the "
        "distinct-shape count per lang is exactly the 'format "
        "fingerprint' cardinality PII classifiers train on. Oracle "
        "re-derives the identical masking as three global "
        "regexp_replace passes ('g' flag -- DuckDB replaces FIRST "
        "match by default, the classic dialect trap, SURVEY seam "
        "list). XOR checksum pins every masked byte",
)
def x280_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "lang",
        F.expr(
            "mask(substr(text, 1, 40), 'X', 'x', 'n', NULL)"
        ).alias("masked"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("masked").cast("long").alias("n_shapes"),
            F.bit_xor(
                F.conv(
                    F.substring(F.md5("masked"), 1, 15), 16, 10
                ).cast("long")
            )
            .cast("long")
            .alias("mask_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "x281_bool_aggregates",
    """SELECT source,
              bool_and(n_chars > 50) AS all_long,
              bool_or(lang = 'en') AS any_en,
              CAST(count_if(n_chars % 2 = 0) AS BIGINT) AS n_even
       FROM documents GROUP BY source ORDER BY source""",
    doc="boolean aggregate parity: bool_and / bool_or / count_if "
        "share names AND semantics across both engines (Spark also "
        "aliases every()/any()/some() -- same functions) -- the "
        "data-quality assertion layer ('EVERY row in this partition "
        "passes the gate') as aggregates instead of filters, which "
        "is how constraint checks fold into a pass the job already "
        "makes (x222's observe principle, expressible in plain "
        "GROUP BY). Boolean columns hash directly; one partial-agg "
        "groupBy",
)
def x281_bool_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.bool_and(F.col("n_chars") > 50).alias("all_long"),
            F.bool_or(F.col("lang") == "en").alias("any_en"),
            F.count_if(F.col("n_chars") % 2 == 0)
            .cast("long")
            .alias("n_even"),
        )
        .orderBy("source")
    )


@register(
    "x282_regex_subset",
    """SELECT lang,
              CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+')))
                AS BIGINT) AS n_words,
              CAST(SUM(len(regexp_extract_all(text, '[0-9]+')))
                AS BIGINT) AS n_numbers,
              CAST(SUM(CASE WHEN regexp_matches(text,
                       '^[A-Z]') THEN 1 ELSE 0 END) AS BIGINT)
                AS n_capital_start,
              CAST(SUM(len(regexp_extract_all(text,
                       '\\b(the|and|of)\\b'))) AS BIGINT)
                AS n_function_words
       FROM documents GROUP BY lang ORDER BY lang""",
    doc="regex DIALECT-SUBSET contract: Spark compiles Java "
        "java.util.regex, DuckDB compiles RE2 -- lookarounds, "
        "backreferences and possessive quantifiers exist ONLY on "
        "the Java side, so any pattern a pipeline must run on both "
        "engines has to stay inside the common subset. The entry "
        "pins that subset operationally: explicit char classes, "
        "quantifiers, anchors, alternation and word boundaries "
        "count identically per lang across four patterns (note "
        "[0-9]/[A-Za-z], NOT \\\\d/\\\\w -- shorthand-class unicode "
        "semantics are the first divergence). The doc is the "
        "negative space: patterns OUTSIDE this subset are a "
        "migration bug, not a porting task",
)
def x282_regex_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(F.size(F.regexp_extract_all(t, F.lit("[A-Za-z]+"), 0)))
            .cast("long")
            .alias("n_words"),
            F.sum(F.size(F.regexp_extract_all(t, F.lit("[0-9]+"), 0)))
            .cast("long")
            .alias("n_numbers"),
            F.sum(F.when(t.rlike("^[A-Z]"), 1).otherwise(0))
            .cast("long")
            .alias("n_capital_start"),
            F.sum(
                F.size(
                    F.regexp_extract_all(
                        t, F.lit(r"\b(the|and|of)\b"), 0
                    )
                )
            )
            .cast("long")
            .alias("n_function_words"),
        )
        .orderBy("lang")
    )


@register(
    "x283_multi_gap_sessions",
    """WITH g AS (SELECT user_id,
                    epoch_us(ts) - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id)
                      AS gap_us
                  FROM events)
       SELECT CAST(t.mins AS BIGINT) AS gap_minutes,
              CAST(SUM(CASE WHEN g.gap_us IS NULL
                            OR g.gap_us > CAST(t.mins AS BIGINT) * 60 * 1000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
       FROM g CROSS JOIN (VALUES (5), (30), (120)) AS t(mins)
       GROUP BY 1 ORDER BY gap_minutes""",
    doc="session-gap SENSITIVITY CURVE -- x21 sessionizes at one "
        "threshold; choosing that threshold needs the session count "
        "at several, and the naive approach re-shuffles the corpus "
        "per candidate. Here the per-user gap computes ONCE (one "
        "user-key window shuffle), then each gap row votes "
        "'session start' against all three thresholds -- the "
        "3-row VALUES dim crossed in (broadcast, rows x 3 only in "
        "the aggregate input, never materialized wide). Session "
        "count = count of starts, so no session-id assignment is "
        "even needed; integer microsecond gaps (x161's epoch "
        "contract) keep the threshold comparison exact",
)
def x283_multi_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = ev.select(
        (us - F.lag(us).over(w)).alias("gap_us")
    )
    dims = F.broadcast(
        spark.createDataFrame([(5,), (30,), (120,)], "mins bigint")
    )
    j = g.crossJoin(dims)
    return (
        j.groupBy(F.col("mins").cast("long").alias("gap_minutes"))
        .agg(
            F.sum(
                F.when(
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") > F.col("mins") * 60 * 1000000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_sessions")
        )
        .orderBy("gap_minutes")
    )


@register(
    "x284_crosstab",
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt
       FROM documents GROUP BY 1, 2 ORDER BY lang, source""",
    doc="the DataFrameStatFunctions.crosstab API surface: the "
        "contingency table materializes WIDE (one column per "
        "distinct source -- fine for bounded domains, a schema "
        "explosion for unbounded ones, which is the documented "
        "contract), then unpivots back to tidy (lang, source, cnt) "
        "rows via stack so the hash is schema-stable regardless of "
        "column order. Zero-count cells drop on unpivot to match "
        "the relational GROUP BY the oracle states -- crosstab "
        "fills absent combinations with 0, GROUP BY omits them; "
        "the filter IS the semantic reconciliation",
)
def x284_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ct = docs.stat.crosstab("lang", "source")
    src_cols = sorted(c for c in ct.columns if c != "lang_source")
    stack_expr = "stack({}, {}) AS (source, cnt)".format(
        len(src_cols),
        ", ".join(f"'{c}', `{c}`" for c in src_cols),
    )
    return (
        ct.select(
            F.col("lang_source").alias("lang"), F.expr(stack_expr)
        )
        .filter(F.col("cnt") > 0)
        .select("lang", "source", F.col("cnt").cast("long").alias("cnt"))
        .orderBy("lang", "source")
    )


@register(
    "x285_freq_items",
    None,
    doc="the DataFrameStatFunctions.freqItems API surface -- "
        "single-pass Karp/Misra-Gries frequent-item sketching with "
        "the textbook guarantee: every value with frequency above "
        "the support threshold IS in the result (false positives "
        "allowed, false negatives never). Rows-only by design (the "
        "false-positive set is implementation-defined); the gate "
        "asserts the guarantee itself: all truly-frequent langs and "
        "sources (support 0.1) appear in the returned arrays "
        "(tests/test_ops_quality.py::"
        "test_freq_items_never_misses_frequent_values)",
)
def x285_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fi = docs.stat.freqItems(["lang", "source"], support=0.1)
    return fi.select(
        F.array_join(F.array_sort("lang_freqItems"), ",").alias(
            "langs"
        ),
        F.array_join(F.array_sort("source_freqItems"), ",").alias(
            "sources"
        ),
    )


@register(
    "x286_welch_ttest",
    """WITH t AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B'
                         END AS grp,
                    CAST(round(value * 100, 0) AS BIGINT) AS c
                  FROM events WHERE event_type = 'purchase'),
       m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                    CAST(SUM(CAST(c AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) AS s1,
                    CAST(SUM(CAST(c AS DECIMAL(19,0))
                             * CAST(c AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) AS s2
             FROM t GROUP BY grp),
       w AS (SELECT
               MAX(CASE WHEN grp = 'A' THEN n END) AS na,
               MAX(CASE WHEN grp = 'A' THEN CAST(s1 AS DOUBLE) END)
                 AS sa1,
               MAX(CASE WHEN grp = 'A' THEN CAST(s2 AS DOUBLE) END)
                 AS sa2,
               MAX(CASE WHEN grp = 'B' THEN n END) AS nb,
               MAX(CASE WHEN grp = 'B' THEN CAST(s1 AS DOUBLE) END)
                 AS sb1,
               MAX(CASE WHEN grp = 'B' THEN CAST(s2 AS DOUBLE) END)
                 AS sb2
             FROM m)
       SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
              ROUND((sa1 / na - sb1 / nb)
                    / sqrt((sa2 / na - (sa1 / na) * (sa1 / na))
                             / (na - 1)
                           + (sb2 / nb - (sb1 / nb) * (sb1 / nb))
                             / (nb - 1)), 6) AS t_stat
       FROM w""",
    doc="Welch two-sample t statistic from exact moment sums -- the "
        "significance number x125's A/B lift is missing (a lift "
        "without a t is a coin flip with confidence theater): per-arm "
        "count / sum / sum-of-squares accumulate as exact integers "
        "(x267's DECIMAL(38,0) contract), the two arms pivot into "
        "ONE row via conditional MAX (a 2-row aggregate -- no join), "
        "and the t assembles in a single double expression written "
        "identically in both dialects. Unequal variances assumed "
        "(Welch, not pooled Student) -- the version that is valid "
        "when arms differ in spread, which real experiments do",
)
def x286_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t = ev.filter(F.col("event_type") == "purchase").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "grp"
        ),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    cd = F.col("c").cast("decimal(19,0)")
    m = t.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cd).cast("decimal(38,0)").alias("s1"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("s2"),
    )
    w = m.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
        F.max(
            F.when(F.col("grp") == "A", F.col("s1").cast("double"))
        ).alias("sa1"),
        F.max(
            F.when(F.col("grp") == "A", F.col("s2").cast("double"))
        ).alias("sa2"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("nb"),
        F.max(
            F.when(F.col("grp") == "B", F.col("s1").cast("double"))
        ).alias("sb1"),
        F.max(
            F.when(F.col("grp") == "B", F.col("s2").cast("double"))
        ).alias("sb2"),
    )
    return w.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nb AS BIGINT) AS n_b",
        """ROUND((sa1 / na - sb1 / nb)
                 / sqrt((sa2 / na - (sa1 / na) * (sa1 / na))
                          / (na - 1)
                        + (sb2 / nb - (sb1 / nb) * (sb1 / nb))
                          / (nb - 1)), 6) AS t_stat""",
    )


@register(
    "x287_linear_interpolation",
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS cents
                  FROM events WHERE event_type = 'purchase'
                  GROUP BY 1),
       nulled AS (SELECT day,
                    CASE WHEN EXTRACT(day FROM day) % 5 = 0 THEN NULL
                         ELSE cents END AS v
                  FROM d),
       ctx AS (SELECT day, v,
                 last_value(v IGNORE NULLS) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pv,
                 first_value(v IGNORE NULLS) OVER (ORDER BY day
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS nv,
                 last_value(CASE WHEN v IS NOT NULL THEN day END
                   IGNORE NULLS) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pd,
                 first_value(CASE WHEN v IS NOT NULL THEN day END
                   IGNORE NULLS) OVER (ORDER BY day
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS nd
               FROM nulled),
       f AS (SELECT day,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE (pv * CAST(nd - day AS BIGINT)
                          + nv * CAST(day - pd AS BIGINT))
                         // CAST(nd - pd AS BIGINT) END AS filled,
               CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
             FROM ctx)
       SELECT CAST(count(*) AS BIGINT) AS n_days,
              CAST(SUM(was_gap) AS BIGINT) AS n_filled,
              CAST(SUM(filled) AS BIGINT) AS total_cents
       FROM f""",
    doc="LINEAR interpolation gap fill -- the imputation tier above "
        "x211's LOCF (a silent sensor repeats; a missing REVENUE day "
        "should split the difference): deterministic nulls (day%5) "
        "punch holes in the daily series, each hole finds its "
        "bracketing observations via four IGNORE-NULLS window "
        "functions over the day-cardinality aggregate (x81's "
        "bounded contract -- the corpus never meets a window), and "
        "the interpolated value is INTEGER-EXACT in the WEIGHTED "
        "form ((pv*(nd-day) + nv*(day-pd)) DIV span) -- the "
        "numerator stays non-negative, dodging the //-floors vs "
        "DIV-truncates divergence on negatives (seam). Leading/"
        "trailing holes degrade to nearest-neighbor explicitly. "
        "DuckDB date subtraction yields integer days; Spark uses "
        "datediff -- same number, different spelling (seam)",
)
def x287_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    nulled = d.select(
        "day",
        F.when(F.dayofmonth("day") % 5 == 0, None)
        .otherwise(F.col("cents"))
        .alias("v"),
    )
    back = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    fwd = Window.orderBy("day").rowsBetween(
        1, Window.unboundedFollowing
    )
    vday = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = nulled.select(
        "day",
        "v",
        F.last("v", ignorenulls=True).over(back).alias("pv"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.last(vday, ignorenulls=True).over(back).alias("pd"),
        F.first(vday, ignorenulls=True).over(fwd).alias("nd"),
    )
    filled = F.when(F.col("v").isNotNull(), F.col("v")).when(
        F.col("pv").isNull(), F.col("nv")
    ).when(F.col("nv").isNull(), F.col("pv")).otherwise(
        # weighted form keeps the numerator NON-NEGATIVE so integer
        # division agrees across engines (DuckDB // floors, Spark DIV
        # truncates toward zero -- they differ on negatives)
        F.expr(
            "(pv * CAST(datediff(nd, day) AS BIGINT) "
            " + nv * CAST(datediff(day, pd) AS BIGINT)) "
            "DIV CAST(datediff(nd, pd) AS BIGINT)"
        )
    )
    f = ctx.select(
        filled.alias("filled"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("was_gap"),
    )
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("was_gap").cast("long").alias("n_filled"),
        F.sum("filled").cast("long").alias("total_cents"),
    )


@register(
    "x288_seasonality_index",
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS cents
                  FROM events GROUP BY 1),
       w AS (SELECT CAST(EXTRACT(isodow FROM day) AS BIGINT) AS dow,
                    CAST(count(*) AS BIGINT) AS n_days,
                    CAST(SUM(cents) AS BIGINT) AS cents
             FROM d GROUP BY 1),
       t AS (SELECT CAST(SUM(n_days) AS BIGINT) AS tot_days,
                    CAST(SUM(cents) AS BIGINT) AS tot_cents
             FROM w)
       SELECT w.dow, w.n_days, w.cents,
              CAST(w.cents * t.tot_days * 10000
                   // (w.n_days * t.tot_cents) AS BIGINT)
                AS seasonal_idx_x1e4
       FROM w, t ORDER BY dow""",
    doc="day-of-week seasonality index -- the multiplicative factor "
        "capacity planning and anomaly baselines both need (x77 "
        "flags deviations; this MEASURES the expected weekly shape): "
        "index = (dow mean / overall mean) as ONE integer expression "
        "-- cents*tot_days*1e4 DIV (n_days*tot_cents) -- so no "
        "intermediate float mean ever exists (numerator ~1e14, "
        "safely in BIGINT). The corpus reduces to day cells, then "
        "7 dow cells; the 1-row total attaches by broadcast cross "
        "join. ISO day-of-week on both engines (EXTRACT(isodow) <-> "
        "dayofweek remapped -- Spark's dayofweek is 1=Sunday, the "
        "off-by-one every calendar migration hits; documented by "
        "construction here)",
)
def x288_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # Spark dayofweek(): 1=Sunday..7=Saturday; ISO wants 1=Monday..7=Sunday
    iso = ((F.dayofweek("day") + 5) % 7 + 1).cast("long")
    w = d.groupBy(iso.alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("cents"),
    )
    t = w.agg(
        F.sum("n_days").cast("long").alias("tot_days"),
        F.sum("cents").cast("long").alias("tot_cents"),
    )
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "dow",
            "n_days",
            "cents",
            F.expr(
                "CAST(cents * tot_days * 10000 "
                "DIV (n_days * tot_cents) AS BIGINT)"
            ).alias("seasonal_idx_x1e4"),
        )
        .orderBy("dow")
    )


@register(
    "x289_cusum_changepoint",
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                    CAST(count(*) AS BIGINT) AS n
                  FROM events GROUP BY 1),
       t AS (SELECT CAST(count(*) AS BIGINT) AS k,
                    CAST(SUM(n) AS BIGINT) AS total FROM d),
       c AS (SELECT day,
                    CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                      AS i,
                    CAST(SUM(n) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                      ROW) AS BIGINT) AS prefix
             FROM d),
       s AS (SELECT c.day, c.i,
                    CAST(t.k * c.prefix - c.i * t.total AS BIGINT)
                      AS scaled_cusum
             FROM c, t)
       SELECT day, i AS day_index, scaled_cusum
       FROM s
       ORDER BY abs(scaled_cusum) DESC, day
       LIMIT 5""",
    doc="CUSUM changepoint scan with ZERO floats: the classic "
        "cumulative deviation from the mean, "
        "CUSUM_k = prefix_k - k*mean, scaled by the day count K "
        "into K*prefix_k - k*total -- an EXACT integer that ranks "
        "identically (positive scaling preserves argmax), so the "
        "level-shift candidate (max |CUSUM|) is bit-deterministic "
        "cross-engine where the float formulation would hash-drift. "
        "The running sum rides the day-cardinality aggregate (x81 "
        "bounded contract), the (K, total) pair broadcasts as one "
        "row; top-5 by |scaled| with a day tiebreak makes the "
        "output total-ordered",
)
def x289_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = d.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("total"),
    )
    w = Window.orderBy("day")
    c = d.select(
        "day",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("n")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("prefix"),
    )
    s = c.crossJoin(F.broadcast(t)).select(
        "day",
        F.col("i").alias("day_index"),
        (F.col("k") * F.col("prefix") - F.col("i") * F.col("total"))
        .cast("long")
        .alias("scaled_cusum"),
    )
    return s.orderBy(
        F.abs(F.col("scaled_cusum")).desc(), "day"
    ).limit(5)


@register(
    "x290_autocorrelation",
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS v
                  FROM events GROUP BY 1),
       p AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n,
                    CAST(SUM(a.v) AS BIGINT) AS sx,
                    CAST(SUM(b.v) AS BIGINT) AS sy,
                    CAST(SUM(CAST(a.v AS DECIMAL(19,0))
                             * CAST(b.v AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) AS sxy,
                    CAST(SUM(CAST(a.v AS DECIMAL(19,0))
                             * CAST(a.v AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) AS sxx,
                    CAST(SUM(CAST(b.v AS DECIMAL(19,0))
                             * CAST(b.v AS DECIMAL(19,0)))
                      AS DECIMAL(38,0)) AS syy
             FROM d a
             JOIN (VALUES (1), (7)) AS l(lag) ON TRUE
             JOIN d b ON b.day = a.day + CAST(l.lag AS INTEGER)
             GROUP BY 1)
       SELECT CAST(lag AS BIGINT) AS lag, n,
              ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE)
                                * CAST(sy AS DOUBLE))), 6) AS acf
       FROM p ORDER BY lag""",
    doc="lag-1 and lag-7 autocorrelation of the daily revenue series "
        "-- the two numbers that say 'trending' vs 'weekly-seasonal' "
        "(x288 measures the shape; this measures how much structure "
        "exists to measure): the lagged pairing is an exact DATE "
        "equi-join on the day-cardinality table (missing days "
        "correctly produce NO pair -- a row-lag would silently "
        "pair across gaps, x207's lesson), Pearson assembles from "
        "exact integer/decimal moment sums in one double expression "
        "written identically in both dialects (x189/x267 contract). "
        "Both lags share one pass via the 2-row VALUES dim",
)
def x290_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    lags = F.broadcast(
        spark.createDataFrame([(1,), (7,)], "lag bigint")
    )
    a = d.select(F.col("day").alias("aday"), F.col("v").alias("av"))
    b = d.select(F.col("day").alias("bday"), F.col("v").alias("bv"))
    pairs = (
        a.crossJoin(lags)
        .join(
            b,
            F.col("bday")
            == F.expr("date_add(aday, CAST(lag AS INT))"),
        )
    )
    ad = F.col("av").cast("decimal(19,0)")
    bd = F.col("bv").cast("decimal(19,0)")
    p = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("av").cast("long").alias("sx"),
        F.sum("bv").cast("long").alias("sy"),
        F.sum(ad * bd).cast("decimal(38,0)").alias("sxy"),
        F.sum(ad * ad).cast("decimal(38,0)").alias("sxx"),
        F.sum(bd * bd).cast("decimal(38,0)").alias("syy"),
    )
    return p.selectExpr(
        "CAST(lag AS BIGINT) AS lag",
        "n",
        """ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)
                             * CAST(sy AS DOUBLE))), 6) AS acf""",
    ).orderBy("lag")


@register(
    "x291_runs_test",
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                    CAST(count(*) AS BIGINT) AS n
                  FROM events GROUP BY 1),
       med AS (SELECT CAST(quantile_disc(n, 0.5) AS BIGINT) AS m
               FROM d),
       s AS (SELECT day,
                    CASE WHEN d.n > med.m THEN 1 ELSE 0 END AS above
             FROM d, med WHERE d.n <> med.m),
       r AS (SELECT above,
                    CASE WHEN lag(above) OVER (ORDER BY day)
                         IS DISTINCT FROM above
                    THEN 1 ELSE 0 END AS new_run
             FROM s)
       SELECT CAST(SUM(new_run) AS BIGINT) AS n_runs,
              CAST(SUM(above) AS BIGINT) AS n_above,
              CAST(SUM(1 - above) AS BIGINT) AS n_below
       FROM r""",
    doc="Wald-Wolfowitz runs test inputs -- the randomness check "
        "behind 'is this daily series actually trending or just "
        "noisy' (too FEW runs = regime persistence, too MANY = "
        "oscillation): days classify above/below the DISCRETE "
        "median (quantile_disc picks an actual value -- x254's "
        "seam -- so median-equal days drop symmetrically on both "
        "engines), runs count via the lag-transition flag with "
        "IS DISTINCT FROM handling the first row's NULL, all over "
        "the day-cardinality table. The z-statistic is left to the "
        "consumer: (n_runs, n_above, n_below) is the sufficient "
        "statistic and keeps the hash float-free",
)
def x291_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    med = d.agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n) "
            "AS BIGINT)"
        ).alias("m")
    )
    s = (
        d.crossJoin(F.broadcast(med))
        .filter(F.col("n") != F.col("m"))
        .select(
            "day",
            F.when(F.col("n") > F.col("m"), 1).otherwise(0).alias(
                "above"
            ),
        )
    )
    w = Window.orderBy("day")
    r = s.select(
        "above",
        F.when(
            ~F.lag("above").over(w).eqNullSafe(F.col("above")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    return r.agg(
        F.sum("new_run").cast("long").alias("n_runs"),
        F.sum("above").cast("long").alias("n_above"),
        F.sum(1 - F.col("above")).cast("long").alias("n_below"),
    )


@register(
    "x292_ewma_halflife",
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS v
                  FROM events GROUP BY 1),
       r AS (SELECT day, v,
                    CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                      AS i
             FROM d),
       e AS (SELECT a.day, a.i,
                    CAST(SUM(b.v * CAST(power(2, 10 - (a.i - b.i))
                             AS BIGINT)) AS BIGINT) AS num,
                    CAST(SUM(CAST(power(2, 10 - (a.i - b.i))
                             AS BIGINT)) AS BIGINT) AS den
             FROM r a JOIN r b
               ON b.i BETWEEN a.i - 10 AND a.i
             GROUP BY 1, 2)
       SELECT day, CAST(num // den AS BIGINT) AS ewma_cents
       FROM e ORDER BY day""",
    doc="half-life EWMA with ZERO floats: weights for a half-life-of-"
        "one-step decay are powers of two, so the 11-day windowed "
        "EWMA is an exact integer ratio -- numerator = sum of "
        "v_i * 2^(10-lag), denominator = sum of the same weights "
        "(self-normalizing at the series head, where fewer than 11 "
        "points exist -- the boundary most EWMA implementations get "
        "silently wrong). The float formulation (pow(alpha, lag)) "
        "is engine-divergent per the verify gotchas; integer "
        "power-of-two weights are not. The rank self-join runs on "
        "the day-cardinality table (x81 bounded contract), 11 rows "
        "per row, and power(2, k) on INTEGER exponents is exact in "
        "both engines for k <= 10",
)
def x292_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    r = d.select(
        "day", "v",
        F.row_number().over(Window.orderBy("day")).cast("long")
        .alias("i"),
    )
    a = r.select(F.col("day"), F.col("i").alias("ai"))
    b = r.select(F.col("i").alias("bi"), F.col("v").alias("bv"))
    wgt = F.pow(F.lit(2.0), 10 - (F.col("ai") - F.col("bi"))).cast(
        "long"
    )
    e = (
        a.join(
            b,
            (F.col("bi") >= F.col("ai") - 10)
            & (F.col("bi") <= F.col("ai")),
        )
        .groupBy("day", "ai")
        .agg(
            F.sum(F.col("bv") * wgt).cast("long").alias("num"),
            F.sum(wgt).cast("long").alias("den"),
        )
    )
    return e.select(
        "day",
        F.expr("CAST(num DIV den AS BIGINT)").alias("ewma_cents"),
    ).orderBy("day")


@register(
    "x293_association_rules",
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
                      FROM lineitem),
       n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nb
             FROM items),
       s AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS supp
             FROM items GROUP BY 1),
       p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                    CAST(count(*) AS BIGINT) AS supp_ab
             FROM items a JOIN items b USING (l_orderkey)
             WHERE a.l_partkey < b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 3),
       l AS (SELECT p.pa, p.pb, p.supp_ab,
                    CAST(p.supp_ab * n.nb * 10000
                         // (sa.supp * sb.supp) AS BIGINT)
                      AS lift_x1e4
             FROM p, n
             JOIN s sa ON sa.l_partkey = p.pa
             JOIN s sb ON sb.l_partkey = p.pb)
       SELECT pa, pb, supp_ab, lift_x1e4
       FROM l ORDER BY lift_x1e4 DESC, pa, pb LIMIT 10""",
    doc="association-rule mining over the co-purchase pairs (x76 "
        "counts support; this prices it): lift = P(ab)/(P(a)P(b)) "
        "as ONE integer expression -- supp_ab * n_baskets * 1e4 "
        "DIV (supp_a * supp_b) -- so no probability ever exists as "
        "a float; the support>=3 floor prunes the pair table BEFORE "
        "the single-item supports attach (two broadcast-joinable "
        "lookups at any scale: the item-support table is "
        "part-cardinality). Top-10 by (lift, pa, pb) is "
        "total-ordered. The pair table comes from the basket-key "
        "equi-join (pairs are basket-local by construction -- the "
        "join key is the basket id, so cardinality is bounded by "
        "basket size squared, x76's contract)",
)
def x293_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("nb")
    )
    s = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("supp")
    )
    a = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("pa")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb")
    )
    p = (
        a.join(b, (a["l_orderkey"] == b["ok2"]) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("supp_ab"))
        .filter(F.col("supp_ab") >= 3)
    )
    sa = s.select(F.col("l_partkey").alias("pa"), F.col("supp").alias("supp_a"))
    sb = s.select(F.col("l_partkey").alias("pb"), F.col("supp").alias("supp_b"))
    l = (
        p.crossJoin(F.broadcast(n))
        .join(F.broadcast(sa), "pa")
        .join(F.broadcast(sb), "pb")
        .select(
            "pa", "pb", "supp_ab",
            F.expr(
                "CAST(supp_ab * nb * 10000 "
                "DIV (supp_a * supp_b) AS BIGINT)"
            ).alias("lift_x1e4"),
        )
    )
    return l.orderBy(F.desc("lift_x1e4"), "pa", "pb").limit(10)


@register(
    "x294_fifo_matching",
    """WITH mv AS (SELECT l_partkey AS part,
                    CASE WHEN l_returnflag = 'R' THEN 'in'
                         ELSE 'out' END AS dir,
                    CAST(l_quantity AS BIGINT) AS qty,
                    l_shipdate, l_orderkey, l_linenumber
                  FROM lineitem WHERE l_partkey % 50 = 0),
       c AS (SELECT part, dir, qty,
                    CAST(SUM(qty) OVER (PARTITION BY part, dir
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                      ROW) AS BIGINT) AS hi
             FROM mv),
       iv AS (SELECT part, dir, hi - qty AS lo, hi FROM c),
       m AS (SELECT i.part,
                    CAST(SUM(LEAST(i.hi, o.hi)
                             - GREATEST(i.lo, o.lo)) AS BIGINT)
                      AS matched_qty
             FROM iv i JOIN iv o
               ON o.part = i.part AND i.dir = 'in' AND o.dir = 'out'
              AND i.lo < o.hi AND o.lo < i.hi
             GROUP BY 1),
       tot AS (SELECT part,
                      CAST(SUM(CASE WHEN dir = 'in' THEN qty END)
                        AS BIGINT) AS total_in,
                      CAST(SUM(CASE WHEN dir = 'out' THEN qty END)
                        AS BIGINT) AS total_out
               FROM mv GROUP BY 1)
       SELECT t.part, t.total_in, t.total_out,
              COALESCE(m.matched_qty, 0) AS matched_qty
       FROM tot t LEFT JOIN m ON m.part = t.part
       ORDER BY t.part""",
    doc="FIFO layer matching -- the inventory/cost-attribution "
        "algorithm that LOOKS inherently sequential (each issue "
        "consumes the oldest open receipt) expressed as pure "
        "relational algebra: per part, receipts and issues each "
        "become cumulative-quantity INTERVALS ([cum-qty, cum+qty) "
        "on the shared FIFO number line), and matched quantity is "
        "the total INTERVAL OVERLAP -- an interval join on the "
        "cumulative axis (x30's range-join shape on a derived "
        "domain). Both cumulative windows share one part-key "
        "shuffle; the overlap join is part-local and "
        "layer-cardinality bounded. Total ORDER BY (shipdate, "
        "orderkey, linenumber) makes the FIFO sequence -- and "
        "therefore every layer boundary -- deterministic; the part "
        "% 50 sample keeps the oracle's self-join honest at sf0.1",
)
def x294_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    mv = li.filter(F.col("l_partkey") % 50 == 0).select(
        F.col("l_partkey").alias("part"),
        F.when(F.col("l_returnflag") == "R", "in")
        .otherwise("out")
        .alias("dir"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        Window.partitionBy("part", "dir")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = mv.select(
        "part", "dir", "qty",
        F.sum("qty").over(w).cast("long").alias("hi"),
    )
    iv = c.select(
        "part", "dir", (F.col("hi") - F.col("qty")).alias("lo"), "hi"
    )
    i = iv.filter(F.col("dir") == "in").select(
        "part", F.col("lo").alias("ilo"), F.col("hi").alias("ihi")
    )
    o = iv.filter(F.col("dir") == "out").select(
        F.col("part").alias("part2"),
        F.col("lo").alias("olo"),
        F.col("hi").alias("ohi"),
    )
    m = (
        i.join(
            o,
            (F.col("part") == F.col("part2"))
            & (F.col("ilo") < F.col("ohi"))
            & (F.col("olo") < F.col("ihi")),
        )
        .groupBy("part")
        .agg(
            F.sum(
                F.least("ihi", "ohi") - F.greatest("ilo", "olo")
            )
            .cast("long")
            .alias("matched_qty")
        )
    )
    tot = mv.groupBy("part").agg(
        F.sum(F.when(F.col("dir") == "in", F.col("qty")))
        .cast("long")
        .alias("total_in"),
        F.sum(F.when(F.col("dir") == "out", F.col("qty")))
        .cast("long")
        .alias("total_out"),
    )
    return (
        tot.join(m, "part", "left")
        .select(
            "part",
            "total_in",
            "total_out",
            F.coalesce("matched_qty", F.lit(0))
            .cast("long")
            .alias("matched_qty"),
        )
        .orderBy("part")
    )


def _x295_oracle() -> str:
    from ...ops.incremental import incremental_neardup_oracle_sql

    return incremental_neardup_oracle_sql()


@register(
    "x295_incremental_neardup",
    _x295_oracle(),
    doc="cross-batch incremental NEAR-dup dedup end-to-end (the "
        "continuous-ingestion capability round-5 flagged missing: the "
        "persistent index was exact-hash only, so a drop paraphrasing "
        "yesterday's corpus sailed through). Batch 1 (doc_id % 5 < 3) "
        "self-dedups via deterministic MinHash band candidates + "
        "exact-Jaccard verify over HASHED shingle sets; its survivors' "
        "signatures (4 band keys + 16-hex shingle hashes, "
        "ops/incremental.py neardup_signatures) ARE the index -- no "
        "prior text is ever re-read. Batch 2 then probes the index and "
        "itself; each doc is classified neardup_prior / neardup_batch "
        "/ fresh (prior wins). Scale: the only corpus-sized shuffle "
        "per probe is the (band_id, band_key) equi-join; verify joins "
        "are candidate-sized; hot index bands capped at 1000 docs. "
        "Persistence leg (parquet append-mode index, idempotent "
        "re-runs) in incremental_neardup_dedup + "
        "streaming/dedup.py stream_incremental_neardup, exercised in "
        "tests/test_incremental.py",
)
def x295_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops.incremental import neardup_matches, neardup_signatures

    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.filter(F.col("doc_id") % 5 < 3)
    b2 = docs.filter(F.col("doc_id") % 5 >= 3)
    s1 = neardup_signatures(b1)
    drop1 = (
        neardup_matches(s1, s1)
        .filter(F.col("old_id") < F.col("new_id"))
        .select("new_id")
        .distinct()
    )
    idx = s1.join(drop1, s1["doc"] == drop1["new_id"], "left_anti")
    s2 = neardup_signatures(b2)
    within = (
        neardup_matches(s2, s2)
        .filter(F.col("old_id") < F.col("new_id"))
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("__w", F.lit(1))
    )
    prior = (
        neardup_matches(s2, idx)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("__p", F.lit(1))
    )
    status = (
        F.when(F.col("__p") == 1, F.lit("neardup_prior"))
        .when(F.col("__w") == 1, F.lit("neardup_batch"))
        .otherwise(F.lit("fresh"))
    )
    return (
        b2.select("doc_id")
        .join(prior, "doc_id", "left")
        .join(within, "doc_id", "left")
        .select("doc_id", status.alias("status"))
        .orderBy("doc_id")
    )


@register(
    "x310_cdc_merge",
    """WITH snap AS (
         SELECT c_custkey AS k,
                CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
         FROM customer
       ),
       cdc AS (
         SELECT k, 'U' AS op, cents + 10000 AS new_cents
         FROM snap WHERE k % 7 = 0
         UNION ALL
         SELECT k, 'D', NULL FROM snap
         WHERE k % 7 <> 0 AND k % 11 = 0
         UNION ALL
         SELECT k + 1000000, 'I', cents FROM snap WHERE k % 13 = 0
       ),
       merged AS (
         SELECT COALESCE(s.k, c.k) AS k,
                c.op,
                CASE WHEN c.op = 'U' THEN c.new_cents
                     WHEN c.op = 'I' THEN c.new_cents
                     ELSE s.cents END AS cents
         FROM snap s FULL OUTER JOIN cdc c ON c.k = s.k
         WHERE c.op IS NULL OR c.op <> 'D'
       )
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM snap) AS n_before,
              CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated,
              CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inserted,
              (SELECT CAST(count(*) AS BIGINT) FROM cdc
               WHERE op = 'D') AS n_deleted,
              CAST(count(*) AS BIGINT) AS n_after,
              CAST(SUM(cents) AS BIGINT) AS total_cents_after
       FROM merged""",
    doc="CDC MERGE apply (upsert/delete) as pure DataFrame algebra -- "
        "the MERGE INTO shape without a table format: a deterministic "
        "change feed (updates +100.00 for custkey%7, deletes for %11, "
        "inserts as key+1e6 clones for %13) applies onto the customer "
        "snapshot via ONE key-partitioned FULL OUTER join + CASE -- "
        "matched-update, matched-delete and not-matched-insert in a "
        "single pass, the exact semantics Delta/Iceberg MERGE "
        "compiles to. Balances stay exact integer cents; the output "
        "reconciles op counts against n_before/n_after (the "
        "audit every CDC pipeline ships). Scale: both sides shuffle "
        "once on the merge key; at 100 TB this is the same "
        "sort-merge FULL OUTER any snapshot+feed reconciliation "
        "pays, with no driver-side state",
)
def x310_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    snap = cust.select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    upd = snap.filter(F.col("k") % 7 == 0).select(
        "k", F.lit("U").alias("op"), (F.col("cents") + 10000).alias("new_cents")
    )
    dele = snap.filter((F.col("k") % 7 != 0) & (F.col("k") % 11 == 0)).select(
        "k", F.lit("D").alias("op"), F.lit(None).cast("long").alias("new_cents")
    )
    ins = snap.filter(F.col("k") % 13 == 0).select(
        (F.col("k") + 1000000).alias("k"),
        F.lit("I").alias("op"),
        F.col("cents").alias("new_cents"),
    )
    cdc = upd.union(dele).union(ins)
    s = snap.withColumnRenamed("k", "sk")
    merged = (
        s.join(cdc, s["sk"] == cdc["k"], "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce("sk", "k").alias("mk"),
            "op",
            F.when(F.col("op").isin("U", "I"), F.col("new_cents"))
            .otherwise(F.col("cents"))
            .alias("mcents"),
        )
    )
    n_before = snap.agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    n_deleted = cdc.filter(F.col("op") == "D").agg(
        F.count(F.lit(1)).cast("long").alias("n_deleted")
    )
    body = merged.agg(
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
        .cast("long")
        .alias("n_updated"),
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
        .cast("long")
        .alias("n_inserted"),
        F.count(F.lit(1)).cast("long").alias("n_after"),
        F.sum("mcents").cast("long").alias("total_cents_after"),
    )
    return (
        body.crossJoin(F.broadcast(n_before))
        .crossJoin(F.broadcast(n_deleted))
        .select(
            "n_before",
            "n_updated",
            "n_inserted",
            "n_deleted",
            "n_after",
            "total_cents_after",
        )
    )


@register(
    "x311_fold_balance",
    """WITH f AS (
         SELECT CASE
                  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':fold'),
                       1, 4) < '3333' THEN 0
                  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':fold'),
                       1, 4) < '6666' THEN 1
                  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':fold'),
                       1, 4) < '9999' THEN 2
                  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':fold'),
                       1, 4) < 'cccc' THEN 3
                  ELSE 4 END AS fold,
                lang
         FROM documents
       ),
       c AS (SELECT fold, lang, CAST(count(*) AS BIGINT) AS n_docs
             FROM f GROUP BY 1, 2),
       t AS (SELECT fold, CAST(SUM(n_docs) AS BIGINT) AS fold_total
             FROM c GROUP BY 1)
       SELECT c.fold, c.lang, c.n_docs, t.fold_total,
              CAST(c.n_docs * 10000 // t.fold_total AS BIGINT)
                AS lang_share_x1e4
       FROM c JOIN t USING (fold)
       ORDER BY c.fold, c.lang""",
    doc="k-fold STRATIFICATION audit: x18 splits once, cross-"
        "validation needs k folds AND proof they are balanced -- "
        "each doc lands in one of 5 folds by md5-threshold buckets "
        "(x18's content-keyed rule generalized: equal 16-bit hex "
        "ranges, stable under retries/repartitioning), then per-fold "
        "language shares surface any stratification skew BEFORE a "
        "model trains on it (a fold missing a language is an eval "
        "lie). Shares are exact: n*1e4 DIV fold_total on positive "
        "BIGINTs. Scale: one narrow projection + two tiny "
        "aggregations; the fold x lang table is k*|langs| rows "
        "regardless of corpus size",
)
def x311_fold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":fold"))),
        1,
        4,
    )
    fold = (
        F.when(h < "3333", 0)
        .when(h < "6666", 1)
        .when(h < "9999", 2)
        .when(h < "cccc", 3)
        .otherwise(4)
    )
    c = docs.select(fold.alias("fold"), "lang").groupBy(
        "fold", "lang"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    t = c.groupBy("fold").agg(
        F.sum("n_docs").cast("long").alias("fold_total")
    )
    return (
        c.join(t, "fold")
        .select(
            "fold",
            "lang",
            "n_docs",
            "fold_total",
            F.expr(
                "CAST(n_docs * 10000 DIV fold_total AS BIGINT)"
            ).alias("lang_share_x1e4"),
        )
        .orderBy("fold", "lang")
    )


@register(
    "x312_feature_hashing",
    """WITH tok AS (
         SELECT DISTINCT t AS token
         FROM documents, unnest(string_split(lower(text), ' ')) u(t)
         WHERE t <> ''
       ),
       b AS (
         SELECT token,
                (strpos('0123456789abcdef',
                        substr(md5(token), 1, 1)) - 1) * 16
                + (strpos('0123456789abcdef',
                          substr(md5(token), 2, 1)) - 1) AS bucket
         FROM tok
       ),
       load AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
                FROM b GROUP BY 1)
       SELECT CAST(SUM(n) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS buckets_used,
              CAST(MAX(n) AS BIGINT) AS max_bucket_load,
              CAST((SUM(n) - count(*)) * 10000 // SUM(n) AS BIGINT)
                AS collision_rate_x1e4
       FROM load""",
    doc="hashing-trick collision audit for a 256-bucket feature "
        "space: every distinct token maps to a bucket via its first "
        "two md5 hex chars decoded with strpos math (hex->int "
        "WITHOUT a conv() builtin -- DuckDB has none, so the "
        "position arithmetic IS the portable decode; the instr/"
        "strpos name seam is the documented dialect map). Reports "
        "vocabulary size, buckets hit, max bucket load and the "
        "collision rate -- the number that decides whether 2^k "
        "buckets suffice before a hashed-features model silently "
        "aliases its vocabulary. Exact integers throughout. Scale: "
        "one token explode (the corpus pass any vocab build pays), "
        "distinct, then 256-row arithmetic",
)
def x312_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(F.explode(_toks("text")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    # expr(): F.instr takes only a string-literal needle, and here the
    # needle is constant but the HAYSTACK position of a per-row char is
    # wanted -- instr(haystack_lit, char_col) needs the SQL form
    bucket = F.expr(
        "(instr('0123456789abcdef', substr(md5(token), 1, 1)) - 1) * 16"
        " + (instr('0123456789abcdef', substr(md5(token), 2, 1)) - 1)"
    )
    load = tok.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return load.agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("buckets_used"),
        F.max("n").cast("long").alias("max_bucket_load"),
        F.expr(
            "CAST((SUM(n) - count(*)) * 10000 DIV SUM(n) AS BIGINT)"
        ).alias("collision_rate_x1e4"),
    )


@register(
    "x306_deletion_audit",
    """WITH flagged AS (SELECT c_custkey FROM customer
                        WHERE c_custkey % 97 = 0),
       c AS (SELECT 'customer' AS tbl,
                    CAST(count(*) AS BIGINT) AS residual_rows
             FROM customer WHERE c_custkey % 97 = 0),
       o AS (SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT)
             FROM orders WHERE o_custkey IN
               (SELECT c_custkey FROM flagged)),
       l AS (SELECT 'lineitem' AS tbl, CAST(count(*) AS BIGINT)
             FROM lineitem li JOIN orders od
               ON od.o_orderkey = li.l_orderkey
             WHERE od.o_custkey IN (SELECT c_custkey FROM flagged))
       SELECT * FROM c UNION ALL SELECT * FROM o
       UNION ALL SELECT * FROM l
       ORDER BY tbl""",
    doc="right-to-be-forgotten CASCADE audit: given a deletion set "
        "(custkey % 97 = 0 stands in for the request list), count "
        "every row still REFERENCING a flagged subject per table -- "
        "directly (customer), through the FK (orders), and "
        "transitively through two hops (lineitem via its order) -- "
        "the residual report a GDPR/CCPA purge must drive to zero, "
        "and the missing piece next to x172/x246/x280's "
        "anonymization entries (deleting the customer row while "
        "order history remains IS the compliance failure). Scale: "
        "the request list is a broadcast-small semi-join side at "
        "every hop; lineitem joins orders on its natural key, "
        "flags never fan out",
)
def x306_deletion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    flagged = cust.filter(F.col("c_custkey") % 97 == 0).select(
        "c_custkey"
    )
    c = flagged.agg(F.count(F.lit(1)).cast("long").alias("residual_rows")).select(
        F.lit("customer").alias("tbl"), "residual_rows"
    )
    fo = orders.join(
        F.broadcast(flagged),
        orders["o_custkey"] == flagged["c_custkey"],
        "left_semi",
    )
    o = fo.agg(F.count(F.lit(1)).cast("long").alias("residual_rows")).select(
        F.lit("orders").alias("tbl"), "residual_rows"
    )
    fl = li.join(
        fo.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    l = fl.agg(F.count(F.lit(1)).cast("long").alias("residual_rows")).select(
        F.lit("lineitem").alias("tbl"), "residual_rows"
    )
    return c.union(o).union(l).orderBy("tbl")


def _x307_oracle() -> str:
    return f"""WITH RECURSIVE {_X03_PAIRS_CTE},
       edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION
         SELECT id_b, id_a FROM pairs
       ),
       walk (node, lbl) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.node = e.v
       ),
       comp AS (SELECT node, MIN(lbl) AS rep FROM walk GROUP BY node),
       scored AS (
         SELECT c.rep, c.node, d.n_chars
         FROM comp c JOIN documents d ON d.doc_id = c.node
       ),
       agg AS (
         SELECT rep, CAST(count(*) AS BIGINT) AS n_members,
                CAST(MIN(node) AS BIGINT) AS min_id,
                MAX(n_chars) AS mx
         FROM scored GROUP BY rep
       )
       SELECT a.rep AS cluster, a.n_members, a.min_id,
              CAST(MIN(s.node) AS BIGINT) AS keep_id,
              CAST(a.mx AS BIGINT) AS keep_chars
       FROM agg a JOIN scored s ON s.rep = a.rep AND s.n_chars = a.mx
       GROUP BY a.rep, a.n_members, a.min_id, a.mx
       ORDER BY cluster"""


@register(
    "x307_cluster_representative",
    _x307_oracle(),
    doc="QUALITY-AWARE canonical-doc selection per duplicate cluster: "
        "x24 labels transitive near-dup clusters but keeps the MIN-ID "
        "doc -- production pipelines keep the LONGEST member (the "
        "least-truncated crawl of the page); this entry picks "
        "argmax(n_chars) with a min-id tie-break per cluster, the "
        "keep-list a transitive dedup actually ships. Spark folds the "
        "argmax into one min(struct(-n_chars, node)) aggregate over "
        "the cluster labels (x302's shape -- no window, no per-group "
        "subquery); DuckDB mirrors with arg_min over the same "
        "composite key. Cluster labels come from the shared x03 pair "
        "stage + min-label propagation, so the whole chain reuses "
        "verified machinery",
)
def x307_cluster_representative(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _shared_jaccard_pairs(spark, sf_dir)
    comp = dedup.duplicate_clusters(pairs)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), "n_chars"
    )
    scored = comp.join(docs, "node")
    return (
        scored.groupBy(F.col("rep").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").cast("long").alias("min_id"),
            F.min(
                F.struct(
                    (-F.col("n_chars")).alias("nc"), F.col("node")
                )
            )
            .getField("node")
            .cast("long")
            .alias("keep_id"),
            F.max("n_chars").cast("long").alias("keep_chars"),
        )
        .orderBy("cluster")
    )


@register(
    "x308_mad_outliers",
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS v
                  FROM events GROUP BY 1),
       med AS (SELECT CAST(quantile_disc(v, 0.5) AS BIGINT) AS m
               FROM d),
       dev AS (SELECT d.day, d.v, abs(d.v - med.m) AS ad
               FROM d, med),
       mad AS (SELECT CAST(quantile_disc(ad, 0.5) AS BIGINT) AS mad
               FROM dev)
       SELECT med.m AS median_cents, mad.mad AS mad_cents,
              CAST(med.m - 3 * mad.mad AS BIGINT) AS lo_fence,
              CAST(med.m + 3 * mad.mad AS BIGINT) AS hi_fence,
              CAST(count(*) AS BIGINT) AS n_days,
              CAST(SUM(CASE WHEN dev.v < med.m - 3 * mad.mad
                         OR dev.v > med.m + 3 * mad.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM dev, med, mad
       GROUP BY med.m, mad.mad""",
    doc="robust outlier fence via MEDIAN ABSOLUTE DEVIATION: a "
        "mean/stddev fence (z-score) is dragged by the very outliers "
        "it hunts -- median +/- 3*MAD has a 50% breakdown point, the "
        "robust-statistics standard for revenue anomaly days. "
        "Everything is exact integers: daily cents, DISC medians "
        "(actual data values -- x254's pinned seam, so both engines "
        "pick the identical cents), absolute deviations, and the "
        "fences; NO float ever exists. Both medians ride the "
        "day-cardinality aggregate (x81 bounded contract); the "
        "1-row med/mad attach as broadcast scalars",
)
def x308_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    med = d.agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) "
            "AS BIGINT)"
        ).alias("m")
    )
    dev = d.crossJoin(F.broadcast(med)).select(
        "day", "v", "m", F.abs(F.col("v") - F.col("m")).alias("ad")
    )
    mad = dev.agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ad) "
            "AS BIGINT)"
        ).alias("mad")
    )
    out = dev.crossJoin(F.broadcast(mad))
    lo = F.col("m") - 3 * F.col("mad")
    hi = F.col("m") + 3 * F.col("mad")
    return out.groupBy("m", "mad").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(
            F.when((F.col("v") < lo) | (F.col("v") > hi), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    ).select(
        F.col("m").alias("median_cents"),
        F.col("mad").alias("mad_cents"),
        lo.cast("long").alias("lo_fence"),
        hi.cast("long").alias("hi_fence"),
        "n_days",
        "n_outliers",
    )


@register(
    "x309_theil_sen",
    """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS v
                  FROM events GROUP BY 1),
       p AS (SELECT ROUND(CAST(b.v - a.v AS DOUBLE)
                          / date_diff('day', a.day, b.day), 4)
                 AS slope
             FROM d a JOIN d b ON a.day < b.day)
       SELECT CAST(count(*) AS BIGINT) AS n_pairs,
              ROUND(CAST(quantile_disc(slope, 0.5) AS DOUBLE), 4)
                AS slope_cents_per_day
       FROM p""",
    doc="Theil-Sen trend estimator -- the MEDIAN of all pairwise "
        "day-to-day slopes: a single anomalous day wrecks an OLS "
        "slope, but Theil-Sen tolerates ~29% corruption (the robust "
        "complement to x290's Pearson ACF and x308's MAD fence). "
        "Slopes divide exact integer cents by exact integer day gaps "
        "(DATE-typed date_diff counts whole days -- no "
        "boundary-crossing trap) once in DOUBLE, round to 4; the "
        "median is DISC (an actual slope value -- x254's seam, "
        "identical pick both engines). The pair stage is the "
        "day-cardinality table self-joined -- bounded quadratic in "
        "DAYS (365^2 at any corpus size), never in rows (x81 "
        "contract squared)",
)
def x309_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    a = d.select(F.col("day").alias("da"), F.col("v").alias("va"))
    b = d.select(F.col("day").alias("db"), F.col("v").alias("vb"))
    # day-cardinality inequality join: broadcast one side so the range
    # condition plans as a bounded BNLJ, never a CartesianProduct
    p = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        F.round(
            (F.col("vb") - F.col("va")).cast("double")
            / F.datediff("db", "da"),
            4,
        ).alias("slope")
    )
    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.expr(
                "CAST(percentile_disc(0.5) WITHIN GROUP "
                "(ORDER BY slope) AS DOUBLE)"
            ),
            4,
        ).alias("slope_cents_per_day"),
    )


# x304: RBO(p=1/2, k=10) decomposes per common item: an item entering
# both rankings at depth g = max(rank_a, rank_b) contributes
# W(g) = sum_{d=g..10} 2^(10-d) * (2520/d) to the 2^10*2520-scaled
# score (2520 = lcm(1..10), so every term is an exact integer).
_RBO_W = {
    1: 1788440, 2: 498200, 3: 175640, 4: 68120, 5: 27800,
    6: 11672, 7: 4952, 8: 2072, 9: 812, 10: 252,
}


_RBO_DEN = 1024 * 2520


@register(
    "x304_rank_biased_overlap",
    f"""WITH s AS (
         SELECT l_suppkey AS item,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
                CAST(count(*) AS BIGINT) AS c
         FROM lineitem GROUP BY 1
       ),
       ra AS (SELECT item, CAST(row_number() OVER (ORDER BY q DESC,
                item) AS BIGINT) AS ra
              FROM s ORDER BY q DESC, item LIMIT 10),
       rb AS (SELECT item, CAST(row_number() OVER (ORDER BY c DESC,
                item) AS BIGINT) AS rb
              FROM s ORDER BY c DESC, item LIMIT 10),
       m AS (SELECT GREATEST(ra.ra, rb.rb) AS g
             FROM ra JOIN rb USING (item)),
       w AS (SELECT CAST(COALESCE(SUM(
                CASE g {' '.join(f'WHEN {g} THEN {w}' for g, w in _RBO_W.items())} END), 0)
                AS BIGINT) AS rbo_scaled,
                CAST(count(*) AS BIGINT) AS n_common
             FROM m)
       SELECT n_common, rbo_scaled,
              ROUND(CAST(rbo_scaled AS DOUBLE) / {_RBO_DEN}, 4) AS rbo
       FROM w""",
    doc="rank-biased overlap (RBO, Webber et al.) between two top-10 "
        "supplier rankings -- by total quantity vs by lineitem count: "
        "the top-weighted list-agreement metric for comparing ranking "
        "functions (search/reco eval, metric-migration audits), where "
        "plain set overlap ignores ORDER. p = 1/2 makes every "
        "geometric weight a power of two and 2520 = lcm(1..10) clears "
        "the per-depth divisions, so the score is an exact integer "
        "scaled by 2^10*2520 -- no float accumulates; the one "
        "division happens last in DOUBLE. Decomposed per common item "
        "(weight depends only on g = max of its two ranks -- no "
        "per-depth dim join) and both rank windows ride the "
        "supplier-cardinality aggregate (x81 bounded contract)",
)
def x304_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy(F.col("l_suppkey").alias("item")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    ra = (
        s.select(
            "item",
            F.row_number()
            .over(Window.orderBy(F.desc("q"), "item"))
            .cast("long")
            .alias("ra"),
        )
        .filter(F.col("ra") <= 10)
    )
    rb = (
        s.select(
            "item",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "item"))
            .cast("long")
            .alias("rb"),
        )
        .filter(F.col("rb") <= 10)
    )
    g = F.greatest("ra", "rb")
    w_expr = F.lit(None)
    for gv, wv in _RBO_W.items():
        w_expr = F.when(g == gv, F.lit(wv)).otherwise(w_expr)
    m = ra.join(rb, "item").select(w_expr.alias("w"))
    out = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("rbo_scaled"),
    )
    return out.select(
        "n_common",
        "rbo_scaled",
        F.round(
            F.col("rbo_scaled").cast("double") / F.lit(_RBO_DEN), 4
        ).alias("rbo"),
    )


@register(
    "x305_kaplan_meier",
    """WITH u AS (
         SELECT user_id,
                CAST((epoch_us(max(ts)) - epoch_us(min(ts)))
                     // 3600000000 AS BIGINT) AS lt,
                CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
         FROM events GROUP BY 1
       ),
       mx AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
              FROM events),
       lab AS (
         SELECT lt,
                CASE WHEN mx.max_us - last_us > 86400000000
                     THEN 1 ELSE 0 END AS observed
         FROM u, mx
       ),
       d AS (
         SELECT lt, CAST(SUM(observed) AS BIGINT) AS deaths,
                CAST(count(*) AS BIGINT) AS ending
         FROM lab GROUP BY lt
       ),
       r AS (
         SELECT lt, deaths,
                CAST(SUM(ending) OVER (ORDER BY lt DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS at_risk
         FROM d
       ),
       k AS (
         SELECT lt, deaths, at_risk,
                SUM(CASE WHEN deaths < at_risk THEN
                      CAST(ROUND(ln(1.0 - CAST(deaths AS DOUBLE)
                        / at_risk), 12) AS DECIMAL(28,12))
                    END)
                  OVER (ORDER BY lt
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum
         FROM r WHERE deaths > 0
       )
       SELECT lt AS lt_hours, at_risk, deaths,
              CASE WHEN deaths = at_risk THEN 0.0
                   ELSE ROUND(exp(CAST(cum AS DOUBLE)), 4)
              END AS survival
       FROM k ORDER BY lt_hours""",
    doc="Kaplan-Meier survival curve of user engagement lifetimes "
        "(hours between first and last event; a user whose last event "
        "sits within 24h of the corpus edge is CENSORED -- still "
        "at-risk, never a death: the estimator exists precisely "
        "because dropping censored users biases churn down). Exact "
        "machinery: lifetimes are integer-microsecond differences DIV "
        "3600e6 (DuckDB's date_diff counts boundary CROSSINGS, not "
        "elapsed hours -- the dialect trap dodged by epoch "
        "arithmetic); at-risk counts come from ONE descending "
        "cumulative window over the lifetime-cardinality table; the "
        "product folds to a cumulative sum of round(ln(1-d/n),12) in "
        "DECIMAL(28,12) (x37/x234 recipe) with exp last; a "
        "deaths==at_risk final step is pinned to 0.0 (ln(0) guard). "
        "Both windows ride aggregate-cardinality tables (x81 "
        "contract)",
)
def x305_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # timestampdiff on the NTZ column is pure wall-clock arithmetic --
    # the same naive difference DuckDB's epoch_us subtraction computes;
    # a cast to TIMESTAMP would route through the session zone (and its
    # DST holes) for no benefit since only DIFFERENCES are emitted
    u = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.min("ts").alias("first_ts"),
    ).select(
        F.expr(
            "CAST(timestampdiff(MICROSECOND, first_ts, last_ts) "
            "DIV 3600000000 AS BIGINT)"
        ).alias("lt"),
        "last_ts",
    )
    mx = ev.agg(F.max("ts").alias("max_ts"))
    lab = u.crossJoin(F.broadcast(mx)).select(
        "lt",
        F.when(
            F.expr("timestampdiff(MICROSECOND, last_ts, max_ts)")
            > F.lit(86400000000),
            1,
        )
        .otherwise(0)
        .alias("observed"),
    )
    d = lab.groupBy("lt").agg(
        F.sum("observed").cast("long").alias("deaths"),
        F.count(F.lit(1)).cast("long").alias("ending"),
    )
    w_risk = Window.orderBy(F.desc("lt")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = d.select(
        "lt",
        "deaths",
        F.sum("ending").over(w_risk).cast("long").alias("at_risk"),
    )
    term = F.when(
        F.col("deaths") < F.col("at_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("deaths").cast("double") / F.col("at_risk")
            ),
            12,
        ).cast("decimal(28,12)"),
    )
    w_cum = Window.orderBy("lt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    k = r.filter(F.col("deaths") > 0).select(
        "lt",
        "deaths",
        "at_risk",
        F.sum(term).over(w_cum).alias("cum"),
    )
    survival = F.when(
        F.col("deaths") == F.col("at_risk"), F.lit(0.0)
    ).otherwise(F.round(F.exp(F.col("cum").cast("double")), 4))
    return k.select(
        F.col("lt").alias("lt_hours"),
        "at_risk",
        "deaths",
        survival.alias("survival"),
    ).orderBy("lt_hours")


def _x302_oracle() -> str:
    return graph.lpa_copurchase_sql()


@register(
    "x302_label_propagation",
    _x302_oracle(),
    doc="label-propagation communities over the l_partkey % 4 = 0 "
        "co-purchase subgraph, 2 synchronous rounds -- the "
        "community-detection member of the Pregel family (x104 "
        "PageRank = influence, x150 BFS = reachability, x243 k-core = "
        "density; this one answers 'which parts sell TOGETHER as a "
        "cluster'). Deterministic by construction: synchronous "
        "rounds + max-count/min-label tie-break, so the full "
        "community assignment is oracle-replayable. Per round ONE "
        "edge-sized equi-join with node-state in shuffled hash joins "
        "(never broadcast -- x104's refusal), argmax folded into a "
        "single min(struct(-c, lab)) aggregate: no window, no "
        "per-node subquery. Output: community sizes",
)
def x302_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    edges = graph.symmetric_copurchase_edges(li)
    labels = graph.label_propagation(edges)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").cast("long").alias("rep"),
        )
        .select(
            F.col("community").cast("long").alias("community"),
            "n_nodes",
            "rep",
        )
        .orderBy(F.desc("n_nodes"), "community")
    )


@register(
    "x303_ab_uplift",
    """WITH u AS (
         SELECT user_id,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)
                       || ':ab'), 1, 4) < '8000'
                     THEN 'treat' ELSE 'control' END AS arm,
                MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS converted
         FROM events GROUP BY 1
       ),
       a AS (
         SELECT CAST(SUM(CASE WHEN arm = 'treat' THEN 1 END)
                  AS BIGINT) AS users_t,
                CAST(SUM(CASE WHEN arm = 'treat' THEN converted END)
                  AS BIGINT) AS conv_t,
                CAST(SUM(CASE WHEN arm = 'control' THEN 1 END)
                  AS BIGINT) AS users_c,
                CAST(SUM(CASE WHEN arm = 'control' THEN converted
                    END) AS BIGINT) AS conv_c
         FROM u
       )
       SELECT users_t, conv_t, users_c, conv_c,
              ROUND(CAST(conv_t AS DOUBLE) / users_t, 4) AS rate_t,
              ROUND(CAST(conv_c AS DOUBLE) / users_c, 4) AS rate_c,
              ROUND(CAST(conv_t AS DOUBLE) / users_t
                    - CAST(conv_c AS DOUBLE) / users_c, 4) AS uplift
       FROM a""",
    doc="deterministic A/B experiment readout: users assigned to arms "
        "by the SAME content-keyed md5-bucket rule as x18's split "
        "(stable under retries and scale -- the assignment IS the "
        "randomization unit, never df.sample), per-arm user-level "
        "conversion (any purchase event), uplift = rate_t - rate_c. "
        "Counts stay exact BIGINTs; the two divisions and their "
        "difference happen once in DOUBLE on identical integers "
        "(engine-identical), then round. Scale: one user-level "
        "aggregate (the corpus shuffle), then a 1-row conditional "
        "rollup -- no joins at all",
)
def x303_ab_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab"))),
            1,
            4,
        )
        < "8000",
        F.lit("treat"),
    ).otherwise(F.lit("control"))
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).withColumn("arm", arm)
    t = F.col("arm") == "treat"
    c = F.col("arm") == "control"
    a = u.agg(
        F.sum(F.when(t, 1)).cast("long").alias("users_t"),
        F.sum(F.when(t, F.col("converted"))).cast("long").alias("conv_t"),
        F.sum(F.when(c, 1)).cast("long").alias("users_c"),
        F.sum(F.when(c, F.col("converted"))).cast("long").alias("conv_c"),
    )
    rate_t = F.col("conv_t").cast("double") / F.col("users_t")
    rate_c = F.col("conv_c").cast("double") / F.col("users_c")
    return a.select(
        "users_t",
        "conv_t",
        "users_c",
        "conv_c",
        F.round(rate_t, 4).alias("rate_t"),
        F.round(rate_c, 4).alias("rate_c"),
        F.round(rate_t - rate_c, 4).alias("uplift"),
    )


@register(
    "x296_editdist_neardup",
    """WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
       cand AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                a.lt AS la, b.lt AS lb
         FROM t a JOIN t b
           ON substr(a.lt, 1, 12) = substr(b.lt, 1, 12)
          AND a.doc_id < b.doc_id
         WHERE abs(length(a.lt) - length(b.lt)) <= 20
       )
       SELECT id_a, id_b,
              CAST(levenshtein(la, lb) AS BIGINT) AS edit_dist
       FROM cand WHERE levenshtein(la, lb) <= 40
       ORDER BY id_a, id_b""",
    doc="typo-level near-dup pairs by bounded EDIT DISTANCE -- the "
        "character-edit complement of shingle Jaccard (x03): catches "
        "single-character corruptions, OCR noise and truncations that "
        "token-level shingles over- or under-count. Candidates are "
        "PREFIX-BLOCKED (shared 12-char lowercase prefix) with a "
        "length-difference guard (|dlen| <= 20 -- a free lower bound "
        "on edit distance) so levenshtein() -- O(len^2) per pair -- "
        "runs only inside blocks, never all-pairs. levenshtein is "
        "engine-identical (classic Wagner-Fischer in both). At 100 TB "
        "the block key generalizes to (length bucket, prefix) with a "
        "hot-block cap, the same shape as x40's banding; the join "
        "shuffles on the block key only",
)
def x296_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.lower(F.col("text")).alias("lt")
    ).withColumn("blk", F.substring("lt", 1, 12))
    a = t.select(
        F.col("doc_id").alias("id_a"), F.col("lt").alias("la"), "blk"
    )
    b = t.select(
        F.col("doc_id").alias("id_b"), F.col("lt").alias("lb"), "blk"
    )
    cand = a.join(b, "blk").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.length("la") - F.length("lb")) <= 20)
    )
    dist = F.levenshtein("la", "lb")
    return (
        cand.withColumn("edit_dist", dist.cast("long"))
        .filter(F.col("edit_dist") <= 40)
        .select("id_a", "id_b", "edit_dist")
        .orderBy("id_a", "id_b")
    )


def _x297_oracle() -> str:
    from ...ops.dedup import lsh_verified_pairs_oracle_sql
    from ...ops.sampling import split_sql

    pairs = lsh_verified_pairs_oracle_sql(threshold=0.7).rsplit(
        "ORDER BY id_a, id_b", 1
    )[0]
    split = split_sql("duckdb", "documents", "doc_id").rsplit(
        "ORDER BY doc_id", 1
    )[0]
    return f"""
WITH pairs AS MATERIALIZED ({pairs}),
sp AS MATERIALIZED ({split})
SELECT CASE WHEN sa.split = 'train' THEN p.id_a ELSE p.id_b END
         AS train_doc,
       CASE WHEN sa.split = 'train' THEN p.id_b ELSE p.id_a END
         AS test_doc,
       p.jaccard
FROM pairs p
JOIN sp sa ON sa.doc_id = p.id_a
JOIN sp sb ON sb.doc_id = p.id_b
WHERE sa.split <> sb.split
ORDER BY train_doc, test_doc
"""


@register(
    "x297_split_leakage",
    _x297_oracle(),
    doc="train/test SPLIT LEAKAGE audit: near-dup pairs (deterministic "
        "MinHash banding + exact-Jaccard verify >= 0.7, x40/x75's "
        "machinery) that STRADDLE x18's content-keyed train/test "
        "assignment -- each row is an eval document whose training "
        "twin would inflate the benchmark (the check every held-out "
        "split needs before a training run; doc-level hashing splits "
        "the pair across sides precisely because assignment is "
        "per-doc, which is WHY the audit exists). Output (train_doc, "
        "test_doc, jaccard). Scale: the pair stage is band-blocked "
        "(never all-pairs); the split table is a narrow key->side "
        "projection, two candidate-sized equi-joins attach it",
)
def x297_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops.sampling import deterministic_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_verified_pairs(
        docs, "doc_id", "text", threshold=0.7
    )
    sp = deterministic_split(docs, "doc_id").select("doc_id", "split")
    sa = sp.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = sp.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    leaked = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    train_doc = F.when(
        F.col("split_a") == "train", F.col("id_a")
    ).otherwise(F.col("id_b"))
    test_doc = F.when(
        F.col("split_a") == "train", F.col("id_b")
    ).otherwise(F.col("id_a"))
    return leaked.select(
        train_doc.alias("train_doc"),
        test_doc.alias("test_doc"),
        "jaccard",
    ).orderBy("train_doc", "test_doc")


def _x298_oracle() -> str:
    from ...ops.text import lang_id_oracle_sql

    pred = lang_id_oracle_sql().rsplit("ORDER BY doc_id", 1)[0]
    return f"""
WITH pred AS MATERIALIZED ({pred}),
lab AS (
  SELECT d.lang AS gold, p.pred_lang AS pred
  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
),
conf AS (SELECT gold, pred, CAST(count(*) AS BIGINT) AS c
         FROM lab GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN gold = pred THEN c ELSE 0 END)
                 AS BIGINT) AS agree
        FROM conf),
marg AS (
  SELECT CAST(SUM(ga.na * pb.nb) AS BIGINT) AS chance
  FROM (SELECT gold AS l, SUM(c) AS na FROM conf GROUP BY 1) ga
  JOIN (SELECT pred AS l, SUM(c) AS nb FROM conf GROUP BY 1) pb
    USING (l)
)
SELECT t.n, t.agree,
       ROUND(CAST(t.agree * t.n - m.chance AS DOUBLE)
             / (t.n * t.n - m.chance), 4) AS kappa
FROM tot t, marg m
"""


@register(
    "x298_cohens_kappa",
    _x298_oracle(),
    doc="Cohen's kappa between the labeled ``lang`` column and x12's "
        "stopword-vote language prediction -- chance-corrected "
        "agreement, THE metric for judging an auto-labeler (or two "
        "annotators) beyond raw accuracy. Exact-integer core: kappa = "
        "(agree*n - sum_l gold_l*pred_l) / (n^2 - sum_l gold_l*"
        "pred_l); both numerator and denominator are exact BIGINTs "
        "(no probability ever exists as a float), the single division "
        "happens once in DOUBLE (the engine-safe recipe). Scale: one "
        "corpus pass builds the k x k confusion table; marginals and "
        "kappa are k-sized arithmetic -- broadcast-trivial at any "
        "corpus size",
)
def x298_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lab = docs.select(
        F.col("lang").alias("gold"),
        text.lang_pred_column("text").alias("pred"),
    )
    conf = lab.groupBy("gold", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = conf.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("gold") == F.col("pred"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    ga = conf.groupBy(F.col("gold").alias("l")).agg(
        F.sum("c").cast("long").alias("na")
    )
    pb = conf.groupBy(F.col("pred").alias("l")).agg(
        F.sum("c").cast("long").alias("nb")
    )
    marg = (
        ga.join(pb, "l")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("chance"))
    )
    return (
        tot.crossJoin(F.broadcast(marg))
        .select(
            "n",
            "agree",
            F.round(
                (F.col("agree") * F.col("n") - F.col("chance")).cast(
                    "double"
                )
                / (F.col("n") * F.col("n") - F.col("chance")),
                4,
            ).alias("kappa"),
        )
    )


@register(
    "x299_applyinarrow_agg",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY source ORDER BY source""",
    doc="groupBy().applyInArrow API parity (completes the "
        "custom-function matrix alongside pandas UDF / UDAF / "
        "mapInPandas / mapInArrow / applyInPandas(+State) / cogroup / "
        "UDTF / Python DataSource): per-source rollup computed "
        "INSIDE Arrow -- the zero-copy pyarrow.Table path, no pandas "
        "conversion -- pinned to the identical relational aggregate. "
        "Scale: same one-shuffle groupBy shape as the native agg; the "
        "Arrow stage prices ONLY the serialization seam. Real use: "
        "per-group logic that needs Arrow-native compute kernels "
        "(or libraries consuming Arrow directly) without a pandas "
        "detour",
)
def x299_applyinarrow_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def per_source(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        return pa.table(
            {
                "source": [table.column("source")[0].as_py()],
                "n_docs": pa.array([table.num_rows], pa.int64()),
                "total_chars": pa.array(
                    [pc.sum(table.column("n_chars")).as_py()], pa.int64()
                ),
            }
        )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", "n_chars")
        .groupBy("source")
        .applyInArrow(
            per_source,
            "source string, n_docs long, total_chars long",
        )
        .orderBy("source")
    )


@register(
    "x300_nullsafe_join",
    """WITH a AS (SELECT source, NULLIF(lang, 'en') AS lang_n,
                  CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2),
       b AS (SELECT NULLIF(lang, 'en') AS lang_n,
                  CAST(count(*) AS BIGINT) AS lang_total
           FROM documents GROUP BY 1)
       SELECT a.source, a.lang_n, a.n, b.lang_total
       FROM a JOIN b ON a.lang_n IS NOT DISTINCT FROM b.lang_n
       ORDER BY a.source, a.lang_n NULLS FIRST""",
    doc="null-safe equi-join semantics (<=> / IS NOT DISTINCT FROM): "
        "the NULL bucket -- here 'en' collapsed to NULL, the shape of "
        "any join on a nullable enrichment key -- must MATCH across "
        "sides instead of silently dropping, the classic inner-join "
        "footgun. Dialect seam: Spark eqNullSafe(<=>) keeps the join "
        "an EQUI-join (hash-partitionable, broadcast-able -- NOT a "
        "nested loop), DuckDB spells it IS NOT DISTINCT FROM. Both "
        "sides are aggregate-first (source x lang cardinality), so "
        "the join is broadcast-trivial at any corpus size",
)
def x300_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lang_n = F.nullif(F.col("lang"), F.lit("en"))
    a = docs.groupBy(
        "source", lang_n.alias("lang_n")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    b = docs.groupBy(lang_n.alias("lang_nb")).agg(
        F.count(F.lit(1)).cast("long").alias("lang_total")
    )
    return (
        a.join(b, a["lang_n"].eqNullSafe(b["lang_nb"]))
        .select("source", "lang_n", "n", "lang_total")
        .orderBy("source", F.col("lang_n").asc_nulls_first())
    )


@register(
    "x301_grouping_sets",
    """SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT)
              AS gid,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars
       FROM documents
       GROUP BY GROUPING SETS ((source, lang), (source), ())
       ORDER BY gid, source NULLS FIRST, lang NULLS FIRST""",
    doc="GROUPING SETS with grouping_id() -- the BI rollup surface "
        "beyond q10's plain ROLLUP: an explicit lattice (source x "
        "lang detail, per-source subtotal, grand total) in ONE scan "
        "with partial aggregation per set, and grouping_id "
        "disambiguating a real NULL group key from a rolled-up one "
        "(the correctness trap of reading rollup output without it). "
        "Both engines use the same bitmask convention (left column = "
        "high bit). Scale: Spark expands the sets BELOW the shuffle "
        "(Expand then one hash aggregate) -- rows shuffle once, not "
        "once per set",
)
def x301_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupingSets(
            [["source", "lang"], ["source"], []], "source", "lang"
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy(
            "gid",
            F.col("source").asc_nulls_first(),
            F.col("lang").asc_nulls_first(),
        )
    )


def _x313_oracle() -> str:
    bm = text.bm25_topk_sql()
    return f"""
WITH bm AS MATERIALIZED ({bm}),
lexr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS r_lex
  FROM bm
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
s AS (
  SELECT c.vec_id AS doc_id,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS raw
  FROM (SELECT * FROM n WHERE vec_id = 0) q
  JOIN n c ON c.vec_id != 0
),
semr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY raw DESC, doc_id) AS BIGINT)
           AS r_sem
  FROM s
  QUALIFY r_sem <= 20
),
fused AS (
  SELECT doc_id, r_lex, r_sem,
         COALESCE(CAST(ROUND(1.0 / (60.0 + r_lex), 8) AS DECIMAL(12,8)),
                  CAST(0 AS DECIMAL(12,8)))
         + COALESCE(CAST(ROUND(1.0 / (60.0 + r_sem), 8) AS DECIMAL(12,8)),
                    CAST(0 AS DECIMAL(12,8))) AS rrf_dec
  FROM lexr FULL JOIN semr USING (doc_id)
)
SELECT doc_id, r_lex, r_sem,
       ROUND(CAST(rrf_dec AS DOUBLE), 8) AS rrf
FROM fused ORDER BY rrf DESC, doc_id
"""


@register(
    "x313_rrf_fusion",
    _x313_oracle(),
    doc="reciprocal-rank fusion of the two retrieval legs every hybrid "
        "search serves: x106's BM25 top-20 (lexical) and x07's exact "
        "cosine top-20 for query vector 0 (semantic), fused as "
        "sum(1/(60+rank)) with a doc absent from a leg contributing 0 "
        "-- RRF needs no score normalization across legs, which is why "
        "it is the default hybrid combiner in Elasticsearch/OpenSearch/"
        "Vespa. Determinism: each leg ranks on its own proven recipe, "
        "the two RRF terms round to 8 and add in DECIMAL (exact, "
        "order-free). Scale: both legs are top-k frames (k=20), so the "
        "rank windows and the FULL OUTER join run on k-sized inputs -- "
        "the corpus-scale work is inside the legs, which carry their "
        "own 100 TB contracts (postings-filtered BM25, broadcast-query "
        "matmul ANN)",
)
def x313_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = text.bm25_topk(docs, "doc_id", "text")
    w = Window.orderBy(F.desc("bm25"), "doc_id")  # 20-row frame
    lexr = lex.select(
        "doc_id", F.row_number().over(w).cast("long").alias("r_lex")
    )
    q = emb.filter(F.col("vec_id") == 0)
    semr = similarity.brute_force_topk(emb, q, k=20).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_sem")
    )
    zero = F.lit(0).cast("decimal(12,8)")
    term = lambda c: F.coalesce(  # noqa: E731
        F.round(F.lit(1.0) / (F.lit(60.0) + F.col(c)), 8).cast(
            "decimal(12,8)"
        ),
        zero,
    )
    return (
        lexr.join(semr, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_sem",
            F.round(
                (term("r_lex") + term("r_sem")).cast("double"), 8
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
    )


_X317_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS raw
  FROM (SELECT * FROM n WHERE vec_id < 20) q
  JOIN n c ON q.vec_id != c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY raw DESC, neighbor_id)
              AS BIGINT) AS rnk
  FROM s
  QUALIFY rnk <= 10
),
lab AS (SELECT vec_id, label FROM embeddings),
rel AS (
  SELECT r.query_id, r.rnk,
         CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
  FROM ranked r
  JOIN lab ql ON ql.vec_id = r.query_id
  JOIN lab nl ON nl.vec_id = r.neighbor_id
),
perq AS (
  SELECT query_id,
         CAST(SUM(rel) AS BIGINT) AS n_hit,
         MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
         SUM(CAST(ROUND(rel * 1.0 / log2(rnk + 1), 8)
                  AS DECIMAL(14,8))) AS dcg_dec
  FROM rel GROUP BY query_id
),
csz AS (SELECT label, CAST(count(*) AS BIGINT) AS cnt
        FROM embeddings GROUP BY label),
nq AS (
  SELECT q.vec_id AS query_id, c.cnt - 1 AS n_rel
  FROM (SELECT vec_id, label FROM embeddings WHERE vec_id < 20) q
  JOIN csz c USING (label)
),
ideal AS (
  SELECT query_id,
         SUM(CAST(ROUND(1.0 / log2(j + 1), 8) AS DECIMAL(14,8)))
           AS idcg_dec
  FROM (
    SELECT query_id,
           unnest(generate_series(
             1, CAST(LEAST(n_rel, 10) AS BIGINT))) AS j
    FROM nq
  )
  GROUP BY query_id
)
SELECT nq.query_id, nq.n_rel,
       ROUND(COALESCE(p.n_hit, 0) / 10.0, 4) AS p_at_10,
       ROUND(COALESCE(1.0 / p.first_rel, 0.0), 6) AS mrr,
       ROUND(CAST(COALESCE(p.dcg_dec, 0) AS DOUBLE)
             / CAST(i.idcg_dec AS DOUBLE), 6) AS ndcg_10
FROM nq
LEFT JOIN perq p USING (query_id)
JOIN ideal i USING (query_id)
ORDER BY query_id
"""


@register(
    "x317_retrieval_metrics",
    _X317_ORACLE,
    doc="ranking-quality metrics for the ANN surface -- P@10, MRR, "
        "nDCG@10 per query (vec_id < 20, relevant = same label as the "
        "query, x07's exact top-k as the ranked list): the eval "
        "harness that turns 'we have an ANN index' into 'retrieval is "
        "good enough to mine hard negatives from'. Determinism: ranks "
        "come from x07's proven raw-sim ordering; each 1/log2(rank+1) "
        "discount rounds to 8 and accumulates in DECIMAL; nDCG divides "
        "two such sums once in DOUBLE; ideal DCG truncates at "
        "min(n_rel, 10) via an in-engine series on BOTH sides. Scale: "
        "metrics are arithmetic over the k-sized ranked lists (one "
        "groupBy on query_id); corpus label sizes are a "
        "label-cardinality aggregate riding a broadcast join",
)
def x317_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    ranked = similarity.brute_force_topk(emb, q, k=10)
    lab = emb.select("vec_id", "label")
    rel = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            F.col("rank").alias("rnk"),
            F.when(F.col("q_label") == F.col("n_label"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    perq = rel.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_hit"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
        F.sum(
            F.round(
                F.col("rel") * F.lit(1.0) / F.log2(F.col("rnk") + 1), 8
            ).cast("decimal(14,8)")
        ).alias("dcg_dec"),
    )
    csz = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    nq = (
        emb.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), "label")
        .join(F.broadcast(csz), "label")
        .select("query_id", (F.col("cnt") - 1).alias("n_rel"))
    )
    ideal = (
        nq.select(
            "query_id",
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(10)))
            ).alias("j"),
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.round(F.lit(1.0) / F.log2(F.col("j") + 1), 8).cast(
                    "decimal(14,8)"
                )
            ).alias("idcg_dec")
        )
    )
    return (
        nq.join(perq, "query_id", "left")
        .join(ideal, "query_id")
        .select(
            "query_id",
            "n_rel",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(10.0), 4)
            .alias("p_at_10"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(
                F.coalesce(F.col("dcg_dec"), F.lit(0).cast("decimal(14,8)"))
                .cast("double")
                / F.col("idcg_dec").cast("double"),
                6,
            ).alias("ndcg_10"),
        )
        .orderBy("query_id")
    )


def _x314_oracle() -> str:
    # Candidate stage: exact cosine top-20 for query vector 0 (x07's
    # proven raw-sim ranking), relevance and pairwise sims scaled to
    # exact 1e4 integers so every greedy argmax compares BIGINTs.
    head = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
s AS (
  SELECT c.vec_id AS doc, c.v AS cv, c.nrm AS cnrm,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS raw
  FROM (SELECT * FROM n WHERE vec_id = 0) q
  JOIN n c ON c.vec_id != 0
),
cand AS MATERIALIZED (
  SELECT doc, cv, cnrm,
         CAST(FLOOR(ROUND(raw, 4) * 10000 + 0.5) AS BIGINT) AS rel_s
  FROM s
  QUALIFY CAST(row_number() OVER (ORDER BY raw DESC, doc) AS BIGINT) <= 20
),
pairs AS MATERIALIZED (
  SELECT a.doc AS pa, b.doc AS pb,
         CAST(FLOOR(ROUND(list_dot_product(a.cv, b.cv)
                          / (a.cnrm * b.cnrm), 4) * 10000 + 0.5)
              AS BIGINT) AS sim_s
  FROM cand a JOIN cand b ON a.doc != b.doc
),
s1 AS MATERIALIZED (
  SELECT doc, rel_s, CAST(0 AS BIGINT) AS maxsim_s, rel_s AS mmr_s
  FROM cand ORDER BY rel_s DESC, doc LIMIT 1
)"""
    steps = []
    prev_sets = ["s1"]
    for i in range(2, 6):
        sel_union = " UNION ALL ".join(
            f"SELECT doc FROM {s}" for s in prev_sets
        )
        steps.append(f""",
r{i} AS (
  SELECT c.doc, c.rel_s,
         (SELECT MAX(p.sim_s) FROM pairs p
          WHERE p.pa = c.doc AND p.pb IN ({sel_union})) AS maxsim_s
  FROM cand c WHERE c.doc NOT IN ({sel_union})
),
s{i} AS MATERIALIZED (
  SELECT doc, rel_s, maxsim_s, rel_s - maxsim_s AS mmr_s
  FROM r{i} ORDER BY mmr_s DESC, doc LIMIT 1
)""")
        prev_sets.append(f"s{i}")
    finals = " UNION ALL ".join(
        f"SELECT {i} AS pick_order, doc, rel_s, maxsim_s, mmr_s FROM s{i}"
        for i in range(1, 6)
    )
    return f"""{head}{''.join(steps)}
SELECT CAST(pick_order AS BIGINT) AS pick_order, doc AS doc_id,
       ROUND(rel_s / 10000.0, 4) AS rel,
       ROUND(maxsim_s / 10000.0, 4) AS max_sim_sel,
       ROUND((rel_s - maxsim_s) / 20000.0, 8) AS mmr
FROM ({finals}) ORDER BY pick_order
"""


@register(
    "x314_mmr_rerank",
    _x314_oracle(),
    doc="maximal-marginal-relevance diversified re-rank (lambda=0.5, 5 "
        "picks from the exact cosine top-20 of query vector 0): the "
        "post-retrieval step that stops a RAG context window filling "
        "with five near-copies of the same passage. Greedy argmax "
        "unrolled to fixed depth (x104's fixed-iteration pattern): "
        "pick 1 maximizes relevance, each later pick maximizes "
        "rel - max_sim_to_selected over the remainder. Determinism: "
        "relevance and pairwise sims round to 4 then scale to exact "
        "1e4 BIGINTs, so every argmax and the published mmr score are "
        "integer comparisons (mmr = (rel_s - maxsim_s)/20000, one "
        "power-of-2x10^4 division in DOUBLE). Scale: the candidate "
        "frame is k-sized by construction -- every iteration joins "
        "20-row frames; corpus-scale work lives in the candidate "
        "generator, which carries the ANN tier's contracts",
)
def x314_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    topk = similarity.brute_force_topk(emb, q, k=20)
    scale_s = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    cand = topk.select(
        F.col("neighbor_id").alias("doc"), scale_s(F.col("sim")).alias("rel_s")
    ).localCheckpoint()
    cand_emb = emb.join(
        cand.select(F.col("doc").alias("vec_id")), "vec_id"
    ).select("vec_id", "embedding")
    half = similarity.cosine_neardup_pairs(
        cand_emb, threshold=-1.0
    ).select("id_a", "id_b", scale_s(F.col("sim")).alias("sim_s"))
    sym = half.union(
        half.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "sim_s",
        )
    ).localCheckpoint()
    first = (
        cand.orderBy(F.desc("rel_s"), "doc")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("pick_order"),
            "doc",
            "rel_s",
            F.lit(0).cast("long").alias("maxsim_s"),
        )
    )
    picks = [first]
    for i in range(2, 6):
        selected = picks[0].select("doc")
        for p in picks[1:]:
            selected = selected.union(p.select("doc"))
        remaining = cand.join(selected, "doc", "left_anti")
        ms = (
            sym.join(
                selected.select(F.col("doc").alias("id_b")), "id_b"
            )
            .groupBy(F.col("id_a").alias("doc"))
            .agg(F.max("sim_s").alias("maxsim_s"))
        )
        pick = (
            remaining.join(ms, "doc")
            .orderBy(F.desc(F.col("rel_s") - F.col("maxsim_s")), "doc")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("pick_order"),
                "doc",
                "rel_s",
                "maxsim_s",
            )
        )
        picks.append(pick)
    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out.select(
        "pick_order",
        F.col("doc").alias("doc_id"),
        F.round(F.col("rel_s") / 10000.0, 4).alias("rel"),
        F.round(F.col("maxsim_s") / 10000.0, 4).alias("max_sim_sel"),
        F.round((F.col("rel_s") - F.col("maxsim_s")) / 20000.0, 8).alias(
            "mmr"
        ),
    ).orderBy("pick_order")


_X315_ORACLE = """
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
bins AS (
  SELECT LEAST(p_s // 1000, 9) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(p_s) AS BIGINT) AS sum_p_s
  FROM scored GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM bins),
gaps AS (
  SELECT bin, n, n_pos,
         ROUND(sum_p_s / (n * 10000.0), 6) AS mean_score,
         ROUND(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos,
         ROUND(ABS(ROUND(sum_p_s / (n * 10000.0), 6)
                   - ROUND(CAST(n_pos AS DOUBLE) / n, 6)), 6) AS abs_gap
  FROM bins
),
ece AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(g.n * g.abs_gap / t.n_total, 8)
                             AS DECIMAL(14,8))) AS DOUBLE), 8) AS ece
  FROM gaps g, tot t
)
SELECT g.bin, g.n, g.n_pos, g.mean_score, g.frac_pos, g.abs_gap, e.ece
FROM gaps g, ece e ORDER BY g.bin
""" % _STOP_EN


@register(
    "x315_calibration_ece",
    _X315_ORACLE,
    doc="reliability diagram + expected calibration error for a "
        "deterministic scorer: treat the English-stopword ratio as a "
        "'probability of English' and audit it against the lang label "
        "-- per-decile-bin mean score vs empirical positive rate, ECE "
        "= sum n_b/N * |gap_b|. The check any learned quality/language "
        "filter needs before its threshold means anything (a "
        "miscalibrated filter silently shifts the corpus mix). "
        "Determinism: scores round to 4 and scale to exact 1e4 "
        "BIGINTs, bin = integer division; per-bin means divide exact "
        "integer sums once in DOUBLE and round 6; per-bin ECE terms "
        "round 8 and sum in DECIMAL. Scale: one corpus pass into a "
        "10-row bin aggregate; everything downstream is bin-sized "
        "arithmetic with 1-row broadcasts",
)
def x315_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    bins = scored.groupBy(
        F.least(F.col("p_s") / F.lit(1000), F.lit(9))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("p_s").cast("long").alias("sum_p_s"),
    )
    mean_score = F.round(F.col("sum_p_s") / (F.col("n") * 10000.0), 6)
    frac_pos = F.round(F.col("n_pos").cast("double") / F.col("n"), 6)
    gaps = bins.select(
        "bin",
        "n",
        "n_pos",
        mean_score.alias("mean_score"),
        frac_pos.alias("frac_pos"),
        F.round(F.abs(mean_score - frac_pos), 6).alias("abs_gap"),
    )
    tot = gaps.agg(F.sum("n").cast("long").alias("n_total"))
    ece = (
        gaps.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("n") * F.col("abs_gap") / F.col("n_total"), 8
                    ).cast("decimal(14,8)")
                ).cast("double"),
                8,
            ).alias("ece")
        )
    )
    return (
        gaps.crossJoin(F.broadcast(ece))
        .select(
            "bin", "n", "n_pos", "mean_score", "frac_pos", "abs_gap", "ece"
        )
        .orderBy("bin")
    )


_X316_ORACLE = """
WITH w8 AS (
  SELECT doc_id, s, md5(doc_id || ':' || s) AS w
  FROM documents, (SELECT unnest(generate_series(0, 7)) AS s)
),
a8 AS (
  SELECT doc_id, s AS shard8 FROM w8
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY w DESC, s DESC) = 1
),
w9 AS (
  SELECT doc_id, s, md5(doc_id || ':' || s) AS w
  FROM documents, (SELECT unnest(generate_series(0, 8)) AS s)
),
a9 AS (
  SELECT doc_id, s AS shard9 FROM w9
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY w DESC, s DESC) = 1
),
j AS (
  SELECT a8.shard8, a9.shard9,
         CASE WHEN a8.shard8 != a9.shard9 THEN 1 ELSE 0 END AS moved
  FROM a8 JOIN a9 USING (doc_id)
),
per AS (
  SELECT CAST(shard8 AS BIGINT) AS shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(moved) AS BIGINT) AS n_moved_out
  FROM j GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         CAST(SUM(n_moved_out) AS BIGINT) AS n_moved
  FROM per
)
SELECT p.shard, p.n_docs, p.n_moved_out,
       ROUND(CAST(t.n_moved AS DOUBLE) / t.n_total, 4) AS moved_frac
FROM per p, tot t ORDER BY p.shard
"""


@register(
    "x316_rendezvous_sharding",
    _X316_ORACLE,
    doc="rendezvous (highest-random-weight) sharding audit: each doc "
        "goes to argmax_s md5(doc_id:s) over 8 shards, then again over "
        "9, reporting per-shard balance and the fraction of docs that "
        "MOVE when a shard is added -- HRW's guarantee is ~1/(n+1) "
        "moves (vs ~1/2 for mod-N), the number that decides whether "
        "resharding a 100 TB corpus store is an overnight shuffle of "
        "one-ninth of the data or of half of it. Determinism: weights "
        "are md5 hex strings (lexicographic argmax, ties impossible in "
        "practice and broken by shard id); assignment is a row-local "
        "expression -- Spark folds the 8/9-slot struct array through "
        "array_max, no explode, no shuffle except the shard-cardinality "
        "rollup. Scale: one corpus pass, 9-row output",
)
def x316_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def shard(n: int):
        slots = [
            F.struct(
                F.md5(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.lit(str(s))
                    )
                ).alias("w"),
                F.lit(s).alias("s"),
            )
            for s in range(n)
        ]
        return F.array_max(F.array(*slots))["s"]

    j = docs.select(
        shard(8).alias("shard8"), shard(9).alias("shard9")
    ).select(
        "shard8",
        F.when(F.col("shard8") != F.col("shard9"), 1)
        .otherwise(0)
        .alias("moved"),
    )
    per = j.groupBy(F.col("shard8").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("moved").cast("long").alias("n_moved_out"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.sum("n_moved_out").cast("long").alias("n_moved"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_moved_out",
            F.round(
                F.col("n_moved").cast("double") / F.col("n_total"), 4
            ).alias("moved_frac"),
        )
        .orderBy("shard")
    )


_X318_ORACLE = """
WITH base AS (
  SELECT l_linestatus AS stratum,
         CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
              THEN 'hi' ELSE 'lo' END AS mode,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
strata AS (
  SELECT stratum,
         CAST(SUM(CASE WHEN mode = 'hi' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(SUM(CASE WHEN mode = 'hi' THEN late ELSE 0 END) AS BIGINT)
           AS late_a,
         CAST(SUM(CASE WHEN mode = 'lo' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(SUM(CASE WHEN mode = 'lo' THEN late ELSE 0 END) AS BIGINT)
           AS late_b
  FROM base GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS n_a,
         CAST(SUM(late_a) AS BIGINT) AS late_a,
         CAST(SUM(n_b) AS BIGINT) AS n_b,
         CAST(SUM(late_b) AS BIGINT) AS late_b,
         CAST(SUM(n_a + n_b) AS BIGINT) AS n_all
  FROM strata
),
std AS (
  SELECT
    ROUND(CAST(SUM(CAST(ROUND((CAST(s.late_a AS DOUBLE) / s.n_a)
                * (CAST(s.n_a + s.n_b AS DOUBLE) / t.n_all), 8)
                AS DECIMAL(14,8))) AS DOUBLE), 6) AS std_rate_a,
    ROUND(CAST(SUM(CAST(ROUND((CAST(s.late_b AS DOUBLE) / s.n_b)
                * (CAST(s.n_a + s.n_b AS DOUBLE) / t.n_all), 8)
                AS DECIMAL(14,8))) AS DOUBLE), 6) AS std_rate_b
  FROM strata s, tot t
)
SELECT stratum, n_a, late_a, n_b, late_b,
       ROUND(CAST(late_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(late_b AS DOUBLE) / n_b, 6) AS rate_b,
       CAST(NULL AS DOUBLE) AS std_rate_a,
       CAST(NULL AS DOUBLE) AS std_rate_b
FROM strata
UNION ALL
SELECT 'ALL', t.n_a, t.late_a, t.n_b, t.late_b,
       ROUND(CAST(t.late_a AS DOUBLE) / t.n_a, 6),
       ROUND(CAST(t.late_b AS DOUBLE) / t.n_b, 6),
       s.std_rate_a, s.std_rate_b
FROM tot t, std s
ORDER BY stratum
"""


@register(
    "x318_simpson_audit",
    _X318_ORACLE,
    doc="Simpson's-paradox audit for an aggregation: return rates for "
        "high- vs low-priority orders overall AND stratified by line "
        "status (open lines barely return, so the crude comparison "
        "mostly measures each group's open/filled mix), plus "
        "direct-standardized rates (each mode's stratum rates weighted "
        "by the POOLED stratum mix) on the ALL row -- when the crude "
        "gap and the standardized gap disagree in sign, the rollup is "
        "lying about the comparison (the composition-confounding trap "
        "every BI aggregate over heterogeneous strata can hit). "
        "Determinism: rates divide exact BIGINT counts once in DOUBLE "
        "round 6; standardized terms round 8 and sum in DECIMAL. "
        "Scale: one fact-fact equi-join + a stratum-cardinality "
        "aggregate; everything after is 5-row arithmetic",
)
def x318_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    base = li.join(
        orders.select("o_orderkey", "o_orderpriority"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("l_linestatus").alias("stratum"),
        F.when(
            F.substring("o_orderpriority", 1, 1).isin("1", "2"), "hi"
        )
        .otherwise("lo")
        .alias("mode"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("late"),
    )
    is_a = F.col("mode") == "hi"
    strata = base.groupBy("stratum").agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(is_a, F.col("late")).otherwise(0))
        .cast("long")
        .alias("late_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~is_a, F.col("late")).otherwise(0))
        .cast("long")
        .alias("late_b"),
    )
    tot = strata.agg(
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("late_a").cast("long").alias("late_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.sum("late_b").cast("long").alias("late_b"),
        F.sum(F.col("n_a") + F.col("n_b")).cast("long").alias("n_all"),
    )
    term = lambda late, n: F.round(  # noqa: E731
        (F.col(late).cast("double") / F.col(n))
        * ((F.col("n_a") + F.col("n_b")).cast("double") / F.col("n_all")),
        8,
    ).cast("decimal(14,8)")
    std = (
        strata.crossJoin(F.broadcast(tot.select("n_all")))
        .agg(
            F.round(F.sum(term("late_a", "n_a")).cast("double"), 6).alias(
                "std_rate_a"
            ),
            F.round(F.sum(term("late_b", "n_b")).cast("double"), 6).alias(
                "std_rate_b"
            ),
        )
    )
    rate = lambda late, n: F.round(  # noqa: E731
        F.col(late).cast("double") / F.col(n), 6
    )
    strata_rows = strata.select(
        "stratum",
        "n_a",
        "late_a",
        "n_b",
        "late_b",
        rate("late_a", "n_a").alias("rate_a"),
        rate("late_b", "n_b").alias("rate_b"),
        F.lit(None).cast("double").alias("std_rate_a"),
        F.lit(None).cast("double").alias("std_rate_b"),
    )
    all_row = tot.crossJoin(F.broadcast(std)).select(
        F.lit("ALL").alias("stratum"),
        "n_a",
        "late_a",
        "n_b",
        "late_b",
        rate("late_a", "n_a").alias("rate_a"),
        rate("late_b", "n_b").alias("rate_b"),
        "std_rate_a",
        "std_rate_b",
    )
    return strata_rows.union(all_row).orderBy("stratum")


_X319_ORACLE = """
WITH lab AS (
  SELECT LEAST(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
               // 5000000, 9) AS bin,
         CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
              THEN 1 ELSE 0 END AS pos
  FROM orders
),
bins AS (
  SELECT bin, CAST(SUM(pos) AS BIGINT) AS pos_b,
         CAST(SUM(1 - pos) AS BIGINT) AS neg_b
  FROM lab GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(pos_b) AS BIGINT) AS pos_tot,
         CAST(SUM(neg_b) AS BIGINT) AS neg_tot
  FROM bins
),
woe AS (
  SELECT b.bin, b.pos_b, b.neg_b,
         CASE WHEN b.pos_b > 0 AND b.neg_b > 0
              THEN ROUND(ln(CAST(b.pos_b * t.neg_tot AS DOUBLE)
                            / (b.neg_b * t.pos_tot)), 6)
         END AS woe,
         CASE WHEN b.pos_b > 0 AND b.neg_b > 0
              THEN ROUND(ROUND(CAST(b.pos_b AS DOUBLE) / t.pos_tot
                               - CAST(b.neg_b AS DOUBLE) / t.neg_tot, 8)
                         * ROUND(ln(CAST(b.pos_b * t.neg_tot AS DOUBLE)
                                    / (b.neg_b * t.pos_tot)), 6), 8)
         END AS iv_term
  FROM bins b, tot t
),
iv AS (
  SELECT ROUND(CAST(SUM(CAST(COALESCE(iv_term, 0) AS DECIMAL(14,8)))
                    AS DOUBLE), 6) AS iv
  FROM woe
)
SELECT w.bin, w.pos_b, w.neg_b, w.woe, i.iv
FROM woe w, iv i ORDER BY w.bin
"""


@register(
    "x319_woe_iv",
    _X319_ORACLE,
    doc="weight-of-evidence / information-value screen (the "
        "credit-scoring feature audit): order value binned to $50k "
        "buckets vs the high-priority label, WOE_b = "
        "ln((pos_b/pos_tot)/(neg_b/neg_tot)) per bin and IV = "
        "sum((pos_share - neg_share) * WOE) -- the one-number answer "
        "to 'does this feature separate the classes, and monotonically "
        "where?' before a model trains on it. Determinism: the WOE "
        "argument is a ratio of exact BIGINT cross-products divided "
        "once in DOUBLE (no per-class float shares), ln rounds 6 "
        "(x106's precedent), share gaps round 8, IV terms round 8 and "
        "sum in DECIMAL; empty-class bins yield NULL WOE and "
        "contribute 0. Scale: one corpus pass into a 10-row bin "
        "aggregate, 1-row totals broadcast",
)
def x319_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(30,2)") * 100
    ).cast("long")
    lab = orders.select(
        F.least(
            F.floor(cents / F.lit(5000000)).cast("long"), F.lit(9).cast("long")
        ).alias("bin"),
        F.when(
            F.substring("o_orderpriority", 1, 1).isin("1", "2"), 1
        )
        .otherwise(0)
        .alias("pos"),
    )
    bins = lab.groupBy("bin").agg(
        F.sum("pos").cast("long").alias("pos_b"),
        F.sum(1 - F.col("pos")).cast("long").alias("neg_b"),
    )
    tot = bins.agg(
        F.sum("pos_b").cast("long").alias("pos_tot"),
        F.sum("neg_b").cast("long").alias("neg_tot"),
    )
    ok = (F.col("pos_b") > 0) & (F.col("neg_b") > 0)
    woe_val = F.round(
        F.log(
            (F.col("pos_b") * F.col("neg_tot")).cast("double")
            / (F.col("neg_b") * F.col("pos_tot"))
        ),
        6,
    )
    gap = F.round(
        F.col("pos_b").cast("double") / F.col("pos_tot")
        - F.col("neg_b").cast("double") / F.col("neg_tot"),
        8,
    )
    woe = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "pos_b",
        "neg_b",
        F.when(ok, woe_val).alias("woe"),
        F.when(ok, F.round(gap * woe_val, 8)).alias("iv_term"),
    )
    iv = woe.agg(
        F.round(
            F.sum(
                F.coalesce(F.col("iv_term"), F.lit(0)).cast("decimal(14,8)")
            ).cast("double"),
            6,
        ).alias("iv")
    )
    return (
        woe.crossJoin(F.broadcast(iv))
        .select("bin", "pos_b", "neg_b", "woe", "iv")
        .orderBy("bin")
    )


_X320_ORACLE = """
WITH per AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_i,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
                       AS BIGINT)) AS BIGINT) AS s_i
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(SUM(s_i) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS g
  FROM per
),
loo AS (
  SELECT p.n_name, p.n_i,
         ROUND(CAST(t.s - p.s_i AS DOUBLE) / (t.n - p.n_i), 6)
           AS theta_loo_c
  FROM per p, tot t
),
bar AS (
  SELECT CAST(SUM(CAST(theta_loo_c AS DECIMAL(20,6))) AS DOUBLE)
         / (SELECT g FROM tot) AS theta_bar
  FROM loo
),
var_j AS (
  SELECT ROUND(sqrt(
           CAST(SUM(CAST(ROUND((l.theta_loo_c - b.theta_bar)
                               * (l.theta_loo_c - b.theta_bar), 6)
                         AS DECIMAL(38,6))) AS DOUBLE)
           * (t.g - 1) / t.g), 4) AS se_jack_c
  FROM loo l, bar b, tot t
  GROUP BY t.g
)
SELECT l.n_name, l.n_i,
       ROUND(l.theta_loo_c / 100, 4) AS theta_loo,
       ROUND(CAST(t.s AS DOUBLE) / t.n / 100, 4) AS theta_hat,
       ROUND(v.se_jack_c / 100, 4) AS se_jack
FROM loo l, tot t, var_j v
ORDER BY l.n_name
"""


@register(
    "x320_jackknife_se",
    _X320_ORACLE,
    doc="delete-one-GROUP jackknife standard error for the mean order "
        "value (groups = customer nations): each leave-nation-out "
        "replicate is (S - s_i)/(n - n_i) over exact integer cents, "
        "se = sqrt((g-1)/g * sum((theta_i - theta_bar)^2)) -- the "
        "resampling-free uncertainty estimate that prices how much one "
        "country drives the corpus statistic (clustered data makes "
        "the iid bootstrap lie; group jackknife respects the cluster "
        "structure). Determinism: replicates divide exact BIGINTs "
        "once in DOUBLE round 6, their mean is a DECIMAL sum over "
        "round-6 values, squared deviations round 6 and sum in "
        "DECIMAL, one sqrt (IEEE correctly rounded) at the end. "
        "Scale: one fact aggregate to nation cardinality (25 rows); "
        "every replicate is totals-minus-group arithmetic -- no "
        "second corpus pass, no resampling",
)
def x320_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = (
        F.col("o_totalprice").cast("decimal(30,2)") * 100
    ).cast("long")
    per = (
        orders.select("o_custkey", cents.alias("cents"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum("cents").cast("long").alias("s_i"),
        )
    )
    tot = per.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("s_i").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("g"),
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n_i",
        F.round(
            (F.col("s") - F.col("s_i")).cast("double")
            / (F.col("n") - F.col("n_i")),
            6,
        ).alias("theta_loo_c"),
        "n",
        "s",
        "g",
    )
    bar = loo.agg(
        (
            F.sum(F.col("theta_loo_c").cast("decimal(20,6)")).cast("double")
            / F.first("g")
        ).alias("theta_bar")
    )
    dev = F.col("theta_loo_c") - F.col("theta_bar")
    var_j = (
        loo.crossJoin(F.broadcast(bar))
        .groupBy("g")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(dev * dev, 6).cast("decimal(38,6)")
                    ).cast("double")
                    * (F.col("g") - 1)
                    / F.col("g")
                ),
                4,
            ).alias("se_jack_c")
        )
        .select("se_jack_c")
    )
    return (
        loo.crossJoin(F.broadcast(var_j))
        .select(
            "n_name",
            "n_i",
            F.round(F.col("theta_loo_c") / 100, 4).alias("theta_loo"),
            F.round(
                F.col("s").cast("double") / F.col("n") / 100, 4
            ).alias("theta_hat"),
            F.round(F.col("se_jack_c") / 100, 4).alias("se_jack"),
        )
        .orderBy("n_name")
    )


_X321_ORACLE = """
WITH u AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 4)
                   < '8000'
              THEN 'treat' ELSE 'control' END AS arm
  FROM events GROUP BY 1
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users
  FROM u GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_users) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN arm = 'treat' THEN n_users END) AS BIGINT)
           AS n_t,
         CAST(SUM(CASE WHEN arm = 'control' THEN n_users END) AS BIGINT)
           AS n_c
  FROM arms
)
SELECT a.arm, a.n_users,
       ROUND(CAST(a.n_users AS DOUBLE) / t.n, 6) AS share,
       ROUND(CAST((t.n_t - t.n_c) * (t.n_t - t.n_c) AS DOUBLE) / t.n, 6)
         AS chi2,
       CAST((t.n_t - t.n_c) * (t.n_t - t.n_c) AS DOUBLE) / t.n > 3.841
         AS srm_flag
FROM arms a, tot t ORDER BY a.arm
"""


@register(
    "x321_srm_guardrail",
    _X321_ORACLE,
    doc="sample-ratio-mismatch guardrail for the A/B assignment x303 "
        "reads out: user counts per md5-bucket arm vs the designed "
        "50/50, chi-square reduced to its exact-integer form "
        "(n_t - n_c)^2 / n with the 3.841 (df=1, p=0.05) flag -- the "
        "first check any experiment readout must pass, because a "
        "mismatched ratio means assignment is broken and every "
        "downstream metric is biased. Determinism: counts are exact "
        "BIGINTs, the squared difference is exact, ONE double "
        "division; the flag compares that double to a constant. "
        "Scale: one user-level distinct aggregate (the corpus "
        "shuffle), then 2-row arithmetic",
)
def x321_srm_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab"))),
            1,
            4,
        )
        < "8000",
        "treat",
    ).otherwise("control")
    arms = (
        events.select("user_id")
        .distinct()
        .select(arm.alias("arm"))
        .groupBy("arm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    tot = arms.agg(
        F.sum("n_users").cast("long").alias("n"),
        F.sum(F.when(F.col("arm") == "treat", F.col("n_users")))
        .cast("long")
        .alias("n_t"),
        F.sum(F.when(F.col("arm") == "control", F.col("n_users")))
        .cast("long")
        .alias("n_c"),
    )
    d2 = (F.col("n_t") - F.col("n_c")) * (F.col("n_t") - F.col("n_c"))
    return (
        arms.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n_users",
            F.round(F.col("n_users").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
            F.round(d2.cast("double") / F.col("n"), 6).alias("chi2"),
            (d2.cast("double") / F.col("n") > 3.841).alias("srm_flag"),
        )
        .orderBy("arm")
    )


_X322_ORACLE = """
WITH k_exact AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text))
),
k_fp AS (
  SELECT MIN(doc_id) AS doc_id FROM documents
  GROUP BY md5(array_to_string(list_sort(list_distinct(
             string_split(lower(text), ' '))), ' '))
),
k_norm AS (
  SELECT MIN(doc_id) AS doc_id FROM documents
  GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
),
pair_ab AS (
  SELECT 'exact' AS method_a, 'fingerprint' AS method_b,
         (SELECT CAST(count(*) AS BIGINT) FROM k_exact) AS n_a,
         (SELECT CAST(count(*) AS BIGINT) FROM k_fp) AS n_b,
         (SELECT CAST(count(*) AS BIGINT) FROM k_exact
          JOIN k_fp USING (doc_id)) AS n_both
),
pair_ac AS (
  SELECT 'exact', 'normalized',
         (SELECT CAST(count(*) AS BIGINT) FROM k_exact),
         (SELECT CAST(count(*) AS BIGINT) FROM k_norm),
         (SELECT CAST(count(*) AS BIGINT) FROM k_exact
          JOIN k_norm USING (doc_id))
),
pair_bc AS (
  SELECT 'fingerprint', 'normalized',
         (SELECT CAST(count(*) AS BIGINT) FROM k_fp),
         (SELECT CAST(count(*) AS BIGINT) FROM k_norm),
         (SELECT CAST(count(*) AS BIGINT) FROM k_fp
          JOIN k_norm USING (doc_id))
),
pairs AS (
  SELECT * FROM pair_ab UNION ALL
  SELECT * FROM pair_ac UNION ALL
  SELECT * FROM pair_bc
)
SELECT method_a, method_b, n_a, n_b, n_both,
       ROUND(CAST(n_both AS DOUBLE) / (n_a + n_b - n_both), 6)
         AS survivor_jaccard
FROM pairs ORDER BY method_a, method_b
"""


@register(
    "x322_dedup_method_agreement",
    _X322_ORACLE,
    doc="dedup-tier agreement audit: survivor sets from three exact "
        "tiers (x01 lowercase-hash, x02 sorted-token fingerprint, and "
        "a punctuation/whitespace-normalized hash) compared pairwise "
        "by survivor-set Jaccard -- the table that tells you how much "
        "each normalization step actually buys BEFORE you pay for the "
        "near-dup tiers (methods agreeing at 0.99 are redundant; at "
        "0.7 the cheaper one is leaking duplicates). Determinism: "
        "survivor sets are MIN(doc_id) per hash group (exact), "
        "intersections are equi-joins on those ids, one double "
        "division per pair. Scale: three hash-groupBys over the "
        "corpus + three id-projected equi-joins; md5 keys cannot skew",
)
def x322_dedup_method_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k_exact = dedup.exact_dedup(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    k_fp = dedup.fingerprint_dedup(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    k_norm = docs.groupBy(
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.lower(F.col("text")), "[^a-z0-9]+", " "
                )
            )
        ).alias("h")
    ).agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    sets = {"exact": k_exact, "fingerprint": k_fp, "normalized": k_norm}

    def pair_row(na: str, nb: str) -> DataFrame:
        a, b = sets[na], sets[nb]
        counts = (
            a.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
            .crossJoin(
                b.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
            )
            .crossJoin(
                a.join(b, "doc_id").agg(
                    F.count(F.lit(1)).cast("long").alias("n_both")
                )
            )
        )
        return counts.select(
            F.lit(na).alias("method_a"),
            F.lit(nb).alias("method_b"),
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("survivor_jaccard"),
        )

    out = (
        pair_row("exact", "fingerprint")
        .union(pair_row("exact", "normalized"))
        .union(pair_row("fingerprint", "normalized"))
    )
    return out.orderBy("method_a", "method_b")


_X323_ORACLE = """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN regexp_matches(text,
           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')
           THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM documents GROUP BY 1
)
SELECT source, n, k,
       ROUND(CAST(k AS DOUBLE) / n, 6) AS p_hat,
       ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
              - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                            * (1 - CAST(k AS DOUBLE) / n) / n
                            + 0.9604 / (n * CAST(n AS DOUBLE))))
             / (1 + 3.8416 / n), 6) AS wilson_lo,
       ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
              + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                            * (1 - CAST(k AS DOUBLE) / n) / n
                            + 0.9604 / (n * CAST(n AS DOUBLE))))
             / (1 + 3.8416 / n), 6) AS wilson_hi
FROM per ORDER BY source
"""


@register(
    "x323_wilson_interval",
    _X323_ORACLE,
    doc="Wilson 95% score interval for the per-source email-PII rate "
        "(x20's email pattern as the detector): the interval that "
        "stays honest at small n and extreme p where the Wald "
        "interval collapses -- the difference between 'source X leaks "
        "more PII' and 'source X has fewer documents'. Determinism: "
        "p_hat divides exact BIGINTs once in DOUBLE; the z=1.96 "
        "constants enter as exact literals (1.9208 = z^2/2, 3.8416 = "
        "z^2, 0.9604 = z^2/4); one IEEE-correctly-rounded sqrt; the "
        "whole chain is identical double ops on identical inputs, "
        "rounded 6 at the end. Scale: one corpus pass with a "
        "row-local regexp into a source-cardinality aggregate",
)
def x323_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    email_pat = text.SCRUB_PATTERNS[1][0]
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("text").rlike(email_pat), 1).otherwise(0)
        )
        .cast("long")
        .alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    half = F.lit(1.96) * F.sqrt(
        p * (1 - p) / n + F.lit(0.9604) / (n * n.cast("double"))
    )
    denom = 1 + F.lit(3.8416) / n
    center = p + F.lit(1.9208) / n
    return per.select(
        "source",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("source")


def _word_cooccurrence_edges(docs: DataFrame) -> DataFrame:
    """Distinct symmetric adjacency edges between content words
    (lowercase alpha, length >= 4) -- the TextRank graph shared by
    x324 (global PageRank) and x352 (seeded personalized PageRank)."""
    ft = F.filter(
        _toks("text"),
        lambda t: t.rlike("^[a-z]{4,}$"),
    )
    with_ft = docs.select(ft.alias("ft"))
    adj = with_ft.select(
        F.explode(
            F.transform(
                F.slice(F.col("ft"), 1, F.size("ft") - 1),
                lambda x, i: F.struct(
                    x.alias("a"),
                    F.element_at(F.col("ft"), i + F.lit(2)).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    pairs = (
        adj.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    return pairs.union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _x324_oracle() -> str:
    edge_ctes = [
        """ft AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '),
                     t -> regexp_matches(t, '^[a-z]{4,}$')) AS ft
  FROM documents
)""",
        """adj AS (
  SELECT (p).a AS a, (p).b AS b FROM (
    SELECT unnest(list_transform(range(1, len(ft)),
                  i -> struct_pack(a := ft[i], b := ft[i + 1]))) AS p
    FROM ft
  )
)""",
        """pr AS (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM adj WHERE a != b
)""",
        "edges AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr)",
    ]
    return graph.pagerank_sql_over_edges(edge_ctes, node_select="u AS token")


@register(
    "x324_textrank_keywords",
    _x324_oracle(),
    doc="TextRank keyword extraction: PageRank over the corpus word "
        "co-occurrence graph (adjacent content words -- lowercase "
        "alpha, length >= 4 -- in each document's filtered token "
        "sequence; distinct symmetric edges), top-20 tokens by rank. "
        "The unsupervised keyword/keyphrase miner (Mihalcea & Tarau "
        "2004) every corpus-tagging pipeline starts from. Reuses "
        "x104's pagerank operator verbatim -- same fixed-depth "
        "iterations, shuffle_hash refusal of node-state broadcast, "
        "round-12 DECIMAL contributions -- on a vocabulary-sized "
        "graph; the oracle replays through the same proven CTE chain "
        "template (graph.pagerank_sql_over_edges). Scale: edge "
        "derivation is one explode + distinct (vocab^2-bounded, "
        "corpus-independent after dedup); iterations touch only the "
        "edge/node tables",
)
def x324_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    edges = _word_cooccurrence_edges(docs).localCheckpoint(eager=False)
    pr = graph.pagerank(edges)
    return (
        pr.select(
            F.col("node").alias("token"), F.round("rank", 8).alias("rank")
        )
        .orderBy(F.desc("rank"), "token")
        .limit(20)
    )


_X325_ORACLE = """
WITH per AS (
  SELECT o_orderpriority AS stratum,
         CAST(count(*) AS BIGINT) AS n_pop,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
                       AS BIGINT)) AS BIGINT) AS s,
         SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
                       AS BIGINT) AS DECIMAL(19,0))
             * CAST(CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100
                         AS BIGINT) AS DECIMAL(19,0))) AS ss
  FROM orders GROUP BY 1
),
sd AS (
  SELECT stratum, n_pop, s,
         ROUND(sqrt(CAST(n_pop * ss - CAST(s AS DECIMAL(38,0))
                         * CAST(s AS DECIMAL(38,0)) AS DOUBLE)
                    / (CAST(n_pop AS DOUBLE) * (n_pop - 1))), 6)
           AS sd_c
  FROM per
),
w AS (
  SELECT stratum, n_pop, s, sd_c,
         CAST(ROUND(n_pop * sd_c, 6) AS DECIMAL(28,6)) AS w_dec
  FROM sd
),
tot AS (SELECT SUM(w_dec) AS w_tot FROM w)
SELECT w.stratum, w.n_pop,
       ROUND(CAST(w.s AS DOUBLE) / w.n_pop / 100, 4) AS mean_value,
       ROUND(w.sd_c / 100, 4) AS sd_value,
       ROUND(CAST(w.w_dec AS DOUBLE) / CAST(t.w_tot AS DOUBLE), 6)
         AS alloc_share,
       CAST(FLOOR(10000 * CAST(w.w_dec AS DOUBLE)
                  / CAST(t.w_tot AS DOUBLE) + 0.5) AS BIGINT)
         AS n_alloc
FROM w, tot t ORDER BY w.stratum
"""


@register(
    "x325_neyman_allocation",
    _X325_ORACLE,
    doc="Neyman optimal allocation of a 10k-row sample budget across "
        "order-priority strata: n_h proportional to N_h * S_h -- the "
        "sampling-theory answer to 'where do my sample rows buy the "
        "most variance reduction' (uniform or proportional allocation "
        "wastes budget on homogeneous strata; x232's HT estimator "
        "then inflates whatever this allocates). Determinism: "
        "stratum variance numerator N*SS - S^2 is exact "
        "DECIMAL(38,0) integer arithmetic over cents, ONE double "
        "division + IEEE sqrt round 6; N_h*S_h weights round 6 into "
        "DECIMAL before the 5-row sum so the share denominator is "
        "order-free; allocations floor(x + 0.5) identically. Scale: "
        "one corpus aggregate to stratum cardinality (5 rows), "
        "everything after is broadcast-trivial",
)
def x325_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(30,2)") * 100
    ).cast("long")
    per = orders.select(
        F.col("o_orderpriority").alias("stratum"), cents.alias("c")
    ).groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.sum("c").cast("long").alias("s"),
        F.sum(
            F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)")
        ).alias("ss"),
    )
    sd_c = F.round(
        F.sqrt(
            (
                F.col("n_pop") * F.col("ss")
                - F.col("s").cast("decimal(38,0)")
                * F.col("s").cast("decimal(38,0)")
            ).cast("double")
            / (F.col("n_pop").cast("double") * (F.col("n_pop") - 1))
        ),
        6,
    )
    w = per.select(
        "stratum",
        "n_pop",
        "s",
        sd_c.alias("sd_c"),
        F.round(F.col("n_pop") * sd_c, 6)
        .cast("decimal(28,6)")
        .alias("w_dec"),
    )
    tot = w.agg(F.sum("w_dec").alias("w_tot"))
    share = F.col("w_dec").cast("double") / F.col("w_tot").cast("double")
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_pop",
            F.round(F.col("s").cast("double") / F.col("n_pop") / 100, 4)
            .alias("mean_value"),
            F.round(F.col("sd_c") / 100, 4).alias("sd_value"),
            F.round(share, 6).alias("alloc_share"),
            F.floor(10000 * share + F.lit(0.5))
            .cast("long")
            .alias("n_alloc"),
        )
        .orderBy("stratum")
    )


_X326_ORACLE = """
WITH tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS f FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) GROUP BY term
),
spec AS (
  SELECT CAST(SUM(f) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS d_vocab,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM tf
)
SELECT n_tokens, d_vocab, f1, f2,
       ROUND(d_vocab + CAST(f1 * (f1 - 1) AS DOUBLE) / (2 * (f2 + 1)), 4)
         AS chao1,
       ROUND(CAST(f1 AS DOUBLE) / n_tokens, 6) AS p_unseen,
       ROUND(1 - CAST(f1 AS DOUBLE) / n_tokens, 6) AS coverage
FROM spec
"""


@register(
    "x326_vocab_estimators",
    _X326_ORACLE,
    doc="unseen-vocabulary estimators from the frequency spectrum x87 "
        "surfaces: bias-corrected Chao1 richness D + f1(f1-1)/(2(f2+1)) "
        "('how many distinct tokens exist in the population this "
        "corpus samples'), Good-Turing unseen mass f1/N and its "
        "complement coverage -- the numbers that decide whether "
        "crawling more of a source will still grow the tokenizer's "
        "vocabulary or just re-sample it. Determinism: all inputs are "
        "exact BIGINTs off two chained hash-groupBys; each estimator "
        "is one double expression over them. Scale: token groupBy "
        "(map-side partial agg) + a 1-row spectrum rollup -- same "
        "profile as x87",
)
def x326_vocab_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(_toks("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    spec = tf.agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("d_vocab"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    return spec.select(
        "n_tokens",
        "d_vocab",
        "f1",
        "f2",
        F.round(
            F.col("d_vocab")
            + (F.col("f1") * (F.col("f1") - 1)).cast("double")
            / (2 * (F.col("f2") + 1)),
            4,
        ).alias("chao1"),
        F.round(F.col("f1").cast("double") / F.col("n_tokens"), 6).alias(
            "p_unseen"
        ),
        F.round(
            1 - F.col("f1").cast("double") / F.col("n_tokens"), 6
        ).alias("coverage"),
    )


_X327_ORACLE = """
WITH flagged AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 25) AS BIGINT), 19) AS bin,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_e
  FROM events
),
cnt AS (
  SELECT event_type, bin,
         CAST(SUM(is_e) AS BIGINT) AS c_e,
         CAST(SUM(1 - is_e) AS BIGINT) AS c_a
  FROM flagged GROUP BY 1, 2
),
tot AS (
  SELECT event_type,
         CAST(SUM(c_e) AS BIGINT) AS n_e,
         CAST(SUM(c_a) AS BIGINT) AS n_a
  FROM cnt GROUP BY 1
),
spine AS (
  SELECT t.event_type, b.bin, t.n_e, t.n_a
  FROM tot t CROSS JOIN (SELECT unnest(range(0, 20)) AS bin) b
),
terms AS (
  SELECT s.event_type, s.n_e, s.n_a,
         (COALESCE(c.c_a, 0) + 1) / CAST(s.n_a + 20 AS DOUBLE) AS pa,
         (COALESCE(c.c_e, 0) + 1) / CAST(s.n_e + 20 AS DOUBLE) AS pe
  FROM spine s LEFT JOIN cnt c
    ON s.event_type = c.event_type AND s.bin = c.bin
)
SELECT event_type, n_e AS n_expected, n_a AS n_actual,
       ROUND(CAST(SUM(CAST(ROUND((pa - pe) * ln(pa / pe), 12)
                           AS DECIMAL(28,12))) AS DOUBLE), 6) AS psi
FROM terms GROUP BY 1, 2, 3 ORDER BY event_type
"""


@register(
    "x327_psi_drift",
    _X327_ORACLE,
    doc="population stability index per event type between the first "
        "and second half of the month (split at 2024-01-16): "
        "PSI = sum (p_actual - p_expected) * ln(p_actual/p_expected) "
        "over 20 fixed-width value bins -- THE feature-drift guardrail "
        "model-monitoring stacks alert on (complements x128's KL: PSI "
        "is symmetric-ish and bin-based, the industry-dashboard "
        "number). Determinism: Laplace-smoothed (c+1)/(n+20) "
        "proportions from exact BIGINT counts are bit-identical "
        "double divisions; each bin term rounds 12 into "
        "DECIMAL(28,12) before the order-free per-type sum; full "
        "0..19 bin spine so zero bins contribute their smoothed term "
        "in both engines. Scale: one (type,bin,side) aggregate -- "
        "map-side partial -- then 100-row arithmetic",
)
def x327_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    flagged = events.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / 25).cast("long"), F.lit(19)
        ).alias("bin"),
        F.when(
            F.col("ts") < F.expr("TIMESTAMP_NTZ '2024-01-16 00:00:00'"), 1
        )
        .otherwise(0)
        .alias("is_e"),
    )
    cnt = flagged.groupBy("event_type", "bin").agg(
        F.sum("is_e").cast("long").alias("c_e"),
        F.sum(1 - F.col("is_e")).cast("long").alias("c_a"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("c_e").cast("long").alias("n_e"),
        F.sum("c_a").cast("long").alias("n_a"),
    )
    spine = tot.select(
        "event_type",
        "n_e",
        "n_a",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(19))).alias(
            "bin"
        ),
    )
    terms = spine.join(F.broadcast(cnt), ["event_type", "bin"], "left")
    pa = (F.coalesce(F.col("c_a"), F.lit(0)) + 1) / (
        F.col("n_a") + 20
    ).cast("double")
    pe = (F.coalesce(F.col("c_e"), F.lit(0)) + 1) / (
        F.col("n_e") + 20
    ).cast("double")
    return (
        terms.select(
            "event_type",
            "n_e",
            "n_a",
            F.round((pa - pe) * F.log(pa / pe), 12)
            .cast("decimal(28,12)")
            .alias("term"),
        )
        .groupBy("event_type", "n_e", "n_a")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("psi"))
        .select(
            "event_type",
            F.col("n_e").alias("n_expected"),
            F.col("n_a").alias("n_actual"),
            "psi",
        )
        .orderBy("event_type")
    )


_X328_POISSON_CASE = """CASE
  WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
  WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
  WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
  WHEN u < 4294609777 THEN 6 WHEN u < 4294923276 THEN 7
  ELSE 8 END"""


_X328_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS c
  FROM orders
),
expanded AS (
  SELECT b.k, b.c, r.r,
         CAST(concat('0x', substr(md5(concat(CAST(b.k AS VARCHAR), ':boot:',
              CAST(r.r AS VARCHAR))), 1, 8)) AS BIGINT) AS u
  FROM base b CROSS JOIN (SELECT unnest(range(0, 32)) AS r) r
),
weighted AS (
  SELECT r, {_X328_POISSON_CASE} AS w, c FROM expanded
),
reps AS (
  SELECT r,
         CAST(ROUND(SUM(w * c) / CAST(SUM(w) AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS m
  FROM weighted GROUP BY r
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_reps,
         SUM(m) AS sum_m,
         SUM(CAST(m AS DECIMAL(28,6)) * CAST(m AS DECIMAL(28,6)))
           AS sum_m2
  FROM reps
),
full_mean AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         SUM(c) / CAST(count(*) AS DOUBLE) AS fm
  FROM base
)
SELECT f.n_rows, s.n_reps,
       ROUND(f.fm / 100, 4) AS full_mean,
       ROUND(CAST(s.sum_m AS DOUBLE) / s.n_reps / 100, 4) AS boot_mean,
       ROUND(sqrt((CAST(s.sum_m2 AS DOUBLE)
                   - CAST(s.sum_m AS DOUBLE) * CAST(s.sum_m AS DOUBLE)
                     / s.n_reps) / (s.n_reps - 1)) / 100, 4) AS boot_se,
       ROUND((CAST(s.sum_m AS DOUBLE) / s.n_reps
              - 1.96 * sqrt((CAST(s.sum_m2 AS DOUBLE)
                   - CAST(s.sum_m AS DOUBLE) * CAST(s.sum_m AS DOUBLE)
                     / s.n_reps) / (s.n_reps - 1))) / 100, 4) AS ci_lo,
       ROUND((CAST(s.sum_m AS DOUBLE) / s.n_reps
              + 1.96 * sqrt((CAST(s.sum_m2 AS DOUBLE)
                   - CAST(s.sum_m AS DOUBLE) * CAST(s.sum_m AS DOUBLE)
                     / s.n_reps) / (s.n_reps - 1))) / 100, 4) AS ci_hi
FROM stats s CROSS JOIN full_mean f
"""


@register(
    "x328_poisson_bootstrap",
    _X328_ORACLE,
    doc="Poisson bootstrap CI for mean order value, 32 replicates: "
        "each row gets replicate weight ~ Poisson(1) via inverse-CDF "
        "on a 32-bit md5(key:boot:r) uniform -- the bootstrap that "
        "works at 100 TB because it streams (no resampling index, no "
        "RNG state: weights are a pure row-local function of the key, "
        "so retries and engine swaps reproduce them bit-exactly). "
        "Determinism: the inverse-CDF thresholds are exact integer "
        "literals against the exact 32-bit hash; replicate sums "
        "SUM(w*cents) are BIGINT; each replicate mean rounds 6 into "
        "DECIMAL(18,6) so the cross-replicate moments are order-free; "
        "variance assembled from the exact moments in one IEEE "
        "expression. Scale: one explode x32 (map-side) into a "
        "32-group aggregate -- partial agg absorbs it; the final "
        "stage is 32-row arithmetic",
)
def x328_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(30,2)") * 100)
        .cast("long")
        .alias("c"),
    )
    expanded = base.select(
        "k",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r"),
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("k").cast("string"),
                        F.lit(":boot:"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    w = (
        F.when(F.col("u") < 1580030168, 0)
        .when(F.col("u") < 3160060337, 1)
        .when(F.col("u") < 3950075421, 2)
        .when(F.col("u") < 4213413783, 3)
        .when(F.col("u") < 4279248373, 4)
        .when(F.col("u") < 4292415291, 5)
        .when(F.col("u") < 4294609777, 6)
        .when(F.col("u") < 4294923276, 7)
        .otherwise(8)
    )
    reps = (
        expanded.select("r", w.alias("w"), "c")
        .groupBy("r")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("c"))
                / F.sum("w").cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("m")
        )
    )
    stats = reps.agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        F.sum("m").alias("sum_m"),
        F.sum(F.col("m") * F.col("m")).alias("sum_m2"),
    )
    full = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum("c") / F.count(F.lit(1)).cast("double")).alias("fm"),
    )
    var = (
        F.col("sum_m2").cast("double")
        - F.col("sum_m").cast("double")
        * F.col("sum_m").cast("double")
        / F.col("n_reps")
    ) / (F.col("n_reps") - 1)
    bm = F.col("sum_m").cast("double") / F.col("n_reps")
    return stats.crossJoin(F.broadcast(full)).select(
        "n_rows",
        "n_reps",
        F.round(F.col("fm") / 100, 4).alias("full_mean"),
        F.round(bm / 100, 4).alias("boot_mean"),
        F.round(F.sqrt(var) / 100, 4).alias("boot_se"),
        F.round((bm - 1.96 * F.sqrt(var)) / 100, 4).alias("ci_lo"),
        F.round((bm + 1.96 * F.sqrt(var)) / 100, 4).alias("ci_hi"),
    )


def _x329_oracle() -> str:
    ctes = [
        """ob AS MATERIALIZED (
  SELECT l.l_orderkey AS ok, p.p_brand AS b,
         CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(30,2)) * 100
                       AS BIGINT)) AS BIGINT) AS c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)""",
        """pr AS MATERIALIZED (
  SELECT a.b AS i, bb.b AS j,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a.c >= bb.c THEN 1 ELSE 0 END) AS BIGINT)
           AS wi
  FROM ob a JOIN ob bb ON a.ok = bb.ok AND a.b < bb.b
  GROUP BY 1, 2
)""",
        """sm AS MATERIALIZED (
  SELECT i, j, n, wi AS w FROM pr
  UNION ALL SELECT j AS i, i AS j, n, n - wi AS w FROM pr
)""",
        """wt AS MATERIALIZED (
  SELECT i AS b, CAST(SUM(w) AS BIGINT) AS wins,
         CAST(SUM(n) AS BIGINT) AS n_matches
  FROM sm GROUP BY 1
)""",
        "s0 AS MATERIALIZED (SELECT b, CAST(0.04 AS DOUBLE) AS s FROM wt)",
    ]
    for t in range(1, 3 + 1):
        ctes.append(
            f"""d{t} AS MATERIALIZED (
  SELECT sm.i AS b,
         SUM(CAST(ROUND(sm.n / (si.s + sj.s), 12) AS DECIMAL(28,12)))
           AS den
  FROM sm JOIN s{t - 1} si ON sm.i = si.b
          JOIN s{t - 1} sj ON sm.j = sj.b
  GROUP BY sm.i
)"""
        )
        ctes.append(
            f"""r{t} AS MATERIALIZED (
  SELECT w.b, ROUND(w.wins / CAST(d.den AS DOUBLE), 12) AS sr
  FROM wt w JOIN d{t} d ON w.b = d.b
)"""
        )
        ctes.append(
            f"""s{t} AS MATERIALIZED (
  SELECT b, ROUND(sr / CAST((SELECT SUM(CAST(sr AS DECIMAL(28,12)))
                             FROM r{t}) AS DOUBLE), 12) AS s
  FROM r{t}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT w.b AS brand, w.n_matches, w.wins, ROUND(s.s, 8) AS strength
FROM wt w JOIN s3 s ON w.b = s.b
ORDER BY s.s DESC, w.b"""
    )


@register(
    "x329_bradley_terry",
    _x329_oracle(),
    doc="Bradley-Terry preference strengths over part brands, 3 MM "
        "iterations: within each order, every brand pair is a 'match' "
        "won by the higher order-local spend (ties to the "
        "lexicographically smaller brand); s_i <- W_i / sum_j "
        "n_ij/(s_i+s_j), renormalized to sum 1 -- the pairwise-"
        "preference -> scalar-strength model RLHF reward ranking and "
        "LLM-judge leaderboards run on (Elo's batch cousin). "
        "Determinism: match counts/wins exact BIGINT off cents; each "
        "MM term rounds 12 into DECIMAL(28,12) before order-free "
        "sums; the normalizer sums round-12 DECIMALs. Scale: the "
        "per-order pair join is bounded by brands-per-order (~4 -> 6 "
        "pairs) and aggregates straight to a brand^2-sized matrix "
        "(<=600 rows); iterations touch only the matrix -- same "
        "fixed-depth shape as x104; matrix localCheckpointed so "
        "iterations never replay the corpus join",
)
def x329_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = (
        F.col("l_extendedprice").cast("decimal(30,2)") * 100
    ).cast("long")
    ob = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("p_brand").alias("b"),
            cents.alias("cc"),
        )
        .groupBy("ok", "b")
        .agg(F.sum("cc").cast("long").alias("c"))
    )
    # brand pairs expand INSIDE each order's collected (brand, cents)
    # array (x76/x104's HOF shape -- orders hold a handful of brands),
    # never via an ob self-join on ok: the join formulation shuffles
    # the order-brand table twice and sort-merges it against itself,
    # where this is one groupBy(ok) reusing nothing but the already-
    # aggregated rows. array_sort orders by the struct's first field
    # (the brand), so x.b < y.b inside the slice for free.
    bl = ob.groupBy("ok").agg(
        F.array_sort(F.collect_list(F.struct("b", "c"))).alias("bs")
    ).filter(F.size("bs") >= 2)
    bs = F.col("bs")
    pr = (
        bl.select(
            F.explode(
                pairs_within(
                    bs,
                    lambda x, y: F.struct(
                        x["b"].alias("i"),
                        y["b"].alias("j"),
                        F.when(x["c"] >= y["c"], 1)
                        .otherwise(0)
                        .alias("win_i"),
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("win_i").cast("long").alias("wi"),
        )
        # brand^2-bounded (<=600 rows) but derived from the corpus-
        # sized pair expansion: the union below consumes it TWICE --
        # checkpoint here so the expansion runs once, not per branch
        .localCheckpoint()
    )
    sm = pr.select("i", "j", "n", F.col("wi").alias("w")).union(
        pr.select(
            F.col("j").alias("i"),
            F.col("i").alias("j"),
            "n",
            (F.col("n") - F.col("wi")).alias("w"),
        )
    )
    # Matrix is brand^2-bounded (<=600 rows); checkpoint so the three
    # MM iterations never replay the corpus-sized pair derivation.
    sm = sm.localCheckpoint()
    wt = sm.groupBy(F.col("i").alias("b")).agg(
        F.sum("w").cast("long").alias("wins"),
        F.sum("n").cast("long").alias("n_matches"),
    ).localCheckpoint()
    s = wt.select("b", F.lit(0.04).cast("double").alias("s"))
    for _ in range(3):
        si = s.select(F.col("b").alias("i"), F.col("s").alias("s_i"))
        sj = s.select(F.col("b").alias("j"), F.col("s").alias("s_j"))
        den = (
            sm.join(si, "i")
            .join(sj, "j")
            .select(
                F.col("i").alias("b"),
                F.round(
                    F.col("n") / (F.col("s_i") + F.col("s_j")), 12
                )
                .cast("decimal(28,12)")
                .alias("term"),
            )
            .groupBy("b")
            .agg(F.sum("term").alias("den"))
        )
        # checkpoint the brand-sized (<=25 rows) iterate: WITHOUT this,
        # each round references the previous s twice (si, sj) and raw
        # twice (tot + the normalize), so the logical plan QUADRUPLES
        # per iteration -- the 3-round plan reached 1379 physical
        # operators / 254 SortMergeJoins and the entry's cost was
        # planning, not data (guide section 3.3: materialize
        # intermediates to truncate very wide plans).
        raw = wt.join(den, "b").select(
            "b",
            F.round(
                F.col("wins") / F.col("den").cast("double"), 12
            ).alias("sr"),
        ).localCheckpoint()
        tot = raw.agg(
            F.sum(F.col("sr").cast("decimal(28,12)")).alias("tot")
        )
        s = raw.crossJoin(F.broadcast(tot)).select(
            "b",
            F.round(
                F.col("sr") / F.col("tot").cast("double"), 12
            ).alias("s"),
        )
    return (
        wt.join(s, "b")
        .select(
            F.col("b").alias("brand"),
            "n_matches",
            "wins",
            F.round("s", 8).alias("strength"),
        )
        .orderBy(F.desc("strength"), "brand")
    )


_X330_ORACLE = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click'
    AND e.ts > t1.t1 AND e.ts <= t1.t1 + INTERVAL 72 HOUR
  GROUP BY 1
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > t2.t2 AND e.ts <= t2.t2 + INTERVAL 72 HOUR
  GROUP BY 1
),
lvl AS (
  SELECT u.user_id,
         CASE WHEN t3.user_id IS NOT NULL THEN 3
              WHEN t2.user_id IS NOT NULL THEN 2
              WHEN t1.user_id IS NOT NULL THEN 1
              ELSE 0 END AS level
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN t1 ON u.user_id = t1.user_id
  LEFT JOIN t2 ON u.user_id = t2.user_id
  LEFT JOIN t3 ON u.user_id = t3.user_id
),
agg AS (SELECT level, CAST(count(*) AS BIGINT) AS n_users FROM lvl GROUP BY 1),
tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_total FROM agg)
SELECT a.level, a.n_users,
       ROUND(a.n_users / CAST(t.n_total AS DOUBLE), 4) AS share
FROM agg a CROSS JOIN tot t ORDER BY a.level
"""


@register(
    "x330_window_funnel",
    _X330_ORACLE,
    doc="strict-order window funnel (the ClickHouse windowFunnel "
        "semantic): per user, max depth along view -> click -> "
        "purchase where each step strictly follows and lands within "
        "72 h of the previous step's FIRST qualifying event; output "
        "the user count and share per reached level. Unlike x72's "
        "session funnel (set-containment within a session) this "
        "prices ordered step-chaining with per-step deadlines -- the "
        "conversion metric growth teams actually track. Scale: three "
        "user-key min-aggregates chained by user-key joins -- every "
        "stage shuffles on the SAME key so the exchanges reuse one "
        "partitioning; no windows, no corpus self-join fan-out "
        "(each stage's input is filtered to one event type first)",
)
def x330_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    t1 = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        events.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 72 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        events.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 72 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    lvl = (
        events.select("user_id")
        .distinct()
        .join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .alias("level")
        )
    )
    agg = lvl.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    tot = agg.agg(F.sum("n_users").cast("long").alias("n_total"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "level",
            "n_users",
            F.round(
                F.col("n_users") / F.col("n_total").cast("double"), 4
            ).alias("share"),
        )
        .orderBy("level")
    )


_X331_ORACLE = """
WITH d AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
         substr(text, 1, 16) AS blk
  FROM documents
),
f AS (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS true_pairs
      FROM (SELECT count(*) AS n FROM d GROUP BY fp)),
b AS (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS cand_pairs
      FROM (SELECT count(*) AS n FROM d GROUP BY blk)),
fb AS (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS captured_pairs
       FROM (SELECT count(*) AS n FROM d GROUP BY fp, blk)),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM d)
SELECT nn.n_docs, f.true_pairs, b.cand_pairs, fb.captured_pairs,
       CASE WHEN f.true_pairs = 0 THEN 1.0
            ELSE ROUND(fb.captured_pairs
                       / CAST(f.true_pairs AS DOUBLE), 4) END
         AS pair_completeness,
       ROUND(1 - b.cand_pairs
             / (nn.n_docs * (nn.n_docs - 1) / CAST(2 AS DOUBLE)), 6)
         AS reduction_ratio
FROM nn CROSS JOIN f CROSS JOIN b CROSS JOIN fb
"""


@register(
    "x331_blocking_audit",
    _X331_ORACLE,
    doc="entity-resolution blocking quality audit: reduction ratio "
        "(candidate pairs avoided vs the full n^2) and pair "
        "completeness (true normalized-duplicate pairs whose members "
        "share a raw 16-char-prefix block) -- the two numbers that "
        "decide whether a blocking key is safe BEFORE paying for the "
        "pairwise stage. The trick that scales: every pair count is "
        "sum-of-C(group,2) COMBINATORICS on group sizes (three "
        "hash-groupBys), no pair is ever materialized -- auditing a "
        "100 TB blocking scheme costs one aggregate pass. Truth tier "
        "is x02's punctuation-normalized fingerprint; this fixture's "
        "dups never differ inside the first 16 raw chars, so "
        "completeness reads 1.0 (and is division-guarded where true "
        "pairs = 0)",
)
def x331_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    d = docs.select(
        fp.alias("fp"), F.substring("text", 1, 16).alias("blk")
    )
    pair_sum = lambda cnt: F.sum(
        (F.col(cnt) * (F.col(cnt) - 1) / 2).cast("long")
    ).cast("long")
    f = (
        d.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
        .agg(pair_sum("n").alias("true_pairs"))
    )
    b = (
        d.groupBy("blk").agg(F.count(F.lit(1)).alias("n"))
        .agg(pair_sum("n").alias("cand_pairs"))
    )
    fb = (
        d.groupBy("fp", "blk").agg(F.count(F.lit(1)).alias("n"))
        .agg(pair_sum("n").alias("captured_pairs"))
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        nn.crossJoin(F.broadcast(f))
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(fb))
        .select(
            "n_docs",
            "true_pairs",
            "cand_pairs",
            "captured_pairs",
            F.when(F.col("true_pairs") == 0, F.lit(1.0))
            .otherwise(
                F.round(
                    F.col("captured_pairs")
                    / F.col("true_pairs").cast("double"),
                    4,
                )
            )
            .alias("pair_completeness"),
            F.round(
                1
                - F.col("cand_pairs")
                / (
                    F.col("n_docs")
                    * (F.col("n_docs") - 1)
                    / F.lit(2).cast("double")
                ),
                6,
            ).alias("reduction_ratio"),
        )
    )


_X559_ORACLE = """
WITH tok AS (
  SELECT d.doc_id, s.l[i.i] AS w, i.i AS pos
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
        FROM documents) s
  JOIN documents d ON d.doc_id = s.doc_id,
  UNNEST(range(1, len(s.l) + 1)) AS i(i)
),
flagged AS (
  SELECT doc_id, w, pos,
         CASE WHEN w IN (%s) OR w = '' THEN 1 ELSE 0 END AS is_stop
  FROM tok
),
seg AS (
  SELECT doc_id, w, pos, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS phrase_id
  FROM flagged
),
pw AS (
  SELECT doc_id, phrase_id, w, pos FROM seg WHERE is_stop = 0
),
phr AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM pw GROUP BY 1, 2
),
wstat AS (
  SELECT pw.w,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(SUM(phr.plen) AS BIGINT) AS deg
  FROM pw
  JOIN phr ON phr.doc_id = pw.doc_id
          AND phr.phrase_id = pw.phrase_id
  GROUP BY 1
),
wscore AS (
  SELECT w, ROUND(CAST(deg AS DOUBLE) / freq, 10) AS score
  FROM wstat
),
pscore AS (
  SELECT phr.phrase,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(MAX(per_occ) AS DOUBLE) AS rake_score
  FROM phr
  JOIN (
    SELECT pw.doc_id, pw.phrase_id,
           CAST(SUM(CAST(round(ws.score, 10) AS DECIMAL(38,10)))
                AS DOUBLE) AS per_occ
    FROM pw JOIN wscore ws ON ws.w = pw.w
    GROUP BY 1, 2
  ) occ ON occ.doc_id = phr.doc_id AND occ.phrase_id = phr.phrase_id
  GROUP BY phr.phrase
)
SELECT phrase, n_occurrences,
       ROUND(rake_score, 4) AS rake_score
FROM pscore
ORDER BY ROUND(rake_score, 4) DESC, phrase ASC
LIMIT 15
""" % _STOP_EN


@register(
    "x559_rake_keywords",
    _X559_ORACLE,
    doc="RAKE keyword extraction (Rose et al.) over the documents "
        "corpus: candidate phrases are maximal stopword-free token "
        "runs, word score = degree/frequency over within-phrase "
        "co-occurrence, phrase score = sum of member word scores; "
        "top-15 distinct phrases -- the unsupervised KEYPHRASE "
        "surface beside x106's query-driven BM25 and x19's "
        "per-term tf-idf (RAKE finds multi-word units with no "
        "query and no training, the standard cheap keyword pass "
        "of an LLM-corpus datasheet). Exactness: segmentation is "
        "an exact integer prefix count of stopword positions "
        "(per-doc windows); degree/frequency are exact integer "
        "sums; word scores round 10 into DECIMAL before the "
        "per-occurrence sum (order-proof), phrase scores round 4 "
        "with the LIMIT under a total (score DESC, phrase ASC) "
        "order. Scale: tokenization explodes once; every stage "
        "is a hash groupBy on (doc, phrase) or word keys -- no "
        "pairwise anything",
)
def x559_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    stop = sorted(text.LANG_STOPWORDS["en"])
    tok = docs.select(
        "doc_id",
        F.posexplode(_toks("text")).alias(
            "pos0", "w"
        ),
    ).select(
        "doc_id", "w", (F.col("pos0") + 1).alias("pos")
    )
    flagged = tok.select(
        "doc_id",
        "w",
        "pos",
        F.when(F.col("w").isin(*stop) | (F.col("w") == ""), 1)
        .otherwise(0)
        .alias("is_stop"),
    )
    wseg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seg = flagged.select(
        "doc_id",
        "w",
        "pos",
        "is_stop",
        F.sum("is_stop").over(wseg).alias("phrase_id"),
    )
    pw = seg.filter(F.col("is_stop") == 0).select(
        "doc_id", "phrase_id", "w", "pos"
    ).localCheckpoint(eager=False)
    phr = pw.groupBy("doc_id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    wstat = pw.join(phr, ["doc_id", "phrase_id"]).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    wscore = wstat.select(
        "w",
        F.round(F.col("deg").cast("double") / F.col("freq"), 10).alias(
            "score"
        ),
    )
    occ = (
        pw.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.sum(F.round(F.col("score"), 10).cast("decimal(38,10)"))
            .cast("double")
            .alias("per_occ")
        )
    )
    pscore = phr.join(occ, ["doc_id", "phrase_id"]).groupBy(
        "phrase"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("per_occ").cast("double").alias("rake_score"),
    )
    return pscore.select(
        "phrase",
        "n_occurrences",
        F.round("rake_score", 4).alias("rake_score"),
    ).orderBy(
        F.round("rake_score", 4).desc(), F.col("phrase").asc()
    ).limit(15)


_X562_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
trans AS (
  SELECT event_type AS a, nxt AS b, CAST(count(*) AS BIGINT) AS w
  FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2
),
offd AS (
  SELECT t.a, t.b, t.w, COALESCE(r.w, 0) AS wr
  FROM trans t
  LEFT JOIN trans r ON r.a = t.b AND r.b = t.a
  WHERE t.a <> t.b
),
agg AS (
  SELECT CAST(SUM(w) AS BIGINT) AS w_offdiag,
         CAST(SUM(LEAST(w, wr)) AS BIGINT) AS w_recip,
         CAST(SUM(CASE WHEN a < b THEN 1 ELSE 0 END) AS BIGINT)
           AS dyads_connected,
         CAST(SUM(CASE WHEN a < b AND wr > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS dyads_reciprocated
  FROM offd
),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS n_transitions FROM trans)
SELECT tot.n_transitions, agg.w_offdiag,
       ROUND(CAST(agg.w_recip AS DOUBLE)
             / CAST(agg.w_offdiag AS DOUBLE), 6)
         AS reciprocity_weighted,
       agg.dyads_connected, agg.dyads_reciprocated,
       ROUND(CAST(agg.dyads_reciprocated AS DOUBLE)
             / CAST(agg.dyads_connected AS DOUBLE), 6)
         AS reciprocity_dyadic
FROM agg, tot
"""


@register(
    "x562_transition_reciprocity",
    _X562_ORACLE,
    doc="Reciprocity of the behavioral transition graph (x96's "
        "adjacency, off-diagonal only): weighted reciprocity "
        "sum(min(w_ab, w_ba))/sum(w_ab) -- the share of directed "
        "flow that is matched by return flow -- beside the dyadic "
        "version (reciprocated type pairs / connected type pairs); "
        "high reciprocity means event types alternate (browse<->"
        "click loops), low means a one-way funnel, the DIRECTIONAL "
        "structure x96's conditional matrix and x140's stationary "
        "distribution do not summarize. Exactness: transition "
        "counts are exact integers off one per-user lead() window "
        "(ts, event_id total order); the reverse-edge lookup is a "
        "self-join on the bounded event-type domain (~25 cells); "
        "two double divisions at the end. Scale: one user-key "
        "window + one 25-row grid join",
)
def x562_transition_reciprocity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
    )
    trans = ordered.filter(F.col("nxt").isNotNull()).groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("w")).localCheckpoint(
        eager=False
    )
    rev = trans.select(
        F.col("a").alias("rb"), F.col("b").alias("ra"),
        F.col("w").alias("wr"),
    )
    offd = trans.filter(F.col("a") != F.col("b")).join(
        F.broadcast(rev),
        (F.col("a") == F.col("ra")) & (F.col("b") == F.col("rb")),
        "left",
    ).select(
        "a", "b", "w", F.coalesce(F.col("wr"), F.lit(0)).alias("wr")
    )
    agg = offd.agg(
        F.sum("w").cast("long").alias("w_offdiag"),
        F.sum(F.least(F.col("w"), F.col("wr")))
        .cast("long")
        .alias("w_recip"),
        F.sum(F.when(F.col("a") < F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("dyads_connected"),
        F.sum(
            F.when((F.col("a") < F.col("b")) & (F.col("wr") > 0), 1)
            .otherwise(0)
        ).cast("long").alias("dyads_reciprocated"),
    )
    tot = trans.agg(
        F.sum("w").cast("long").alias("n_transitions")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "n_transitions",
        "w_offdiag",
        F.round(
            F.col("w_recip").cast("double")
            / F.col("w_offdiag").cast("double"),
            6,
        ).alias("reciprocity_weighted"),
        "dyads_connected",
        "dyads_reciprocated",
        F.round(
            F.col("dyads_reciprocated").cast("double")
            / F.col("dyads_connected").cast("double"),
            6,
        ).alias("reciprocity_dyadic"),
    )


_X563_ORACLE = """
WITH tok AS (
  SELECT d.source, t.w
  FROM (SELECT source, string_split(lower(text), ' ') AS l
        FROM documents) d,
  UNNEST(d.l) AS t(w)
  WHERE t.w <> ''
),
topw AS (
  SELECT w FROM tok GROUP BY w
  ORDER BY count(*) DESC, w ASC LIMIT 50
),
stok AS (
  SELECT source, CAST(count(*) AS BIGINT) AS toks
  FROM tok GROUP BY 1
),
cnt AS (
  SELECT tok.source, tok.w, CAST(count(*) AS BIGINT) AS c
  FROM tok JOIN topw ON topw.w = tok.w
  GROUP BY 1, 2
),
grid AS (
  SELECT s.source, t.w,
         ROUND(CAST(COALESCE(c.c, 0) AS DOUBLE) / s.toks, 10) AS f
  FROM stok s CROSS JOIN topw t
  LEFT JOIN cnt c ON c.source = s.source AND c.w = t.w
),
k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM stok),
wstat AS (
  SELECT w,
         CAST(SUM(CAST(f AS DECIMAL(38,10))) AS DOUBLE) AS sf,
         CAST(SUM(CAST(round(f * f, 20) AS DECIMAL(38,20)))
              AS DOUBLE) AS sf2
  FROM grid GROUP BY 1
),
sig AS (
  SELECT w,
         CAST(sf AS DOUBLE) / k.k AS mu,
         sqrt(GREATEST(sf2 / k.k - (sf / k.k) * (sf / k.k), 0.0))
           AS sigma
  FROM wstat, k
),
z AS (
  SELECT g.source,
         CAST(round(abs(g.f - s.mu) / s.sigma, 8) AS DECIMAL(38,8))
           AS az
  FROM grid g JOIN sig s ON s.w = g.w
  WHERE s.sigma > 0.0
),
delta AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_words_used,
         ROUND(CAST(SUM(az) AS DOUBLE) / count(*), 6)
           AS burrows_delta
  FROM z GROUP BY 1
)
SELECT source, n_words_used, burrows_delta
FROM delta
ORDER BY burrows_delta DESC, source ASC
LIMIT 15
"""


@register(
    "x563_burrows_delta",
    _X563_ORACLE,
    doc="Burrows' delta style-outlier ranking: for the 50 most "
        "frequent corpus words (function words included, as "
        "Burrows prescribes), z-score each source's relative "
        "frequency across sources and rank sources by mean |z| -- "
        "distance from the corpus's average STYLE profile; the "
        "stylometric lens (who writes DIFFERENTLY, not about "
        "what) beside x215's distinctive content terms and x128's "
        "topic-mix KL, and the standard screen for a machine-"
        "generated or off-domain source slice in an LLM corpus "
        "datasheet. Exactness: relative frequencies round 10; "
        "per-word moments accumulate the rounded values in "
        "DECIMAL(38,10)/(38,20) (order-proof); sigma guards "
        "GREATEST(.,0) against rounding negatives and zero-"
        "variance words are excluded (stated); per-word |z| "
        "rounds 8 into DECIMAL before the per-source mean; top-15 "
        "under a total (delta DESC, source ASC) order. Scale: one "
        "tokenize-explode, word/source hash groupBys, a 50 x "
        "n_sources broadcast grid",
)
def x563_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(_toks("text")).alias("w"),
    ).filter(F.col("w") != "").localCheckpoint(eager=False)
    topw = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
        .orderBy(F.col("cw").desc(), F.col("w").asc())
        .limit(50)
        .select("w")
    )
    stok = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("toks")
    )
    cnt = tok.join(F.broadcast(topw), "w").groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = (
        stok.crossJoin(F.broadcast(topw))
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.round(
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("toks"),
                10,
            ).alias("f"),
        )
    )
    k = stok.agg(F.count(F.lit(1)).cast("long").alias("k"))
    wstat = grid.groupBy("w").agg(
        F.sum(F.col("f").cast("decimal(38,10)"))
        .cast("double")
        .alias("sf"),
        F.sum(
            F.round(F.col("f") * F.col("f"), 20).cast("decimal(38,20)")
        ).cast("double").alias("sf2"),
    )
    sig = wstat.crossJoin(F.broadcast(k)).select(
        "w",
        (F.col("sf") / F.col("k")).alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("sf2") / F.col("k")
                - (F.col("sf") / F.col("k")) * (F.col("sf") / F.col("k")),
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    z = grid.join(F.broadcast(sig), "w").filter(
        F.col("sigma") > 0.0
    ).select(
        "source",
        F.round(
            F.abs(F.col("f") - F.col("mu")) / F.col("sigma"), 8
        ).cast("decimal(38,8)").alias("az"),
    )
    delta = z.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_words_used"),
        F.round(
            F.sum("az").cast("double") / F.count(F.lit(1)), 6
        ).alias("burrows_delta"),
    )
    return delta.select(
        "source", "n_words_used", "burrows_delta"
    ).orderBy(
        F.col("burrows_delta").desc(), F.col("source").asc()
    ).limit(15)


_X565_ORACLE = """
WITH q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)
         ) AS qv
  FROM embeddings
),
nrm AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)
           AS nq
  FROM q
),
pos AS (
  SELECT vec_id, t.j,
         CAST(floor(CAST(qv[t.j] AS DOUBLE) * 1048576.0
                    / sqrt(CAST(nq AS DOUBLE))) AS BIGINT) AS qu
  FROM nrm, UNNEST(range(1, 65)) AS t(j)
),
marg AS (
  SELECT j,
         CAST(SUM(qu) AS HUGEINT) AS sj,
         CAST(SUM(qu * qu) AS HUGEINT) AS ssj
  FROM pos GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM q
),
agg AS (
  SELECT CAST(SUM(sj * sj) AS HUGEINT) AS sum_sj2,
         CAST(SUM(ssj) AS HUGEINT) AS ss,
         CAST(MAX(abs(sj)) AS HUGEINT) AS max_abs_sj
  FROM marg
),
rogue AS (
  SELECT MIN(m.j) AS rogue_dim
  FROM marg m, agg a WHERE abs(m.sj) = a.max_abs_sj
),
rshare AS (
  SELECT CAST(m.sj AS DOUBLE) * CAST(m.sj AS DOUBLE)
           / CAST(a.sum_sj2 AS DOUBLE) AS share
  FROM marg m, agg a, rogue r WHERE m.j = r.rogue_dim
)
SELECT t.n AS n_vecs,
       ROUND((CAST(a.sum_sj2 AS DOUBLE) - CAST(a.ss AS DOUBLE))
             / (CAST(t.n AS DOUBLE) * (t.n - 1.0))
             / 1099511627776.0, 6) AS mean_pairwise_cos,
       ROUND(CAST(a.sum_sj2 AS DOUBLE)
             / (CAST(t.n AS DOUBLE) * t.n) / 1099511627776.0, 6)
         AS mu_norm_sq,
       r.rogue_dim,
       ROUND(rs.share, 6) AS rogue_dim_share
FROM tot t, agg a, rogue r, rshare rs
"""


@register(
    "x565_embedding_anisotropy",
    _X565_ORACLE,
    doc="Ethayarajh-style anisotropy audit of the embedding space: "
        "the EXACT mean pairwise cosine over ALL vector pairs via "
        "the sum-vector identity (sum_j S_j^2 - sum|u|^2) / "
        "(n(n-1)) -- no pair ever materialized -- plus the mean-"
        "vector norm (its asymptote), the dominant 'rogue' "
        "dimension and that dimension's share of the common "
        "direction: anisotropic spaces (mean cos >> 0) make raw "
        "cosine thresholds (x09/x28/x35 neardup tiers) "
        "systematically over-match, and a single rogue dimension "
        "is the usual culprit the fix (centering, x364's PCA "
        "direction) targets. Exactness: components quantize "
        "2^20-floor (x472's recipe), the per-vector norm is an "
        "EXACT integer sum of quantized squares so unit-scaling "
        "is one identical double op per component, re-quantized "
        "2^20-floor; all cross-vector sums are exact HUGEINT; "
        "the rogue argmax compares exact integers (min dim on "
        "ties). Scale: one embedding scan, a x64 position "
        "fan-out, 64-row algebra -- O(n*d), never O(n^2)",
)
def x565_embedding_anisotropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0)"
            " AS BIGINT))"
        ).alias("qv"),
    ).select(
        "vec_id",
        "qv",
        F.expr(
            "aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + x * x)"
        ).alias("nq"),
    )
    pos = nrm.select(
        "vec_id",
        F.posexplode("qv").alias("j0", "qvj"),
        "nq",
    ).select(
        (F.col("j0") + 1).alias("j"),
        F.floor(
            F.col("qvj").cast("double")
            * 1048576.0
            / F.sqrt(F.col("nq").cast("double"))
        ).cast("long").alias("qu"),
    )
    marg = pos.groupBy("j").agg(
        F.sum("qu").cast("decimal(38,0)").alias("sj"),
        F.sum(F.col("qu").cast("decimal(38,0)") * F.col("qu"))
        .cast("decimal(38,0)")
        .alias("ssj"),
    ).localCheckpoint(eager=False)
    tot = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    agg = marg.agg(
        F.sum(F.col("sj") * F.col("sj"))
        .cast("decimal(38,0)")
        .alias("sum_sj2"),
        F.sum("ssj").cast("decimal(38,0)").alias("ss"),
        F.max(F.abs(F.col("sj"))).cast("decimal(38,0)").alias(
            "max_abs_sj"
        ),
    )
    rogue = marg.crossJoin(
        F.broadcast(agg.select("max_abs_sj"))
    ).filter(F.abs(F.col("sj")) == F.col("max_abs_sj")).agg(
        F.min("j").alias("rogue_dim")
    )
    rshare = marg.join(
        F.broadcast(rogue),
        F.col("j") == F.col("rogue_dim"),
    ).crossJoin(F.broadcast(agg.select("sum_sj2"))).select(
        (
            F.col("sj").cast("double")
            * F.col("sj").cast("double")
            / F.col("sum_sj2").cast("double")
        ).alias("share")
    )
    nd = F.col("n").cast("double")
    two40 = F.lit(1099511627776.0)
    return (
        tot.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(rogue))
        .crossJoin(F.broadcast(rshare))
        .select(
            F.col("n").alias("n_vecs"),
            F.round(
                (
                    F.col("sum_sj2").cast("double")
                    - F.col("ss").cast("double")
                )
                / (nd * (F.col("n") - 1.0))
                / two40,
                6,
            ).alias("mean_pairwise_cos"),
            F.round(
                F.col("sum_sj2").cast("double") / (nd * F.col("n"))
                / two40,
                6,
            ).alias("mu_norm_sq"),
            "rogue_dim",
            F.round(F.col("share"), 6).alias("rogue_dim_share"),
        )
    )


_X569_ORACLE = """
WITH tok AS (
  SELECT d.doc_id, t.w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
        FROM documents) d,
  UNNEST(d.l) AS t(w)
  WHERE t.w <> ''
),
topw AS (
  SELECT w FROM tok GROUP BY w
  ORDER BY count(*) DESC, w ASC LIMIT 100
),
per_doc AS (
  SELECT tok.doc_id,
         CAST(count(*) AS BIGINT) AS toks,
         CAST(SUM(length(tok.w)) AS BIGINT) AS chars,
         CAST(SUM(CASE WHEN topw.w IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS rare
  FROM tok LEFT JOIN topw ON topw.w = tok.w
  GROUP BY 1
),
scored AS (
  SELECT doc_id, toks, rare,
         ROUND(CAST(rare AS DOUBLE) / toks, 8) AS rare_ratio,
         ROUND(CAST(chars AS DOUBLE) / toks, 8) AS mean_wlen
  FROM per_doc
),
rk AS (
  SELECT doc_id, toks, rare, rare_ratio, mean_wlen,
         row_number() OVER (ORDER BY rare_ratio, mean_wlen, doc_id)
           AS rn
  FROM scored
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(toks) AS HUGEINT) AS all_toks
  FROM scored
),
bucketed AS (
  SELECT r.*,
         CASE WHEN r.rn <= (1 * t.n + 3) // 4 THEN 1
              WHEN r.rn <= (2 * t.n + 3) // 4 THEN 2
              WHEN r.rn <= (3 * t.n + 3) // 4 THEN 3
              ELSE 4 END AS bucket,
         t.all_toks
  FROM rk r, tot t
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(SUM(CAST(rare_ratio AS DECIMAL(38,8))) / count(*), 6)
         AS avg_rare_ratio,
       ROUND(SUM(CAST(mean_wlen AS DECIMAL(38,8))) / count(*), 6)
         AS avg_word_len,
       ROUND(CAST(SUM(toks) AS DOUBLE) / CAST(MAX(all_toks) AS DOUBLE),
             6) AS token_share
FROM bucketed GROUP BY 1 ORDER BY 1
"""


@register(
    "x569_curriculum_buckets",
    _X569_ORACLE,
    doc="Curriculum-learning difficulty ordering of the corpus: every "
        "document scored by (rare-token ratio against the corpus "
        "top-100 vocabulary, then mean word length, then doc_id -- "
        "a TOTAL deterministic order), split at the exact quartile "
        "rank cutoffs into easy->hard buckets with per-bucket "
        "token shares -- the 'train on easy first' data-ordering "
        "pass (Bengio et al.) an LLM pipeline schedules batches "
        "by, built entirely from corpus statistics (no model in "
        "the loop); x33's token-budget sample and x42's shard "
        "shuffle consume exactly this kind of ordered manifest. "
        "Exactness: token/char/rare counts are exact integers "
        "from one tokenize-explode + one broadcast top-100 "
        "anti-lookup; ratios round 8 BEFORE ranking so both "
        "engines sort identical keys; per-bucket means accumulate "
        "the rounded ratios in DECIMAL(38,8). Scale: ranking is a "
        "distributed row_number over the rounded score key, "
        "bucket cutoffs are constant algebra",
)
def x569_curriculum_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...scale import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(_toks("text")).alias("w"),
    ).filter(F.col("w") != "").localCheckpoint(eager=False)
    topw = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
        .orderBy(F.col("cw").desc(), F.col("w").asc())
        .limit(100)
        .select("w", F.lit(1).alias("in_top"))
    )
    per_doc = tok.join(F.broadcast(topw), "w", "left").groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("toks"),
        F.sum(F.length("w")).cast("long").alias("chars"),
        F.sum(F.when(F.col("in_top").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("rare"),
    )
    scored = per_doc.select(
        "doc_id",
        "toks",
        F.round(F.col("rare").cast("double") / F.col("toks"), 8).alias(
            "rare_ratio"
        ),
        F.round(F.col("chars").cast("double") / F.col("toks"), 8).alias(
            "mean_wlen"
        ),
    )
    rk = global_row_number(
        scored, ["rare_ratio", "mean_wlen", "doc_id"], "rn"
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("toks").cast("decimal(38,0)").alias("all_toks"),
    )
    b = rk.crossJoin(F.broadcast(tot)).select(
        "toks",
        "rare_ratio",
        "mean_wlen",
        "all_toks",
        F.when(F.col("rn") <= F.expr("(1 * n + 3) div 4"), 1)
        .when(F.col("rn") <= F.expr("(2 * n + 3) div 4"), 2)
        .when(F.col("rn") <= F.expr("(3 * n + 3) div 4"), 3)
        .otherwise(4)
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.col("rare_ratio").cast("decimal(38,8)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_rare_ratio"),
        F.round(
            F.sum(F.col("mean_wlen").cast("decimal(38,8)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_word_len"),
        F.round(
            F.sum("toks").cast("double")
            / F.max("all_toks").cast("double"),
            6,
        ).alias("token_share"),
    ).orderBy("bucket")


_X570_ORACLE = """
WITH assigned AS (
  SELECT doc_id, source,
         CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS
              VARCHAR), ':shuffle')), 1, 8)) AS BIGINT) % 8
              AS INT) AS shard,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS toks
  FROM documents
),
cell AS (
  SELECT shard, source, CAST(count(*) AS BIGINT) AS o,
         CAST(SUM(toks) AS HUGEINT) AS tk
  FROM assigned GROUP BY 1, 2
),
marg_s AS (
  SELECT shard, CAST(SUM(o) AS HUGEINT) AS row_n,
         CAST(SUM(tk) AS HUGEINT) AS row_tk
  FROM cell GROUP BY 1
),
marg_c AS (
  SELECT source, CAST(SUM(o) AS HUGEINT) AS col_n FROM cell GROUP BY 1
),
tot AS (SELECT CAST(SUM(o) AS HUGEINT) AS n FROM cell),
grid AS (
  SELECT ms.shard, mc.source,
         COALESCE(c.o, 0) AS o,
         ROUND(CAST(ms.row_n AS DOUBLE) * CAST(mc.col_n AS DOUBLE)
               / CAST(t.n AS DOUBLE), 8) AS e
  FROM marg_s ms CROSS JOIN marg_c mc
  LEFT JOIN cell c ON c.shard = ms.shard AND c.source = mc.source,
  tot t
),
chi AS (
  SELECT SUM(CAST(round((o - e) * (o - e) / e, 6)
                  AS DECIMAL(38,6))) AS chi2,
         CAST(count(*) AS BIGINT) AS cells
  FROM grid
),
bal AS (
  SELECT CAST(MAX(row_tk) AS DOUBLE) / CAST(MIN(row_tk) AS DOUBLE)
           AS tok_imbalance
  FROM marg_s
)
SELECT CAST(8 AS BIGINT) AS n_shards,
       chi.cells,
       ROUND(CAST(chi.chi2 AS DOUBLE), 4) AS chi2_homogeneity,
       CAST(chi.cells - 8 - (chi.cells // 8) + 1 AS BIGINT) AS df,
       ROUND(bal.tok_imbalance, 6) AS token_imbalance_ratio
FROM chi, bal
"""


@register(
    "x570_shard_balance",
    _X570_ORACLE,
    doc="Shard-balance audit of x42's deterministic md5 sharding: a "
        "chi-square homogeneity test of the source mix across the "
        "8 training shards (is the hash statistically "
        "indistinguishable from a random split w.r.t. source "
        "composition?) plus the max/min shard token-count ratio "
        "(straggler risk: a 1.2x token imbalance is a 1.2x "
        "slowest-shard epoch) -- the SHUFFLE-QUALITY check a "
        "pre-training run wants BEFORE burning compute, which "
        "x42's manifest itself doesn't assert; df = (shards-1)"
        "(sources-1). Exactness: cell/margin counts are exact "
        "integers; expected counts round 8, per-cell chi2 terms "
        "round 6 into DECIMAL before the grid sum (order-proof); "
        "the shard function is the byte-identical md5-prefix "
        "expression on both engines (x42's). Scale: one corpus "
        "scan to the shard x source cell grid, margins broadcast",
)
def x570_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops import sampling

    docs = load_table(spark, sf_dir, "documents")
    assigned = sampling.shard_shuffle(
        docs, "doc_id", n_shards=8
    ).select(
        "shard",
        "source",
        F.size(_toks("text")).cast("long").alias("toks"),
    )
    cell = assigned.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o"),
        F.sum("toks").cast("decimal(38,0)").alias("tk"),
    ).localCheckpoint(eager=False)
    marg_s = cell.groupBy("shard").agg(
        F.sum("o").cast("decimal(38,0)").alias("row_n"),
        F.sum("tk").cast("decimal(38,0)").alias("row_tk"),
    )
    marg_c = cell.groupBy("source").agg(
        F.sum("o").cast("decimal(38,0)").alias("col_n")
    )
    tot = cell.agg(F.sum("o").cast("decimal(38,0)").alias("n"))
    grid = (
        marg_s.crossJoin(F.broadcast(marg_c))
        .join(cell, ["shard", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            F.round(
                F.col("row_n").cast("double")
                * F.col("col_n").cast("double")
                / F.col("n").cast("double"),
                8,
            ).alias("e"),
        )
    )
    chi = grid.agg(
        F.sum(
            F.round(
                (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
                / F.col("e"),
                6,
            ).cast("decimal(38,6)")
        ).alias("chi2"),
        F.count(F.lit(1)).cast("long").alias("cells"),
    )
    bal = marg_s.agg(
        (
            F.max("row_tk").cast("double")
            / F.min("row_tk").cast("double")
        ).alias("tok_imbalance")
    )
    return chi.crossJoin(F.broadcast(bal)).select(
        F.lit(8).cast("long").alias("n_shards"),
        "cells",
        F.round(F.col("chi2").cast("double"), 4).alias(
            "chi2_homogeneity"
        ),
        (
            # integer floor-div on BOTH engines (// in DuckDB, div
            # here): the /-then-cast pattern was value-safe only
            # because cells is a multiple of 8 (full margin cross
            # join), an invariant the expression shouldn't rely on
            F.col("cells") - 8 - F.expr("cells div 8") + 1
        ).cast("long").alias("df"),
        F.round("tok_imbalance", 6).alias("token_imbalance_ratio"),
    )


def _x575_half_cte(n: int) -> str:
    """One UNION branch of x575's oracle: distinct n-grams of size
    ``n`` per half (1 = early doc_ids, 2 = late)."""
    return f"""
  SELECT {n} AS n, h.half, t.sh
  FROM (
    SELECT CASE WHEN d.doc_id * 2 <= r.mn + r.mx THEN 1 ELSE 2 END
             AS half,
           string_split(lower(d.text), ' ') AS l
    FROM documents d, (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx
                       FROM documents) r
  ) h,
  UNNEST(list_transform(
    range(1, len(h.l) - {n} + 2),
    i -> array_to_string(h.l[i:i + {n} - 1], ' ')
  )) AS t(sh)
  WHERE len(h.l) >= {n}"""


_X575_ORACLE = (
    "WITH grams AS ("
    + "\n  UNION ALL".join(_x575_half_cte(n) for n in (1, 2, 3, 4, 5))
    + """
),
d1 AS (SELECT DISTINCT n, sh FROM grams WHERE half = 1),
d2 AS (SELECT DISTINCT n, sh FROM grams WHERE half = 2),
ov AS (
  SELECT d2.n,
         CAST(count(*) AS BIGINT) AS n_grams_late,
         CAST(SUM(CASE WHEN d1.sh IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_seen_early
  FROM d2 LEFT JOIN d1 ON d1.n = d2.n AND d1.sh = d2.sh
  GROUP BY 1
)
SELECT n AS ngram_size, n_grams_late, n_seen_early,
       ROUND(CAST(n_seen_early AS DOUBLE)
             / CAST(n_grams_late AS DOUBLE), 6) AS containment
FROM ov ORDER BY n
"""
)


@register(
    "x575_ngram_overlap_curve",
    _X575_ORACLE,
    doc="n-gram containment curve between corpus halves (early vs "
        "late doc_ids, the arrival split): for n = 1..5, the "
        "fraction of the late half's DISTINCT n-grams already "
        "present in the early half -- the curve's decay rate is "
        "the standard redundancy fingerprint (unigrams always "
        "overlap; if 5-grams still do, the late crawl is "
        "near-duplicate of the early one and dedup (x03/x44) "
        "will pay for itself), extending x173's single-n arrival "
        "deciles to the n-DIMENSION and x34's fixed-n "
        "contamination check to a spectrum. Exactness: exact "
        "distinct-set counts per (n, half); containment is one "
        "rounded division; the split threshold doc_id*2 <= "
        "min+max is exact integer arithmetic. Scale: one "
        "tokenize pass fanned to 5 shingle sizes, hash "
        "groupBys/semi-joins on shingle keys -- x03's proven "
        "shape, no pairwise anything",
)
def x575_ngram_overlap_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rng = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    base = docs.crossJoin(F.broadcast(rng)).select(
        F.when(
            F.col("doc_id") * 2 <= F.col("mn") + F.col("mx"), 1
        ).otherwise(2).alias("half"),
        _toks("text").alias("l"),
    ).localCheckpoint(eager=False)
    parts = []
    for n in (1, 2, 3, 4, 5):
        parts.append(
            base.filter(F.size("l") >= n).select(
                F.lit(n).alias("n"),
                "half",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(l) - {n} + 1),"
                        f" i -> array_join(slice(l, i, {n}), ' '))"
                    )
                ).alias("sh"),
            )
        )
    grams = parts[0]
    for p in parts[1:]:
        grams = grams.unionAll(p)
    d1 = grams.filter(F.col("half") == 1).select("n", "sh").distinct()
    d2 = grams.filter(F.col("half") == 2).select("n", "sh").distinct()
    ov = d2.join(
        d1.select(
            F.col("n").alias("n1"), F.col("sh").alias("sh1"),
            F.lit(1).alias("seen"),
        ),
        (F.col("n") == F.col("n1")) & (F.col("sh") == F.col("sh1")),
        "left",
    ).groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams_late"),
        F.sum(F.when(F.col("seen").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_seen_early"),
    )
    return ov.select(
        F.col("n").alias("ngram_size"),
        "n_grams_late",
        "n_seen_early",
        F.round(
            F.col("n_seen_early").cast("double")
            / F.col("n_grams_late").cast("double"),
            6,
        ).alias("containment"),
    ).orderBy("ngram_size")


_X577_ORACLE = """
WITH per_doc AS (
  SELECT doc_id,
         CAST(len(l) AS BIGINT) AS toks,
         ROUND(CASE WHEN len(l) < 3 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(list_transform(
                      range(1, len(l) - 1),
                      i -> array_to_string(l[i:i + 2], ' ')
                    ))) AS DOUBLE) / (len(l) - 2) END, 8) AS rep
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS l
        FROM documents)
),
rk AS (
  SELECT doc_id, toks, rep,
         row_number() OVER (ORDER BY toks, doc_id) AS rn
  FROM per_doc
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(toks) AS HUGEINT) AS st,
         CAST(SUM(CAST(toks AS HUGEINT) * toks) AS HUGEINT) AS stt,
         CAST(SUM(CAST(rep AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS sr,
         CAST(SUM(CAST(round(rep * rep, 16) AS DECIMAL(38,16)))
              AS DECIMAL(38,16)) AS srr,
         CAST(SUM(CAST(round(toks * rep, 8) AS DECIMAL(38,8)))
              AS DECIMAL(38,8)) AS str
  FROM per_doc
),
corr AS (
  SELECT ROUND(
    (CAST(t.n AS DOUBLE) * CAST(t.str AS DOUBLE)
     - CAST(t.st AS DOUBLE) * CAST(t.sr AS DOUBLE))
    / sqrt((CAST(t.n AS DOUBLE) * CAST(t.stt AS DOUBLE)
            - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE))
           * (CAST(t.n AS DOUBLE) * CAST(t.srr AS DOUBLE)
              - CAST(t.sr AS DOUBLE) * CAST(t.sr AS DOUBLE))), 6)
    AS corr_len_rep
  FROM tot t
),
bucketed AS (
  SELECT r.toks, r.rep,
         CAST(((r.rn - 1) * 10) // t.n + 1 AS BIGINT) AS decile
  FROM rk r, tot t
)
SELECT b.decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(b.toks AS HUGEINT)) AS DOUBLE)
             / count(*), 4) AS avg_toks,
       ROUND(CAST(SUM(CAST(b.rep AS DECIMAL(38,8)))
                  AS DOUBLE) / count(*), 6) AS avg_repetition,
       MAX(c.corr_len_rep) AS corr_len_rep
FROM bucketed b, corr c
GROUP BY 1 ORDER BY 1
"""


@register(
    "x577_length_bias_audit",
    _X577_ORACLE,
    doc="Length-bias audit of the repetition quality signal: per "
        "length-decile (exact rank bucketing over (tokens, doc_id) "
        "-- a total order) the mean within-doc trigram repetition "
        "ratio, plus the corpus Pearson correlation between length "
        "and repetition -- the FAIRNESS check on a filter: if "
        "x127-style repetition rises mechanically with length, a "
        "fixed repetition cutoff silently becomes a length cutoff "
        "and the curated corpus (x23/x119) loses its long "
        "documents; this measures that confound before a "
        "threshold is chosen. Exactness: repetition = 1 - "
        "distinct/total positional trigrams, in-row HOFs (x127's "
        "shape), round 8 BEFORE any cross-row use; decile "
        "bucketing is exact integer arithmetic on the global row "
        "number; correlation moments accumulate rounded values in "
        "DECIMAL(38,8)/(38,16). Scale: one tokenize pass, a "
        "distributed row_number, one grouped rollup",
)
def x577_length_bias_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...scale import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        _toks("text").alias("l"),
    ).select(
        "doc_id",
        F.size("l").cast("long").alias("toks"),
        F.round(
            F.when(F.size("l") < 3, F.lit(0.0)).otherwise(
                1.0
                - F.expr(
                    "CAST(size(array_distinct(transform("
                    "sequence(1, size(l) - 2),"
                    " i -> array_join(slice(l, i, 3), ' ')))) AS DOUBLE)"
                )
                / (F.size("l") - 2)
            ),
            8,
        ).alias("rep"),
    ).localCheckpoint(eager=False)
    rk = global_row_number(per_doc, ["toks", "doc_id"], "rn")
    dec8 = lambda c: c.cast("decimal(38,8)")  # noqa: E731
    tot = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("toks").cast("decimal(38,0)").alias("st"),
        F.sum(F.col("toks").cast("decimal(38,0)") * F.col("toks"))
        .cast("decimal(38,0)")
        .alias("stt"),
        F.sum(dec8(F.col("rep"))).cast("decimal(38,8)").alias("sr"),
        F.sum(
            F.round(F.col("rep") * F.col("rep"), 16).cast(
                "decimal(38,16)"
            )
        ).cast("decimal(38,16)").alias("srr"),
        F.sum(
            F.round(F.col("toks") * F.col("rep"), 8).cast(
                "decimal(38,8)"
            )
        ).cast("decimal(38,8)").alias("str"),
    )
    nd = F.col("n").cast("double")
    corr = tot.select(
        "n",
        F.round(
            (
                nd * F.col("str").cast("double")
                - F.col("st").cast("double") * F.col("sr").cast("double")
            )
            / F.sqrt(
                (
                    nd * F.col("stt").cast("double")
                    - F.col("st").cast("double")
                    * F.col("st").cast("double")
                )
                * (
                    nd * F.col("srr").cast("double")
                    - F.col("sr").cast("double")
                    * F.col("sr").cast("double")
                )
            ),
            6,
        ).alias("corr_len_rep"),
    )
    b = rk.crossJoin(F.broadcast(corr)).select(
        "toks",
        "rep",
        "corr_len_rep",
        F.expr("((rn - 1) * 10) div n").cast("long").alias(
            "decile0"
        ),
    ).select(
        "toks",
        "rep",
        "corr_len_rep",
        (F.col("decile0") + 1).alias("decile"),
    )
    return b.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.col("toks").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_toks"),
        F.round(
            F.sum(dec8(F.col("rep"))).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_repetition"),
        F.max("corr_len_rep").alias("corr_len_rep"),
    ).orderBy("decile")
