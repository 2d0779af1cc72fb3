"""Extension entries x472+: the round-7 continuation wave --
corpus-measurement diagnostics that close remaining blind spots of
the x430-x471 inference wave: linear intrinsic dimensionality (the
spectral complement to x439's fractal two-NN estimator), annotation
reliability under MISSING ratings (where x298/x391 require complete
panels), and frequency-weighted similarity grains the set-based dedup
tiers (x03/x40/x376) cannot see.

Engine-exactness recipes follow the proven registry contracts
(SURVEY.md section 5.3): power-of-two quantization (IEEE-exact
multiply then floor) turns float payloads into integers before any
cross-row sum; sums accumulate in DECIMAL(38,0); divisions happen in
DOUBLE with fixed operand order; ROUND guards every emitted float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...scale import pairs_within, rebalanced
from ...ops.text import _toks
from .. import register


def _daily_revenue(orders: DataFrame) -> DataFrame:
    """(day, y): revenue per order date in exact integer cents -- each
    price floored to cents before the sum, so the cross-row sum is an
    exact BIGINT on both engines (the oracles' ``daily`` CTE)."""
    return orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y")
    )


_X472_ORACLE = """
WITH q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)
         ) AS qv
  FROM embeddings
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
pos AS (
  SELECT vec_id, t.j, qv[t.j] AS x
  FROM q, UNNEST(range(1, 65)) AS t(j)
),
marg AS (
  SELECT j, CAST(SUM(x) AS HUGEINT) AS s FROM pos GROUP BY 1
),
pairs AS (
  SELECT a.j AS j, b.j AS k,
         CAST(SUM(a.x * b.x) AS HUGEINT) AS p
  FROM pos a
  JOIN pos b ON a.vec_id = b.vec_id AND a.j <= b.j
  GROUP BY 1, 2
),
cov AS (
  SELECT p.j, p.k,
         CAST(floor(
           CAST(CAST(t.n AS HUGEINT) * p.p
                - mj.s * mk.s AS DOUBLE)
           / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))
           / 1099511627776.0
           * 1000000000.0
         ) AS BIGINT) AS c
  FROM pairs p
  JOIN marg mj ON mj.j = p.j
  JOIN marg mk ON mk.j = p.k
  CROSS JOIN tot t
),
moments AS (
  SELECT
    CAST(SUM(CASE WHEN j = k THEN c ELSE 0 END)
         AS HUGEINT) AS tr_q,
    CAST(SUM(c * c * (CASE WHEN j = k THEN 1 ELSE 2 END))
         AS HUGEINT) AS fb_q
  FROM cov
)
SELECT
  CAST(64 AS BIGINT) AS dim,
  ROUND(CAST(tr_q AS DOUBLE) / 1000000000.0, 6) AS trace_cov,
  ROUND(CAST(fb_q AS DOUBLE) / 1e18, 9) AS frob2_cov,
  ROUND((CAST(tr_q AS DOUBLE) / 1000000000.0)
        * (CAST(tr_q AS DOUBLE) / 1000000000.0)
        / (CAST(fb_q AS DOUBLE) / 1e18), 4) AS participation_ratio,
  ROUND((CAST(tr_q AS DOUBLE) / 1000000000.0)
        * (CAST(tr_q AS DOUBLE) / 1000000000.0)
        / (CAST(fb_q AS DOUBLE) / 1e18) / 64.0, 6) AS pr_over_d
FROM moments
"""


@register(
    "x472_participation_ratio",
    _X472_ORACLE,
    doc="linear intrinsic dimensionality of the embedding cloud via "
        "the participation ratio PR = tr(C)^2 / ||C||_F^2 of the "
        "covariance matrix -- the eigenvalue-spread summary "
        "((sum lambda)^2 / sum lambda^2) that needs NO "
        "eigendecomposition because tr(C) and ||C||_F^2 are plain "
        "moment sums: the spectral complement to x439's two-NN "
        "fractal dimension (x439 measures the manifold the points "
        "LIE on, PR measures how many principal axes carry variance "
        "-- a PCA-truncation (x364) and JL-target (x229) sizing "
        "input). Exactness: coordinates quantize by IEEE-exact "
        "2^20 multiply-then-floor (x228's recipe), so S_j and "
        "S_jk are exact DECIMAL integer sums; each covariance cell "
        "is one fixed-order DOUBLE division re-quantized to 1e-9 "
        "before squaring, so the d^2 moment sums are again exact "
        "integers. Scale: per-row local pair expansion (d(d+1)/2 "
        "structs) feeds ONE hash aggregate with d^2-bounded state "
        "-- map-side combine shrinks the shuffle to 2080 keys per "
        "partition regardless of corpus size; everything after is "
        "a 64-row broadcast join",
)
def x472_participation_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            "embedding",
            lambda v: F.floor(
                v.cast("double") * F.lit(1048576.0)
            ).cast("long"),
        ).alias("qv")
    )
    tot = q.agg(F.count(F.lit(1)).cast("long").alias("n"))
    marg = (
        q.select(F.posexplode("qv").alias("j", "x"))
        .groupBy("j")
        .agg(F.sum(F.col("x").cast("decimal(38,0)")).alias("s"))
    )
    pairs = (
        q.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, 63), j -> "
                    "transform(sequence(j, 63), k -> "
                    "struct(j as j, k as k, qv[j] * qv[k] as xp))))"
                )
            ).alias("e")
        )
        .select("e.j", "e.k", "e.xp")
        .groupBy("j", "k")
        .agg(F.sum(F.col("xp").cast("decimal(38,0)")).alias("p"))
    )
    mj = marg.select(F.col("j").alias("jj"), F.col("s").alias("sj"))
    mk = marg.select(F.col("j").alias("kk"), F.col("s").alias("sk"))
    cov = (
        pairs.join(F.broadcast(mj), F.col("j") == F.col("jj"))
        .join(F.broadcast(mk), F.col("k") == F.col("kk"))
        .crossJoin(F.broadcast(tot))
        .select(
            "j",
            "k",
            F.floor(
                (
                    F.col("n").cast("decimal(38,0)") * F.col("p")
                    - F.col("sj") * F.col("sk")
                ).cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double"))
                / F.lit(1099511627776.0)
                * F.lit(1000000000.0)
            )
            .cast("long")
            .alias("c"),
        )
    )
    mom = cov.agg(
        F.sum(
            F.when(F.col("j") == F.col("k"), F.col("c")).otherwise(
                F.lit(0)
            )
        )
        .cast("decimal(38,0)")
        .alias("tr_q"),
        F.sum(
            F.col("c")
            * F.col("c")
            * F.when(F.col("j") == F.col("k"), F.lit(1)).otherwise(
                F.lit(2)
            )
        )
        .cast("decimal(38,0)")
        .alias("fb_q"),
    )
    tr = F.col("tr_q").cast("double") / F.lit(1000000000.0)
    fb = F.col("fb_q").cast("double") / F.lit(1e18)
    return mom.select(
        F.lit(64).cast("long").alias("dim"),
        F.round(tr, 6).alias("trace_cov"),
        F.round(fb, 9).alias("frob2_cov"),
        F.round(tr * tr / fb, 4).alias("participation_ratio"),
        F.round(tr * tr / fb / F.lit(64.0), 6).alias("pr_over_d"),
    )


_X473_ORACLE = """
WITH r AS (
  SELECT
    doc_id,
    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS r1,
    CASE WHEN len(string_split(text, ' ')) < 5 THEN NULL
         WHEN text LIKE '% the %' THEN 1 ELSE 0 END AS r2,
    CASE WHEN length(text) < 30 THEN NULL
         WHEN length(regexp_replace(text, '[^0-9]', '', 'g')) * 20
              <= length(text) THEN 1 ELSE 0 END AS r3
  FROM documents
),
long_r AS (
  SELECT doc_id, 1 AS rater, r1 AS val FROM r WHERE r1 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2 AS rater, r2 AS val FROM r WHERE r2 IS NOT NULL
  UNION ALL
  SELECT doc_id, 3 AS rater, r3 AS val FROM r WHERE r3 IS NOT NULL
),
units AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS m
  FROM long_r GROUP BY 1 HAVING count(*) >= 2
),
coinc AS (
  SELECT a.val AS c, b.val AS k,
         CAST(SUM(2 // (u.m - 1)) AS HUGEINT) AS o2
  FROM long_r a
  JOIN long_r b ON a.doc_id = b.doc_id AND a.rater <> b.rater
  JOIN units u ON u.doc_id = a.doc_id
  GROUP BY 1, 2
),
margin AS (
  SELECT c, CAST(SUM(o2) AS HUGEINT) AS n2 FROM coinc GROUP BY 1
),
sums AS (
  SELECT
    (SELECT CAST(SUM(o2) AS HUGEINT) FROM coinc
     WHERE c <> k) AS do2,
    (SELECT CAST(SUM(a.n2 * b.n2) AS HUGEINT)
     FROM margin a, margin b WHERE a.c <> b.c) AS de2,
    (SELECT CAST(SUM(n2) AS HUGEINT) FROM margin) AS ntot2,
    (SELECT CAST(count(*) AS BIGINT) FROM units) AS n_units,
    (SELECT CAST(SUM(m) AS BIGINT) FROM units) AS n_ratings
)
SELECT
  n_units, n_ratings,
  ROUND(CAST(do2 AS DOUBLE) / CAST(ntot2 AS DOUBLE), 6)
    AS observed_disagreement,
  ROUND(CAST(de2 AS DOUBLE)
        / (CAST(ntot2 AS DOUBLE) * (CAST(ntot2 AS DOUBLE) - 2.0)), 6)
    AS expected_disagreement,
  ROUND(1.0 - CAST(do2 AS DOUBLE)
              * (CAST(ntot2 AS DOUBLE) - 2.0)
              / CAST(de2 AS DOUBLE), 6) AS krippendorff_alpha
FROM sums
"""


@register(
    "x473_krippendorff_alpha",
    _X473_ORACLE,
    doc="Krippendorff's alpha (nominal) over three deterministic "
        "quality raters of which two ABSTAIN on short texts -- the "
        "reliability coefficient for ragged annotation panels that "
        "x298 (Cohen, exactly 2 raters) and x391 (Fleiss, complete "
        "panels only) cannot produce, and the one a crowd-labeling "
        "pipeline with per-item rater dropout actually needs. "
        "Exactness: with unit sizes m in {2,3}, every coincidence "
        "cell scaled by 2 is an exact integer (2/(m-1) in {1,2}), "
        "so Do, De, and the marginals are DECIMAL integer sums and "
        "alpha = 1 - Do2*(N2-2)/De2 is ONE double division. "
        "Raters: length gate, '% the %' stopword gate (abstains "
        "under 5 tokens), digit-ratio gate via the integer cross "
        "product digits*20 <= chars (abstains under 30 chars). "
        "Scale: ratings are per-row local expressions; the pair "
        "expansion is in-row over a <=3-element array (no join); "
        "one 2x2-keyed hash aggregate ends the plan",
)
def x473_krippendorff_alpha(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    r1 = F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0))
    r2 = F.when(
        F.size(F.split(F.col("text"), " ")) < 5, F.lit(None)
    ).otherwise(
        F.when(F.col("text").like("% the %"), F.lit(1)).otherwise(
            F.lit(0)
        )
    )
    r3 = F.when(
        F.length("text") < 30, F.lit(None)
    ).otherwise(
        F.when(
            F.length(F.regexp_replace("text", "[^0-9]", "")) * 20
            <= F.length("text"),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    vals = docs.select(
        F.filter(
            F.array(
                r1.cast("int"), r2.cast("int"), r3.cast("int")
            ),
            lambda x: x.isNotNull(),
        ).alias("vals")
    ).filter(F.size("vals") >= 2)
    # In-row ordered-pair expansion: every (i, j) index pair with
    # i != j contributes 2/(m-1) (an exact integer for m in {2,3})
    # to coincidence cell (vals[i], vals[j]).
    coinc = (
        vals.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform("
                    "sequence(0, size(vals) - 1), i -> "
                    "transform(sequence(0, size(vals) - 1), j -> "
                    "if(i != j, struct(vals[i] as c, vals[j] as k, "
                    "2 div (size(vals) - 1) as w), null)))), "
                    "x -> x is not null)"
                )
            ).alias("e")
        )
        .select("e.c", "e.k", "e.w")
        .groupBy("c", "k")
        .agg(F.sum(F.col("w").cast("decimal(38,0)")).alias("o2"))
    )
    margin = coinc.groupBy("c").agg(
        F.sum("o2").cast("decimal(38,0)").alias("n2")
    )
    do2 = coinc.filter(F.col("c") != F.col("k")).agg(
        F.sum("o2").cast("decimal(38,0)").alias("do2")
    )
    de2 = (
        margin.alias("a")
        .crossJoin(F.broadcast(margin.alias("b")))
        .filter(F.col("a.c") != F.col("b.c"))
        .agg(
            F.sum(F.col("a.n2") * F.col("b.n2"))
            .cast("decimal(38,0)")
            .alias("de2")
        )
    )
    ntot = margin.agg(
        F.sum("n2").cast("decimal(38,0)").alias("ntot2")
    )
    counts = vals.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum(F.size("vals")).cast("long").alias("n_ratings"),
    )
    ntot_d = F.col("ntot2").cast("double")
    return (
        counts.crossJoin(F.broadcast(do2))
        .crossJoin(F.broadcast(de2))
        .crossJoin(F.broadcast(ntot))
        .select(
            "n_units",
            "n_ratings",
            F.round(
                F.col("do2").cast("double") / ntot_d, 6
            ).alias("observed_disagreement"),
            F.round(
                F.col("de2").cast("double")
                / (ntot_d * (ntot_d - F.lit(2.0))),
                6,
            ).alias("expected_disagreement"),
            F.round(
                F.lit(1.0)
                - F.col("do2").cast("double")
                * (ntot_d - F.lit(2.0))
                / F.col("de2").cast("double"),
                6,
            ).alias("krippendorff_alpha"),
        )
    )


_X474_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 3
),
tri AS (
  SELECT doc_id, CAST(len(toks) - 2 AS BIGINT) AS tt,
         unnest(list_transform(
           range(1, len(toks) - 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS tri
  FROM t
),
f AS (
  SELECT doc_id, tt, tri, CAST(count(*) AS BIGINT) AS f
  FROM tri GROUP BY 1, 2, 3
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.tt AS t_a, b.tt AS t_b,
         CAST(SUM(LEAST(a.f, b.f)) AS BIGINT) AS inter_min
  FROM f a
  JOIN f b ON a.tri = b.tri AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, t_a, t_b, inter_min,
       ROUND(CAST(inter_min AS DOUBLE)
             / (t_a + t_b - inter_min), 6) AS wjaccard
FROM p
WHERE ROUND(CAST(inter_min AS DOUBLE)
            / (t_a + t_b - inter_min), 6) >= 0.3
ORDER BY doc_a, doc_b
"""


@register(
    "x474_weighted_jaccard",
    _X474_ORACLE,
    doc="frequency-WEIGHTED Jaccard near-dup pairs over trigram "
        "MULTISETS: J_w = sum min(f_a, f_b) / sum max(f_a, f_b) on "
        "per-document trigram frequencies -- the repetition-aware "
        "grain x03's distinct-set Jaccard collapses (a page that "
        "repeats one boilerplate block 50 times and a page with one "
        "copy have identical shingle SETS but very different "
        "multisets), catching template-stamped near-dups the set "
        "tier under-scores. Exactness: frequencies and sum-min are "
        "exact integers; sum-max never materializes -- the identity "
        "sum max = T_a + T_b - sum min reduces it to per-doc trigram "
        "totals; one rounded division. Scale: the x03/x376 postings "
        "shape -- trigram-keyed equi-join of (doc, trigram, freq) "
        "postings, never per-pair array intersection; the hot-"
        "shingle postings cap in ops.dedup.ngram_jaccard_pairs is "
        "the documented 100 TB containment for degenerate shingles",
)
def x474_weighted_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Token array bound in its own projection, trigram ARRAY bound in
    # the next, explode_outer last (the ops.dedup.shingles recipe):
    # an inlined split() re-tokenizes the document once per trigram
    # position (measured 8.9 s -> 0.6 s at sf0.1 for 260k trigrams).
    t = rebalanced(docs).select(
        F.col("doc_id").alias("doc"),
        _toks("text").alias("toks"),
    ).filter(F.size("toks") >= 3)
    toks = F.col("toks")
    tri_arr = t.select(
        "doc",
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ).alias("tris"),
    )
    tri = tri_arr.select(
        "doc",
        F.size("tris").cast("long").alias("tt"),
        F.explode_outer("tris").alias("tri"),
    )
    f = tri.groupBy("doc", "tt", "tri").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    # One wide shuffle (the ops.dedup.shingle_pair_counts shape): the
    # trigram's postings collect into a bucket, pairs expand in-bucket
    # with HOFs -- a postings self-equi-join would shuffle the posting
    # list twice (measured 18 s -> in-bucket ~5 s at sf0.1).
    buckets = (
        f.groupBy("tri")
        .agg(F.collect_list(F.struct("doc", "tt", "f")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    ds = F.array_sort(F.col("ds"))  # first struct field = doc id
    pair = lambda x, y: F.struct(  # noqa: E731
        x["doc"].alias("doc_a"),
        x["tt"].alias("t_a"),
        y["doc"].alias("doc_b"),
        y["tt"].alias("t_b"),
        F.least(x["f"], y["f"]).alias("m"),
    )
    p = (
        buckets.select(
            F.explode(pairs_within(ds, pair)).alias("p")
        )
        .select("p.*")
        .groupBy("doc_a", "doc_b", "t_a", "t_b")
        .agg(F.sum("m").cast("long").alias("inter_min"))
    )
    wj = F.round(
        F.col("inter_min").cast("double")
        / (F.col("t_a") + F.col("t_b") - F.col("inter_min")),
        6,
    )
    return (
        p.select(
            "doc_a", "doc_b", "t_a", "t_b", "inter_min",
            wj.alias("wjaccard"),
        )
        .filter(F.col("wjaccard") >= 0.3)
        .orderBy("doc_a", "doc_b")
    )


_X475_ORACLE = """
WITH s AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS k,
         max(value) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prior_max
  FROM events
),
rec AS (
  SELECT k,
         CASE WHEN prior_max IS NULL OR value > prior_max
              THEN 1 ELSE 0 END AS is_rec
  FROM s
),
nu AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
mk AS (
  SELECT t.k, CAST(count(*) AS BIGINT) AS m
  FROM nu, UNNEST(range(1, n + 1)) AS t(k)
  GROUP BY 1
),
ok AS (SELECT k, CAST(SUM(is_rec) AS BIGINT) AS obs FROM rec GROUP BY 1),
g AS (
  SELECT mk.k,
         CASE WHEN mk.k = 1 THEN 1
              WHEN mk.k <= 3 THEN 2
              WHEN mk.k <= 7 THEN 3
              WHEN mk.k <= 15 THEN 4
              ELSE 5 END AS bucket,
         COALESCE(ok.obs, 0) AS obs,
         (mk.m * 1000000000) // mk.k AS eq
  FROM mk LEFT JOIN ok ON ok.k = mk.k
)
SELECT bucket,
       CASE bucket WHEN 1 THEN 'k=1' WHEN 2 THEN 'k=2-3'
            WHEN 3 THEN 'k=4-7' WHEN 4 THEN 'k=8-15'
            ELSE 'k>=16' END AS k_range,
       CAST(SUM(obs) AS BIGINT) AS observed_records,
       ROUND(CAST(SUM(eq) AS DOUBLE) / 1000000000.0, 4)
         AS expected_records,
       ROUND(CAST(SUM(obs) AS DOUBLE)
             / (CAST(SUM(eq) AS DOUBLE) / 1000000000.0), 4)
         AS obs_over_exp
FROM g GROUP BY 1, 2 ORDER BY bucket
"""


@register(
    "x475_record_statistics",
    _X475_ORACLE,
    doc="record-statistics exchangeability audit: an event value is "
        "a RECORD if it strictly exceeds every earlier value of the "
        "same user (ts, event_id order); under exchangeability the "
        "k-th observation is a record with probability exactly 1/k "
        "regardless of the value distribution -- a distribution-FREE "
        "stationarity test (observed/expected per position bucket "
        "far from 1 means trending or regime-shifted streams) "
        "complementing x291's runs test (signs of deltas) and "
        "x384's Mann-Kendall (pairwise concordance, O(n^2) per "
        "series) at O(n) per series. Exactness: records are integer "
        "counts from one bounded user-key window; the expected count "
        "sum_k m_k/k quantizes per-k by INTEGER floor-division "
        "(m_k*1e9 div k) so the bucket sums are exact DECIMAL "
        "integers -- no float accumulation across the k domain; two "
        "final rounded divisions. Scale: one user-key shuffle "
        "reused by both windows, k-domain bounded by max per-user "
        "history; the m_k grid is a per-user bounded explode",
)
def x475_record_statistics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = events.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("k"),
        F.max("value")
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prior_max"),
    )
    rec = s.select(
        "k",
        F.when(
            F.col("prior_max").isNull()
            | (F.col("value") > F.col("prior_max")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_rec"),
    )
    nu = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    mk = (
        nu.select(
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    ok = rec.groupBy("k").agg(
        F.sum("is_rec").cast("long").alias("obs")
    )
    g = mk.join(ok, "k", "left").select(
        F.when(F.col("k") == 1, F.lit(1))
        .when(F.col("k") <= 3, F.lit(2))
        .when(F.col("k") <= 7, F.lit(3))
        .when(F.col("k") <= 15, F.lit(4))
        .otherwise(F.lit(5))
        .alias("bucket"),
        F.coalesce(F.col("obs"), F.lit(0)).alias("obs"),
        F.expr("(m * 1000000000) div k").alias("eq"),
    )
    label = (
        F.when(F.col("bucket") == 1, "k=1")
        .when(F.col("bucket") == 2, "k=2-3")
        .when(F.col("bucket") == 3, "k=4-7")
        .when(F.col("bucket") == 4, "k=8-15")
        .otherwise("k>=16")
    )
    exp_d = F.sum("eq").cast("double") / F.lit(1000000000.0)
    return (
        g.groupBy("bucket")
        .agg(
            F.sum("obs").cast("long").alias("observed_records"),
            F.round(exp_d, 4).alias("expected_records"),
            F.round(
                F.sum("obs").cast("double") / exp_d, 4
            ).alias("obs_over_exp"),
        )
        .select(
            "bucket",
            label.alias("k_range"),
            "observed_records",
            "expected_records",
            "obs_over_exp",
        )
        .orderBy("bucket")
    )


_X476_ORACLE = """
WITH uq AS (
  SELECT user_id, event_type,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT))
              AS HUGEINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
       FROM events),
full_u AS (
  SELECT user_id FROM uq GROUP BY 1
  HAVING count(*) = (SELECT k FROM kk)
),
m AS (
  SELECT uq.user_id, uq.event_type, CAST(uq.s AS DOUBLE) / uq.n AS mv
  FROM uq JOIN full_u USING (user_id)
),
r AS (
  SELECT user_id, event_type,
         CAST(2 * rank() OVER (PARTITION BY user_id ORDER BY mv)
              + count(*) OVER (PARTITION BY user_id, mv) - 1
              AS BIGINT) AS r2
  FROM m
),
gstats AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n,
         CAST(SUM(r2 * r2) AS HUGEINT) AS a2
  FROM r
),
tj AS (
  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2j FROM r GROUP BY 1
),
num AS (
  SELECT CAST(SUM((r2j - g.n * (k.k + 1)) * (r2j - g.n * (k.k + 1)))
              AS HUGEINT) AS sq
  FROM tj, gstats g, kk k
)
SELECT g.n AS n_blocks, k.k AS k_treatments,
       ROUND((k.k - 1) * CAST(num.sq AS DOUBLE)
             / CAST(g.a2 - g.n * k.k * (k.k + 1) * (k.k + 1)
                    AS DOUBLE), 6) AS friedman_q,
       ROUND((k.k - 1) * CAST(num.sq AS DOUBLE)
             / CAST(g.a2 - g.n * k.k * (k.k + 1) * (k.k + 1)
                    AS DOUBLE)
             / (g.n * (k.k - 1)), 6) AS kendalls_w
FROM gstats g, kk k, num
"""


@register(
    "x476_friedman_test",
    _X476_ORACLE,
    doc="Friedman rank test (tie-corrected) with Kendall's W across "
        "event types as TREATMENTS and users as BLOCKS (per-cell "
        "observation = the user's mean event value for that type; "
        "blocks missing a treatment are dropped) -- the within-block "
        "k-treatment nonparametric test x363's Kruskal-Wallis (no "
        "blocking) and x442's paired t (2 treatments, parametric) "
        "cannot provide, plus W = Q/(n(k-1)) as the [0,1] "
        "concordance effect size. Exactness: cell means come from "
        "1e-6-floored integer value sums (ratio compare via IEEE-"
        "identical doubles); DOUBLED mid-ranks 2r+cnt-1 make every "
        "tie-averaged rank an exact integer, so R2_j, A2 = 4A and "
        "C2 = 4C are exact and Q = (k-1)*Sum(R2_j - n(k+1))^2 / "
        "(A2 - C2) is ONE double division. Scale: one (user, type) "
        "hash aggregate, ranks on a user-key window (k-bounded "
        "partitions), k-row treatment table ends the plan",
)
def x476_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * F.lit(1000000.0)).cast("long")
    uq = ev.groupBy("user_id", "event_type").agg(
        F.sum(vq).cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    kk = ev.agg(F.countDistinct("event_type").cast("long").alias("k"))
    full_u = (
        uq.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .crossJoin(F.broadcast(kk))
        .filter(F.col("c") == F.col("k"))
        .select("user_id")
    )
    m = uq.join(full_u, "user_id").select(
        "user_id",
        "event_type",
        (F.col("s").cast("double") / F.col("n")).alias("mv"),
    )
    r = m.select(
        "user_id",
        "event_type",
        (
            F.lit(2)
            * F.rank().over(
                Window.partitionBy("user_id").orderBy("mv")
            )
            + F.count(F.lit(1)).over(
                Window.partitionBy("user_id", "mv")
            )
            - F.lit(1)
        )
        .cast("long")
        .alias("r2"),
    )
    glob = r.agg(
        F.countDistinct("user_id").cast("long").alias("n"),
        F.sum(F.col("r2") * F.col("r2"))
        .cast("decimal(38,0)")
        .alias("a2"),
    )
    tj = r.groupBy("event_type").agg(
        F.sum("r2").cast("long").alias("r2j")
    )
    dev = F.col("r2j") - F.col("n") * (F.col("k") + 1)
    num = (
        tj.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(kk))
        .agg(F.sum(dev * dev).cast("decimal(38,0)").alias("sq"))
    )
    den = (
        F.col("a2")
        - F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
    ).cast("double")
    q_stat = (F.col("k") - 1) * F.col("sq").cast("double") / den
    return (
        glob.crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(num))
        .select(
            F.col("n").alias("n_blocks"),
            F.col("k").alias("k_treatments"),
            F.round(q_stat, 6).alias("friedman_q"),
            F.round(
                q_stat / (F.col("n") * (F.col("k") - 1)), 6
            ).alias("kendalls_w"),
        )
    )


_X477_ORACLE = """
WITH u AS (
  SELECT user_id, user_id % 2 AS grp,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) >= 14
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
         END AS conv
  FROM events GROUP BY 1
),
c AS (
  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(SUM(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(SUM(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM u
),
p AS (
  SELECT n_a, n_b, conv_a, conv_b,
         1 + conv_a AS aa, 1 + n_a - conv_a AS ba,
         1 + conv_b AS ab2, 1 + n_b - conv_b AS bb
  FROM c
),
c0 AS (
  SELECT CAST(SUM(CAST(floor(
           (ln(CAST(ba + t.t AS DOUBLE))
            - ln(CAST(aa + ba + t.t AS DOUBLE)))
           * 1000000000000.0) AS BIGINT)) AS BIGINT) AS c0q
  FROM p, UNNEST(range(0, bb)) AS t(t)
),
pre AS (
  SELECT t.t + 1 AS i,
         SUM(CAST(floor(
           (ln(CAST(aa + t.t AS DOUBLE))
            + ln(CAST(bb + t.t AS DOUBLE))
            - ln(CAST(aa + ba + bb + t.t AS DOUBLE))
            - ln(CAST(1 + t.t AS DOUBLE)))
           * 1000000000000.0) AS BIGINT))
           OVER (ORDER BY t.t) AS pq
  FROM p, UNNEST(range(0, ab2 - 1)) AS t(t)
),
allpre AS (
  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS pq
  UNION ALL
  SELECT i, CAST(pq AS BIGINT) FROM pre
),
terms AS (
  SELECT CAST(SUM(CAST(floor(
           exp(CAST(c0.c0q + a.pq AS DOUBLE) / 1000000000000.0)
           * 1000000000000.0) AS BIGINT)) AS HUGEINT) AS sq
  FROM allpre a, c0
)
SELECT n_a, n_b, conv_a, conv_b,
       ROUND(CAST(aa AS DOUBLE) / (aa + ba), 6) AS posterior_mean_a,
       ROUND(CAST(ab2 AS DOUBLE) / (ab2 + bb), 6) AS posterior_mean_b,
       ROUND(CAST(terms.sq AS DOUBLE) / 1000000000000.0, 6)
         AS p_b_gt_a
FROM p, terms
"""


@register(
    "x477_bayesian_ab",
    _X477_ORACLE,
    doc="EXACT Bayesian A/B: posterior probability of superiority "
        "P(p_B > p_A) under Beta(1,1) priors on per-user conversion "
        "(grp = user_id % 2, converted = >= 14 purchase events) via the "
        "closed-form Beta-Binomial sum -- the decision-ready "
        "posterior x125's frequentist lift and x434's mSPRT never "
        "emit, with NO lgamma dependency: term(0) collapses to "
        "sum ln((bA+t)/(aA+bA+t)) over the bB domain (an order-free "
        "integer sum after 1e-12 flooring) and successive terms "
        "follow the ratio recurrence term(i+1)/term(i) = "
        "(aA+i)(bB+i)/((aA+bA+bB+i)(1+i)), so log-terms are ONE "
        "integer prefix sum over the i <= aB domain -- the giant "
        "log-factorial table a naive lnB(x,y) evaluation needs "
        "never exists. Exactness: every log quantizes by 1e12 "
        "multiply-then-floor before summing (integer window sum is "
        "addition-order-proof, unlike float cumsums under DuckDB's "
        "segment-tree windows); exp of identical doubles and a "
        "final floored-term integer sum make P engine-identical to "
        "1e-12. Scale: two hash aggregates over users, then the "
        "explode domains total bB + (aB-1) = n_B + 1 rows -- the "
        "B-ARM USER COUNT, not its success count (the bB-domain "
        "product is intrinsic to the lgamma-free term(0), and "
        "swapping arms via P(pB>pA) = 1 - P(pA>pB) only reaches "
        "min(n_A, n_B), no asymptotic gain with ~equal arms); the "
        "single-row explode and the no-partition prefix window put "
        "those n_B+1 rows through ONE task, safe because users are "
        "a ~1e-2-of-events dimension (751 rows at sf0.1); a "
        "many-million-user deployment would need a partitioned "
        "two-level prefix sum here -- stated, not hidden",
)
def x477_bayesian_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("conv")
    )
    c = u.select(
        (F.col("user_id") % 2).alias("grp"), "conv"
    ).agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    p = c.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        (F.lit(1) + F.col("conv_a")).alias("aa"),
        (F.lit(1) + F.col("n_a") - F.col("conv_a")).alias("ba"),
        (F.lit(1) + F.col("conv_b")).alias("ab2"),
        (F.lit(1) + F.col("n_b") - F.col("conv_b")).alias("bb"),
    ).localCheckpoint(eager=False)
    q12 = F.lit(1000000000000.0)
    lnd = lambda col: F.log(col.cast("double"))  # noqa: E731
    t = F.col("t")
    c0 = p.select(
        F.explode(
            F.sequence(F.lit(0), F.col("bb") - 1)
        ).alias("t"),
        "aa",
        "ba",
    ).agg(
        F.sum(
            F.floor(
                (lnd(F.col("ba") + t) - lnd(F.col("aa") + F.col("ba") + t))
                * q12
            ).cast("long")
        )
        .cast("long")
        .alias("c0q")
    )
    rdom = p.filter(F.col("ab2") >= 2).select(
        F.explode(
            F.sequence(F.lit(0), F.col("ab2") - 2)
        ).alias("t"),
        "aa",
        "ba",
        "bb",
    )
    rq = F.floor(
        (
            lnd(F.col("aa") + t)
            + lnd(F.col("bb") + t)
            - lnd(F.col("aa") + F.col("ba") + F.col("bb") + t)
            - lnd(F.lit(1) + t)
        )
        * q12
    ).cast("long")
    # Integer prefix sum over the bounded i <= aB domain: long-typed
    # window sum is exact under ANY evaluation order (DuckDB's
    # segment-tree window would reorder a float cumsum).
    pre = rdom.select(
        (t + 1).alias("i"),
        F.sum(rq)
        .over(
            Window.orderBy("t").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("pq"),
    )
    allpre = pre.unionByName(
        p.select(F.lit(0).cast("long").alias("i"),
                 F.lit(0).cast("long").alias("pq"))
    )
    terms = allpre.crossJoin(F.broadcast(c0)).agg(
        F.sum(
            F.floor(
                F.exp((F.col("c0q") + F.col("pq")).cast("double") / q12)
                * q12
            ).cast("long")
        )
        .cast("decimal(38,0)")
        .alias("sq")
    )
    return p.crossJoin(F.broadcast(terms)).select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(
            F.col("aa").cast("double") / (F.col("aa") + F.col("ba")), 6
        ).alias("posterior_mean_a"),
        F.round(
            F.col("ab2").cast("double") / (F.col("ab2") + F.col("bb")),
            6,
        ).alias("posterior_mean_b"),
        F.round(F.col("sq").cast("double") / q12, 6).alias("p_b_gt_a"),
    )


_X478_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS raw_sim
  FROM n q JOIN n c ON q.vec_id != c.vec_id
),
r AS (
  SELECT neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw_sim DESC, neighbor_id) AS rnk
  FROM s
),
ind AS (
  SELECT e.vec_id, CAST(COALESCE(t.cnt, 0) AS BIGINT) AS d
  FROM e LEFT JOIN (
    SELECT neighbor_id, count(*) AS cnt FROM r WHERE rnk <= 10
    GROUP BY 1
  ) t ON t.neighbor_id = e.vec_id
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(d) AS HUGEINT) AS s1,
         CAST(SUM(d * d) AS HUGEINT) AS s2,
         CAST(SUM(d * d * d) AS HUGEINT) AS s3,
         CAST(MAX(d) AS BIGINT) AS mx,
         CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_anti
  FROM ind
)
SELECT n AS n_vectors, CAST(10 AS BIGINT) AS k,
       n_anti AS n_antihubs, mx AS max_k_occurrence,
       ROUND(CAST(s1 AS DOUBLE) / n, 4) AS mean_k_occurrence,
       ROUND(
         (CAST(s3 AS DOUBLE) / n
          - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
          + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                * (CAST(s1 AS DOUBLE) / n))
         / ((CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            * sqrt(CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n)
                     * (CAST(s1 AS DOUBLE) / n))), 4)
         AS skew_k_occurrence
FROM mom
"""


@register(
    "x478_hubness_audit",
    _X478_ORACLE,
    doc="hubness audit of the embedding space: the k-occurrence "
        "distribution N_10(x) = how often x appears in other points' "
        "exact cosine top-10 -- right-skewed N_k is the "
        "high-dimensionality pathology that silently degrades every "
        "ANN tier (hubs dominate result lists, antihubs become "
        "unreachable), making this the health check to run BEFORE "
        "trusting x08/x15/x317's retrieval: skewness of N_k, hub "
        "max, and antihub count (N_k = 0). Ranks ride x07's proven "
        "raw-sim ordering (brute_force_topk: queries broadcast as a "
        "numpy matrix, one BLAS matmul per Arrow batch, partial "
        "top-k per batch so the shuffle is O(k n_batches n)); "
        "in-degrees and their three moments are exact integers, "
        "skewness is double arithmetic with sqrt (never pow) at the "
        "end. Scale: the exact tier is the bounded-corpus contract "
        "(x07); at 100 TB the same audit runs over x08's banded "
        "LSH candidates instead of brute force",
)
def x478_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    topk = similarity.brute_force_topk(emb, emb, k=10)
    ind = (
        emb.select("vec_id")
        .join(
            topk.groupBy("neighbor_id").agg(
                F.count(F.lit(1)).cast("long").alias("cnt")
            ),
            F.col("vec_id") == F.col("neighbor_id"),
            "left",
        )
        .select(F.coalesce(F.col("cnt"), F.lit(0)).alias("d"))
    )
    mom = ind.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("d") * F.col("d"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(F.col("d") * F.col("d") * F.col("d"))
        .cast("decimal(38,0)")
        .alias("s3"),
        F.max("d").cast("long").alias("mx"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0))
        .cast("long")
        .alias("anti"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    m3 = F.col("s3").cast("double") / F.col("n")
    var = m2 - mu * mu
    return mom.select(
        F.col("n").alias("n_vectors"),
        F.lit(10).cast("long").alias("k"),
        F.col("anti").alias("n_antihubs"),
        F.col("mx").alias("max_k_occurrence"),
        F.round(mu, 4).alias("mean_k_occurrence"),
        F.round(
            (m3 - F.lit(3.0) * mu * m2 + F.lit(2.0) * mu * mu * mu)
            / (var * F.sqrt(var)),
            4,
        ).alias("skew_k_occurrence"),
    )


_X479_ORACLE = """
WITH li AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount)
                             * 10000.0) AS BIGINT)) AS HUGEINT) AS y
  FROM lineitem GROUP BY 1
),
xy AS (
  SELECT CAST(floor(o.o_totalprice * 10000.0) AS HUGEINT) AS x, li.y
  FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(y * y) AS HUGEINT) AS syy,
         CAST(SUM(x * y) AS HUGEINT) AS sxy
  FROM xy
)
SELECT n AS n_orders,
       ROUND(CAST(sx AS DOUBLE) / n / 10000.0, 4) AS mean_header,
       ROUND(CAST(sy AS DOUBLE) / n / 10000.0, 4) AS mean_items,
       ROUND((CAST(sxy AS DOUBLE) / n
              - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
             / (sqrt(CAST(sxx AS DOUBLE) / n
                     - (CAST(sx AS DOUBLE) / n)
                       * (CAST(sx AS DOUBLE) / n))
                * sqrt(CAST(syy AS DOUBLE) / n
                       - (CAST(sy AS DOUBLE) / n)
                         * (CAST(sy AS DOUBLE) / n))), 6)
         AS pearson_r,
       ROUND(2.0 * (CAST(sxy AS DOUBLE) / n
                    - (CAST(sx AS DOUBLE) / n)
                      * (CAST(sy AS DOUBLE) / n))
             / ((CAST(sxx AS DOUBLE) / n
                 - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                + (CAST(syy AS DOUBLE) / n
                   - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                + ((CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n)
                   * (CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n))),
             6) AS lins_ccc
FROM mom
"""


@register(
    "x479_lins_ccc",
    _X479_ORACLE,
    doc="Lin's concordance correlation coefficient between the order "
        "HEADER total and the recomputed ITEM-LEVEL total "
        "(sum extendedprice*(1-discount)) -- the agreement effect "
        "size for the reconciliation x158 enumerates row-by-row: "
        "Pearson r rewards linear association even under systematic "
        "bias, CCC = 2*s_xy / (s_x^2 + s_y^2 + (mu_x - mu_y)^2) "
        "additionally penalizes location/scale shift, so "
        "CCC << r isolates a SYSTEMATIC ledger discrepancy from "
        "random noise. Exactness: both measurements floor-quantize "
        "at 1e-4 dollars, all five moment sums are exact HUGEINT/"
        "DECIMAL integers, the two coefficients are fixed-order "
        "double arithmetic with explicit sqrt. Scale: one "
        "orderkey-grain aggregate and an orderkey equi-join, then "
        "a single five-accumulator reduction",
)
def x479_lins_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    yq = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * F.lit(10000.0)
    ).cast("long")
    liagg = li.groupBy("l_orderkey").agg(
        F.sum(yq).cast("decimal(38,0)").alias("y")
    )
    xy = orders.join(
        liagg, orders["o_orderkey"] == liagg["l_orderkey"]
    ).select(
        F.floor(F.col("o_totalprice") * F.lit(10000.0))
        .cast("decimal(38,0)")
        .alias("x"),
        "y",
    )
    mom = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("y") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("x") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    n = F.col("n")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    vx = F.col("sxx").cast("double") / n - mx * mx
    vy = F.col("syy").cast("double") / n - my * my
    cxy = F.col("sxy").cast("double") / n - mx * my
    return mom.select(
        n.alias("n_orders"),
        F.round(F.col("sx").cast("double") / n / F.lit(10000.0), 4)
        .alias("mean_header"),
        F.round(F.col("sy").cast("double") / n / F.lit(10000.0), 4)
        .alias("mean_items"),
        F.round(cxy / (F.sqrt(vx) * F.sqrt(vy)), 6).alias("pearson_r"),
        F.round(
            F.lit(2.0) * cxy / (vx + vy + (mx - my) * (mx - my)), 6
        ).alias("lins_ccc"),
    )


_X480_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS pr, o_orderstatus AS st,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
),
rt AS (SELECT pr, CAST(SUM(cnt) AS BIGINT) AS r FROM o GROUP BY 1),
ct AS (SELECT st, CAST(SUM(cnt) AS BIGINT) AS c FROM o GROUP BY 1),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST((SELECT count(*) FROM rt) AS BIGINT) AS nr,
         CAST((SELECT count(*) FROM ct) AS BIGINT) AS nc
  FROM o
),
grid AS (
  SELECT rt.pr, ct.st, rt.r, ct.c, COALESCE(o.cnt, 0) AS cnt
  FROM rt CROSS JOIN ct
  LEFT JOIN o ON o.pr = rt.pr AND o.st = ct.st
),
cells AS (
  SELECT CAST(SUM(CAST(floor(
           ((cnt - CAST(r * c AS DOUBLE) / t.n)
            * (cnt - CAST(r * c AS DOUBLE) / t.n)
            / (CAST(r * c AS DOUBLE) / t.n)) * 1000000000.0)
           AS BIGINT)) AS HUGEINT) AS chi2q
  FROM grid, tot t
),
s AS (
  SELECT t.n, t.nr, t.nc,
         CAST(cells.chi2q AS DOUBLE) / 1000000000.0 AS chi2
  FROM tot t, cells
)
SELECT n, nr AS n_rows_dim, nc AS n_cols_dim,
       ROUND(chi2, 4) AS chi2,
       ROUND(sqrt(chi2 / n
                  / CAST(LEAST(nr - 1, nc - 1) AS DOUBLE)), 6)
         AS cramers_v,
       ROUND(sqrt(
         GREATEST(0.0, chi2 / n
                  - CAST((nr - 1) * (nc - 1) AS DOUBLE) / (n - 1))
         / CAST(LEAST(
             CAST(nr AS DOUBLE)
               - CAST((nr - 1) * (nr - 1) AS DOUBLE) / (n - 1),
             CAST(nc AS DOUBLE)
               - CAST((nc - 1) * (nc - 1) AS DOUBLE) / (n - 1))
           - 1.0 AS DOUBLE)), 6) AS cramers_v_corrected
FROM s
"""


@register(
    "x480_cramers_v",
    _X480_ORACLE,
    doc="Cramer's V with the Bergsma bias correction for the order "
        "priority x status association -- the [0,1] EFFECT SIZE "
        "x148's chi-square test omits (chi2 grows with n, so at "
        "corpus scale every association is 'significant'; V says "
        "whether it is LARGE, and plain V is upward-biased on "
        "sparse tables, which the (r-1)(c-1)/(n-1) correction "
        "removes). Exactness: the full r x c grid (zero cells "
        "included via a cross-join spine), per-cell chi-square "
        "contributions floor-quantized at 1e-9 so the cell sum is "
        "an exact integer regardless of aggregation order; V and "
        "the corrected V are fixed-order double arithmetic with "
        "explicit sqrt/least/greatest. Scale: one contingency "
        "groupBy reduces the corpus to category-cardinality cells; "
        "everything after is broadcast-sized",
)
def x480_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    rt = o.groupBy("pr").agg(F.sum("cnt").cast("long").alias("r"))
    ct = o.groupBy("st").agg(F.sum("cnt").cast("long").alias("c"))
    tot = o.agg(
        F.sum("cnt").cast("long").alias("n")
    ).crossJoin(
        F.broadcast(rt.agg(F.count(F.lit(1)).cast("long").alias("nr")))
    ).crossJoin(
        F.broadcast(ct.agg(F.count(F.lit(1)).cast("long").alias("nc")))
    )
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(o, ["pr", "st"], "left")
        .select(
            "r", "c", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
        )
    )
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n")
    contrib = (F.col("cnt") - e) * (F.col("cnt") - e) / e
    cells = grid.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.floor(contrib * F.lit(1000000000.0)).cast("long")
        )
        .cast("decimal(38,0)")
        .alias("chi2q")
    )
    chi2 = F.col("chi2q").cast("double") / F.lit(1000000000.0)
    nd = F.col("n").cast("double")
    phi2c = F.greatest(
        F.lit(0.0),
        chi2 / F.col("n")
        - ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("double")
          / (F.col("n") - 1),
    )
    rc_ = (
        F.col("nr").cast("double")
        - ((F.col("nr") - 1) * (F.col("nr") - 1)).cast("double")
          / (F.col("n") - 1)
    )
    cc_ = (
        F.col("nc").cast("double")
        - ((F.col("nc") - 1) * (F.col("nc") - 1)).cast("double")
          / (F.col("n") - 1)
    )
    return tot.crossJoin(F.broadcast(cells)).select(
        "n",
        F.col("nr").alias("n_rows_dim"),
        F.col("nc").alias("n_cols_dim"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / F.col("n")
                / F.least(F.col("nr") - 1, F.col("nc") - 1).cast(
                    "double"
                )
            ),
            6,
        ).alias("cramers_v"),
        F.round(
            F.sqrt(phi2c / (F.least(rc_, cc_) - F.lit(1.0))), 6
        ).alias("cramers_v_corrected"),
    )


_X481_ORACLE = """
WITH d AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS nw,
         length(replace(text, ' ', '')) AS lc,
         len(list_filter(list_distinct(string_split(lower(text), ' ')),
             t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
           AS nstop,
         len(list_distinct(string_split(lower(text), ' '))) AS nd,
         list_max(list_transform(
           list_distinct(string_split(lower(text), ' ')),
           t -> len(list_filter(string_split(lower(text), ' '),
                                x -> x = t)))) AS topc
  FROM documents
),
r AS (
  SELECT doc_id,
         CASE WHEN nw BETWEEN 30 AND 90 THEN 1 ELSE 0 END AS j1,
         CASE WHEN lc >= 4 * nw AND lc <= 5 * nw THEN 1 ELSE 0 END
           AS j2,
         CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS j3,
         CASE WHEN 5 * nd > 3 * nw THEN 1 ELSE 0 END AS j4,
         CASE WHEN 8 * topc <= nw THEN 1 ELSE 0 END AS j5
  FROM d
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS blocks,
         CAST(SUM(j1) AS BIGINT) AS c1, CAST(SUM(j2) AS BIGINT) AS c2,
         CAST(SUM(j3) AS BIGINT) AS c3, CAST(SUM(j4) AS BIGINT) AS c4,
         CAST(SUM(j5) AS BIGINT) AS c5,
         CAST(SUM(j1 + j2 + j3 + j4 + j5) AS BIGINT) AS bign,
         CAST(SUM((j1 + j2 + j3 + j4 + j5)
                  * (j1 + j2 + j3 + j4 + j5)) AS HUGEINT) AS sr2
  FROM r
)
SELECT blocks AS n_blocks, CAST(5 AS BIGINT) AS k_rules,
       bign AS total_passes,
       ROUND(4.0 * CAST(
           (5 * c1 - bign) * (5 * c1 - bign)
           + (5 * c2 - bign) * (5 * c2 - bign)
           + (5 * c3 - bign) * (5 * c3 - bign)
           + (5 * c4 - bign) * (5 * c4 - bign)
           + (5 * c5 - bign) * (5 * c5 - bign) AS DOUBLE)
         / CAST(5 * (5 * bign - sr2) AS DOUBLE), 6) AS cochrans_q
FROM s
"""


@register(
    "x481_cochrans_q",
    _X481_ORACLE,
    doc="Cochran's Q test across x381's five Gopher rules as k=5 "
        "binary TREATMENTS over documents as blocks: do the rules "
        "have the same marginal pass rate, i.e. is the funnel's "
        "rejection load balanced or is one rule doing all the work? "
        "-- the hypothesis-test complement to x391 (Fleiss asks 'do "
        "raters agree per doc', Q asks 'do their MARGINS differ') "
        "and the k-treatment generalization of x390's McNemar. "
        "Exactness: with the k^2-scaled identity Q = (k-1) * "
        "Sum_j(k*C_j - N)^2 / (k*(k*N - Sum_i R_i^2)) every term is "
        "an exact integer from one pass (per-rule pass counts, "
        "per-doc pass counts, their squares); ONE double division. "
        "Scale: expression-only rule evaluation, a single "
        "8-accumulator reduction, no joins, no windows",
)
def x481_cochrans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bound arrays (HOF-lambda CSE trap on the top-token transform:
    # the inlined split re-tokenizes once per distinct token -- see
    # ops/dedup.py shingles())
    t = docs.select("text", _toks("text").alias("__toks")).select(
        "text", "__toks", F.array_distinct("__toks").alias("__dtoks")
    )
    toks = F.col("__toks")
    dtoks = F.col("__dtoks")
    stop = ["the", "a", "of", "and", "to", "in", "is"]
    d = t.select(
        F.size(toks).alias("nw"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("lc"),
        F.size(F.filter(dtoks, lambda t: t.isin(*stop))).alias(
            "nstop"
        ),
        F.size(dtoks).alias("nd"),
        F.array_max(
            F.transform(
                dtoks,
                lambda t: F.size(F.filter(toks, lambda x: x == t)),
            )
        ).alias("topc"),
    )
    r = d.select(
        F.when(F.col("nw").between(30, 90), 1).otherwise(0).alias("j1"),
        F.when(
            (F.col("lc") >= 4 * F.col("nw"))
            & (F.col("lc") <= 5 * F.col("nw")),
            1,
        )
        .otherwise(0)
        .alias("j2"),
        F.when(F.col("nstop") >= 2, 1).otherwise(0).alias("j3"),
        F.when(5 * F.col("nd") > 3 * F.col("nw"), 1)
        .otherwise(0)
        .alias("j4"),
        F.when(8 * F.col("topc") <= F.col("nw"), 1)
        .otherwise(0)
        .alias("j5"),
    )
    ri = (
        F.col("j1") + F.col("j2") + F.col("j3") + F.col("j4")
        + F.col("j5")
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("blocks"),
        F.sum("j1").cast("long").alias("c1"),
        F.sum("j2").cast("long").alias("c2"),
        F.sum("j3").cast("long").alias("c3"),
        F.sum("j4").cast("long").alias("c4"),
        F.sum("j5").cast("long").alias("c5"),
        F.sum(ri).cast("long").alias("bign"),
        F.sum(ri * ri).cast("decimal(38,0)").alias("sr2"),
    )
    devsq = sum(
        (
            (F.lit(5) * F.col(f"c{j}") - F.col("bign"))
            * (F.lit(5) * F.col(f"c{j}") - F.col("bign"))
        )
        for j in range(1, 6)
    )
    return s.select(
        F.col("blocks").alias("n_blocks"),
        F.lit(5).cast("long").alias("k_rules"),
        F.col("bign").alias("total_passes"),
        F.round(
            F.lit(4.0)
            * devsq.cast("double")
            / (
                F.lit(5)
                * (
                    F.lit(5) * F.col("bign")
                    - F.col("sr2").cast("long")
                )
            ).cast("double"),
            6,
        ).alias("cochrans_q"),
    )


_X482_ORACLE = """
WITH nat AS (
  SELECT 'arrival' AS layout, l_orderkey // 256 AS g1,
         CAST(0 AS BIGINT) AS g2,
         min(CAST(l_shipdate AS DATE)) AS mn,
         max(CAST(l_shipdate AS DATE)) AS mx
  FROM lineitem GROUP BY 1, 2, 3
),
clu AS (
  SELECT 'date_partitioned' AS layout,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
           AS g1,
         l_orderkey // 4096 AS g2,
         min(CAST(l_shipdate AS DATE)) AS mn,
         max(CAST(l_shipdate AS DATE)) AS mx
  FROM lineitem GROUP BY 1, 2, 3
),
grp AS (SELECT * FROM nat UNION ALL SELECT * FROM clu),
preds AS (
  SELECT t.m, make_date(1998, t.m, 1) AS p_start,
         CASE WHEN t.m = 12 THEN make_date(1999, 1, 1)
              ELSE make_date(1998, t.m + 1, 1) END AS p_end
  FROM UNNEST(range(1, 13)) AS t(m)
),
scan AS (
  SELECT g.layout, CAST(count(*) AS BIGINT) AS scanned
  FROM grp g JOIN preds p
    ON g.mn < p.p_end AND g.mx >= p.p_start
  GROUP BY 1
),
ng AS (
  SELECT layout, CAST(count(*) AS BIGINT) AS n_groups FROM grp
  GROUP BY 1
)
SELECT ng.layout, ng.n_groups, COALESCE(s.scanned, 0) AS groups_scanned,
       ROUND(CAST(COALESCE(s.scanned, 0) AS DOUBLE)
             / (12.0 * ng.n_groups), 6) AS avg_scan_fraction,
       ROUND(1.0 - CAST(COALESCE(s.scanned, 0) AS DOUBLE)
                   / (12.0 * ng.n_groups), 6) AS skip_rate
FROM ng LEFT JOIN scan s ON s.layout = ng.layout
ORDER BY ng.layout
"""


@register(
    "x482_zonemap_pruning",
    _X482_ORACLE,
    doc="zone-map pruning yield audit: simulate row-group min/max "
        "statistics on l_shipdate under two physical layouts -- "
        "'arrival' (orderkey-range groups, the layout an append-only "
        "ingest produces) vs 'date_partitioned' (month partitions "
        "with orderkey sub-files) -- and replay a 12-predicate "
        "monthly range workload against the zone maps: the measured "
        "fraction of row groups a reader must scan, i.e. the "
        "QUANTIFIED justification for x105's z-order key and the "
        "layout decision x156's manifest only describes. A real "
        "engine prunes with exactly this min/max-interval-overlap "
        "test at planning time (asserted live as PartitionFilters "
        "in tests/test_layout.py); here it runs as data so the two "
        "layouts are compared at identical row counts. Exactness: "
        "group min/max are exact dates, overlap is date comparison, "
        "counts are integers, two rounded divisions. Scale: two "
        "group-level aggregates (map-side combined) and a 12-row "
        "broadcast fan-out -- zone-map tables are metadata-sized "
        "by construction",
)
def x482_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    nat = li.groupBy(
        F.expr("l_orderkey div 256").alias("g1"),
        F.lit(0).cast("long").alias("g2"),
    ).agg(F.min(sd).alias("mn"), F.max(sd).alias("mx")).select(
        F.lit("arrival").alias("layout"), "g1", "g2", "mn", "mx"
    )
    clu = li.groupBy(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("g1"),
        F.expr("l_orderkey div 4096").alias("g2"),
    ).agg(F.min(sd).alias("mn"), F.max(sd).alias("mx")).select(
        F.lit("date_partitioned").alias("layout"), "g1", "g2", "mn",
        "mx",
    )
    grp = nat.unionByName(clu)
    preds = spark.range(1, 13).select(
        F.col("id").cast("int").alias("m")
    ).select(
        F.make_date(F.lit(1998), F.col("m"), F.lit(1)).alias("p_start"),
        F.when(
            F.col("m") == 12,
            F.make_date(F.lit(1999), F.lit(1), F.lit(1)),
        )
        .otherwise(F.make_date(F.lit(1998), F.col("m") + 1, F.lit(1)))
        .alias("p_end"),
    )
    scan = (
        grp.crossJoin(F.broadcast(preds))
        .filter(
            (F.col("mn") < F.col("p_end"))
            & (F.col("mx") >= F.col("p_start"))
        )
        .groupBy("layout")
        .agg(F.count(F.lit(1)).cast("long").alias("scanned"))
    )
    ng = grp.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups")
    )
    frac = F.coalesce(F.col("scanned"), F.lit(0)).cast("double") / (
        F.lit(12.0) * F.col("n_groups")
    )
    return (
        ng.join(scan, "layout", "left")
        .select(
            "layout",
            "n_groups",
            F.coalesce(F.col("scanned"), F.lit(0))
            .cast("long")
            .alias("groups_scanned"),
            F.round(frac, 6).alias("avg_scan_fraction"),
            F.round(F.lit(1.0) - frac, 6).alias("skip_rate"),
        )
        .orderBy("layout")
    )


_X483_ORACLE = """
WITH files AS (
  SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS sz
  FROM documents GROUP BY 1, 2
),
ordered AS (
  SELECT sz,
         SUM(sz) OVER (ORDER BY sz DESC, source, lang) AS csum
  FROM files
),
binned AS (
  SELECT sz, csum, (csum - 1) // 10000 AS bin FROM ordered
),
b AS (
  SELECT bin, CAST(SUM(sz) AS BIGINT) AS fill,
         CAST(count(*) AS BIGINT) AS nf
  FROM binned GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_bins,
         CAST(SUM(fill) AS BIGINT) AS total,
         CAST(MAX(fill) AS BIGINT) AS max_fill,
         CAST(MAX(nf) AS BIGINT) AS max_files_per_bin
  FROM b
),
f AS (SELECT CAST(count(*) AS BIGINT) AS n_files FROM files)
SELECT f.n_files, s.n_bins,
       (s.total + 9999) // 10000 AS lower_bound_bins,
       s.max_fill, s.max_files_per_bin,
       ROUND(CAST(s.total AS DOUBLE) / (s.n_bins * 10000.0), 6)
         AS mean_fill_ratio
FROM f, s
"""


@register(
    "x483_compaction_plan",
    _X483_ORACLE,
    doc="small-file compaction planning: pack the (source, lang) "
        "file inventory (size = total chars) into target-size bins "
        "by SEQUENTIAL NEXT-FIT over the size-descending list -- "
        "bins close at the 10k watermark, a straddling item "
        "overflows its bin (the cumulative-sum formulation: bin = "
        "(csum-1) div target), which is exactly the rewrite "
        "batching compact_neardup_index (ops/incremental.py) and a "
        "lakehouse OPTIMIZE job perform to stop the x295 "
        "append-only index and per-batch stream sinks from "
        "accumulating a small-files problem. Reports the plan "
        "against the ceil(total/target) lower bound. Exactness: "
        "sizes and cumulative sums are exact integers (integer "
        "window sum, order-proof), bin ids are integer division, "
        "one rounded division. Scale: the window rides the FILE "
        "INVENTORY, metadata-sized by definition (the whole point "
        "of compaction is #files << #rows); ties broken by "
        "(source, lang) for a deterministic plan",
)
def x483_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    files = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("sz")
    )
    binned = files.select(
        "sz",
        # true integer floor division (div), matching the oracle's //
        # and the x475/x482 convention -- double-divide-then-cast is
        # fragile near 10000-boundaries at extreme cumulative sizes
        F.expr("(sum(sz) over (order by sz desc, source, lang "
               "rows between unbounded preceding and current row) - 1) "
               "div 10000")
        .cast("long")
        .alias("bin"),
    )
    b = binned.groupBy("bin").agg(
        F.sum("sz").cast("long").alias("fill"),
        F.count(F.lit(1)).cast("long").alias("nf"),
    )
    s = b.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("fill").cast("long").alias("total"),
        F.max("fill").cast("long").alias("max_fill"),
        F.max("nf").cast("long").alias("max_files_per_bin"),
    )
    f = files.agg(F.count(F.lit(1)).cast("long").alias("n_files"))
    return f.crossJoin(F.broadcast(s)).select(
        "n_files",
        "n_bins",
        F.expr("(total + 9999) div 10000")
        .cast("long")
        .alias("lower_bound_bins"),
        "max_fill",
        "max_files_per_bin",
        F.round(
            F.col("total").cast("double")
            / (F.col("n_bins") * F.lit(10000.0)),
            6,
        ).alias("mean_fill_ratio"),
    )


_X484_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS yq
  FROM orders GROUP BY 1
),
anchor AS (SELECT min(day) AS d0 FROM daily),
ty AS (
  SELECT datediff('day', a.d0, d.day) AS t, d.yq, d.day
  FROM daily d, anchor a
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(t) AS HUGEINT) AS st,
         CAST(SUM(yq) AS HUGEINT) AS sy,
         CAST(SUM(t * t) AS HUGEINT) AS stt,
         CAST(SUM(t * yq) AS HUGEINT) AS sty
  FROM ty
),
fit AS (
  SELECT n,
         CAST(n * sty - st * sy AS DOUBLE)
           / CAST(n * stt - st * st AS DOUBLE) AS b,
         (CAST(sy AS DOUBLE)
          - CAST(n * sty - st * sy AS DOUBLE)
            / CAST(n * stt - st * st AS DOUBLE)
            * CAST(st AS DOUBLE)) / n AS a
  FROM mom
),
res AS (
  SELECT ty.day,
         CAST(floor((CAST(ty.yq AS DOUBLE)
                     - (f.a + f.b * ty.t)) * 10.0) AS BIGINT) AS eq
  FROM ty, fit f
),
num AS (
  SELECT CAST(SUM(CAST(r2.eq - r1.eq AS HUGEINT)
                  * CAST(r2.eq - r1.eq AS HUGEINT)) AS HUGEINT)
           AS dsum,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM res r1 JOIN res r2 ON r2.day = r1.day + 1
),
den AS (SELECT CAST(SUM(CAST(eq AS HUGEINT) * CAST(eq AS HUGEINT))
              AS HUGEINT) AS esum FROM res)
SELECT m.n AS n_days, num.n_pairs,
       ROUND(f.b / 100.0, 4) AS slope_dollars_per_day,
       ROUND(CAST(num.dsum AS DOUBLE) / CAST(den.esum AS DOUBLE), 6)
         AS durbin_watson,
       ROUND(1.0 - CAST(num.dsum AS DOUBLE)
                   / CAST(den.esum AS DOUBLE) / 2.0, 6) AS rho_hat
FROM mom m, fit f, num, den
"""


@register(
    "x484_durbin_watson",
    _X484_ORACLE,
    doc="Durbin-Watson statistic on the residuals of the daily-"
        "revenue OLS trend: DW = sum (e_t+1 - e_t)^2 / sum e_t^2 -- "
        "the residual-autocorrelation check that says whether "
        "x198-style trend fits can be trusted at face value (DW ~ 2 "
        "= independent errors; DW << 2 = positive serial "
        "correlation, meaning OLS confidence intervals lie) -- the "
        "REGRESSION-diagnostic complement to x290's raw "
        "autocorrelation. Exactness: revenue in floored integer "
        "cents, OLS slope/intercept from five exact integer moments "
        "(x198's recipe), residuals floor-quantized at 1e-3 so both "
        "quadratic sums are exact integers; consecutive pairing is "
        "an exact DATE equi-join (x290's recipe -- a gap day "
        "correctly produces NO pair, where a row-lag would "
        "fabricate one); two final rounded divisions. Scale: one "
        "day-grain aggregate, day-cardinality joins",
)
def x484_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("yq")
    )
    anchor = daily.agg(F.min("day").alias("d0"))
    ty = daily.crossJoin(F.broadcast(anchor)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
        "yq",
        "day",
    )
    mom = ty.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("yq").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("t") * F.col("t"))
        .cast("decimal(38,0)")
        .alias("stt"),
        F.sum(F.col("t") * F.col("yq"))
        .cast("decimal(38,0)")
        .alias("sty"),
    )
    bnum = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast(
        "double"
    )
    bden = (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast(
        "double"
    )
    fit = mom.select(
        "n",
        (bnum / bden).alias("b"),
        (
            (F.col("sy").cast("double")
             - bnum / bden * F.col("st").cast("double"))
            / F.col("n")
        ).alias("a"),
    )
    res = ty.crossJoin(F.broadcast(fit)).select(
        "day",
        F.floor(
            (F.col("yq").cast("double")
             - (F.col("a") + F.col("b") * F.col("t")))
            * F.lit(10.0)
        )
        .cast("long")
        .alias("eq"),
    )
    r1 = res.select(F.col("day").alias("d1"), F.col("eq").alias("e1"))
    r2 = res.select(F.col("day").alias("d2"), F.col("eq").alias("e2"))
    num = r1.join(
        r2, F.col("d2") == F.date_add(F.col("d1"), 1)
    ).agg(
        F.sum(
            (F.col("e2") - F.col("e1")).cast("decimal(38,0)")
            * (F.col("e2") - F.col("e1")).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("dsum"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    den = res.agg(
        F.sum(
            F.col("eq").cast("decimal(38,0)")
            * F.col("eq").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("esum"),
    )
    dw = F.col("dsum").cast("double") / F.col("esum").cast("double")
    return (
        mom.select("n")
        .crossJoin(F.broadcast(fit.select("b")))
        .crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").alias("n_days"),
            "n_pairs",
            F.round(F.col("b") / F.lit(100.0), 4).alias(
                "slope_dollars_per_day"
            ),
            F.round(dw, 6).alias("durbin_watson"),
            F.round(F.lit(1.0) - dw / F.lit(2.0), 6).alias("rho_hat"),
        )
    )


_X485_ORACLE = """
WITH daily AS MATERIALIZED (
  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
           AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS DOUBLE) AS y
  FROM orders GROUP BY 1
),
series AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY day) AS t, y FROM daily
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM series),
init AS MATERIALIZED (
  SELECT 2 AS t,
         (SELECT y FROM series WHERE t = 2) AS l,
         (SELECT y FROM series WHERE t = 2)
           - (SELECT y FROM series WHERE t = 1) AS b,
         (SELECT y FROM series WHERE t = 2) AS prev,
         CAST(0.0 AS DOUBLE) AS sh, CAST(0.0 AS DOUBLE) AS sn
),
rec AS (
  WITH RECURSIVE walk(t, l, b, prev, sh, sn) AS (
    SELECT t, l, b, prev, sh, sn FROM init
    UNION ALL
    SELECT s.t + 1,
           0.5 * sr.y + 0.5 * (s.l + s.b),
           0.5 * ((0.5 * sr.y + 0.5 * (s.l + s.b)) - s.l) + 0.5 * s.b,
           sr.y,
           s.sh + (sr.y - (s.l + s.b)) * (sr.y - (s.l + s.b)),
           s.sn + (sr.y - s.prev) * (sr.y - s.prev)
    FROM walk s
    JOIN series sr ON sr.t = s.t + 1
  )
  SELECT * FROM walk
)
SELECT nn.n AS n_weeks,
       ROUND(r.sh / 10000.0, 4) AS sse_holt_dollars2,
       ROUND(r.sn / 10000.0, 4) AS sse_naive_dollars2,
       ROUND(1.0 - r.sh / r.sn, 6) AS skill_vs_naive
FROM rec r, nn WHERE r.t = nn.n
"""


@register(
    "x485_holt_backtest",
    _X485_ORACLE,
    doc="Holt double-exponential smoothing one-step-ahead backtest "
        "on weekly revenue with DYADIC smoothing weights (alpha = "
        "beta = 0.5, so every smoothing multiply is an exact "
        "power-of-two scale): level/trend recurrences l' = 0.5y + "
        "0.5(l+b), b' = 0.5(l'-l) + 0.5b, scored as SSE of forecast "
        "errors vs the naive y_t-1 carry-forward (weekly grain "
        "keeps the sequential oracle recursion bounded at ~350 "
        "steps; DuckDB's per-iteration overhead makes a 2400-step "
        "daily recursion pathological, measured) -- the TREND-aware "
        "forecaster x292's EWMA (level only) cannot be, and the "
        "skill-vs-naive framing x452's MASE applies to seasonal "
        "backtests. Determinism: inputs are exact integer cents as "
        "doubles; the recurrence is evaluated in ONE explicit "
        "sequential order on both engines (Spark: in-row aggregate "
        "fold over the sorted bounded day series; DuckDB: linear "
        "recursive CTE) with identical expression trees, so every "
        "intermediate double is bit-identical -- no reordered float "
        "sum exists anywhere. Scale: the fold rides the bounded "
        "day-grain series (x292's contract); the corpus-sized work "
        "is one day aggregate",
)
def x485_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("double")
        .alias("y")
    )
    ser = daily.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "y"))),
            lambda s: s["y"],
        ).alias("ys")
    )
    ys = F.col("ys")
    init = F.struct(
        F.element_at(ys, 2).alias("l"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("b"),
        F.element_at(ys, 2).alias("prev"),
        F.lit(0.0).alias("sh"),
        F.lit(0.0).alias("sn"),
    )

    def step(acc, y):
        lnew = F.lit(0.5) * y + F.lit(0.5) * (acc["l"] + acc["b"])
        return F.struct(
            lnew.alias("l"),
            (
                F.lit(0.5) * (lnew - acc["l"]) + F.lit(0.5) * acc["b"]
            ).alias("b"),
            y.alias("prev"),
            (
                acc["sh"]
                + (y - (acc["l"] + acc["b"]))
                * (y - (acc["l"] + acc["b"]))
            ).alias("sh"),
            (
                acc["sn"] + (y - acc["prev"]) * (y - acc["prev"])
            ).alias("sn"),
        )

    folded = ser.select(
        F.size(ys).cast("long").alias("n_weeks"),
        F.aggregate(
            F.slice(ys, 3, F.size(ys) - 2), init, step
        ).alias("st"),
    )
    return folded.select(
        "n_weeks",
        F.round(F.col("st.sh") / F.lit(10000.0), 4).alias(
            "sse_holt_dollars2"
        ),
        F.round(F.col("st.sn") / F.lit(10000.0), 4).alias(
            "sse_naive_dollars2"
        ),
        F.round(
            F.lit(1.0) - F.col("st.sh") / F.col("st.sn"), 6
        ).alias("skill_vs_naive"),
    )


from .foundations import _STOP_EN as _X486_STOP

_X486_ORACLE = f"""
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN ({_X486_STOP}))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN p_s >= 1500 AND pos = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN p_s >= 1500 AND pos = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN p_s < 1500 AND pos = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN p_s < 1500 AND pos = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS tn
  FROM scored
)
SELECT tp, fp, fn, tn,
       ROUND(2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1,
       ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
             / sqrt((CAST(tp + fp AS DOUBLE)
                     * CAST(tp + fn AS DOUBLE))
                    * (CAST(tn + fp AS DOUBLE)
                       * CAST(tn + fn AS DOUBLE))), 6) AS mcc,
       ROUND(0.5 * (CAST(tp AS DOUBLE) / (tp + fn)
                    + CAST(tn AS DOUBLE) / (tn + fp)), 6)
         AS balanced_accuracy,
       ROUND(CAST(tp AS DOUBLE) / (tp + fn)
             + CAST(tn AS DOUBLE) / (tn + fp) - 1.0, 6)
         AS informedness,
       ROUND(CAST(tp AS DOUBLE) / (tp + fp)
             + CAST(tn AS DOUBLE) / (tn + fn) - 1.0, 6)
         AS markedness
FROM c
"""


@register(
    "x486_confusion_panel",
    _X486_ORACLE,
    doc="chance-robust operating-point panel for x315's stopword "
        "scorer at the fixed 0.15 threshold: MCC (the correlation-"
        "flavored summary that stays honest under the 9:1-ish class "
        "imbalance where x350's F1 inflates), balanced accuracy, "
        "informedness (Youden J as TPR+TNR-1) and markedness "
        "(PPV+NPV-1) -- together the prevalence-invariant picture "
        "of one deployed threshold, where x350 sweeps thresholds on "
        "F1/J alone and x349's AUC is threshold-free. Exactness: "
        "the scorer is x315's integer p_s (round-4 ratio scaled to "
        "1e4), all four confusion cells are exact integers, every "
        "metric is fixed-order double arithmetic (MCC's denominator "
        "as ONE sqrt of a fixed-association double product). "
        "Scale: expression-only scoring, one 4-accumulator "
        "reduction, no joins",
)
def x486_confusion_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops import text

    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    hit = F.col("p_s") >= 1500
    c = scored.agg(
        F.sum(F.when(hit & (F.col("pos") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(hit & (F.col("pos") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~hit & (F.col("pos") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~hit & (F.col("pos") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    tpr = tp.cast("double") / (tp + fn)
    tnr = tn.cast("double") / (tn + fp)
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.lit(2.0) * tp / (2 * tp + fp + fn).cast("double"), 6
        ).alias("f1"),
        F.round(
            (tp * tn - fp * fn).cast("double")
            / F.sqrt(
                ((tp + fp).cast("double") * (tp + fn).cast("double"))
                * ((tn + fp).cast("double") * (tn + fn).cast("double"))
            ),
            6,
        ).alias("mcc"),
        F.round(F.lit(0.5) * (tpr + tnr), 6).alias(
            "balanced_accuracy"
        ),
        F.round(tpr + tnr - F.lit(1.0), 6).alias("informedness"),
        F.round(
            tp.cast("double") / (tp + fp)
            + tn.cast("double") / (tn + fn)
            - F.lit(1.0),
            6,
        ).alias("markedness"),
    )


_X487_ORACLE = """
WITH uq AS (
  SELECT user_id, CAST(quarter(ts) AS BIGINT) AS q,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT))
              AS HUGEINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
full_u AS (
  SELECT user_id FROM uq GROUP BY 1 HAVING count(*) = 4
),
m AS (
  SELECT uq.user_id, uq.q, CAST(uq.s AS DOUBLE) / uq.n AS mv
  FROM uq JOIN full_u USING (user_id)
),
r AS (
  SELECT user_id, q,
         CAST(2 * rank() OVER (PARTITION BY user_id ORDER BY mv)
              + count(*) OVER (PARTITION BY user_id, mv) - 1
              AS BIGINT) AS r2
  FROM m
),
lsum AS (
  SELECT CAST(SUM(q * r2) AS HUGEINT) AS l2,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n
  FROM r
)
SELECT n AS n_blocks, CAST(4 AS BIGINT) AS k_treatments,
       ROUND(CAST(l2 AS DOUBLE) / 2.0, 1) AS page_l,
       ROUND((CAST(l2 AS DOUBLE) / 2.0 - n * 4 * 25.0 / 4.0)
             / sqrt(n * 16.0 * 5.0 * 15.0 / 144.0), 4) AS page_z
FROM lsum
"""


@register(
    "x487_page_trend_test",
    _X487_ORACLE,
    doc="Page's L test for an ORDERED alternative across calendar "
        "quarters Q1 < Q2 < Q3 < Q4 (blocks = users with all four "
        "quarters, cell = mean event value): L = sum_j j*R_j "
        "rises when per-user value ranks trend WITH the quarter "
        "order -- the monotone-seasonal-drift test x476's Friedman "
        "(any-difference alternative) dilutes and x384's "
        "Mann-Kendall applies to one series, not a panel of user "
        "blocks. Exactness: x476's doubled mid-ranks make L2 = "
        "sum j*R2_j an exact integer; page_z standardizes with the "
        "TIE-FREE null moments E[L] = nk(k+1)^2/4, Var[L] = "
        "nk^2(k+1)(k^2-1)/144 (documented approximation under "
        "ties -- ties only shrink the variance, so |z| is "
        "conservative-biased upward and flagged as such). Scale: "
        "one (user, quarter) aggregate, 4-bounded user-key "
        "windows, a 2-accumulator reduction",
)
def x487_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * F.lit(1000000.0)).cast("long")
    uq = ev.groupBy(
        "user_id", F.quarter("ts").cast("long").alias("q")
    ).agg(
        F.sum(vq).cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    full_u = (
        uq.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 4)
        .select("user_id")
    )
    m = uq.join(full_u, "user_id").select(
        "user_id",
        "q",
        (F.col("s").cast("double") / F.col("n")).alias("mv"),
    )
    r = m.select(
        "user_id",
        "q",
        (
            F.lit(2)
            * F.rank().over(
                Window.partitionBy("user_id").orderBy("mv")
            )
            + F.count(F.lit(1)).over(
                Window.partitionBy("user_id", "mv")
            )
            - F.lit(1)
        )
        .cast("long")
        .alias("r2"),
    )
    lsum = r.agg(
        F.sum(F.col("q") * F.col("r2"))
        .cast("decimal(38,0)")
        .alias("l2"),
        F.countDistinct("user_id").cast("long").alias("n"),
    )
    l_half = F.col("l2").cast("double") / F.lit(2.0)
    nd = F.col("n")
    return lsum.select(
        nd.alias("n_blocks"),
        F.lit(4).cast("long").alias("k_treatments"),
        F.round(l_half, 1).alias("page_l"),
        F.round(
            (l_half - nd * 4 * F.lit(25.0) / F.lit(4.0))
            / F.sqrt(
                nd * F.lit(16.0) * F.lit(5.0) * F.lit(15.0)
                / F.lit(144.0)
            ),
            4,
        ).alias("page_z"),
    )


_X488_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
triples AS (
  SELECT b.y AS yc, a.y AS yl, c.y AS yr
  FROM daily b
  JOIN daily a ON a.day = b.day - 1
  JOIN daily c ON c.day = b.day + 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(CASE WHEN (yc > yl AND yc > yr)
                         OR (yc < yl AND yc < yr)
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM triples
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
SELECT nn.n AS n_days, s.m AS n_triples, s.tp AS n_turning_points,
       ROUND(2.0 * s.m / 3.0, 4) AS expected_turning_points,
       ROUND((s.tp - 2.0 * s.m / 3.0)
             / sqrt((16.0 * (s.m + 2) - 29.0) / 90.0), 4) AS z_score
FROM s, nn
"""


@register(
    "x488_turning_point_test",
    _X488_ORACLE,
    doc="turning-point randomness test on daily revenue: a day is a "
        "turning point when it strictly exceeds (or strictly "
        "undercuts) BOTH calendar neighbors; under i.i.d. "
        "exchangeability E[T] = 2m/3 and Var[T] = (16m-29)/90 over "
        "m interior triples, so the z-score flags smooth trending "
        "(too few turns) or oscillation/overdispersion (too many) "
        "-- the third lens of the randomness battery next to "
        "x291's runs test (signs vs median), x457's exponential-gap "
        "test and x475's record statistics, each sensitive to a "
        "different departure. Exactness: integer-cent daily sums, "
        "strict integer comparisons (exact-tie days count as NOT "
        "turning, stated), exact integer counts, two rounded "
        "divisions; neighbor pairing is the x290 DATE equi-join so "
        "gap days drop their triples rather than fabricating "
        "adjacency. Null moments use the STANDARD series-length "
        "formula Var[T] = (16n-29)/90 evaluated at n = m+2 (exact "
        "for a gap-free span, where m = n-2; under calendar gaps "
        "the surviving triples are not contiguous, so the i.i.d. "
        "null moments are an approximation -- stated, and m-based "
        "(16m-29)/90 would be anti-conservative). Scale: one "
        "day-grain aggregate, two day-cardinality self-joins",
)
def x488_turning_point_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yc"))
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("yl"))
    cc = daily.select(F.col("day").alias("dc"), F.col("y").alias("yr"))
    triples = b.join(
        a, F.col("da") == F.date_sub(F.col("db"), 1)
    ).join(cc, F.col("dc") == F.date_add(F.col("db"), 1))
    turn = (
        (F.col("yc") > F.col("yl")) & (F.col("yc") > F.col("yr"))
    ) | ((F.col("yc") < F.col("yl")) & (F.col("yc") < F.col("yr")))
    s = triples.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.when(turn, 1).otherwise(0)).cast("long").alias("tp"),
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    md = F.col("m").cast("double")
    return nn.crossJoin(F.broadcast(s)).select(
        F.col("n").alias("n_days"),
        F.col("m").alias("n_triples"),
        F.col("tp").alias("n_turning_points"),
        F.round(F.lit(2.0) * md / F.lit(3.0), 4).alias(
            "expected_turning_points"
        ),
        F.round(
            (F.col("tp") - F.lit(2.0) * md / F.lit(3.0))
            / F.sqrt(
                (F.lit(16.0) * (md + F.lit(2.0)) - F.lit(29.0))
                / F.lit(90.0)
            ),
            4,
        ).alias("z_score"),
    )



_X489_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(floor(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                    / 100.0) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(y) AS HUGEINT) AS s1,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2,
         CAST(SUM(CAST(y AS HUGEINT) * y * y) AS HUGEINT) AS s3,
         CAST(SUM((CAST(y AS HUGEINT) * y) * (CAST(y AS HUGEINT) * y))
              AS HUGEINT) AS s4
  FROM daily
),
c AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM mom
),
k AS (
  SELECT n, mu,
         r2 - mu * mu AS m2,
         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
            - 3.0 * mu * mu * mu * mu AS m4
  FROM c
)
SELECT n AS n_days,
       ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
       ROUND(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis,
       ROUND(n * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                  / 6.0
                  + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                    / 24.0), 4) AS jarque_bera
FROM k
"""


@register(
    "x489_jarque_bera",
    _X489_ORACLE,
    doc="Jarque-Bera normality test on daily revenue: JB = "
        "n(g1^2/6 + g2^2/24) from exact skewness and excess "
        "kurtosis -- the named omnibus normality check that decides "
        "whether x286/x444-style t-based machinery is trustworthy "
        "on this series or the rank battery (x363/x445/x451) is "
        "required; completes the moment work x267 reports "
        "descriptively into a test statistic. Exactness: daily "
        "sums floor to integer DOLLARS, which keeps sum(y^4) "
        "inside HUGEINT/DECIMAL(38) through roughly sf1 (cents "
        "overflow already at sf0.1: (2.3e9)^4 * 2500 days > 1e38; "
        "dollar-grain daily revenue ~1e8 at sf1 gives ~1e32*2500 "
        "< 1e38, but sf10's ~1e9 days overflow -- above sf1 the "
        "quantization grain must scale with SF, e.g. thousands of "
        "dollars; the grain-SF contract is a stated part of the "
        "test); four raw-moment sums are exact "
        "integers, central moments and JB are fixed-order double "
        "arithmetic with m2*sqrt(m2), never pow. Scale: one "
        "day-grain aggregate, one 5-accumulator reduction",
)
def x489_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.floor(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0)).cast(
                    "long"
                )
            )
            / F.lit(100.0)
        )
        .cast("long")
        .alias("y")
    )
    yd = F.col("y").cast("decimal(38,0)")
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(yd).cast("decimal(38,0)").alias("s1"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("s2"),
        F.sum(yd * yd * F.col("y")).cast("decimal(38,0)").alias("s3"),
        F.sum((yd * yd) * (yd * yd))
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu
    m4 = (
        r4
        - F.lit(4.0) * mu * r3
        + F.lit(6.0) * mu * mu * r2
        - F.lit(3.0) * mu * mu * mu * mu
    )
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    return mom.select(
        n.alias("n_days"),
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("excess_kurtosis"),
        F.round(
            n * (g1 * g1 / F.lit(6.0) + g2 * g2 / F.lit(24.0)), 4
        ).alias("jarque_bera"),
    )


_X491_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
cal AS (SELECT y FROM daily WHERE day < DATE '1999-01-01'),
tst AS (SELECT y FROM daily WHERE day >= DATE '1999-01-01'),
ncal AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM cal),
thr AS (
  SELECT y AS thr FROM (
    SELECT y, row_number() OVER (ORDER BY y, 1) AS rn FROM cal
  ), ncal
  WHERE rn = CAST(ceil(0.95 * nc) AS BIGINT)
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN t.y > thr.thr THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM tst t, thr
)
SELECT ncal.nc AS n_calibration_days, s.n AS n_test_days,
       s.x AS n_exceedances,
       ROUND(CAST(s.x AS DOUBLE) / s.n, 6) AS observed_rate,
       ROUND(-2.0 * ((s.n - s.x) * ln(0.95) + s.x * ln(0.05))
             + 2.0 * ((s.n - s.x)
                      * ln(1.0 - CAST(s.x AS DOUBLE) / s.n)
                      + s.x * ln(CAST(s.x AS DOUBLE) / s.n)), 4)
         AS kupiec_lr
FROM s, ncal
"""


@register(
    "x491_kupiec_coverage",
    _X491_ORACLE,
    doc="Kupiec proportion-of-failures coverage backtest: calibrate "
        "a 95th-percentile daily-revenue threshold on the pre-1999 "
        "window (exact order statistic at ceil(0.95 n) -- x30's "
        "percentile semantics), then test whether the post-1999 "
        "exceedance RATE is still 5% via the binomial likelihood "
        "ratio LR = -2[ (n-x)ln .95 + x ln .05 ] + 2[ (n-x)ln(1-"
        "x/n) + x ln(x/n) ] -- the model-validation pattern (does "
        "yesterday's quantile still hold tomorrow?) that x126's "
        "freshness and x327's PSI drift never TEST, chi-square(1) "
        "under correct coverage. Exactness: integer-cent daily "
        "sums, deterministic order statistic (value, then fixed "
        "tie-break), exact exceedance counts; the LR is fixed-order "
        "double arithmetic over ln of exact ratios. Scale: "
        "one day-grain aggregate; the rank window rides the "
        "bounded calibration day domain",
)
def x491_kupiec_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    cal = daily.filter(F.col("day") < F.lit("1999-01-01").cast("date"))
    tst = daily.filter(
        F.col("day") >= F.lit("1999-01-01").cast("date")
    )
    ncal = cal.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    ranked = cal.select(
        "y",
        F.row_number()
        .over(Window.orderBy("y"))
        .cast("long")
        .alias("rn"),
    )
    thr = (
        ranked.crossJoin(F.broadcast(ncal))
        .filter(
            F.col("rn")
            == F.ceil(F.lit(0.95) * F.col("nc")).cast("long")
        )
        .select(F.col("y").alias("thr"))
    )
    s = tst.crossJoin(F.broadcast(thr)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("y") > F.col("thr"), 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    n, x = F.col("n"), F.col("x")
    rate = x.cast("double") / n
    lr = F.lit(-2.0) * (
        (n - x) * F.log(F.lit(0.95)) + x * F.log(F.lit(0.05))
    ) + F.lit(2.0) * (
        (n - x) * F.log(F.lit(1.0) - rate) + x * F.log(rate)
    )
    return (
        ncal.crossJoin(F.broadcast(s))
        .select(
            F.col("nc").alias("n_calibration_days"),
            n.alias("n_test_days"),
            x.alias("n_exceedances"),
            F.round(rate, 6).alias("observed_rate"),
            F.round(lr, 4).alias("kupiec_lr"),
        )
    )


_X490_ORACLE = """
WITH v AS (
  SELECT CAST(floor(o_totalprice / 100.0) AS BIGINT) AS bin,
         CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS b
  FROM orders GROUP BY 1
),
c AS (
  SELECT bin, a, b, a + b AS t,
         SUM(a) OVER (ORDER BY bin) - a AS pa,
         SUM(b) OVER (ORDER BY bin) - b AS pb,
         SUM(a + b) OVER (ORDER BY bin) - (a + b) AS pc
  FROM v
),
g AS (
  SELECT
    CAST(SUM(3 * a * (2 * pc - 2 * pa + t + 1)
                   * (2 * pc - 2 * pa + t + 1)
             - 6 * (2 * pc - 2 * pa + t + 1) * a * (a + 1)
             + 2 * a * (a + 1) * (2 * a + 1)) AS HUGEINT) AS u12a,
    CAST(SUM(3 * b * (2 * pc - 2 * pb + t + 1)
                   * (2 * pc - 2 * pb + t + 1)
             - 6 * (2 * pc - 2 * pb + t + 1) * b * (b + 1)
             + 2 * b * (b + 1) * (2 * b + 1)) AS HUGEINT) AS u12b,
    CAST(SUM(a) AS BIGINT) AS n, CAST(SUM(b) AS BIGINT) AS m
  FROM c
)
SELECT n AS n_even, m AS n_odd,
       ROUND((CAST(n AS DOUBLE) * CAST(u12a AS DOUBLE)
              + CAST(m AS DOUBLE) * CAST(u12b AS DOUBLE))
             / (12.0 * n * m * (n + m))
             - (4.0 * n * m - 1.0) / (6.0 * (n + m)), 6)
         AS cvm_t
FROM g
"""


@register(
    "x490_cramer_von_mises",
    _X490_ORACLE,
    doc="two-sample Cramer-von Mises T on $100-binned order totals "
        "(even vs odd orderkey -- a true-null split, so T sits near "
        "its ~0.08-0.46 null range; the binning is a stated part of "
        "the test, x363's recipe): the INTEGRATED-squared-ECDF-gap "
        "test that weights the whole distribution where x224's KS "
        "sees only the supremum -- KS misses diffuse many-quantile "
        "drift, CvM catches it. Exactness: Anderson's rank "
        "computing formula with ties handled by CLOSED-FORM "
        "per-tie-group sums -- 12*Sum_i(r_i - i)^2 over a group "
        "collapses to 3a*U2^2 - 6*U2*a(a+1) + 2a(a+1)(2a+1) with "
        "U2 = 2C - 2A + t + 1 (doubled mid-ranks), so U is an "
        "EXACT integer with no per-item expansion and no float "
        "ranks; one rounded double expression ends it. Scale: one "
        "contingency aggregate to the bounded bin domain, three "
        "prefix sums on one bounded-domain window",
)
def x490_cramer_von_mises(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    v = orders.groupBy(
        F.floor(F.col("o_totalprice") / F.lit(100.0))
        .cast("long")
        .alias("bin")
    ).agg(
        F.sum(F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("o_orderkey") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    t = F.col("a") + F.col("b")
    c = v.select(
        "a",
        "b",
        t.alias("t"),
        (F.sum("a").over(w) - F.col("a")).alias("pa"),
        (F.sum("b").over(w) - F.col("b")).alias("pb"),
        (F.sum(t).over(w) - t).alias("pc"),
    )
    u2a = 2 * F.col("pc") - 2 * F.col("pa") + F.col("t") + 1
    u2b = 2 * F.col("pc") - 2 * F.col("pb") + F.col("t") + 1
    a, b = F.col("a"), F.col("b")
    g = c.agg(
        F.sum(
            (3 * a * u2a * u2a
             - 6 * u2a * a * (a + 1)
             + 2 * a * (a + 1) * (2 * a + 1)).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("u12a"),
        F.sum(
            (3 * b * u2b * u2b
             - 6 * u2b * b * (b + 1)
             + 2 * b * (b + 1) * (2 * b + 1)).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("u12b"),
        F.sum("a").cast("long").alias("n"),
        F.sum("b").cast("long").alias("m"),
    )
    n, m = F.col("n"), F.col("m")
    return g.select(
        n.alias("n_even"),
        m.alias("n_odd"),
        F.round(
            (
                n.cast("double") * F.col("u12a").cast("double")
                + m.cast("double") * F.col("u12b").cast("double")
            )
            / (F.lit(12.0) * n * m * (n + m))
            - (F.lit(4.0) * n * m - F.lit(1.0))
              / (F.lit(6.0) * (n + m)),
            6,
        ).alias("cvm_t"),
    )


_X492_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
per AS (
  SELECT i.day,
         2 + CAST(SUM(CASE WHEN j.x < i.x THEN 2
                           WHEN j.x = i.x THEN 1 ELSE 0 END)
                  AS BIGINT) AS r2,
         2 + CAST(SUM(CASE WHEN j.y < i.y THEN 2
                           WHEN j.y = i.y THEN 1 ELSE 0 END)
                  AS BIGINT) AS s2,
         4 + CAST(SUM((CASE WHEN j.x < i.x THEN 2
                            WHEN j.x = i.x THEN 1 ELSE 0 END)
                      * (CASE WHEN j.y < i.y THEN 2
                              WHEN j.y = i.y THEN 1 ELSE 0 END))
                  AS BIGINT) AS q4
  FROM daily i JOIN daily j ON i.day <> j.day
  GROUP BY 1
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(q4 - 4 AS HUGEINT) * (q4 - 8)) AS HUGEINT)
           AS d1,
         CAST(SUM(CAST(r2 - 2 AS HUGEINT) * (r2 - 4)
                  * (s2 - 2) * (s2 - 4)) AS HUGEINT) AS d2,
         CAST(SUM(CAST(r2 - 4 AS HUGEINT) * (s2 - 4) * (q4 - 4))
              AS HUGEINT) AS d3
  FROM per
)
SELECT n AS n_days,
       ROUND(30.0 * CAST((n - 2) * (n - 3) * d1 + d2
                         - 2 * (n - 2) * d3 AS DOUBLE)
             / (16.0 * n * (n - 1.0) * (n - 2.0) * (n - 3.0)
                * (n - 4.0)), 6) AS hoeffding_d
FROM agg
"""


@register(
    "x492_hoeffding_d",
    _X492_ORACLE,
    doc="Hoeffding's D dependence test between daily revenue and "
        "daily order count -- the rank statistic that detects "
        "NON-MONOTONE dependence the whole existing correlation "
        "suite is blind to (x147 Pearson = linear, x382 Spearman / "
        "x357 Kendall = monotone, x154 MI needs binning; on a "
        "parabola all three read ~0 while D reads 0.24 -- property-"
        "verified in numpy: D(x,x)=1, D(indep)~0). Exactness: the "
        "tie convention (half credit) integerizes by DOUBLED "
        "dominance credits cx2 = 2[x_j<x_i] + [x_j=x_i], giving "
        "exact integer doubled midranks R2 = 2+sum cx2 and "
        "quadrupled bivariate ranks Q4 = 4+sum cx2*cy2, so "
        "D1/D2/D3 and the 16-scaled numerator are exact integers "
        "with ONE double division. Scale: the corpus collapses to "
        "the bounded day table FIRST; the O(n^2) dominance scan is "
        "x357's broadcast-pair pattern over that bounded domain, "
        "never the fact table",
)
def x492_hoeffding_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    )
    i = daily.select(
        F.col("day").alias("di"), F.col("x").alias("xi"),
        F.col("y").alias("yi"),
    )
    j = daily.select(
        F.col("day").alias("dj"), F.col("x").alias("xj"),
        F.col("y").alias("yj"),
    )
    cx2 = (
        F.when(F.col("xj") < F.col("xi"), 2)
        .when(F.col("xj") == F.col("xi"), 1)
        .otherwise(0)
    )
    cy2 = (
        F.when(F.col("yj") < F.col("yi"), 2)
        .when(F.col("yj") == F.col("yi"), 1)
        .otherwise(0)
    )
    per = (
        i.join(F.broadcast(j), F.col("di") != F.col("dj"))
        .groupBy("di")
        .agg(
            (F.lit(2) + F.sum(cx2)).cast("long").alias("r2"),
            (F.lit(2) + F.sum(cy2)).cast("long").alias("s2"),
            (F.lit(4) + F.sum(cx2 * cy2)).cast("long").alias("q4"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.col("q4") - 4).cast("decimal(38,0)") * (F.col("q4") - 8)
        )
        .cast("decimal(38,0)")
        .alias("d1"),
        F.sum(
            (F.col("r2") - 2).cast("decimal(38,0)")
            * (F.col("r2") - 4)
            * (F.col("s2") - 2)
            * (F.col("s2") - 4)
        )
        .cast("decimal(38,0)")
        .alias("d2"),
        F.sum(
            (F.col("r2") - 4).cast("decimal(38,0)")
            * (F.col("s2") - 4)
            * (F.col("q4") - 4)
        )
        .cast("decimal(38,0)")
        .alias("d3"),
    )
    n = F.col("n")
    num = (
        (n - 2).cast("decimal(38,0)") * (n - 3) * F.col("d1")
        + F.col("d2")
        - F.lit(2).cast("decimal(38,0)") * (n - 2) * F.col("d3")
    )
    return agg.select(
        n.alias("n_days"),
        F.round(
            F.lit(30.0)
            * num.cast("double")
            / (
                F.lit(16.0)
                * n
                * (n - F.lit(1.0))
                * (n - F.lit(2.0))
                * (n - F.lit(3.0))
                * (n - F.lit(4.0))
            ),
            6,
        ).alias("hoeffding_d"),
    )


_X493_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
cal AS (SELECT y FROM daily WHERE day < DATE '1999-01-01'),
tst AS (SELECT y FROM daily WHERE day >= DATE '1999-01-01'),
cstat AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(y) AS HUGEINT) AS s
  FROM cal
),
spread AS (
  SELECT CAST(SUM((2 * rk - m - 1) * CAST(y AS HUGEINT)) AS HUGEINT)
           AS gmd2
  FROM (
    SELECT y, row_number() OVER (ORDER BY y, 1) AS rk FROM cal
  ), cstat
),
below AS (
  SELECT t.y,
         CAST(COALESCE((SELECT count(*) FROM cal c
                        WHERE c.y < t.y), 0) AS BIGINT) AS cl,
         CAST(COALESCE((SELECT SUM(c.y) FROM cal c
                        WHERE c.y < t.y), 0) AS HUGEINT) AS sl
  FROM tst t
),
terms AS (
  SELECT CAST(count(*) AS BIGINT) AS nt,
         CAST(SUM(2 * (CAST(b.y AS HUGEINT) * b.cl - b.sl)
                  + (cs.s - CAST(b.y AS HUGEINT) * cs.m))
              AS HUGEINT) AS absum
  FROM below b, cstat cs
)
SELECT cs.m AS n_calibration_days, t.nt AS n_test_days,
       ROUND(CAST(t.absum AS DOUBLE) / t.nt / cs.m / 100.0, 4)
         AS mean_abs_term_dollars,
       ROUND(2.0 * CAST(sp.gmd2 AS DOUBLE)
             / (CAST(cs.m AS DOUBLE) * cs.m) / 100.0, 4)
         AS spread_term_dollars,
       ROUND(CAST(t.absum AS DOUBLE) / t.nt / cs.m / 100.0
             - CAST(sp.gmd2 AS DOUBLE)
               / (CAST(cs.m AS DOUBLE) * cs.m) / 100.0, 4)
         AS mean_crps_dollars
FROM cstat cs, spread sp, terms t
"""


@register(
    "x493_crps_backtest",
    _X493_ORACLE,
    doc="CRPS backtest of the climatological forecast: score the "
        "pre-1999 empirical daily-revenue distribution against each "
        "post-1999 observation with the continuous ranked "
        "probability score CRPS(F,y) = E|X-y| - E|X-X'|/2 -- the "
        "PROPER scoring rule for distributional forecasts that "
        "x491's Kupiec (one quantile's coverage) and x207's WMAPE "
        "(point forecasts) cannot provide; climatological CRPS is "
        "the canonical skill baseline any real forecaster must "
        "beat. Exactness: both expectations collapse to EXACT "
        "integer identities -- sum|x-y| = 2(y*cl - sl) + (S - y*m) "
        "from strictly-below counts/sums (equal values cancel), "
        "and sum_ij|x_i - x_j| = 2 sum_k (2k - m - 1) x_(k) via "
        "the sorted Gini-mean-difference form -- so every term is "
        "an exact HUGEINT/DECIMAL sum with three final rounded "
        "divisions. Scale: one day-grain aggregate; the rank and "
        "below-counts ride the bounded calibration day domain "
        "(broadcast to test days)",
)
def x493_crps_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    cal = daily.filter(
        F.col("day") < F.lit("1999-01-01").cast("date")
    ).select("y")
    tst = daily.filter(
        F.col("day") >= F.lit("1999-01-01").cast("date")
    ).select("y")
    cstat = cal.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("y").cast("decimal(38,0)").alias("s"),
    )
    ranked = cal.select(
        "y",
        F.row_number()
        .over(Window.orderBy("y"))
        .cast("long")
        .alias("rk"),
    )
    spread = ranked.crossJoin(F.broadcast(cstat)).agg(
        F.sum(
            (2 * F.col("rk") - F.col("m") - 1).cast("decimal(38,0)")
            * F.col("y")
        )
        .cast("decimal(38,0)")
        .alias("gmd2")
    )
    calv = cal.select(F.col("y").alias("cy"))
    # Dedupe test values BEFORE the below-join: joining raw test rows
    # would fan each value out by its calibration-match count AND its
    # own multiplicity, double-counting both cl and w.
    tdist = tst.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    below = (
        tdist.join(
            F.broadcast(calv), F.col("cy") < F.col("y"), "left"
        )
        .groupBy("y", "w")
        .agg(
            F.count("cy").cast("long").alias("cl"),
            F.coalesce(F.sum("cy"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("sl"),
        )
    )
    terms = (
        below.crossJoin(F.broadcast(cstat))
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)")).cast("long")
            .alias("nt"),
            F.sum(
                F.col("w").cast("decimal(38,0)")
                * (
                    F.lit(2).cast("decimal(38,0)")
                    * (
                        F.col("y").cast("decimal(38,0)") * F.col("cl")
                        - F.col("sl")
                    )
                    + (
                        F.col("s")
                        - F.col("y").cast("decimal(38,0)") * F.col("m")
                    )
                )
            )
            .cast("decimal(38,0)")
            .alias("absum"),
        )
    )
    md = F.col("m").cast("double")
    abterm = (
        F.col("absum").cast("double") / F.col("nt") / F.col("m")
        / F.lit(100.0)
    )
    spterm = (
        F.lit(2.0) * F.col("gmd2").cast("double") / (md * F.col("m"))
        / F.lit(100.0)
    )
    return (
        cstat.crossJoin(F.broadcast(spread))
        .crossJoin(F.broadcast(terms))
        .select(
            F.col("m").alias("n_calibration_days"),
            F.col("nt").alias("n_test_days"),
            F.round(abterm, 4).alias("mean_abs_term_dollars"),
            F.round(spterm, 4).alias("spread_term_dollars"),
            F.round(abterm - spterm / F.lit(2.0), 4).alias(
                "mean_crps_dollars"
            ),
        )
    )


_X494_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
),
cal AS (SELECT dow, y FROM daily WHERE day < DATE '1999-01-01'),
tst AS (SELECT dow, y FROM daily WHERE day >= DATE '1999-01-01'),
qs AS (SELECT unnest([1, 5, 9]) AS q10),
ranked AS (
  SELECT dow, y,
         row_number() OVER (PARTITION BY dow ORDER BY y, 1) AS rn,
         count(*) OVER (PARTITION BY dow) AS nc
  FROM cal
),
fc AS (
  SELECT r.dow, q.q10, r.y AS f
  FROM ranked r JOIN qs q
    ON r.rn = CAST(ceil(q.q10 * r.nc / 10.0) AS BIGINT)
),
loss AS (
  SELECT f.q10, CAST(count(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN t.y >= f.f
                  THEN f.q10 * (t.y - f.f)
                  ELSE (10 - f.q10) * (f.f - t.y) END)
              AS HUGEINT) AS pl10
  FROM tst t JOIN fc f ON f.dow = t.dow
  GROUP BY 1
)
SELECT ROUND(q10 / 10.0, 1) AS quantile, n_test,
       ROUND(CAST(pl10 AS DOUBLE) / n_test / 10.0 / 100.0, 4)
         AS mean_pinball_dollars
FROM loss ORDER BY q10
"""


@register(
    "x494_pinball_backtest",
    _X494_ORACLE,
    doc="pinball-loss backtest of per-weekday quantile forecasts: "
        "calibrate the q in {0.1, 0.5, 0.9} exact order statistics "
        "of pre-1999 daily revenue PER WEEKDAY (the seasonal-"
        "climatology quantile model), score post-1999 days with "
        "the quantile loss L_q = q(y-f)+ / (1-q)(f-y)+ -- the "
        "PROPER score for a quantile forecast, which x207's WMAPE "
        "(point) and x491's Kupiec (coverage only, ignores "
        "magnitude) both miss; per-q losses are how a capacity "
        "planner chooses between under- and over-provisioning "
        "risk. Exactness: thresholds are deterministic order "
        "statistics (ceil(q*n) rank, fixed tie-break); 10q in "
        "{1, 5, 9} makes every loss 10x-scaled an exact integer, "
        "so the loss sums are exact with one final division. "
        "Scale: day-grain aggregate; rank windows ride weekday-"
        "partitioned bounded calibration domains; the forecast "
        "table (7 x 3 rows) broadcasts to the test days",
)
def x494_pinball_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek(F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("dow"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y")
    )
    cal = daily.filter(
        F.col("day") < F.lit("1999-01-01").cast("date")
    )
    tst = daily.filter(
        F.col("day") >= F.lit("1999-01-01").cast("date")
    ).select("dow", "y")
    ranked = cal.select(
        "dow",
        "y",
        F.row_number()
        .over(Window.partitionBy("dow").orderBy("y"))
        .cast("long")
        .alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("dow"))
        .cast("long")
        .alias("nc"),
    )
    qs = spark.range(0, 3).select(
        (F.col("id") * 4 + 1).cast("long").alias("q10")
    )
    fc = ranked.crossJoin(F.broadcast(qs)).filter(
        F.col("rn")
        == F.ceil(
            F.col("q10") * F.col("nc") / F.lit(10.0)
        ).cast("long")
    ).select("dow", "q10", F.col("y").alias("f"))
    loss = (
        tst.join(F.broadcast(fc), "dow")
        .groupBy("q10")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.col("y") >= F.col("f"),
                    F.col("q10") * (F.col("y") - F.col("f")),
                ).otherwise(
                    (F.lit(10) - F.col("q10"))
                    * (F.col("f") - F.col("y"))
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("pl10"),
        )
    )
    return loss.select(
        F.round(F.col("q10") / F.lit(10.0), 1).alias("quantile"),
        "n_test",
        F.round(
            F.col("pl10").cast("double")
            / F.col("n_test")
            / F.lit(10.0)
            / F.lit(100.0),
            4,
        ).alias("mean_pinball_dollars"),
    ).orderBy("quantile")


_X495_ORACLE = """
WITH r AS (
  SELECT
    doc_id,
    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS r1,
    CASE WHEN len(string_split(text, ' ')) < 5 THEN NULL
         WHEN text LIKE '% the %' THEN 1 ELSE 0 END AS r2,
    CASE WHEN length(text) < 30 THEN NULL
         WHEN length(regexp_replace(text, '[^0-9]', '', 'g')) * 20
              <= length(text) THEN 1 ELSE 0 END AS r3
  FROM documents
),
u AS (
  SELECT doc_id,
         CAST(COALESCE(r1, 0) + COALESCE(r2, 0) + COALESCE(r3, 0)
              AS BIGINT) AS pos,
         CAST((CASE WHEN r1 IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN r2 IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN r3 IS NULL THEN 0 ELSE 1 END)
              AS BIGINT) AS m
  FROM r
),
uu AS (SELECT pos, m, m - pos AS neg FROM u WHERE m >= 2),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM((pos * (pos - 1) + neg * (neg - 1))
                  * (6 // (m * (m - 1)))) AS BIGINT) AS pa6,
         CAST(SUM(pos * (6 // m)) AS BIGINT) AS pi6
  FROM uu
)
SELECT n AS n_units,
       ROUND(CAST(pa6 AS DOUBLE) / (6.0 * n), 6)
         AS percent_agreement,
       ROUND(2.0 * (CAST(pi6 AS DOUBLE) / (6.0 * n))
             * (1.0 - CAST(pi6 AS DOUBLE) / (6.0 * n)), 6)
         AS chance_agreement,
       ROUND((CAST(pa6 AS DOUBLE) / (6.0 * n)
              - 2.0 * (CAST(pi6 AS DOUBLE) / (6.0 * n))
                * (1.0 - CAST(pi6 AS DOUBLE) / (6.0 * n)))
             / (1.0 - 2.0 * (CAST(pi6 AS DOUBLE) / (6.0 * n))
                      * (1.0 - CAST(pi6 AS DOUBLE) / (6.0 * n))), 6)
         AS gwet_ac1
FROM s
"""


@register(
    "x495_gwet_ac1",
    _X495_ORACLE,
    doc="Gwet's AC1 over x473's ragged three-rater panel -- the "
        "agreement coefficient that stays stable under EXTREME "
        "prevalence where kappa-family statistics (x298, x391) "
        "collapse (the 'kappa paradox': 95% raw agreement can "
        "yield near-zero kappa when one class dominates, because "
        "kappa's chance term conditions on the skewed marginals; "
        "AC1's chance term 2pi(1-pi) peaks at pi=0.5 and vanishes "
        "at the extremes) -- together with x473 the panel gives "
        "the reliability bracket practitioners actually report. "
        "Exactness: with unit sizes m in {2,3}, per-unit agreement "
        "shares and prevalence shares scale by 6 into exact "
        "integers (6/(m(m-1)) in {1,3}, 6/m in {2,3}), so Pa and "
        "pi are exact sixths over n with all divisions at the end. "
        "Scale: expression-only ratings, one 3-accumulator "
        "reduction, no joins at all",
)
def x495_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    r1 = F.when(F.col("n_chars") >= 200, F.lit(1)).otherwise(F.lit(0))
    r2 = F.when(
        F.size(F.split(F.col("text"), " ")) < 5, F.lit(None)
    ).otherwise(
        F.when(F.col("text").like("% the %"), F.lit(1)).otherwise(
            F.lit(0)
        )
    )
    r3 = F.when(F.length("text") < 30, F.lit(None)).otherwise(
        F.when(
            F.length(F.regexp_replace("text", "[^0-9]", "")) * 20
            <= F.length("text"),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    u = docs.select(
        (
            F.coalesce(r1, F.lit(0))
            + F.coalesce(r2, F.lit(0))
            + F.coalesce(r3, F.lit(0))
        )
        .cast("long")
        .alias("pos"),
        (
            F.when(r1.isNull(), 0).otherwise(1)
            + F.when(r2.isNull(), 0).otherwise(1)
            + F.when(r3.isNull(), 0).otherwise(1)
        )
        .cast("long")
        .alias("m"),
    ).filter(F.col("m") >= 2)
    uu = u.select("pos", "m", (F.col("m") - F.col("pos")).alias("neg"))
    s = uu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (
                F.col("pos") * (F.col("pos") - 1)
                + F.col("neg") * (F.col("neg") - 1)
            )
            * F.expr("6 div (m * (m - 1))")
        )
        .cast("long")
        .alias("pa6"),
        F.sum(F.col("pos") * F.expr("6 div m"))
        .cast("long")
        .alias("pi6"),
    )
    nd = F.col("n")
    pa = F.col("pa6").cast("double") / (F.lit(6.0) * nd)
    pi = F.col("pi6").cast("double") / (F.lit(6.0) * nd)
    pe = F.lit(2.0) * pi * (F.lit(1.0) - pi)
    return s.select(
        nd.alias("n_units"),
        F.round(pa, 6).alias("percent_agreement"),
        F.round(pe, 6).alias("chance_agreement"),
        F.round((pa - pe) / (F.lit(1.0) - pe), 6).alias("gwet_ac1"),
    )


_X496_ORACLE = """
WITH base AS (
  SELECT o_totalprice AS v FROM orders
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(v * 100.0) AS BIGINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(floor(v * 100.0) AS BIGINT)
                  * CAST(floor(v * 100.0) AS HUGEINT)) AS HUGEINT)
           AS s2,
         quantile_cont(v, 0.25) AS q1,
         quantile_cont(v, 0.75) AS q3,
         min(v) AS lo, max(v) AS hi
  FROM base
)
SELECT n,
       ROUND(q3 - q1, 4) AS iqr,
       ROUND(sqrt(CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n)) / 100.0, 4) AS sigma,
       ROUND(2.0 * (q3 - q1) / cbrt(CAST(n AS DOUBLE)), 4)
         AS fd_width,
       CAST(ceil((hi - lo)
                 / (2.0 * (q3 - q1) / cbrt(CAST(n AS DOUBLE))))
            AS BIGINT) AS fd_bins,
       ROUND(3.49 * (sqrt(CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n)) / 100.0)
             / cbrt(CAST(n AS DOUBLE)), 4) AS scott_width,
       CAST(ceil(ln(CAST(n AS DOUBLE)) / ln(2.0)) + 1 AS BIGINT)
         AS sturges_bins
FROM s
"""


@register(
    "x496_binning_advisor",
    _X496_ORACLE,
    doc="histogram-binning advisor for order totals: Freedman-"
        "Diaconis width 2*IQR/n^(1/3) (robust), Scott width "
        "3.49*sigma/n^(1/3) (efficient under normality), and "
        "Sturges ceil(log2 n)+1 -- the principled bin-count "
        "choices x22/x191's fixed-grid histograms take as input, "
        "resolving the 'how many buckets' question every profiling "
        "pass (x43, x174) otherwise hard-codes; FD >> Scott "
        "signals heavy tails (bins sized by x489's verdict). "
        "Exactness: sigma from exact integer-cent moment sums; "
        "IQR via the engines' exact interpolated quantile "
        "(x254's percentile-semantics contract); cbrt/sqrt on "
        "identical doubles; counts integer. Scale: one sort-"
        "aggregate for the two quantiles, one moment reduction -- "
        "no windows, no joins",
)
def x496_binning_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    vq = F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
    s = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vq).cast("decimal(38,0)").alias("s1"),
        F.sum(vq.cast("decimal(38,0)") * vq)
        .cast("decimal(38,0)")
        .alias("s2"),
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )
    nd = F.col("n").cast("double")
    sigma = (
        F.sqrt(
            F.col("s2").cast("double") / F.col("n")
            - (F.col("s1").cast("double") / F.col("n"))
            * (F.col("s1").cast("double") / F.col("n"))
        )
        / F.lit(100.0)
    )
    iqr = F.col("q3") - F.col("q1")
    fd = F.lit(2.0) * iqr / F.cbrt(nd)
    return s.select(
        "n",
        F.round(iqr, 4).alias("iqr"),
        F.round(sigma, 4).alias("sigma"),
        F.round(fd, 4).alias("fd_width"),
        F.ceil((F.col("hi") - F.col("lo")) / fd)
        .cast("long")
        .alias("fd_bins"),
        F.round(F.lit(3.49) * sigma / F.cbrt(nd), 4).alias(
            "scott_width"
        ),
        (F.ceil(F.log(nd) / F.log(F.lit(2.0))) + 1)
        .cast("long")
        .alias("sturges_bins"),
    )


def _x497_oracle() -> str:
    from .foundations import _STOP_EN, _X03_PAIRS_CTE

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
clus AS (SELECT node, MIN(lbl) AS rep FROM walk GROUP BY node),
scored AS (
  SELECT doc_id,
         CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t2 -> t2 IN ({_STOP_EN}))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s
  FROM documents
),
g AS (
  SELECT c.rep,
         CAST(count(*) AS BIGINT) AS members,
         CAST(MAX(s.p_s) AS BIGINT) AS best,
         CAST(MAX(CASE WHEN c.node = c.rep THEN s.p_s END)
              AS BIGINT) AS repscore
  FROM clus c JOIN scored s ON s.doc_id = c.node
  GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN best > repscore THEN 1 ELSE 0 END)
            AS BIGINT) AS n_regret_clusters,
       ROUND(CAST(SUM(best - repscore) AS DOUBLE)
             / count(*) / 10000.0, 6) AS mean_regret,
       ROUND(CAST(MAX(best - repscore) AS DOUBLE) / 10000.0, 4)
         AS max_regret
FROM g
"""


@register(
    "x497_survivor_regret",
    _x497_oracle(),
    doc="survivor-policy quality regret: for every x24 near-dup "
        "cluster, compare the quality score of the KEPT document "
        "(min-doc_id convention, x01/x24's policy) against the best "
        "score in the cluster -- the measured cost of keeping-first "
        "instead of keeping-BEST, which is the actual decision a "
        "curation pipeline must make and that x24 (who clusters), "
        "x11 (who scores) and x120 (who counts) never connect: "
        "mean/max regret in score units plus how many clusters "
        "kept a suboptimal survivor. Exactness: clusters from the "
        "proven min-label propagation; scores are x315's integer "
        "p_s; best/rep/regret are exact integer max/difference "
        "with two final divisions. Scale: rides the shared cached "
        "pair stage (one computation per session across "
        "x03/x24/x44/x115/x307), then one cluster-keyed aggregate "
        "over duplicate rows only",
)
def x497_survivor_regret(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ...ops import dedup as dedup_ops
    from ...ops import text
    from .foundations import _shared_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    clus = dedup_ops.duplicate_clusters(
        _shared_jaccard_pairs(spark, sf_dir)
    )
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(F.col("doc_id"), p_s.alias("p_s"))
    g = (
        clus.join(scored, clus["node"] == scored["doc_id"])
        .groupBy("rep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("members"),
            F.max("p_s").cast("long").alias("best"),
            F.max(
                F.when(F.col("node") == F.col("rep"), F.col("p_s"))
            )
            .cast("long")
            .alias("repscore"),
        )
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(
            F.when(F.col("best") > F.col("repscore"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_regret_clusters"),
        F.round(
            F.sum(F.col("best") - F.col("repscore")).cast("double")
            / F.count(F.lit(1))
            / F.lit(10000.0),
            6,
        ).alias("mean_regret"),
        F.round(
            F.max(F.col("best") - F.col("repscore")).cast("double")
            / F.lit(10000.0),
            4,
        ).alias("max_regret"),
    )


_X498_ORACLE = """
WITH bits AS (SELECT unnest([2, 4, 6, 8]) AS b),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
err AS (
  SELECT bits.b, t.x,
         CAST(floor((t.x - (floor(t.x * (1 << (bits.b - 1))) + 0.5)
                            / (1 << (bits.b - 1)))
                    * 1073741824.0) AS BIGINT) AS eq
  FROM e, bits, UNNEST(e.v) AS t(x)
),
s AS (
  SELECT b, CAST(count(*) AS BIGINT) AS nvals,
         CAST(SUM(CAST(eq AS HUGEINT) * eq) AS HUGEINT) AS se2,
         CAST(MAX(ABS(eq)) AS BIGINT) AS memax
  FROM err GROUP BY 1
)
SELECT CAST(b AS BIGINT) AS bits,
       CAST(32 / b AS BIGINT) AS compression_x,
       ROUND(sqrt(CAST(se2 AS DOUBLE) / nvals)
             / 1073741824.0, 9) AS rmse,
       ROUND(CAST(memax AS DOUBLE) / 1073741824.0, 9)
         AS max_abs_err
FROM s ORDER BY bits
"""


@register(
    "x498_quantization_curve",
    _X498_ORACLE,
    doc="scalar-quantization distortion CURVE for the embedding "
        "store: for b in {2,4,6,8} bits/dim, midpoint-dequantized "
        "uniform grids code = floor(v * 2^(b-1)), deq = "
        "(code + 0.5)/2^(b-1), reporting RMSE and worst-case error "
        "per bit width -- the rate-distortion table that decides "
        "how far below x94's fixed int8 an ANN index can compress "
        "before x438's matryoshka-style recall loss bites (RMSE "
        "halves per bit: the measured curve verifies the 2x law "
        "end-to-end). Exactness: embeddings live in [-1, 1], so "
        "code/dequant/error are ALL exact dyadic arithmetic "
        "(power-of-two multiplies of float-mantissa values), and "
        "the error quantizes exactly at 2^30 into integer "
        "quadratic sums -- zero approximation anywhere. Scale: "
        "per-row local HOF work fanned out by a 4-row VALUES, one "
        "(b)-keyed 3-accumulator aggregate, no joins, map-side "
        "combine",
)
def x498_quantization_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bits = spark.range(1, 5).select(
        (F.col("id") * 2).cast("int").alias("b")
    )
    err = (
        emb.select(
            F.transform(
                "embedding", lambda v: v.cast("double")
            ).alias("v")
        )
        .crossJoin(F.broadcast(bits))
        .select(
            "b",
            F.explode(
                F.expr(
                    "transform(v, x -> cast(floor((x - "
                    "(floor(x * shiftleft(1, b - 1)) + 0.5d) "
                    "/ shiftleft(1, b - 1)) * 1073741824.0d) "
                    "as bigint))"
                )
            ).alias("eq"),
        )
    )
    s = err.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("nvals"),
        F.sum(F.col("eq").cast("decimal(38,0)") * F.col("eq"))
        .cast("decimal(38,0)")
        .alias("se2"),
        F.max(F.abs(F.col("eq"))).cast("long").alias("memax"),
    )
    return s.select(
        F.col("b").cast("long").alias("bits"),
        (F.lit(32) / F.col("b")).cast("long").alias("compression_x"),
        F.round(
            F.sqrt(F.col("se2").cast("double") / F.col("nvals"))
            / F.lit(1073741824.0),
            9,
        ).alias("rmse"),
        F.round(
            F.col("memax").cast("double") / F.lit(1073741824.0), 9
        ).alias("max_abs_err"),
    ).orderBy("bits")


_X499_ORACLE = """
WITH depths AS (SELECT unnest([4, 8, 16, 32]) AS d),
t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks
  FROM documents
),
p AS (
  SELECT depths.d,
         md5(array_to_string(t.toks[1:depths.d], ' ')) AS h
  FROM t, depths
  WHERE len(t.toks) >= depths.d
),
g AS (
  SELECT d, h, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2
),
s AS (
  SELECT d, CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(SUM(c - 1) AS BIGINT) AS dup_docs,
         CAST(SUM((c - 1) * d) AS BIGINT) AS cached_tokens
  FROM g GROUP BY 1
)
SELECT CAST(d AS BIGINT) AS depth, n_docs, n_distinct, dup_docs,
       ROUND(CAST(dup_docs AS DOUBLE) / n_docs, 6)
         AS prefix_cache_hit_rate,
       cached_tokens
FROM s ORDER BY depth
"""


@register(
    "x499_prefix_cache_curve",
    _X499_ORACLE,
    doc="prefix-cache hit-depth curve: for prefix depths d in "
        "{4, 8, 16, 32} tokens, the fraction of documents whose "
        "first-d-token prefix was already seen (md5 grouping over "
        "docs with >= d tokens) and the total prefix tokens a "
        "dedup-aware KV-cache would re-serve -- the serving-side "
        "capacity model behind prefix caching, and the DEPTH "
        "dimension x133's fixed-8-token templated-doc detector "
        "collapses (hit rate falling off a cliff between d=8 and "
        "d=16 means template heads with divergent bodies: cache "
        "the head, not the doc). Exactness: token slices and md5 "
        "are deterministic, every count exact, one rounded "
        "division per depth. Scale: one token pass fanned out by "
        "a 4-row VALUES into a (depth, hash)-keyed groupBy -- "
        "x133's one-narrow-groupBy shape, map-side combined, no "
        "shingles, no pairs",
)
def x499_prefix_cache_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    depths = spark.range(0, 4).select(
        F.expr("shiftleft(4, cast(id as int))").alias("d")
    )
    t = docs.select(_toks("text").alias("toks"))
    p = (
        t.crossJoin(F.broadcast(depths))
        .filter(F.size("toks") >= F.col("d"))
        .select(
            "d",
            F.md5(
                F.expr("concat_ws(' ', slice(toks, 1, d))")
            ).alias("h"),
        )
    )
    g = p.groupBy("d", "h").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    s = g.groupBy("d").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") - 1).cast("long").alias("dup_docs"),
        F.sum((F.col("c") - 1) * F.col("d"))
        .cast("long")
        .alias("cached_tokens"),
    )
    return s.select(
        F.col("d").cast("long").alias("depth"),
        "n_docs",
        "n_distinct",
        "dup_docs",
        F.round(
            F.col("dup_docs").cast("double") / F.col("n_docs"), 6
        ).alias("prefix_cache_hit_rate"),
        "cached_tokens",
    ).orderBy("depth")


def _x500_oracle() -> str:
    from .foundations import _STOP_EN

    return f"""
WITH scored AS (
  SELECT source,
         CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t2 -> t2 IN ({_STOP_EN}))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
cells AS (
  SELECT source, p_s, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS np
  FROM scored GROUP BY 1, 2
),
doms AS (SELECT DISTINCT p_s AS t FROM cells),
gtot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(np) AS BIGINT) AS p_all
  FROM cells
),
gsweep AS (
  SELECT d.t,
         CAST(SUM(CASE WHEN c.p_s >= d.t THEN c.np ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN c.p_s >= d.t THEN c.n - c.np ELSE 0 END)
              AS BIGINT) AS fp
  FROM doms d, cells c
  GROUP BY 1
),
gbest AS (
  SELECT t AS g_t,
         ROUND(2.0 * tp / (2.0 * tp + fp + (g.p_all - tp)), 8)
           AS g_f1
  FROM gsweep, gtot g
  ORDER BY ROUND(2.0 * tp / (2.0 * tp + fp + (g.p_all - tp)), 8)
           DESC, t ASC
  LIMIT 1
),
stot AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_s,
         CAST(SUM(np) AS BIGINT) AS p_s_tot
  FROM cells GROUP BY 1
),
ssweep AS (
  SELECT c.source, d.t,
         CAST(SUM(CASE WHEN c.p_s >= d.t THEN c.np ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN c.p_s >= d.t THEN c.n - c.np ELSE 0 END)
              AS BIGINT) AS fp
  FROM doms d, cells c
  GROUP BY 1, 2
),
sf1 AS (
  SELECT s.source, s.t,
         ROUND(2.0 * s.tp
               / (2.0 * s.tp + s.fp + (st.p_s_tot - s.tp)), 8)
           AS f1
  FROM ssweep s JOIN stot st ON st.source = s.source
),
sbest AS (
  SELECT source, t AS own_t, f1 AS own_f1
  FROM (
    SELECT source, t, f1,
           row_number() OVER (PARTITION BY source
                              ORDER BY f1 DESC, t ASC) AS rn
    FROM sf1
  ) WHERE rn = 1
),
transfer AS (
  SELECT f.source, f.f1 AS global_f1
  FROM sf1 f, gbest WHERE f.t = gbest.g_t
)
SELECT b.source, b.own_t AS own_threshold,
       ROUND(b.own_f1, 6) AS own_f1,
       ROUND(tr.global_f1, 6) AS global_threshold_f1,
       ROUND(b.own_f1 - tr.global_f1, 6) AS transfer_regret
FROM sbest b JOIN transfer tr ON tr.source = b.source
ORDER BY b.source
"""


@register(
    "x500_threshold_transfer",
    _x500_oracle(),
    doc="threshold transferability audit for x315's scorer: per "
        "source, the best-F1 threshold fitted on that source's own "
        "docs vs the F1 it actually gets under the ONE global "
        "best-F1 threshold -- the transfer_regret column is the "
        "measured cost of deploying a single corpus-wide cutoff "
        "over heterogeneous sources, the per-stratum miscalibration "
        "x350 (global sweep) and x365 (fairness rates at a fixed "
        "threshold) each see only half of. Exactness: integer p_s "
        "scores; sweeps are conditional integer sums over the "
        "bounded score domain; F1 rounds to 8 before the argmax "
        "with a deterministic low-threshold tie-break (x350's "
        "recipe). Scale: one (source, score) contingency pass, "
        "then all sweeps live on the broadcast-sized score-domain "
        "x cells grid -- corpus rows are touched once",
)
def x500_threshold_transfer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from ...ops import text

    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        "source",
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    cells = scored.groupBy("source", "p_s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("np"),
    )
    doms = cells.select(F.col("p_s").alias("t")).distinct()
    gtot = cells.agg(
        F.sum("n").cast("long").alias("n_all"),
        F.sum("np").cast("long").alias("p_all"),
    )
    hit = F.col("p_s") >= F.col("t")
    gsweep = (
        cells.crossJoin(F.broadcast(doms))
        .groupBy("t")
        .agg(
            F.sum(F.when(hit, F.col("np")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(hit, F.col("n") - F.col("np")).otherwise(0))
            .cast("long")
            .alias("fp"),
        )
    )
    gf1 = F.round(
        F.lit(2.0) * F.col("tp")
        / (
            F.lit(2.0) * F.col("tp")
            + F.col("fp")
            + (F.col("p_all") - F.col("tp"))
        ),
        8,
    )
    gbest = (
        gsweep.crossJoin(F.broadcast(gtot))
        .select(F.col("t").alias("g_t"), gf1.alias("g_f1"))
        .orderBy(F.col("g_f1").desc(), F.col("g_t").asc())
        .limit(1)
    )
    stot = cells.groupBy("source").agg(
        F.sum("np").cast("long").alias("p_s_tot")
    )
    ssweep = (
        cells.crossJoin(F.broadcast(doms))
        .groupBy("source", "t")
        .agg(
            F.sum(F.when(hit, F.col("np")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(hit, F.col("n") - F.col("np")).otherwise(0))
            .cast("long")
            .alias("fp"),
        )
    )
    sf1 = ssweep.join(F.broadcast(stot), "source").select(
        "source",
        "t",
        F.round(
            F.lit(2.0) * F.col("tp")
            / (
                F.lit(2.0) * F.col("tp")
                + F.col("fp")
                + (F.col("p_s_tot") - F.col("tp"))
            ),
            8,
        ).alias("f1"),
    )
    sbest = (
        sf1.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("f1").desc(), F.col("t").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("t").alias("own_threshold"),
            F.col("f1").alias("own_f1"),
        )
    )
    transfer = sf1.join(
        F.broadcast(gbest), F.col("t") == F.col("g_t")
    ).select("source", F.col("f1").alias("global_f1"))
    return (
        sbest.join(transfer, "source")
        .select(
            "source",
            "own_threshold",
            F.round(F.col("own_f1"), 6).alias("own_f1"),
            F.round(F.col("global_f1"), 6).alias(
                "global_threshold_f1"
            ),
            F.round(F.col("own_f1") - F.col("global_f1"), 6).alias(
                "transfer_regret"
            ),
        )
        .orderBy("source")
    )


_X501_ORACLE = """
WITH daily AS MATERIALIZED (
  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
           AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
calstats AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS nc,
         CAST(SUM(y) AS HUGEINT) AS s1,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
  FROM daily WHERE day < DATE '1999-01-01'
),
ms AS MATERIALIZED (
  SELECT CAST(s1 AS DOUBLE) / nc AS mu,
         sqrt(CAST(s2 AS DOUBLE) / nc
              - (CAST(s1 AS DOUBLE) / nc)
                * (CAST(s1 AS DOUBLE) / nc)) AS sigma
  FROM calstats
),
series AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY day) AS t,
         CAST(y AS DOUBLE) AS y,
         CASE WHEN day >= DATE '1999-01-01' THEN 1 ELSE 0 END AS tst
  FROM daily
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM series),
nt AS (SELECT CAST(SUM(tst) AS BIGINT) AS n_test FROM series),
rec AS (
  WITH RECURSIVE walk(t, z, na, first, mdev, mu, sigma) AS (
    SELECT CAST(0 AS BIGINT), ms.mu, CAST(0 AS BIGINT),
           CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE), ms.mu, ms.sigma
    FROM ms
    UNION ALL
    SELECT sr.t,
           0.5 * sr.y + 0.5 * s.z,
           s.na + (CASE WHEN sr.tst = 1
                         AND ABS((0.5 * sr.y + 0.5 * s.z) - s.mu)
                             > s.sigma * sqrt(3.0)
                   THEN 1 ELSE 0 END),
           CASE WHEN s.first = -1 AND sr.tst = 1
                     AND ABS((0.5 * sr.y + 0.5 * s.z) - s.mu)
                         > s.sigma * sqrt(3.0)
                THEN sr.t ELSE s.first END,
           CASE WHEN sr.tst = 1
                THEN GREATEST(s.mdev,
                              ABS((0.5 * sr.y + 0.5 * s.z) - s.mu))
                ELSE s.mdev END,
           s.mu, s.sigma
    FROM walk s
    JOIN series sr ON sr.t = s.t + 1
  )
  SELECT * FROM walk
)
SELECT nt.n_test AS n_test_weeks,
       r.na AS n_alerts,
       ROUND(CAST(r.na AS DOUBLE) / nt.n_test, 6) AS alert_rate,
       r.first AS first_alert_t,
       ROUND(r.mdev / r.sigma, 4) AS max_dev_sigmas
FROM rec r, nn, nt WHERE r.t = nn.n
"""


@register(
    "x501_ewma_control_chart",
    _X501_ORACLE,
    doc="EWMA control-chart alerting: smooth the full weekly-revenue "
        "series with the dyadic alpha = 0.5 recurrence (state warm "
        "from the pre-1999 calibration mean), flag post-1999 days "
        "where |z - mu| exceeds the 3-sigma_z limit (sigma_z = "
        "sigma*sqrt(alpha/(2-alpha)) = sigma*sqrt(1/3), so the "
        "limit is sigma*sqrt(3)) -- the ONLINE monitoring rule "
        "x289's offline CUSUM changepoint and x453's binary "
        "segmentation only reconstruct after the fact: how many "
        "alert days, when the first fired, and the worst excursion "
        "in sigmas. Determinism: x485's twin-evaluation recipe -- "
        "calibration mu/sigma from exact integer moments, the "
        "recurrence evaluated in ONE explicit sequential order on "
        "both engines (Spark in-row fold, DuckDB linear recursive "
        "CTE) with identical expression trees and dyadic smoothing "
        "multiplies, so alert decisions compare bit-identical "
        "doubles. Scale: one day-grain aggregate; the fold rides "
        "the bounded day series",
)
def x501_ewma_control_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y")
    )
    cut = F.lit("1999-01-01").cast("date")
    cal = daily.filter(F.col("day") < cut)
    calstats = cal.agg(
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum("y").cast("decimal(38,0)").alias("s1"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    ms = calstats.select(
        (F.col("s1").cast("double") / F.col("nc")).alias("mu"),
        F.sqrt(
            F.col("s2").cast("double") / F.col("nc")
            - (F.col("s1").cast("double") / F.col("nc"))
            * (F.col("s1").cast("double") / F.col("nc"))
        ).alias("sigma"),
    )
    ser = daily.agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("day"),
                        F.col("y").cast("double").alias("y"),
                        F.when(F.col("day") >= cut, F.lit(1))
                        .otherwise(F.lit(0))
                        .cast("long")
                        .alias("tst"),
                    )
                )
            ),
            lambda s, i: F.struct(
                (i + 1).cast("long").alias("t"),
                s["y"].alias("y"),
                s["tst"].alias("tst"),
            ),
        ).alias("arr"),
        F.sum(F.when(F.col("day") >= cut, 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    row = ser.crossJoin(F.broadcast(ms))
    mu, sigma = F.col("mu"), F.col("sigma")
    limit = sigma * F.sqrt(F.lit(3.0))
    init = F.struct(
        mu.alias("z"),
        F.lit(0).cast("long").alias("na"),
        F.lit(-1).cast("long").alias("first"),
        F.lit(0.0).alias("mdev"),
    )

    def step(acc, e):
        znew = F.lit(0.5) * e["y"] + F.lit(0.5) * acc["z"]
        dev = F.abs(znew - mu)
        alert = (e["tst"] == 1) & (dev > limit)
        return F.struct(
            znew.alias("z"),
            (acc["na"] + F.when(alert, 1).otherwise(0)).alias("na"),
            F.when(
                (acc["first"] == -1) & alert, e["t"]
            ).otherwise(acc["first"]).alias("first"),
            F.when(
                e["tst"] == 1, F.greatest(acc["mdev"], dev)
            ).otherwise(acc["mdev"]).alias("mdev"),
        )

    folded = row.select(
        "n_test",
        "sigma",
        F.aggregate(F.col("arr"), init, step).alias("st"),
    )
    return folded.select(
        F.col("n_test").alias("n_test_weeks"),
        F.col("st.na").alias("n_alerts"),
        F.round(
            F.col("st.na").cast("double") / F.col("n_test"), 6
        ).alias("alert_rate"),
        F.col("st.first").alias("first_alert_t"),
        F.round(F.col("st.mdev") / F.col("sigma"), 4).alias(
            "max_dev_sigmas"
        ),
    )


_X502_ORACLE = """
WITH s0 AS (
  SELECT doc_id, text,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
  FROM documents
),
e AS (
  SELECT md5(lower(text)) AS h, MIN(doc_id) AS keep_id
  FROM s0 GROUP BY 1
),
s1 AS (
  SELECT s0.doc_id, s0.text, s0.tok FROM s0
  JOIN e ON s0.doc_id = e.keep_id
),
f AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
           string_split(lower(text), ' '))), ' ')) AS fp,
         MIN(doc_id) AS keep_id
  FROM s1 GROUP BY 1
),
s2 AS (
  SELECT s1.doc_id, s1.tok FROM s1
  JOIN f ON s1.doc_id = f.keep_id
),
t0 AS (SELECT CAST(count(*) AS BIGINT) AS d, CAST(SUM(tok) AS BIGINT) AS t
       FROM s0),
t1 AS (SELECT CAST(count(*) AS BIGINT) AS d, CAST(SUM(tok) AS BIGINT) AS t
       FROM s1),
t2 AS (SELECT CAST(count(*) AS BIGINT) AS d, CAST(SUM(tok) AS BIGINT) AS t
       FROM s2)
SELECT * FROM (
  SELECT 1 AS stage, 'exact' AS tier,
         t0.d AS docs_in, t0.d - t1.d AS docs_removed,
         t0.t AS tokens_in, t0.t - t1.t AS tokens_removed,
         ROUND(CAST(t0.t - t1.t AS DOUBLE) / t0.t, 6)
           AS token_removal_rate
  FROM t0, t1
  UNION ALL
  SELECT 2, 'fingerprint', t1.d, t1.d - t2.d, t1.t, t1.t - t2.t,
         ROUND(CAST(t1.t - t2.t AS DOUBLE) / t1.t, 6)
  FROM t1, t2
) ORDER BY stage
"""


@register(
    "x502_cascade_token_yield",
    _X502_ORACLE,
    doc="TOKEN-weighted dedup cascade economics: the exact -> "
        "fingerprint stages of x244's cascade re-measured in the "
        "unit that actually prices an LLM training run -- tokens "
        "removed per stage, not documents (a stage that kills 1%% "
        "of docs but 8%% of tokens is removing boilerplate GIANTS "
        "and is worth its cost; doc counts alone invert the "
        "decision) -- the bridge between x244 (doc-grain marginal "
        "yield) and x33/x46's token-budget samplers, which consume "
        "exactly this table. Exactness: x01/x02's verified md5 "
        "keep-min survivor joins replayed in sequence; token "
        "counts and all stage sums are exact integers; one rounded "
        "division per stage. Scale: two hash-groupBys on md5 keys "
        "over progressively smaller survivor sets -- x244's shape "
        "with one extra integer column carried through",
)
def x502_cascade_token_yield(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s0 = docs.select(
        "doc_id",
        "text",
        F.size(_toks("text")).cast("long").alias("tok"),
    )
    e = s0.groupBy(F.md5(F.lower("text")).alias("h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    s1 = s0.join(
        e, s0["doc_id"] == e["keep_id"]
    ).select(s0["doc_id"], "text", "tok")
    f = s1.groupBy(
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(_toks("text"))),
                " ",
            )
        ).alias("fp")
    ).agg(F.min("doc_id").alias("keep_id"))
    s2 = s1.join(f, s1["doc_id"] == f["keep_id"]).select(
        s1["doc_id"], "tok"
    )

    def stats(df):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("d"),
            F.sum("tok").cast("long").alias("t"),
        )

    t0, t1, t2 = stats(s0), stats(s1), stats(s2)
    r1 = (
        t0.crossJoin(
            F.broadcast(
                t1.select(
                    F.col("d").alias("d1"), F.col("t").alias("t1")
                )
            )
        )
        .select(
            F.lit(1).cast("long").alias("stage"),
            F.lit("exact").alias("tier"),
            F.col("d").alias("docs_in"),
            (F.col("d") - F.col("d1")).alias("docs_removed"),
            F.col("t").alias("tokens_in"),
            (F.col("t") - F.col("t1")).alias("tokens_removed"),
            F.round(
                (F.col("t") - F.col("t1")).cast("double") / F.col("t"),
                6,
            ).alias("token_removal_rate"),
        )
    )
    r2 = (
        t1.crossJoin(
            F.broadcast(
                t2.select(
                    F.col("d").alias("d2"), F.col("t").alias("t2")
                )
            )
        )
        .select(
            F.lit(2).cast("long").alias("stage"),
            F.lit("fingerprint").alias("tier"),
            F.col("d").alias("docs_in"),
            (F.col("d") - F.col("d2")).alias("docs_removed"),
            F.col("t").alias("tokens_in"),
            (F.col("t") - F.col("t2")).alias("tokens_removed"),
            F.round(
                (F.col("t") - F.col("t2")).cast("double") / F.col("t"),
                6,
            ).alias("token_removal_rate"),
        )
    )
    return r1.unionByName(r2).orderBy("stage")


# ---------------------------------------------------------------------------
# Round-8 wave: method-comparison / assumption-check / audit entries that
# complete inference families the x430-x502 waves opened (Bland-Altman and
# Deming beside x479's CCC; Bartlett beside x392's Levene; ICC beside
# x387's Cronbach; Atkinson beside x436's Theil and x108's Gini), plus the
# context-window truncation audit a training-data pipeline prices batches
# with.
# ---------------------------------------------------------------------------


_X503_ORACLE = """
WITH d AS (
  SELECT source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
  FROM documents
),
cells AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2
),
w AS (SELECT * FROM (VALUES (16), (32), (48), (64), (96)) AS w(win))
SELECT c.source, CAST(w.win AS BIGINT) AS window_tokens,
       CAST(SUM(c.n) AS BIGINT) AS docs,
       CAST(SUM(CASE WHEN c.tok > w.win THEN c.n ELSE 0 END) AS BIGINT)
         AS docs_truncated,
       CAST(SUM(c.n * c.tok) AS BIGINT) AS tokens_total,
       CAST(SUM(c.n * CASE WHEN c.tok > w.win THEN c.tok - w.win
                      ELSE 0 END) AS BIGINT) AS tokens_lost,
       ROUND(CAST(SUM(c.n * CASE WHEN c.tok > w.win THEN c.tok - w.win
                      ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c.n * c.tok) AS DOUBLE), 6) AS loss_frac
FROM cells c, w
GROUP BY 1, 2
ORDER BY source, window_tokens
"""


@register(
    "x503_truncation_audit",
    _X503_ORACLE,
    doc="context-window truncation audit: per (source, window) the "
        "token mass LOST to right-truncation at context lengths "
        "{16,32,48,64,96} (fixture-scaled -- a deployment sweeps "
        "{512..8192}; doc lengths here are 10-99 tokens) -- the "
        "batch-pricing view x32's packer needs BEFORE packing (a "
        "source whose loss_frac stays high at every window needs "
        "chunking, not packing) and the truncation side of the "
        "x502 token-economics coin. Exactness: whitespace token "
        "counts are exact integers; the corpus collapses to "
        "(source, tok) cells FIRST (bounded: sources x <=100 "
        "distinct lengths), the x5 window fan-out rides the cell "
        "table; one rounded division per output row. Scale: one "
        "corpus pass, then cell-table arithmetic",
)
def x503_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            "source",
            F.size(_toks("text")).cast("long").alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wins = spark.createDataFrame(
        [(16,), (32,), (48,), (64,), (96,)], "win long"
    )
    lost = F.when(
        F.col("tok") > F.col("win"), F.col("tok") - F.col("win")
    ).otherwise(F.lit(0))
    return (
        cells.crossJoin(F.broadcast(wins))
        .groupBy("source", F.col("win").alias("window_tokens"))
        .agg(
            F.sum("n").cast("long").alias("docs"),
            F.sum(F.when(F.col("tok") > F.col("win"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("docs_truncated"),
            F.sum(F.col("n") * F.col("tok")).cast("long").alias("tokens_total"),
            F.sum(F.col("n") * lost).cast("long").alias("tokens_lost"),
            F.round(
                F.sum(F.col("n") * lost).cast("double")
                / F.sum(F.col("n") * F.col("tok")).cast("double"),
                6,
            ).alias("loss_frac"),
        )
        .orderBy("source", "window_tokens")
    )


# Shared paired daily-revenue measurement for the method-comparison pair
# (x504 Bland-Altman, x505 Deming): method A = the order header's
# o_totalprice, method B = the lineitem-derived total
# extendedprice*(1-discount)*(1+tax) -- in THIS synthetic fixture the two
# are independent at order grain (measured corr ~ -0.01), so at day grain
# they form genuinely disagreeing measurements correlated through volume:
# exactly the method-comparison shape. Both quantize to exact cents with
# identical expression order on both engines.
_PAIRED_DAILY_CTE = """
a AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS av
  FROM orders GROUP BY 1
),
b AS (
  SELECT CAST(o.o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount)
                             * (1.0 + l.l_tax) * 100.0) AS BIGINT))
              AS BIGINT) AS bv
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
),
p AS (SELECT a.day, a.av, b.bv FROM a JOIN b ON a.day = b.day)
"""


def _paired_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    a = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("av")
    )
    b = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * (F.lit(1.0) + F.col("l_tax"))
                    * F.lit(100.0)
                ).cast("long")
            )
            .cast("long")
            .alias("bv")
        )
    )
    return a.join(b, "day").select("day", "av", "bv")


_X504_ORACLE = (
    "WITH "
    + _PAIRED_DAILY_CTE
    + """,
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(av - bv) AS HUGEINT) AS sd1,
         CAST(SUM(CAST(av - bv AS HUGEINT) * (av - bv)) AS HUGEINT) AS sd2
  FROM p
),
lim AS (
  SELECT n,
         CAST(sd1 AS DOUBLE) / n AS mean_d,
         sqrt((n * CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE)
               * CAST(sd1 AS DOUBLE)) / (CAST(n AS DOUBLE) * (n - 1)))
           AS sd_d
  FROM m
),
outn AS (
  SELECT CAST(SUM(CASE WHEN CAST(p.av - p.bv AS DOUBLE)
                            < lim.mean_d - 1.96 * lim.sd_d
                         OR CAST(p.av - p.bv AS DOUBLE)
                            > lim.mean_d + 1.96 * lim.sd_d
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outside
  FROM p, lim
)
SELECT lim.n AS n_days,
       ROUND(lim.mean_d, 4) AS mean_diff,
       ROUND(lim.sd_d, 4) AS sd_diff,
       ROUND(lim.mean_d - 1.96 * lim.sd_d, 4) AS loa_lo,
       ROUND(lim.mean_d + 1.96 * lim.sd_d, 4) AS loa_hi,
       outn.n_outside,
       ROUND(1.0 - CAST(outn.n_outside AS DOUBLE) / lim.n, 6)
         AS frac_within
FROM lim, outn
"""
)


@register(
    "x504_bland_altman",
    _X504_ORACLE,
    doc="Bland-Altman agreement limits between two daily revenue "
        "measurements (order-header totals vs lineitem-derived "
        "totals, both exact cents; independent at order grain in "
        "this fixture -- measured corr ~ -0.01 -- so the day-grain "
        "pair disagrees like two real instruments): mean bias, SD "
        "of differences, the 1.96-SD limits of agreement and the "
        "fraction of days inside them -- the METHOD-COMPARISON "
        "readout x479's Lin CCC summarizes to one number but "
        "cannot localize (BA says HOW FAR apart the methods run "
        "and whether bias is systematic). Exactness: integer-cent "
        "daily sums and differences, n-scaled variance from exact "
        "HUGEINT/DECIMAL moments, limits computed once from "
        "identical exact inputs on both engines so the "
        "inside/outside comparison of each integer difference is "
        "engine-identical; divisions in double at the end. Scale: "
        "two day-grain aggregates + one day-cardinality re-scan "
        "against broadcast limits",
)
def x504_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _paired_daily(spark, sf_dir).localCheckpoint(eager=False)
    d = (F.col("av") - F.col("bv")).cast("decimal(38,0)")
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d).cast("decimal(38,0)").alias("sd1"),
        F.sum(d * d).cast("decimal(38,0)").alias("sd2"),
    )
    nd = F.col("n").cast("double")
    mean_d = F.col("sd1").cast("double") / F.col("n")
    sd_d = F.sqrt(
        (
            F.col("n") * F.col("sd2").cast("double")
            - F.col("sd1").cast("double") * F.col("sd1").cast("double")
        )
        / (nd * (F.col("n") - 1))
    )
    lim = m.select(
        "n", mean_d.alias("mean_d"), sd_d.alias("sd_d")
    )
    out = (
        p.crossJoin(F.broadcast(lim))
        .agg(
            F.sum(
                F.when(
                    (
                        (F.col("av") - F.col("bv")).cast("double")
                        < F.col("mean_d") - F.lit(1.96) * F.col("sd_d")
                    )
                    | (
                        (F.col("av") - F.col("bv")).cast("double")
                        > F.col("mean_d") + F.lit(1.96) * F.col("sd_d")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outside")
        )
    )
    return lim.crossJoin(F.broadcast(out)).select(
        F.col("n").alias("n_days"),
        F.round("mean_d", 4).alias("mean_diff"),
        F.round("sd_d", 4).alias("sd_diff"),
        F.round(F.col("mean_d") - F.lit(1.96) * F.col("sd_d"), 4).alias(
            "loa_lo"
        ),
        F.round(F.col("mean_d") + F.lit(1.96) * F.col("sd_d"), 4).alias(
            "loa_hi"
        ),
        "n_outside",
        F.round(
            F.lit(1.0) - F.col("n_outside").cast("double") / F.col("n"), 6
        ).alias("frac_within"),
    )


_X505_ORACLE = (
    "WITH "
    + _PAIRED_DAILY_CTE
    + """,
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(av) AS HUGEINT) AS sa,
         CAST(SUM(bv) AS HUGEINT) AS sb,
         CAST(SUM(CAST(av AS HUGEINT) * av) AS HUGEINT) AS saa,
         CAST(SUM(CAST(bv AS HUGEINT) * bv) AS HUGEINT) AS sbb,
         CAST(SUM(CAST(av AS HUGEINT) * bv) AS HUGEINT) AS sab
  FROM p
),
s AS (
  SELECT n,
         CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
           - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) AS sxx,
         CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) AS syy,
         CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
           - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS sxy,
         CAST(sa AS DOUBLE) / n AS mx,
         CAST(sb AS DOUBLE) / n AS my
  FROM m
)
SELECT n AS n_days,
       ROUND((syy - sxx + sqrt((syy - sxx) * (syy - sxx)
              + 4.0 * sxy * sxy)) / (2.0 * sxy), 6) AS slope,
       ROUND(my - ((syy - sxx + sqrt((syy - sxx) * (syy - sxx)
              + 4.0 * sxy * sxy)) / (2.0 * sxy)) * mx, 4) AS intercept,
       ROUND(sxy / sqrt(sxx * syy), 6) AS pearson_r
FROM s
"""
)


@register(
    "x505_deming_regression",
    _X505_ORACLE,
    doc="Deming (orthogonal, lambda=1) regression of the lineitem-"
        "derived daily revenue on the header-derived one -- the "
        "errors-in-BOTH-variables fit OLS gets wrong whenever the "
        "x-axis is also a measurement (OLS attenuates the slope "
        "toward 0 by the x-noise share; Deming splits the residual "
        "orthogonally): slope = (syy - sxx + sqrt((syy-sxx)^2 + "
        "4sxy^2)) / (2 sxy), the closed form -- completes the "
        "method-comparison triple with x504's limits of agreement "
        "and x479's CCC. Exactness: exact integer-cent moments in "
        "HUGEINT/DECIMAL(38) (day count x (2e9 cents)^2 stays "
        "under 1e38 through sf1), n-scaled scatter assembled in "
        "double with fixed operand order, one sqrt, two rounded "
        "divisions. Scale: two day-grain aggregates + one 6-"
        "accumulator reduction",
)
def x505_deming_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    p = _paired_daily(spark, sf_dir)
    av = F.col("av").cast("decimal(38,0)")
    bv = F.col("bv").cast("decimal(38,0)")
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(av).cast("decimal(38,0)").alias("sa"),
        F.sum(bv).cast("decimal(38,0)").alias("sb"),
        F.sum(av * F.col("av")).cast("decimal(38,0)").alias("saa"),
        F.sum(bv * F.col("bv")).cast("decimal(38,0)").alias("sbb"),
        F.sum(av * F.col("bv")).cast("decimal(38,0)").alias("sab"),
    )
    nd = F.col("n").cast("double")
    sxx = nd * F.col("saa").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sa").cast("double")
    syy = nd * F.col("sbb").cast("double") - F.col("sb").cast(
        "double"
    ) * F.col("sb").cast("double")
    sxy = nd * F.col("sab").cast("double") - F.col("sa").cast(
        "double"
    ) * F.col("sb").cast("double")
    slope = (
        syy - sxx + F.sqrt((syy - sxx) * (syy - sxx) + F.lit(4.0) * sxy * sxy)
    ) / (F.lit(2.0) * sxy)
    mx = F.col("sa").cast("double") / F.col("n")
    my = F.col("sb").cast("double") / F.col("n")
    return m.select(
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round(my - slope * mx, 4).alias("intercept"),
        F.round(sxy / F.sqrt(sxx * syy), 6).alias("pearson_r"),
    )


_X506_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
),
q AS (
  SELECT x,
         CAST(floor(sqrt(CAST(x AS DOUBLE)) * 1000000.0) AS BIGINT) AS s,
         CAST(floor(ln(CAST(x AS DOUBLE)) * 1000000000000.0) AS BIGINT)
           AS l
  FROM cust
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS t,
         CAST(SUM(s) AS HUGEINT) AS ss,
         CAST(SUM(l) AS HUGEINT) AS sl
  FROM q
)
SELECT n AS n_customers,
       ROUND(1.0 - (CAST(ss AS DOUBLE) / 1000000.0)
                   * (CAST(ss AS DOUBLE) / 1000000.0)
                   / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6)
         AS atkinson_half,
       ROUND(1.0 - CAST(n AS DOUBLE)
                   * exp(CAST(sl AS DOUBLE) / 1000000000000.0 / n)
                   / CAST(t AS DOUBLE), 6) AS atkinson_1
FROM m
"""


@register(
    "x506_atkinson_index",
    _X506_ORACLE,
    doc="Atkinson inequality of per-customer spend at aversion "
        "epsilon = 1/2 (A = 1 - (mean sqrt)^2/mean, i.e. one minus "
        "the squared mean-of-roots over the mean) and epsilon = 1 "
        "(A = 1 - geomean/mean) -- the WELFARE-weighted inequality "
        "family x108's Gini (rank-weighted) and x436's Theil "
        "(entropy) sit beside: epsilon dials how much the bottom "
        "of the distribution matters, and A_eps is the exact "
        "fraction of total spend that could be discarded if spend "
        "were equal at the same welfare. Exactness: spend is exact "
        "integer cents (> 0 by construction, so sqrt/ln are "
        "total); sqrt quantizes by 1e6 and ln by 1e12 "
        "multiply-then-floor (IEEE sqrt/ln of identical integer "
        "inputs are engine-identical; the floor grid makes the "
        "cross-row sums exact integers -- the quantization is part "
        "of the statistic, stated), one exp and two divisions at "
        "the end. Scale: one customer-grain aggregate + one 4-"
        "accumulator reduction",
)
def x506_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("x")
    )
    q = cust.select(
        "x",
        F.floor(F.sqrt(F.col("x").cast("double")) * F.lit(1e6))
        .cast("long")
        .alias("s"),
        F.floor(F.log(F.col("x").cast("double")) * F.lit(1e12))
        .cast("long")
        .alias("l"),
    )
    m = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("t"),
        F.sum(F.col("s").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ss"),
        F.sum(F.col("l").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sl"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        F.col("n").alias("n_customers"),
        F.round(
            F.lit(1.0)
            - (F.col("ss").cast("double") / F.lit(1e6))
            * (F.col("ss").cast("double") / F.lit(1e6))
            / (nd * F.col("t").cast("double")),
            6,
        ).alias("atkinson_half"),
        F.round(
            F.lit(1.0)
            - nd
            * F.exp(F.col("sl").cast("double") / F.lit(1e12) / F.col("n"))
            / F.col("t").cast("double"),
            6,
        ).alias("atkinson_1"),
    )


_X507_ORACLE = """
WITH v AS (
  SELECT event_type,
         CAST(round(value * 100.0, 0) AS BIGINT) AS x
  FROM events
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS s1,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
  FROM v GROUP BY 1
),
t AS (
  SELECT event_type, n,
         (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         / (CAST(n AS DOUBLE) * (n - 1.0)) AS var_i
  FROM g
),
terms AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(round((n - 1) * var_i, 4) AS DECIMAL(38,4)))
              AS DECIMAL(38,4)) AS ssw,
         CAST(SUM(CAST(round((n - 1.0) * ln(var_i), 10)
              AS DECIMAL(38,10))) AS DECIMAL(38,10)) AS slnv,
         CAST(SUM(CAST(round(1.0 / (n - 1.0), 12) AS DECIMAL(38,12)))
              AS DECIMAL(38,12)) AS sinv
  FROM t
)
SELECT k AS n_groups, nn AS n_obs,
       ROUND((CAST(nn - k AS DOUBLE)
              * ln(CAST(ssw AS DOUBLE) / (nn - k))
              - CAST(slnv AS DOUBLE))
             / (1.0 + (CAST(sinv AS DOUBLE) - 1.0 / (nn - k))
                      / (3.0 * (k - 1.0))), 4) AS bartlett_t,
       CAST(k - 1 AS BIGINT) AS df
FROM terms
"""


@register(
    "x507_bartlett_test",
    _X507_ORACLE,
    doc="Bartlett's test for variance homogeneity across event types "
        "on the SAME domain as x392's Levene (event value cents) -- "
        "the parametric member of the pair: Bartlett is the most "
        "powerful equal-variance test under normality and the "
        "classically recommended pre-check for x393's ANOVA, but "
        "inflates under heavy tails where Levene holds level (the "
        "two disagreeing IS the kurtosis diagnostic); T = [(N-k) "
        "ln(Sp^2) - sum (n_i-1) ln(S_i^2)] / C with the standard "
        "C correction, df = k-1. Exactness: group variances from "
        "exact HUGEINT/DECIMAL moments with fixed operand order; "
        "the three k-row sums quantize per-group (round 4/10/12 "
        "into DECIMAL) before summing so the aggregation order "
        "cannot leak into the statistic; ln/divisions in double at "
        "the end. Scale: one corpus groupBy then 5-row algebra",
)
def x507_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("s1"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("s2"),
    )
    nd = F.col("n").cast("double")
    var_i = (
        nd * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (nd * (F.col("n") - 1.0))
    t = g.select("event_type", "n", var_i.alias("var_i"))
    terms = t.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(
            F.round((F.col("n") - 1) * F.col("var_i"), 4).cast(
                "decimal(38,4)"
            )
        )
        .cast("decimal(38,4)")
        .alias("ssw"),
        F.sum(
            F.round(
                (F.col("n") - 1.0) * F.log(F.col("var_i")), 10
            ).cast("decimal(38,10)")
        )
        .cast("decimal(38,10)")
        .alias("slnv"),
        F.sum(
            F.round(F.lit(1.0) / (F.col("n") - 1.0), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("decimal(38,12)")
        .alias("sinv"),
    )
    kd = F.col("k").cast("double")
    nk = (F.col("nn") - F.col("k")).cast("double")
    return terms.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_obs"),
        F.round(
            (
                nk * F.log(F.col("ssw").cast("double") / nk)
                - F.col("slnv").cast("double")
            )
            / (
                F.lit(1.0)
                + (F.col("sinv").cast("double") - F.lit(1.0) / nk)
                / (F.lit(3.0) * (kd - 1.0))
            ),
            4,
        ).alias("bartlett_t"),
        (F.col("k") - 1).cast("long").alias("df"),
    )


_X508_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
           AS wk,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
),
grp AS (
  SELECT wk, CAST(count(*) AS BIGINT) AS ki,
         CAST(SUM(y) AS HUGEINT) AS si
  FROM daily GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nobs,
         CAST(SUM(y) AS HUGEINT) AS s,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM daily
),
gsum AS (
  SELECT CAST(count(*) AS BIGINT) AS ng,
         CAST(SUM(CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
                             / ki, 6) AS DECIMAL(38,6)))
              AS DECIMAL(38,6)) AS sgq,
         CAST(SUM(CAST(ki AS HUGEINT) * ki) AS HUGEINT) AS sk2
  FROM grp
),
ms AS (
  SELECT t.nobs, g.ng,
         (CAST(g.sgq AS DOUBLE)
          - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / t.nobs)
           / (g.ng - 1.0) AS msb,
         (CAST(t.syy AS DOUBLE) - CAST(g.sgq AS DOUBLE))
           / (t.nobs - g.ng) AS msw,
         (t.nobs - CAST(g.sk2 AS DOUBLE) / t.nobs) / (g.ng - 1.0) AS k0
  FROM tot t, gsum g
)
SELECT ng AS n_weeks, nobs AS n_days,
       ROUND(k0, 4) AS k0,
       ROUND(msb / msw, 6) AS f_ratio,
       ROUND((msb - msw) / (msb + (k0 - 1.0) * msw), 6) AS icc_1_1
FROM ms
"""


@register(
    "x508_icc_oneway",
    _X508_ORACLE,
    doc="ICC(1,1) one-way random-effects intraclass correlation of "
        "daily revenue within calendar weeks (groups = weeks, "
        "measurements = the week's days, unbalanced -- k0 is the "
        "standard unbalanced group-size correction (N - sum k_i^2 "
        "/ N)/(n-1)); emits F = MSB/MSW and the ICC, both O(1) "
        "ratios -- the raw ~1e14-cent^2 mean squares differ "
        "SUB-ULP between the engines' DECIMAL->double conversions "
        "(measured: 676.8 vs 676.75 at the 16th significant "
        "digit), so absolute MS values are deliberately not "
        "emitted: the share of day-to-day revenue variance "
        "attributable to the WEEK a day sits in -- the "
        "variance-decomposition reliability x387's Cronbach (items "
        "as columns) and x343's seasonal decomposition (explicit "
        "dow model) each approach differently; ICC near 0 says "
        "week membership carries no signal, near 1 says days are "
        "interchangeable within weeks. Exactness: integer-cent "
        "daily sums; sum si^2/ki per week rounds 6 into DECIMAL "
        "before the week-row sum (order-free); MSB/MSW/k0 "
        "assembled in double from exact moments. Scale: one "
        "day-grain aggregate, one week-grain aggregate, two "
        "reductions",
)
def x508_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("wk"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y")
    )
    yd = F.col("y").cast("decimal(38,0)")
    grp = daily.groupBy("wk").agg(
        F.count(F.lit(1)).cast("long").alias("ki"),
        F.sum(yd).cast("decimal(38,0)").alias("si"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nobs"),
        F.sum(yd).cast("decimal(38,0)").alias("s"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    gsum = grp.agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(
            F.round(
                F.col("si").cast("double")
                * F.col("si").cast("double")
                / F.col("ki"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("decimal(38,6)")
        .alias("sgq"),
        F.sum(F.col("ki").cast("decimal(38,0)") * F.col("ki"))
        .cast("decimal(38,0)")
        .alias("sk2"),
    )
    j = tot.crossJoin(F.broadcast(gsum))
    msb = (
        F.col("sgq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("nobs")
    ) / (F.col("ng") - 1.0)
    msw = (
        F.col("syy").cast("double") - F.col("sgq").cast("double")
    ) / (F.col("nobs") - F.col("ng"))
    k0 = (
        F.col("nobs") - F.col("sk2").cast("double") / F.col("nobs")
    ) / (F.col("ng") - 1.0)
    return j.select(
        F.col("ng").alias("n_weeks"),
        F.col("nobs").alias("n_days"),
        F.round(k0, 4).alias("k0"),
        F.round(msb / msw, 6).alias("f_ratio"),
        F.round((msb - msw) / (msb + (k0 - F.lit(1.0)) * msw), 6).alias(
            "icc_1_1"
        ),
    )


_X509_ORACLE = """
WITH c AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x2
  FROM events
)
SELECT x1 AS n_purchase, x2 AS n_click,
       ROUND(CAST(x1 AS DOUBLE) / x2, 6) AS rate_ratio,
       ROUND(exp(ln(CAST(x1 AS DOUBLE) / x2)
                 - 1.959964 * sqrt(1.0 / x1 + 1.0 / x2)), 6) AS ci_lo,
       ROUND(exp(ln(CAST(x1 AS DOUBLE) / x2)
                 + 1.959964 * sqrt(1.0 / x1 + 1.0 / x2)), 6) AS ci_hi,
       ROUND((x1 - CAST(x1 + x2 AS DOUBLE) / 2.0)
             / sqrt(CAST(x1 + x2 AS DOUBLE) / 4.0), 4)
         AS conditional_z
FROM c
"""


@register(
    "x509_rate_ratio_ci",
    _X509_ORACLE,
    doc="Poisson rate-ratio inference for purchase vs click volume "
        "over the shared observation window: the Katz log-interval "
        "RR * exp(+-z sqrt(1/x1 + 1/x2)) -- the standard two-rate "
        "CI -- plus the conditional test's z (given x1+x2, x1 is "
        "Binomial(n, 1/2) under equal rates; the exact-conditioning "
        "trick that eliminates the unknown exposure entirely), the "
        "two-sample rate layer x414's single-series overdispersion "
        "check and x457's Poissonity test stop short of. "
        "Exactness: exact integer counts, ln/exp/sqrt of identical "
        "integer-derived doubles, z pinned at 1.959964 (the x460 "
        "convention); one rounded division per output. Scale: one "
        "2-accumulator corpus reduction",
)
def x509_rate_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    x1d = F.col("x1").cast("double")
    x2d = F.col("x2").cast("double")
    half = F.lit(1.959964) * F.sqrt(
        F.lit(1.0) / F.col("x1") + F.lit(1.0) / F.col("x2")
    )
    tot = (F.col("x1") + F.col("x2")).cast("double")
    return c.select(
        F.col("x1").alias("n_purchase"),
        F.col("x2").alias("n_click"),
        F.round(x1d / F.col("x2"), 6).alias("rate_ratio"),
        F.round(F.exp(F.log(x1d / F.col("x2")) - half), 6).alias("ci_lo"),
        F.round(F.exp(F.log(x1d / F.col("x2")) + half), 6).alias("ci_hi"),
        F.round(
            (F.col("x1") - tot / F.lit(2.0))
            / F.sqrt(tot / F.lit(4.0)),
            4,
        ).alias("conditional_z"),
    )


_X510_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS HUGEINT) AS s
  FROM daily
),
c AS (
  SELECT d.day, CAST(t.n AS HUGEINT) * d.y - t.s AS cv, t.n
  FROM daily d, tot t
),
den AS (SELECT CAST(SUM(cv * cv) AS HUGEINT) AS d2 FROM c),
lags AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) AS l(lag)),
num AS (
  SELECT l.lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(a.cv * b.cv) AS HUGEINT) AS nk
  FROM lags l
  JOIN c a ON TRUE
  JOIN c b ON b.day = a.day + CAST(l.lag AS INTEGER)
  GROUP BY 1
),
r AS (
  SELECT num.lag, num.n_pairs,
         ROUND(CAST(num.nk AS DOUBLE) / CAST(den.d2 AS DOUBLE), 10)
           AS acf,
         t.n
  FROM num, den, tot t
)
SELECT lag, n_pairs, ROUND(acf, 6) AS acf,
       ROUND(CAST(n AS DOUBLE) * (n + 2.0)
             * SUM(CAST(round(acf * acf / (n - lag), 14)
                        AS DECIMAL(38,14)))
               OVER (ORDER BY lag
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             4) AS ljung_box_q,
       ROUND(CAST(n AS DOUBLE)
             * SUM(CAST(round(acf * acf, 14) AS DECIMAL(38,14)))
               OVER (ORDER BY lag
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             4) AS box_pierce_q
FROM r ORDER BY lag
"""


@register(
    "x510_ljung_box",
    _X510_ORACLE,
    doc="Ljung-Box portmanteau test on daily revenue, lags 1-7: the "
        "cumulative Q(m) = n(n+2) sum r_k^2/(n-k) (Box-Pierce "
        "beside it) that tests ALL autocorrelations up to each lag "
        "jointly -- the omnibus whiteness check x290 (two point "
        "ACFs) and x484 (lag-1 Durbin-Watson) cannot give, and the "
        "residual-diagnostic gate a forecast backtest (x452/x485) "
        "should pass before its intervals mean anything. "
        "Exactness: y is exact integer cents; centering uses the "
        "n-scaled integer identity c_t = n*y_t - S (exact HUGEINT/"
        "DECIMAL, ~3e27 max at sf1 -- inside 1e38), so every "
        "autocovariance numerator and the denominator are exact "
        "integer sums with the n^2 scale cancelling in r_k; lag "
        "pairing is the x290 calendar equi-join (gap days drop "
        "pairs, stated); r_k rounds 10 before squaring, per-lag Q "
        "terms round 14 into DECIMAL and accumulate over the "
        "ordered 7-row window. Scale: one day-grain aggregate, 7 "
        "day-domain equi-joins",
)
def x510_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s"),
    )
    c = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("cv"),
        "n",
    ).localCheckpoint(eager=False)
    den = c.agg(
        F.sum(F.col("cv") * F.col("cv"))
        .cast("decimal(38,0)")
        .alias("d2")
    )
    lags = spark.createDataFrame([(k,) for k in range(1, 8)], "lag int")
    a = c.select(F.col("day").alias("da"), F.col("cv").alias("ca"), "n")
    b = c.select(F.col("day").alias("db"), F.col("cv").alias("cb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("ca") * F.col("cb"))
            .cast("decimal(38,0)")
            .alias("nk"),
            F.first("n").alias("n"),
        )
    )
    r = num.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        F.round(
            F.col("nk").cast("double") / F.col("d2").cast("double"), 10
        ).alias("acf"),
        "n",
    )
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    nd = F.col("n").cast("double")
    return r.select(
        "lag",
        "n_pairs",
        F.round("acf", 6).alias("acf"),
        F.round(
            nd
            * (F.col("n") + 2.0)
            * F.sum(
                F.round(
                    F.col("acf") * F.col("acf") / (F.col("n") - F.col("lag")),
                    14,
                ).cast("decimal(38,14)")
            ).over(w).cast("double"),
            4,
        ).alias("ljung_box_q"),
        F.round(
            nd
            * F.sum(
                F.round(F.col("acf") * F.col("acf"), 14).cast(
                    "decimal(38,14)"
                )
            ).over(w).cast("double"),
            4,
        ).alias("box_pierce_q"),
    ).orderBy("lag")


_X511_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
d1 AS (
  SELECT CAST(b.y AS HUGEINT) - a.y AS d
  FROM daily a JOIN daily b ON b.day = a.day + 1
),
dq AS (
  SELECT CAST(b.y AS HUGEINT) - a.y AS d
  FROM daily a JOIN daily b ON b.day = a.day + 5
),
m1 AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(SUM(d) AS HUGEINT) AS s,
         CAST(SUM(d * d) AS HUGEINT) AS s2
  FROM d1
),
mq AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(SUM(d) AS HUGEINT) AS s,
         CAST(SUM(d * d) AS HUGEINT) AS s2
  FROM dq
),
v AS (
  SELECT m1.m AS m1, mq.m AS mq,
         (m1.m * CAST(m1.s2 AS DOUBLE) - CAST(m1.s AS DOUBLE)
          * CAST(m1.s AS DOUBLE))
           / (CAST(m1.m AS DOUBLE) * m1.m) AS v1,
         (mq.m * CAST(mq.s2 AS DOUBLE) - CAST(mq.s AS DOUBLE)
          * CAST(mq.s AS DOUBLE))
           / (CAST(mq.m AS DOUBLE) * mq.m) AS vq
  FROM m1, mq
)
SELECT m1 AS n_diffs_1, mq AS n_diffs_q,
       ROUND(vq / (5.0 * v1), 6) AS variance_ratio,
       ROUND((vq / (5.0 * v1) - 1.0)
             / sqrt(2.0 * (2.0 * 5.0 - 1.0) * (5.0 - 1.0)
                    / (3.0 * 5.0 * m1)), 4) AS vr_z
FROM v
"""


@register(
    "x511_variance_ratio",
    _X511_ORACLE,
    doc="Lo-MacKinlay variance-ratio test (q=5) on daily revenue "
        "changes: under a random walk the variance of 5-day "
        "changes is 5x the 1-day variance, so VR far from 1 "
        "separates mean-reversion (VR<1) from trending/momentum "
        "(VR>1) -- the RANDOM-WALK lens beside x484's "
        "residual-independence DW and x510's whiteness Q (a "
        "series can pass whiteness yet fail VR at horizon q); z "
        "uses the homoskedastic null variance 2(2q-1)(q-1)/(3q m). "
        "Exactness: differences are exact integers from the "
        "calendar equi-join (day+1 / day+5 both present -- gaps "
        "drop pairs, stated); population variances via the "
        "m-scaled exact-moment identity, assembled in double with "
        "fixed operand order; two rounded outputs. Scale: one "
        "day-grain aggregate, two day-domain equi-joins, two "
        "3-accumulator reductions",
)
def x511_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders).localCheckpoint(eager=False)

    def diffs(k: int):
        a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
        b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
        d = a.join(b, F.col("db") == F.date_add(F.col("da"), k)).select(
            (F.col("yb").cast("decimal(38,0)") - F.col("ya"))
            .cast("decimal(38,0)")
            .alias("d")
        )
        return d.agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("d").cast("decimal(38,0)").alias("s"),
            F.sum(F.col("d") * F.col("d"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )

    m1 = diffs(1).select(
        F.col("m").alias("m1"), F.col("s").alias("s1"),
        F.col("s2").alias("s21"),
    )
    mq = diffs(5).select(
        F.col("m").alias("mq"), F.col("s").alias("sq"),
        F.col("s2").alias("s2q"),
    )
    j = m1.crossJoin(F.broadcast(mq))
    v1 = (
        F.col("m1") * F.col("s21").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (F.col("m1").cast("double") * F.col("m1"))
    vq = (
        F.col("mq") * F.col("s2q").cast("double")
        - F.col("sq").cast("double") * F.col("sq").cast("double")
    ) / (F.col("mq").cast("double") * F.col("mq"))
    vr = vq / (F.lit(5.0) * v1)
    return j.select(
        F.col("m1").alias("n_diffs_1"),
        F.col("mq").alias("n_diffs_q"),
        F.round(vr, 6).alias("variance_ratio"),
        F.round(
            (vr - F.lit(1.0))
            / F.sqrt(
                F.lit(2.0)
                * (F.lit(2.0) * 5.0 - 1.0)
                * (F.lit(5.0) - 1.0)
                / (F.lit(3.0) * 5.0 * F.col("m1"))
            ),
            4,
        ).alias("vr_z"),
    )


_X512_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
idx AS (
  SELECT day, y,
         CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily
),
ws AS (SELECT * FROM (VALUES (8),(16),(32),(64),(128)) AS w(win)),
fan AS (
  SELECT w.win, i.i // w.win AS blk, i.day, i.y
  FROM idx i, ws w
  WHERE i.i // w.win < i.n // w.win
),
cb AS (
  SELECT win, blk, day,
         CAST(win AS HUGEINT) * y
           - SUM(CAST(y AS HUGEINT)) OVER (PARTITION BY win, blk) AS c
  FROM fan
),
pre AS (
  SELECT win, blk,
         SUM(c) OVER (PARTITION BY win, blk ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS p,
         c
  FROM cb
),
blkstat AS (
  SELECT win, blk,
         CAST(MAX(p) - MIN(p) AS HUGEINT) AS r_scaled,
         CAST(SUM(c * c) AS HUGEINT) AS m2
  FROM pre GROUP BY 1, 2
),
rs AS (
  SELECT win, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(round(CAST(r_scaled AS DOUBLE)
                             * sqrt(CAST(win AS DOUBLE))
                             / sqrt(CAST(m2 AS DOUBLE)), 8)
                       AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS srs
  FROM blkstat WHERE m2 > 0 GROUP BY 1
),
mrs AS (
  SELECT win, n_blocks,
         CAST(srs AS DOUBLE) / n_blocks AS mean_rs
  FROM rs
),
fit AS (
  SELECT CAST(SUM(CAST((CAST(round(ln(win) / ln(2.0), 0) AS BIGINT) - 5)
                       * CAST(round(ln(mean_rs), 10) AS DECIMAL(38,10))
                  AS DECIMAL(38,10))) AS DECIMAL(38,10)) AS snum
  FROM mrs
)
SELECT (SELECT n FROM idx LIMIT 1) AS n_days,
       ROUND(MAX(CASE WHEN win = 8 THEN mean_rs END), 6) AS rs_8,
       ROUND(MAX(CASE WHEN win = 16 THEN mean_rs END), 6) AS rs_16,
       ROUND(MAX(CASE WHEN win = 32 THEN mean_rs END), 6) AS rs_32,
       ROUND(MAX(CASE WHEN win = 64 THEN mean_rs END), 6) AS rs_64,
       ROUND(MAX(CASE WHEN win = 128 THEN mean_rs END), 6) AS rs_128,
       ROUND(CAST((SELECT snum FROM fit) AS DOUBLE)
             / (10.0 * ln(2.0)), 4) AS hurst
FROM mrs
"""


@register(
    "x512_hurst_rs",
    _X512_ORACLE,
    doc="Hurst exponent of daily revenue by rescaled-range (R/S) "
        "analysis over dyadic windows {8,16,32,64,128}: mean R/S "
        "per window size, H = the log-log slope -- H>0.5 = "
        "long-range persistence, H<0.5 = anti-persistent "
        "mean-reversion, the LONG-MEMORY lens beside x511's "
        "fixed-horizon VR and x469's burstiness plane (a series "
        "can look Poisson at gap grain yet carry H!=0.5 at window "
        "grain). Exactness: within each full block the n-scaled "
        "identity c_t = w*y_t - S_block makes cumulative "
        "deviations exact integers, so R (max-min of prefix sums) "
        "and M2 = sum c^2 are exact HUGEINT/DECIMAL and R/S = "
        "R*sqrt(w)/sqrt(M2) is one IEEE expression of exact ints; "
        "per-block R/S rounds 8 into DECIMAL before block-mean "
        "sums, ln(mean) rounds 10 before the 5-point slope (exact "
        "dyadic x-grid makes the slope sum(k-5)*z / (10 ln 2)). "
        "Scale: windows ride the bounded day domain (x81 "
        "contract); everything after is 5-row algebra",
)
def x512_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    idx = daily.select(
        "day",
        "y",
        (F.row_number().over(Window.orderBy("day")) - 1)
        .cast("long")
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
    )
    ws = spark.createDataFrame(
        [(8,), (16,), (32,), (64,), (128,)], "win long"
    )
    fan = (
        idx.crossJoin(F.broadcast(ws))
        .filter(
            F.expr("i div win") < F.expr("n div win")
        )
        .select(
            "win", F.expr("i div win").alias("blk"), "day", "y", "n"
        )
    )
    wb = Window.partitionBy("win", "blk")
    wbo = wb.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cb = fan.select(
        "win",
        "blk",
        "day",
        "n",
        (
            F.col("win").cast("decimal(38,0)") * F.col("y")
            - F.sum(F.col("y").cast("decimal(38,0)")).over(wb)
        ).alias("c"),
    )
    pre = cb.select(
        "win", "blk", "n", F.sum("c").over(wbo).alias("p"), "c"
    )
    blkstat = pre.groupBy("win", "blk").agg(
        (F.max("p") - F.min("p")).cast("decimal(38,0)").alias("r_scaled"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("m2"),
        F.first("n").alias("n"),
    )
    rs = (
        blkstat.filter(F.col("m2") > 0)
        .groupBy("win")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(
                F.round(
                    F.col("r_scaled").cast("double")
                    * F.sqrt(F.col("win").cast("double"))
                    / F.sqrt(F.col("m2").cast("double")),
                    8,
                ).cast("decimal(38,8)")
            )
            .cast("decimal(38,8)")
            .alias("srs"),
            F.first("n").alias("n"),
        )
    )
    mrs = rs.select(
        "win",
        "n",
        (F.col("srs").cast("double") / F.col("n_blocks")).alias("mean_rs"),
    )
    k = F.round(F.log(F.col("win").cast("double")) / F.log(F.lit(2.0)), 0)
    fit = mrs.agg(
        F.sum(
            (
                (k.cast("long") - 5)
                * F.round(F.log("mean_rs"), 10).cast("decimal(38,10)")
            ).cast("decimal(38,10)")
        )
        .cast("decimal(38,10)")
        .alias("snum"),
        F.first("n").alias("n_days"),
        *[
            F.round(
                F.max(F.when(F.col("win") == wv, F.col("mean_rs"))), 6
            ).alias(f"rs_{wv}")
            for wv in (8, 16, 32, 64, 128)
        ],
    )
    return fit.select(
        "n_days",
        "rs_8",
        "rs_16",
        "rs_32",
        "rs_64",
        "rs_128",
        F.round(
            F.col("snum").cast("double") / (F.lit(10.0) * F.log(F.lit(2.0))),
            4,
        ).alias("hurst"),
    )


_X513_ORACLE = """
WITH cells AS (
  SELECT CAST(round(l_discount * 100.0, 0) AS BIGINT) AS i,
         CAST(round(l_quantity, 0) AS BIGINT) AS j,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM cells),
cd AS (
  SELECT
    CAST(SUM(CASE WHEN b.i > a.i AND b.j > a.j
             THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS HUGEINT)
      AS conc,
    CAST(SUM(CASE WHEN b.i > a.i AND b.j < a.j
             THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS HUGEINT)
      AS disc
  FROM cells a, cells b
),
tie AS (
  SELECT
    CAST((SELECT SUM(CAST(s AS HUGEINT) * (s - 1)) FROM (
       SELECT SUM(c) AS s FROM cells GROUP BY i)) AS HUGEINT) AS tx2,
    CAST((SELECT SUM(CAST(s AS HUGEINT) * (s - 1)) FROM (
       SELECT SUM(c) AS s FROM cells GROUP BY j)) AS HUGEINT) AS ty2
)
SELECT CAST(tot.n AS BIGINT) AS n_rows,
       CAST(cd.conc AS HUGEINT) AS concordant,
       CAST(cd.disc AS HUGEINT) AS discordant,
       ROUND(CAST(cd.conc - cd.disc AS DOUBLE)
             / CAST(cd.conc + cd.disc AS DOUBLE), 6) AS gamma,
       ROUND(CAST(cd.conc - cd.disc AS DOUBLE)
             / (CAST(tot.n * (tot.n - 1) - tie.tx2 AS DOUBLE) / 2.0), 6)
         AS somers_d_yx,
       ROUND(CAST(cd.conc - cd.disc AS DOUBLE)
             / (CAST(tot.n * (tot.n - 1) - tie.ty2 AS DOUBLE) / 2.0), 6)
         AS somers_d_xy,
       ROUND(CAST(cd.conc - cd.disc AS DOUBLE)
             / sqrt(CAST(tot.n * (tot.n - 1) - tie.tx2 AS DOUBLE) / 2.0
                    * (CAST(tot.n * (tot.n - 1) - tie.ty2 AS DOUBLE)
                       / 2.0)), 6) AS tau_b
FROM tot, cd, tie
"""


@register(
    "x513_concordance_panel",
    _X513_ORACLE,
    doc="ordinal concordance panel between discount band (x, 11 "
        "levels) and quantity (y, 50 levels) over every lineitem: "
        "Goodman-Kruskal gamma (ignores ties), Somers' D_yx and "
        "D_xy (the ASYMMETRIC predictor->response variants a "
        "pricing question actually needs: does discount predict "
        "quantity, not the reverse), and tau-b -- the full "
        "C/D-based family on ONE tie structure, where x357 "
        "computes tau-b alone on a different (nation-KPI) domain; "
        "gamma >= |D| >= tau_b by construction, so the spread "
        "between them IS the tie mass. Exactness: rows collapse "
        "to the bounded 11x50 contingency table first; C and D "
        "are exact HUGEINT/DECIMAL sums over the 550^2 cell-pair "
        "grid (never row pairs); tie corrections from exact "
        "marginal sums (n(n-1) ~ 4e11 at sf0.1 -- inside "
        "HUGEINT/DECIMAL38 through sf10); four final double "
        "divisions. Scale: one corpus groupBy, then cell-table "
        "algebra independent of corpus size",
)
def x513_concordance_panel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    cells = lineitem.groupBy(
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("i"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("j"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint(
        eager=False
    )
    tot = cells.agg(
        F.sum(F.col("c").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("n")
    )
    a = cells.select(
        F.col("i").alias("ia"), F.col("j").alias("ja"),
        F.col("c").cast("decimal(38,0)").alias("ca"),
    )
    b = cells.select(
        F.col("i").alias("ib"), F.col("j").alias("jb"),
        F.col("c").cast("decimal(38,0)").alias("cb"),
    )
    cd = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.when(
                (F.col("ib") > F.col("ia")) & (F.col("jb") > F.col("ja")),
                F.col("ca") * F.col("cb"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("conc"),
        F.sum(
            F.when(
                (F.col("ib") > F.col("ia")) & (F.col("jb") < F.col("ja")),
                F.col("ca") * F.col("cb"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("disc"),
    )
    tx = (
        cells.groupBy("i")
        .agg(F.sum("c").cast("decimal(38,0)").alias("s"))
        .agg(
            F.sum(F.col("s") * (F.col("s") - 1))
            .cast("decimal(38,0)")
            .alias("tx2")
        )
    )
    ty = (
        cells.groupBy("j")
        .agg(F.sum("c").cast("decimal(38,0)").alias("s"))
        .agg(
            F.sum(F.col("s") * (F.col("s") - 1))
            .cast("decimal(38,0)")
            .alias("ty2")
        )
    )
    j = (
        tot.crossJoin(F.broadcast(cd))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    smd = (F.col("conc") - F.col("disc")).cast("double")
    px = (
        (F.col("n") * (F.col("n") - 1) - F.col("tx2")).cast("double")
        / F.lit(2.0)
    )
    py = (
        (F.col("n") * (F.col("n") - 1) - F.col("ty2")).cast("double")
        / F.lit(2.0)
    )
    return j.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.round(
            smd / (F.col("conc") + F.col("disc")).cast("double"), 6
        ).alias("gamma"),
        F.round(smd / px, 6).alias("somers_d_yx"),
        F.round(smd / py, 6).alias("somers_d_xy"),
        F.round(smd / F.sqrt(px * py), 6).alias("tau_b"),
    )


def _x514_oracle() -> str:
    from ...ops.text import lang_id_oracle_sql

    pred = lang_id_oracle_sql().rsplit("ORDER BY doc_id", 1)[0]
    return f"""
WITH pred AS MATERIALIZED ({pred}),
conf AS (
  SELECT d.lang AS gold, p.pred_lang AS pred,
         CAST(count(*) AS BIGINT) AS c
  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
  GROUP BY 1, 2
),
u AS (
  SELECT gold AS i, pred AS j, c, c AS dc FROM conf
  UNION ALL
  SELECT pred AS i, gold AS j, c, -c AS dc FROM conf
),
pairs AS (
  SELECT i, j, CAST(SUM(c) AS BIGINT) AS m, CAST(SUM(dc) AS BIGINT) AS d
  FROM u WHERE i < j GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS df,
       ROUND(CAST(SUM(CAST(round(CAST(CAST(d AS HUGEINT) * d AS DOUBLE)
                                 / m, 10) AS DECIMAL(38,10)))
                  AS DOUBLE), 4) AS bowker_chi2,
       CAST(SUM(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS asymmetric_pairs
FROM pairs WHERE m > 0
"""


@register(
    "x514_bowker_symmetry",
    _x514_oracle(),
    doc="Bowker's test of symmetry on the lang-vs-predicted "
        "confusion table (x298's exact pairing): chi2 = sum over "
        "label pairs i<j of (n_ij - n_ji)^2/(n_ij + n_ji), df = "
        "pairs with any off-diagonal mass -- tests whether the "
        "auto-labeler's ERRORS are direction-neutral (x298's kappa "
        "scores agreement, x464's confusion panel shows the "
        "matrix; Bowker asks the McNemar question generalized to "
        "k>2: is en mislabeled as de exactly as often as de as "
        "en?), the drift alarm for a labeler whose bias direction "
        "matters downstream. Exactness: the union-with-negation "
        "trick builds (n_ij+n_ji, n_ij-n_ji) per unordered pair "
        "in one groupBy with exact BIGINTs; per-pair terms round "
        "10 into DECIMAL before the k^2-bounded sum. Scale: one "
        "corpus pass to the k x k confusion, then k^2 algebra",
)
def x514_bowker_symmetry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...ops import text

    docs = load_table(spark, sf_dir, "documents")
    conf = (
        docs.select(
            F.col("lang").alias("gold"),
            text.lang_pred_column("text").alias("pred"),
        )
        .groupBy("gold", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    u = conf.select(
        F.col("gold").alias("i"), F.col("pred").alias("j"),
        F.col("c"), F.col("c").alias("dc"),
    ).unionByName(
        conf.select(
            F.col("pred").alias("i"), F.col("gold").alias("j"),
            F.col("c"), (-F.col("c")).alias("dc"),
        )
    )
    pairs = (
        u.filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum("c").cast("long").alias("m"),
            F.sum("dc").cast("long").alias("d"),
        )
        .filter(F.col("m") > 0)
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.round(
            F.sum(
                F.round(
                    (F.col("d").cast("decimal(38,0)") * F.col("d")).cast(
                        "double"
                    )
                    / F.col("m"),
                    10,
                ).cast("decimal(38,10)")
            ).cast("double"),
            4,
        ).alias("bowker_chi2"),
        F.sum(F.when(F.col("d") != 0, 1).otherwise(0))
        .cast("long")
        .alias("asymmetric_pairs"),
    )


_X515_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment AS seg,
         CASE WHEN l.l_discount >= 0.06 THEN 1 ELSE 0 END AS exposed,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
),
s AS (
  SELECT seg,
         CAST(SUM(CASE WHEN exposed = 1 AND ret = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN exposed = 1 AND ret = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN exposed = 0 AND ret = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN exposed = 0 AND ret = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM j GROUP BY 1
),
mh AS (
  SELECT ROUND(
           CAST(SUM(CAST(round(CAST(a AS DOUBLE) * d / (a+b+c+d), 10)
                         AS DECIMAL(38,10))) AS DOUBLE)
           / CAST(SUM(CAST(round(CAST(b AS DOUBLE) * c / (a+b+c+d), 10)
                           AS DECIMAL(38,10))) AS DOUBLE), 10) AS psi
  FROM s
),
q AS (
  SELECT s.seg, s.a, CAST(s.a+s.b+s.c+s.d AS DOUBLE) AS n,
         CAST(s.a+s.b AS DOUBLE) AS r1, CAST(s.a+s.c AS DOUBLE) AS c1,
         mh.psi
  FROM s, mh
),
root AS (
  SELECT seg, a, n, r1, c1, psi,
         CASE WHEN abs(1.0 - psi) < 1e-12 THEN r1 * c1 / n
              ELSE CASE WHEN
                ((-((n - r1 - c1) + psi * (r1 + c1)))
                 + sqrt(((n - r1 - c1) + psi * (r1 + c1))
                        * ((n - r1 - c1) + psi * (r1 + c1))
                        + 4.0 * (1.0 - psi) * psi * r1 * c1))
                / (2.0 * (1.0 - psi))
                > GREATEST(0.0, r1 + c1 - n)
               AND
                ((-((n - r1 - c1) + psi * (r1 + c1)))
                 + sqrt(((n - r1 - c1) + psi * (r1 + c1))
                        * ((n - r1 - c1) + psi * (r1 + c1))
                        + 4.0 * (1.0 - psi) * psi * r1 * c1))
                / (2.0 * (1.0 - psi))
                < LEAST(r1, c1)
              THEN
                ((-((n - r1 - c1) + psi * (r1 + c1)))
                 + sqrt(((n - r1 - c1) + psi * (r1 + c1))
                        * ((n - r1 - c1) + psi * (r1 + c1))
                        + 4.0 * (1.0 - psi) * psi * r1 * c1))
                / (2.0 * (1.0 - psi))
              ELSE
                ((-((n - r1 - c1) + psi * (r1 + c1)))
                 - sqrt(((n - r1 - c1) + psi * (r1 + c1))
                        * ((n - r1 - c1) + psi * (r1 + c1))
                        + 4.0 * (1.0 - psi) * psi * r1 * c1))
                / (2.0 * (1.0 - psi))
              END
         END AS ae
  FROM q
),
terms AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         MAX(psi) AS psi,
         CAST(SUM(CAST(round(
           (a - ae) * (a - ae)
           * (1.0/ae + 1.0/(r1-ae) + 1.0/(c1-ae)
              + 1.0/(n-r1-c1+ae)), 8) AS DECIMAL(38,8)))
           AS DECIMAL(38,8)) AS chi2
  FROM root
)
SELECT k AS n_strata,
       ROUND(psi, 6) AS or_mh,
       ROUND(CAST(chi2 AS DOUBLE), 4) AS breslow_day_chi2,
       CAST(k - 1 AS BIGINT) AS df
FROM terms
"""


@register(
    "x515_breslow_day",
    _X515_ORACLE,
    doc="Breslow-Day homogeneity test for the discount->return odds "
        "ratio across the 5 market segments: x385's CMH estimates "
        "ONE common OR assuming homogeneity -- Breslow-Day tests "
        "that assumption (per-stratum expected a-cells under the "
        "MH OR solve the fixed-margin quadratic in closed form, "
        "chi2 = sum (a - a_e)^2 / Var(a_e), df = k-1), the "
        "pooling-legitimacy gate that decides between one pooled "
        "OR and x422-style per-segment reporting. Exactness: "
        "exact integer 2x2 counts per stratum; MH OR from "
        "round-10 DECIMAL stratum terms, rounded 10 before reuse; "
        "the quadratic root (discriminant form B^2 + 4(1-psi) psi "
        "r1 c1 written to avoid cancellation), range-based root "
        "selection, and the variance are ONE fixed-order double "
        "expression per stratum (engine-identical inputs => "
        "identical doubles); per-stratum chi2 terms round 8 into "
        "DECIMAL before the k-row sum. Scale: one corpus pass to "
        "k 2x2 tables, then k-row algebra",
)
def x515_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("l_discount") >= 0.06, 1).otherwise(0).alias("ex"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("rt"),
        )
    )
    s = j.groupBy("seg").agg(
        F.sum(F.when((F.col("ex") == 1) & (F.col("rt") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("ex") == 1) & (F.col("rt") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("ex") == 0) & (F.col("rt") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("ex") == 0) & (F.col("rt") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    ).localCheckpoint(eager=False)
    ntot = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast(
        "double"
    )
    mh = s.agg(
        F.round(
            F.sum(
                F.round(
                    F.col("a").cast("double") * F.col("d") / ntot, 10
                ).cast("decimal(38,10)")
            ).cast("double")
            / F.sum(
                F.round(
                    F.col("b").cast("double") * F.col("c") / ntot, 10
                ).cast("decimal(38,10)")
            ).cast("double"),
            10,
        ).alias("psi")
    )
    q = s.crossJoin(F.broadcast(mh)).select(
        "seg",
        "a",
        ntot.alias("n"),
        (F.col("a") + F.col("b")).cast("double").alias("r1"),
        (F.col("a") + F.col("c")).cast("double").alias("c1"),
        "psi",
    )
    n, r1, c1, psi = F.col("n"), F.col("r1"), F.col("c1"), F.col("psi")
    bq = (n - r1 - c1) + psi * (r1 + c1)
    disc = F.sqrt(bq * bq + F.lit(4.0) * (F.lit(1.0) - psi) * psi * r1 * c1)
    root_p = (-bq + disc) / (F.lit(2.0) * (F.lit(1.0) - psi))
    root_m = (-bq - disc) / (F.lit(2.0) * (F.lit(1.0) - psi))
    in_range = (root_p > F.greatest(F.lit(0.0), r1 + c1 - n)) & (
        root_p < F.least(r1, c1)
    )
    ae = F.when(F.abs(F.lit(1.0) - psi) < 1e-12, r1 * c1 / n).otherwise(
        F.when(in_range, root_p).otherwise(root_m)
    )
    root = q.select("seg", "a", "n", "r1", "c1", "psi", ae.alias("ae"))
    aec = F.col("ae")
    var_inv = (
        F.lit(1.0) / aec
        + F.lit(1.0) / (F.col("r1") - aec)
        + F.lit(1.0) / (F.col("c1") - aec)
        + F.lit(1.0) / (F.col("n") - F.col("r1") - F.col("c1") + aec)
    )
    terms = root.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("psi").alias("psi"),
        F.sum(
            F.round(
                (F.col("a") - aec) * (F.col("a") - aec) * var_inv, 8
            ).cast("decimal(38,8)")
        )
        .cast("decimal(38,8)")
        .alias("chi2"),
    )
    return terms.select(
        F.col("k").alias("n_strata"),
        F.round("psi", 6).alias("or_mh"),
        F.round(F.col("chi2").cast("double"), 4).alias(
            "breslow_day_chi2"
        ),
        (F.col("k") - 1).cast("long").alias("df"),
    )


_X516_ORACLE = """
WITH u AS (
  SELECT user_id,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
         CAST(SUM(conv) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
              AS BIGINT) AS aobs
  FROM u
),
dom AS (
  SELECT m.n1, m.n2, m.c1, m.aobs,
         GREATEST(0, m.c1 - m.n2) AS alo,
         LEAST(m.c1, m.n1) AS ahi,
         t.a
  FROM m, UNNEST(range(GREATEST(0, m.c1 - m.n2),
                       LEAST(m.c1, m.n1) + 1)) AS t(a)
),
steps AS (
  SELECT a, n1, n2, c1, aobs,
         CASE WHEN a < LEAST(c1, n1) THEN
           CAST(floor(
             (ln(CAST(n1 - a AS DOUBLE))
              + ln(CAST(c1 - a AS DOUBLE))
              - ln(CAST(a + 1 AS DOUBLE))
              - ln(CAST(n2 - c1 + a + 1 AS DOUBLE)))
             * 1000000000000.0) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS st
  FROM dom
),
lpre AS (
  SELECT a, n1, n2, c1, aobs,
         COALESCE(SUM(st) OVER (ORDER BY a
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS l
  FROM steps
),
mx AS (SELECT MAX(l) AS mxl FROM lpre),
e AS (
  SELECT a, n1, n2, c1, aobs,
         CAST(floor(exp(CAST(l - mx.mxl AS DOUBLE) / 1000000000000.0)
                    * 1000000000000000.0) AS BIGINT) AS ev
  FROM lpre, mx
),
z AS (
  SELECT CAST(SUM(ev) AS HUGEINT) AS zz,
         CAST(MAX(CASE WHEN a = aobs THEN ev END) AS BIGINT) AS eobs
  FROM e
),
p AS (
  SELECT CAST(SUM(CASE WHEN e.ev <= z.eobs THEN CAST(e.ev AS HUGEINT)
                  ELSE 0 END) AS HUGEINT) AS psum
  FROM e, z
)
SELECT m.n1 AS n_arm_a, m.n2 AS n_arm_b, m.c1 AS n_success,
       m.aobs AS a_obs,
       ROUND(CAST(m.aobs AS DOUBLE) * (m.n2 - m.c1 + m.aobs)
             / (CAST(m.n1 - m.aobs AS DOUBLE) * (m.c1 - m.aobs)), 6)
         AS odds_ratio,
       ROUND(CAST(p.psum AS DOUBLE) / CAST(z.zz AS DOUBLE), 8)
         AS p_two_sided,
       ROUND((CAST(p.psum AS DOUBLE) - CAST(z.eobs AS DOUBLE) / 2.0)
             / CAST(z.zz AS DOUBLE), 8) AS mid_p
FROM m, z, p
"""


@register(
    "x516_fisher_exact",
    _X516_ORACLE,
    doc="Fisher's EXACT 2x2 test on x477's exact framing (arm = "
        "user_id % 2, success = >= 14 purchases): hypergeometric "
        "two-sided p by the point-probability rule plus the mid-p "
        "-- the small-sample-legitimate inference x125's normal "
        "lift CI and x460's Wilson bounds approximate, and the "
        "frequentist twin of x477's Bayesian posterior (same "
        "table, same lgamma-free machinery). The pmf never needs "
        "factorials: log-pmf ratios telescope over the support "
        "via the recurrence step ln((n1-a)(c1-a)) - "
        "ln((a+1)(n2-c1+a+1)), each step 1e-12-floor-quantized so "
        "the prefix sums are exact integers; probabilities "
        "max-shift then 1e15-floor to exact integer weights, so "
        "the <= e_obs tail selection and both p-values are "
        "engine-identical integer arithmetic with two final "
        "divisions. Scale: two user-grain aggregates; the support "
        "domain is min(c1,n1)-max(0,c1-n2)+1 rows (<= the smaller "
        "margin -- 698 at sf0.1) through one task, x477's stated "
        "bound",
)
def x516_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("conv")
    )
    m = u.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum("conv").cast("long").alias("c1"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("aobs"),
    ).localCheckpoint(eager=False)
    dom = m.select(
        "n1",
        "n2",
        "c1",
        "aobs",
        F.greatest(F.lit(0), F.col("c1") - F.col("n2")).alias("alo"),
        F.explode(
            F.sequence(
                F.greatest(F.lit(0).cast("long"), F.col("c1") - F.col("n2")),
                F.least(F.col("c1"), F.col("n1")),
            )
        ).alias("a"),
    )
    # per-support-point recurrence step at t = a (applies to a+1);
    # guarded at the TOP of the support where c1-a or n1-a hits 0 (the
    # last row's step is never consumed by the shifted prefix window,
    # but ln(0) = -inf would still poison the cast on both engines)
    t = F.col("a")
    step = F.when(
        t < F.least(F.col("c1"), F.col("n1")),
        F.floor(
            (
                F.log((F.col("n1") - t).cast("double"))
                + F.log((F.col("c1") - t).cast("double"))
                - F.log((t + 1).cast("double"))
                - F.log((F.col("n2") - F.col("c1") + t + 1).cast("double"))
            )
            * F.lit(1e12)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    w = Window.orderBy("a").rowsBetween(
        Window.unboundedPreceding, -1
    )
    lpre = dom.select(
        "a",
        "n1",
        "n2",
        "c1",
        "aobs",
        F.coalesce(F.sum(step).over(w), F.lit(0).cast("long")).alias("l"),
    )
    mx = lpre.agg(F.max("l").alias("mxl"))
    e = lpre.crossJoin(F.broadcast(mx)).select(
        "a",
        "n1",
        "n2",
        "c1",
        "aobs",
        F.floor(
            F.exp((F.col("l") - F.col("mxl")).cast("double") / F.lit(1e12))
            * F.lit(1e15)
        )
        .cast("long")
        .alias("ev"),
    )
    z = e.agg(
        F.sum(F.col("ev").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("zz"),
        F.max(F.when(F.col("a") == F.col("aobs"), F.col("ev")))
        .cast("long")
        .alias("eobs"),
    )
    p = e.crossJoin(F.broadcast(z)).agg(
        F.sum(
            F.when(
                F.col("ev") <= F.col("eobs"),
                F.col("ev").cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("psum")
    )
    j = m.crossJoin(F.broadcast(z)).crossJoin(F.broadcast(p))
    return j.select(
        F.col("n1").alias("n_arm_a"),
        F.col("n2").alias("n_arm_b"),
        F.col("c1").alias("n_success"),
        F.col("aobs").alias("a_obs"),
        F.round(
            F.col("aobs").cast("double")
            * (F.col("n2") - F.col("c1") + F.col("aobs"))
            / (
                (F.col("n1") - F.col("aobs")).cast("double")
                * (F.col("c1") - F.col("aobs"))
            ),
            6,
        ).alias("odds_ratio"),
        F.round(
            F.col("psum").cast("double") / F.col("zz").cast("double"), 8
        ).alias("p_two_sided"),
        F.round(
            (
                F.col("psum").cast("double")
                - F.col("eobs").cast("double") / F.lit(2.0)
            )
            / F.col("zz").cast("double"),
            8,
        ).alias("mid_p"),
    )


_X517_ORACLE = """
WITH u AS (
  SELECT user_id,
         MIN(ts) AS first_ts,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_p
  FROM events GROUP BY 1
),
lat AS (
  SELECT (epoch_us(first_p) - epoch_us(first_ts)) // 3600000000 AS h
  FROM u WHERE first_p IS NOT NULL
),
cells AS (
  SELECT h, CAST(count(*) AS BIGINT) AS c
  FROM lat WHERE h >= 1 GROUP BY 1
),
pos AS (
  SELECT h, c,
         COALESCE(SUM(c) OVER (ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumb,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM cells
),
pts AS (
  SELECT CAST(round(ln(CAST(h AS DOUBLE)), 10) AS DECIMAL(38,10)) AS x,
         CAST(round(ln(-ln(1.0 -
           (CAST(cumb AS DOUBLE) + (c + 1.0) / 2.0 - 0.3)
           / (n + 0.4))), 10) AS DECIMAL(38,10)) AS y
  FROM pos
),
ls AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(x) AS DECIMAL(38,10)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,10)) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,20))) AS DECIMAL(38,20)) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,20))) AS DECIMAL(38,20)) AS sxx
  FROM pts
),
fit AS (
  SELECT m,
         (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS shape,
         CAST(sx AS DOUBLE) / m AS mx,
         CAST(sy AS DOUBLE) / m AS my
  FROM ls
)
SELECT m AS n_distinct_latencies,
       (SELECT CAST(SUM(c) AS BIGINT) FROM cells) AS n_users,
       ROUND(shape, 6) AS weibull_shape,
       ROUND(exp(-(my - shape * mx) / shape), 4) AS weibull_scale_hours
FROM fit
"""


@register(
    "x517_weibull_fit",
    _X517_ORACLE,
    doc="Weibull fit of time-to-first-purchase (hours from a user's "
        "first event to their first purchase, uncensored converters "
        "only, zero-hour latencies dropped -- stated) by "
        "median-rank regression: ln(-ln(1-F)) on ln(t) with the "
        "Bernard plotting position (cum + (c+1)/2 - 0.3)/(n + 0.4) "
        "evaluated ONCE PER DISTINCT latency at its tie-midpoint "
        "(deterministic, tie-stable -- a documented variant of the "
        "per-observation textbook form); shape < 1 = decreasing "
        "conversion hazard (convert-fast-or-never), shape > 1 = "
        "wear-in -- the PARAMETRIC layer over x166's raw latencies "
        "and x305/x368's nonparametric survival curves. Exactness: "
        "integer-hour latencies; ln/plotting terms round 10 into "
        "DECIMAL before the cell-domain least-squares sums; slope/"
        "scale assembled in double with fixed order. Scale: one "
        "user-grain aggregate, then bounded latency-cell algebra",
)
def x517_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_p"),
    )
    lat = u.filter(F.col("first_p").isNotNull()).select(
        F.expr(
            "CAST(timestampdiff(MICROSECOND, first_ts, first_p) "
            "DIV 3600000000 AS BIGINT)"
        ).alias("h")
    )
    cells = (
        lat.filter(F.col("h") >= 1)
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wo = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    pos = cells.select(
        "h",
        "c",
        F.coalesce(F.sum("c").over(wo), F.lit(0).cast("long")).alias(
            "cumb"
        ),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    fpos = (
        F.col("cumb").cast("double")
        + (F.col("c") + 1.0) / 2.0
        - F.lit(0.3)
    ) / (F.col("n") + 0.4)
    pts = pos.select(
        F.round(F.log(F.col("h").cast("double")), 10)
        .cast("decimal(38,10)")
        .alias("x"),
        F.round(F.log(-F.log(F.lit(1.0) - fpos)), 10)
        .cast("decimal(38,10)")
        .alias("y"),
        "n",
    )
    ls = pts.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("decimal(38,10)").alias("sx"),
        F.sum("y").cast("decimal(38,10)").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,20)"))
        .cast("decimal(38,20)")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,20)"))
        .cast("decimal(38,20)")
        .alias("sxx"),
        F.max("n").alias("n_users"),
    )
    md = F.col("m").cast("double")
    shape = (
        md * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        md * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    mx = F.col("sx").cast("double") / F.col("m")
    my = F.col("sy").cast("double") / F.col("m")
    return ls.select(
        F.col("m").alias("n_distinct_latencies"),
        F.col("n_users"),
        F.round(shape, 6).alias("weibull_shape"),
        F.round(F.exp(-(my - shape * mx) / shape), 4).alias(
            "weibull_scale_hours"
        ),
    )


_X518_ORACLE = """
WITH mxx AS (SELECT MAX(ts) AS max_ts FROM events),
u AS (
  SELECT user_id % 2 AS grp,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000 AS lt,
         CASE WHEN epoch_us((SELECT max_ts FROM mxx))
                   - epoch_us(MAX(ts)) > 86400000000
              THEN 1 ELSE 0 END AS observed
  FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM u
),
times AS (
  SELECT lt,
         CAST(SUM(CASE WHEN grp = 0 THEN observed ELSE 0 END) AS BIGINT)
           AS d1,
         CAST(SUM(observed) AS BIGINT) AS dt
  FROM u GROUP BY 1 HAVING SUM(observed) > 0
),
atrisk AS (
  SELECT t.lt, t.d1, t.dt,
         (SELECT CAST(count(*) AS BIGINT) FROM u
          WHERE u.grp = 0 AND u.lt >= t.lt) AS n1,
         (SELECT CAST(count(*) AS BIGINT) FROM u
          WHERE u.lt >= t.lt) AS nt
  FROM times t
),
terms AS (
  SELECT CAST(count(*) AS BIGINT) AS n_times,
         CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(CAST(round(CAST(dt AS DOUBLE) * n1 / nt, 10)
                       AS DECIMAL(38,10))) AS DECIMAL(38,10)) AS e1,
         CAST(SUM(CAST(round(CASE WHEN nt > 1 THEN
             CAST(dt AS DOUBLE) * (CAST(n1 AS DOUBLE) / nt)
             * (1.0 - CAST(n1 AS DOUBLE) / nt)
             * (nt - dt) / (nt - 1.0) ELSE 0.0 END, 10)
           AS DECIMAL(38,10))) AS DECIMAL(38,10)) AS v
  FROM atrisk
)
SELECT tot.na AS n_group_a, tot.nb AS n_group_b, t.n_times,
       t.o1 AS observed_a,
       ROUND(CAST(t.e1 AS DOUBLE), 4) AS expected_a,
       ROUND((t.o1 - CAST(t.e1 AS DOUBLE))
             * (t.o1 - CAST(t.e1 AS DOUBLE))
             / CAST(t.v AS DOUBLE), 4) AS logrank_chi2
FROM terms t, tot
"""


@register(
    "x518_logrank_test",
    _X518_ORACLE,
    doc="log-rank test between the two user-parity arms on x305's "
        "exact censored-lifetime construction (hours first-to-last "
        "event; censored when the last event is within a day of "
        "corpus end): at each distinct death time O-E and the "
        "hypergeometric variance accumulate, chi2(1) = "
        "(sum(O-E))^2 / sum(V) -- THE standard two-sample survival "
        "comparison that x305/x368 describe one curve at a time "
        "and x431's RMST summarizes at a horizon; the whole-curve "
        "test a churn experiment reads first. Exactness: exact "
        "integer at-risk/death counts per distinct lifetime (the "
        "at-risk counts are suffix sums over the bounded lifetime "
        "domain); per-time E and V terms round 10 into DECIMAL "
        "before summing; one final division. Scale: one user-grain "
        "aggregate, then lifetime-domain algebra",
)
def x518_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    u = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("user_id") % 2).alias("grp"),
            F.expr(
                "CAST(timestampdiff(MICROSECOND, first_ts, last_ts) "
                "DIV 3600000000 AS BIGINT)"
            ).alias("lt"),
            F.when(
                F.expr("timestampdiff(MICROSECOND, last_ts, max_ts)")
                > F.lit(86400000000),
                1,
            )
            .otherwise(0)
            .alias("observed"),
        )
        .localCheckpoint(eager=False)
    )
    tot = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    times = (
        u.groupBy("lt")
        .agg(
            F.sum(F.when(F.col("grp") == 0, F.col("observed")).otherwise(0))
            .cast("long")
            .alias("d1"),
            F.sum("observed").cast("long").alias("dt"),
        )
        .filter(F.col("dt") > 0)
    )
    # at-risk via suffix sums over the bounded lifetime domain: count
    # users (per group / total) with lt >= t without correlated
    # subqueries -- lifetime-cell suffix windows
    from pyspark.sql import Window

    ucells = u.groupBy("lt").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.count(F.lit(1)).cast("long").alias("ct"),
    )
    wsuf = Window.orderBy(F.col("lt").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    suffix = ucells.select(
        "lt",
        F.sum("c1").over(wsuf).cast("long").alias("n1"),
        F.sum("ct").over(wsuf).cast("long").alias("nt"),
    )
    atrisk = times.join(suffix, "lt")
    n1d = F.col("n1").cast("double")
    ntd = F.col("nt").cast("double")
    dtd = F.col("dt").cast("double")
    terms = atrisk.agg(
        F.count(F.lit(1)).cast("long").alias("n_times"),
        F.sum("d1").cast("long").alias("o1"),
        F.sum(
            F.round(dtd * F.col("n1") / F.col("nt"), 10).cast(
                "decimal(38,10)"
            )
        )
        .cast("decimal(38,10)")
        .alias("e1"),
        F.sum(
            F.round(
                F.when(
                    F.col("nt") > 1,
                    dtd
                    * (n1d / ntd)
                    * (F.lit(1.0) - n1d / ntd)
                    * (F.col("nt") - F.col("dt"))
                    / (ntd - F.lit(1.0)),
                ).otherwise(F.lit(0.0)),
                10,
            ).cast("decimal(38,10)")
        )
        .cast("decimal(38,10)")
        .alias("v"),
    )
    j = terms.crossJoin(F.broadcast(tot))
    oe = F.col("o1") - F.col("e1").cast("double")
    return j.select(
        F.col("na").alias("n_group_a"),
        F.col("nb").alias("n_group_b"),
        "n_times",
        F.col("o1").alias("observed_a"),
        F.round(F.col("e1").cast("double"), 4).alias("expected_a"),
        F.round(oe * oe / F.col("v").cast("double"), 4).alias(
            "logrank_chi2"
        ),
    )


_X519_ORACLE = (
    "WITH "
    + _PAIRED_DAILY_CTE.replace("p AS (", "pp AS (")
    + """,
anchor AS (SELECT MIN(day) AS d0 FROM a),
ty AS (
  SELECT datediff('day', an.d0, a.day) AS t, a.av AS y,
         CASE WHEN a.day < DATE '1999-01-01' THEN 0 ELSE 1 END AS seg
  FROM a, anchor an
),
m AS (
  SELECT seg,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(t) AS HUGEINT) AS st,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
         CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM ty GROUP BY 1
),
mall AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(st) AS HUGEINT) AS st,
         CAST(SUM(sy) AS HUGEINT) AS sy, CAST(SUM(stt) AS HUGEINT) AS stt,
         CAST(SUM(sty) AS HUGEINT) AS sty, CAST(SUM(syy) AS HUGEINT) AS syy
  FROM m
),
ssr AS (
  SELECT seg, n,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
         - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS r,
         (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS slope
  FROM m
),
ssrall AS (
  SELECT n,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
         - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS r
  FROM mall
)
SELECT sa.n AS n_days,
       (SELECT n FROM ssr WHERE seg = 0) AS n_pre,
       ROUND((SELECT slope FROM ssr WHERE seg = 0), 6) AS slope_pre,
       ROUND((SELECT slope FROM ssr WHERE seg = 1), 6) AS slope_post,
       ROUND(((sa.r - (SELECT SUM(r) FROM ssr)) / 2.0)
             / ((SELECT SUM(r) FROM ssr) / (sa.n - 4.0)), 4)
         AS chow_f,
       CAST(sa.n - 4 AS BIGINT) AS df2
FROM ssrall sa
"""
)


@register(
    "x519_chow_test",
    _X519_ORACLE,
    doc="Chow test for a structural break in the daily-revenue "
        "linear trend at 1999-01-01: F = ((SSR_pooled - SSR_pre - "
        "SSR_post)/k) / ((SSR_pre + SSR_post)/(n - 2k)), k = 2 -- "
        "the KNOWN-date break test beside x453's unknown-date "
        "binary segmentation and x418's DiD (which needs a control "
        "series; Chow needs only the regime date), with the pre/"
        "post slopes as the effect readout. Exactness: exact "
        "integer (day-index, cent) moments per segment in HUGEINT/"
        "DECIMAL; each segment's SSR is ONE fixed-order double "
        "expression of those moments (the pooled-vs-sum "
        "cancellation is computed identically on both engines); "
        "pooled moments are exact sums of the segment moments. "
        "Scale: one day-grain aggregate, one 2-row segment "
        "aggregate, constant algebra. NOTE: x504's shared paired "
        "CTE is inlined for the day spine only (header series)",
)
def x519_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    anchor = daily.agg(F.min("day").alias("d0"))
    ty = daily.crossJoin(F.broadcast(anchor)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
        F.col("y"),
        F.when(F.col("day") < F.lit("1999-01-01").cast("date"), 0)
        .otherwise(1)
        .alias("seg"),
    )
    td = F.col("t").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = ty.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(td).cast("decimal(38,0)").alias("st"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(td * F.col("t")).cast("decimal(38,0)").alias("stt"),
        F.sum(td * F.col("y")).cast("decimal(38,0)").alias("sty"),
        F.sum(yd * F.col("y")).cast("decimal(38,0)").alias("syy"),
    ).localCheckpoint(eager=False)

    def ssr_cols(df):
        n = F.col("n").cast("double")
        sy = F.col("sy").cast("double")
        st = F.col("st").cast("double")
        stt = F.col("stt").cast("double")
        sty = F.col("sty").cast("double")
        syy = F.col("syy").cast("double")
        sxy = sty - st * sy / F.col("n")
        sxx = stt - st * st / F.col("n")
        return (syy - sy * sy / F.col("n")) - sxy * sxy / sxx, sxy / sxx

    r_expr, slope_expr = ssr_cols(m)
    ssr = m.select(
        "seg", "n", r_expr.alias("r"), slope_expr.alias("slope")
    )
    mall = m.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("st").cast("decimal(38,0)").alias("st"),
        F.sum("sy").cast("decimal(38,0)").alias("sy"),
        F.sum("stt").cast("decimal(38,0)").alias("stt"),
        F.sum("sty").cast("decimal(38,0)").alias("sty"),
        F.sum("syy").cast("decimal(38,0)").alias("syy"),
    )
    r_all, _ = ssr_cols(mall)
    sall = mall.select(F.col("n"), r_all.alias("r"))
    piv = ssr.agg(
        F.max(F.when(F.col("seg") == 0, F.col("n"))).alias("n_pre"),
        F.max(F.when(F.col("seg") == 0, F.col("slope"))).alias("sl0"),
        F.max(F.when(F.col("seg") == 1, F.col("slope"))).alias("sl1"),
        F.sum("r").alias("rsum"),
    )
    j = sall.crossJoin(F.broadcast(piv))
    return j.select(
        F.col("n").alias("n_days"),
        F.col("n_pre").cast("long").alias("n_pre"),
        F.round("sl0", 6).alias("slope_pre"),
        F.round("sl1", 6).alias("slope_post"),
        F.round(
            ((F.col("r") - F.col("rsum")) / F.lit(2.0))
            / (F.col("rsum") / (F.col("n") - F.lit(4.0))),
            4,
        ).alias("chow_f"),
        (F.col("n") - 4).cast("long").alias("df2"),
    )


_X520_ORACLE = (
    "WITH "
    + _PAIRED_DAILY_CTE
    + """,
m AS (
  SELECT CAST(SUM(CASE WHEN av > bv THEN 1 ELSE 0 END) AS BIGINT)
           AS npos,
         CAST(SUM(CASE WHEN av < bv THEN 1 ELSE 0 END) AS BIGINT)
           AS nneg
  FROM p
),
dom AS (
  SELECT m.npos, m.nneg, m.npos + m.nneg AS mm, t.k
  FROM m, UNNEST(range(0, m.npos + m.nneg + 1)) AS t(k)
),
steps AS (
  SELECT k, npos, nneg, mm,
         CASE WHEN k < mm THEN
           CAST(floor((ln(CAST(mm - k AS DOUBLE))
                       - ln(CAST(k + 1 AS DOUBLE)))
                      * 1000000000000.0) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS st
  FROM dom
),
lpre AS (
  SELECT k, npos, nneg, mm,
         COALESCE(SUM(st) OVER (ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
  FROM steps
),
mx AS (SELECT MAX(l) AS mxl FROM lpre),
e AS (
  SELECT k, npos, nneg, mm,
         CAST(floor(exp(CAST(l - mx.mxl AS DOUBLE) / 1000000000000.0)
                    * 1000000000000000.0) AS BIGINT) AS ev
  FROM lpre, mx
),
z AS (
  SELECT CAST(SUM(ev) AS HUGEINT) AS zz,
         CAST(MAX(CASE WHEN k = npos THEN ev END) AS BIGINT) AS eobs
  FROM e
),
p2 AS (
  SELECT CAST(SUM(CASE WHEN e.ev <= z.eobs THEN CAST(e.ev AS HUGEINT)
                  ELSE 0 END) AS HUGEINT) AS psum
  FROM e, z
)
SELECT m.npos AS n_a_above, m.nneg AS n_b_above,
       m.npos + m.nneg AS n_informative,
       ROUND(CAST(p2.psum AS DOUBLE) / CAST(z.zz AS DOUBLE), 8)
         AS p_two_sided,
       ROUND((m.npos - CAST(m.npos + m.nneg AS DOUBLE) / 2.0)
             / sqrt(CAST(m.npos + m.nneg AS DOUBLE) / 4.0), 4)
         AS sign_z
FROM m, z, p2
"""
)


@register(
    "x520_sign_test",
    _X520_ORACLE,
    doc="exact sign test on the x504 paired daily measurements "
        "(header vs lineitem-derived revenue): under H0 each "
        "informative day is a fair coin, so the EXACT Binomial(m, "
        "1/2) two-sided p (point-probability rule; tied days "
        "dropped -- stated) decides whether the bias x504 "
        "quantifies is systematic in DIRECTION, with no "
        "distributional assumption at all (x521's signed-rank adds "
        "magnitude, x444's t adds normality -- this is the "
        "assumption-free floor of that ladder). Exactness: x516's "
        "lgamma-free machinery with the p=1/2 factor cancelling "
        "into the max-shift: quantized log-ratio steps ln(m-k) - "
        "ln(k+1), exact integer prefix sums, 1e15-floor weights, "
        "integer tail selection, one division. SATURATION: weights "
        "below 1e-15 of the mode floor to 0, so p below ~1e-15 "
        "emits EXACTLY 0 (this fixture's header-vs-lineitem bias "
        "is that lopsided -- measured); the sign_z column carries "
        "the magnitude past the grid (the deliberate trade: an "
        "exact grid over an approximate tail). Scale: one "
        "day-grain reduction; the support domain is m+1 rows "
        "through one task (m = informative days, bounded by the "
        "date range)",
)
def x520_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    p = _paired_daily(spark, sf_dir)
    m = p.agg(
        F.sum(F.when(F.col("av") > F.col("bv"), 1).otherwise(0))
        .cast("long")
        .alias("npos"),
        F.sum(F.when(F.col("av") < F.col("bv"), 1).otherwise(0))
        .cast("long")
        .alias("nneg"),
    ).localCheckpoint(eager=False)
    dom = m.select(
        "npos",
        "nneg",
        (F.col("npos") + F.col("nneg")).alias("mm"),
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.col("npos") + F.col("nneg")
            )
        ).alias("k"),
    )
    step = F.when(
        F.col("k") < F.col("mm"),
        F.floor(
            (
                F.log((F.col("mm") - F.col("k")).cast("double"))
                - F.log((F.col("k") + 1).cast("double"))
            )
            * F.lit(1e12)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    lpre = dom.select(
        "k",
        "npos",
        "nneg",
        "mm",
        F.coalesce(F.sum(step).over(w), F.lit(0).cast("long")).alias("l"),
    )
    mx = lpre.agg(F.max("l").alias("mxl"))
    e = lpre.crossJoin(F.broadcast(mx)).select(
        "k",
        "npos",
        "nneg",
        "mm",
        F.floor(
            F.exp((F.col("l") - F.col("mxl")).cast("double") / F.lit(1e12))
            * F.lit(1e15)
        )
        .cast("long")
        .alias("ev"),
    )
    z = e.agg(
        F.sum(F.col("ev").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("zz"),
        F.max(F.when(F.col("k") == F.col("npos"), F.col("ev")))
        .cast("long")
        .alias("eobs"),
    )
    p2 = e.crossJoin(F.broadcast(z)).agg(
        F.sum(
            F.when(
                F.col("ev") <= F.col("eobs"),
                F.col("ev").cast("decimal(38,0)"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        )
        .cast("decimal(38,0)")
        .alias("psum")
    )
    j = m.crossJoin(F.broadcast(z)).crossJoin(F.broadcast(p2))
    mm = (F.col("npos") + F.col("nneg")).cast("double")
    return j.select(
        F.col("npos").alias("n_a_above"),
        F.col("nneg").alias("n_b_above"),
        (F.col("npos") + F.col("nneg")).cast("long").alias(
            "n_informative"
        ),
        F.round(
            F.col("psum").cast("double") / F.col("zz").cast("double"), 8
        ).alias("p_two_sided"),
        F.round(
            (F.col("npos") - mm / F.lit(2.0)) / F.sqrt(mm / F.lit(4.0)),
            4,
        ).alias("sign_z"),
    )


_X521_ORACLE = (
    "WITH "
    + _PAIRED_DAILY_CTE
    + """,
d AS (
  SELECT av - bv AS dd, abs(av - bv) AS ad
  FROM p WHERE av <> bv
),
rk AS (
  SELECT dd,
         CAST(2 * RANK() OVER (ORDER BY ad)
              + COUNT(*) OVER (PARTITION BY ad) - 1 AS BIGINT) AS dr
  FROM d
),
tie AS (
  SELECT CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS t3
  FROM (SELECT count(*) AS t FROM d GROUP BY ad)
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN dd > 0 THEN dr ELSE 0 END) AS HUGEINT) AS w2
  FROM rk
)
SELECT s.n AS n_informative,
       CAST(s.w2 AS BIGINT) AS w_plus_doubled,
       ROUND((CAST(s.w2 AS DOUBLE) - CAST(s.n AS DOUBLE) * (s.n + 1) / 2.0)
             / sqrt(4.0 * (CAST(s.n AS DOUBLE) * (s.n + 1)
                           * (2.0 * s.n + 1) / 24.0
                           - CAST(tie.t3 AS DOUBLE) / 48.0)), 4)
         AS wilcoxon_z
FROM s, tie
"""
)


@register(
    "x521_wilcoxon_signed_rank",
    _X521_ORACLE,
    doc="Wilcoxon signed-rank test on the x504 paired days: ranks of "
        "|d| (zeros dropped, midranks for ties) signed by d, W+ "
        "standardized with the tie-corrected null variance "
        "n(n+1)(2n+1)/24 - sum(t^3-t)/48 -- the magnitude-aware "
        "middle rung between x520's sign test (direction only) and "
        "x444's t (needs normality): a few huge disagreement days "
        "move W+ by their rank, not their size. Exactness: the "
        "doubled-midrank identity 2*rank + tiecount - 1 makes "
        "every rank an exact integer (W2 = 2W+ exact HUGEINT), "
        "tie correction an exact integer sum; ONE final "
        "standardization in double (no continuity correction -- "
        "stated). Scale: differences ride the bounded day domain; "
        "the rank window is day-cardinality",
)
def x521_wilcoxon_signed_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    p = _paired_daily(spark, sf_dir)
    d = p.filter(F.col("av") != F.col("bv")).select(
        (F.col("av") - F.col("bv")).alias("dd"),
        F.abs(F.col("av") - F.col("bv")).alias("ad"),
    )
    rk = d.select(
        "dd",
        (
            2 * F.rank().over(Window.orderBy("ad"))
            + F.count(F.lit(1)).over(Window.partitionBy("ad"))
            - 1
        )
        .cast("long")
        .alias("dr"),
    )
    tie = (
        d.groupBy("ad")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
                - F.col("t")
            )
            .cast("decimal(38,0)")
            .alias("t3")
        )
    )
    s = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("dd") > 0, F.col("dr")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("w2"),
    )
    j = s.crossJoin(F.broadcast(tie))
    nd = F.col("n").cast("double")
    return j.select(
        F.col("n").alias("n_informative"),
        F.col("w2").cast("long").alias("w_plus_doubled"),
        F.round(
            (
                F.col("w2").cast("double")
                - nd * (F.col("n") + 1) / F.lit(2.0)
            )
            / F.sqrt(
                F.lit(4.0)
                * (
                    nd * (F.col("n") + 1) * (F.lit(2.0) * F.col("n") + 1)
                    / F.lit(24.0)
                    - F.col("t3").cast("double") / F.lit(48.0)
                )
            ),
            4,
        ).alias("wilcoxon_z"),
    )


_X522_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
obs AS (
  SELECT CAST(floor((CAST(SUM(CASE WHEN user_id % 2 = 1 THEN s END)
                          AS DOUBLE)
                     / SUM(CASE WHEN user_id % 2 = 1 THEN c END)
                     - CAST(SUM(CASE WHEN user_id % 2 = 0 THEN s END)
                            AS DOUBLE)
                       / SUM(CASE WHEN user_id % 2 = 0 THEN c END))
                    * 100000000.0) AS BIGINT) AS q
  FROM u
),
reps AS (
  SELECT r.r, CAST(floor(
           (CAST(SUM(CASE WHEN substr(md5(CAST(u.user_id AS VARCHAR)
                            || ':perm:' || CAST(r.r AS VARCHAR)), 1, 4)
                          < '8000' THEN u.s END) AS DOUBLE)
            / SUM(CASE WHEN substr(md5(CAST(u.user_id AS VARCHAR)
                            || ':perm:' || CAST(r.r AS VARCHAR)), 1, 4)
                       < '8000' THEN u.c END)
            - CAST(SUM(CASE WHEN substr(md5(CAST(u.user_id AS VARCHAR)
                            || ':perm:' || CAST(r.r AS VARCHAR)), 1, 4)
                           >= '8000' THEN u.s END) AS DOUBLE)
              / SUM(CASE WHEN substr(md5(CAST(u.user_id AS VARCHAR)
                            || ':perm:' || CAST(r.r AS VARCHAR)), 1, 4)
                         >= '8000' THEN u.c END))
           * 100000000.0) AS BIGINT) AS q
  FROM u, UNNEST(range(1, 33)) AS r(r)
  GROUP BY 1
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_users,
       ROUND(CAST(obs.q AS DOUBLE) / 100000000.0, 6) AS observed_diff,
       CAST((SELECT SUM(CASE WHEN abs(reps.q) >= abs(obs.q)
                        THEN 1 ELSE 0 END) FROM reps) AS BIGINT)
         AS n_as_extreme,
       ROUND((1.0 + (SELECT SUM(CASE WHEN abs(reps.q) >= abs(obs.q)
                              THEN 1 ELSE 0 END) FROM reps))
             / 33.0, 6) AS p_value
FROM obs
"""


@register(
    "x522_rerandomization_test",
    _X522_ORACLE,
    doc="md5-derandomized re-randomization test for the arm "
        "difference in mean event value (cents): 32 deterministic "
        "pseudo-assignments md5(user:perm:r) < '8000' replay the "
        "randomization null, p = (1 + #{|stat_r| >= |stat_obs|}) "
        "/ 33 (add-one rule) -- the assumption-free significance "
        "layer x328's Poisson bootstrap (variance) and x125's "
        "normal CI (model) do not give: the null distribution "
        "comes from re-running the ASSIGNMENT, the Fisherian sharp-"
        "null logic, derandomized the same way as every hash-split "
        "in this registry (x18/x421). Exactness: per-user exact "
        "integer (sum, count); each replicate's statistic is one "
        "fixed-order double expression 1e8-floor-quantized before "
        "the integer comparisons, so the extremeness counts are "
        "engine-exact. Scale: one user-grain aggregate, x32 "
        "replicate fan-out on the user table, 32-row reduction",
)
def x522_rerandomization_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    ).localCheckpoint(eager=False)

    def qdiff(treat_cond):
        return F.floor(
            (
                F.sum(F.when(treat_cond, F.col("s"))).cast("double")
                / F.sum(F.when(treat_cond, F.col("c")))
                - F.sum(F.when(~treat_cond, F.col("s"))).cast("double")
                / F.sum(F.when(~treat_cond, F.col("c")))
            )
            * F.lit(1e8)
        ).cast("long")

    obs = u.agg(qdiff(F.col("user_id") % 2 == 1).alias("q"))
    reps = (
        u.crossJoin(
            F.broadcast(
                u.sparkSession.createDataFrame(
                    [(r,) for r in range(1, 33)], "r int"
                )
            )
        )
        .groupBy("r")
        .agg(
            qdiff(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(":perm:"),
                            F.col("r").cast("string"),
                        )
                    ),
                    1,
                    4,
                )
                < "8000"
            ).alias("q")
        )
    )
    nu = u.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    cnt = reps.crossJoin(F.broadcast(obs.select(F.col("q").alias("qo")))).agg(
        F.sum(
            F.when(F.abs(F.col("q")) >= F.abs(F.col("qo")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme")
    )
    j = nu.crossJoin(F.broadcast(obs)).crossJoin(F.broadcast(cnt))
    return j.select(
        "n_users",
        F.round(F.col("q").cast("double") / F.lit(1e8), 6).alias(
            "observed_diff"
        ),
        F.col("n_extreme").alias("n_as_extreme"),
        F.round(
            (F.lit(1.0) + F.col("n_extreme")) / F.lit(33.0), 6
        ).alias("p_value"),
    )


_X523_ORACLE = """
WITH s AS (
  SELECT source,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS sup
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(sup) AS BIGINT) AS t,
         CAST(SUM(sup) // 2 AS BIGINT) AS budget,
         CAST(count(*) AS BIGINT) AS m
  FROM s
),
r AS (
  SELECT s.source, s.sup, tot.budget, tot.m,
         CAST(ROW_NUMBER() OVER (ORDER BY s.sup, s.source) AS BIGINT)
           AS j,
         COALESCE(SUM(s.sup) OVER (ORDER BY s.sup, s.source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pj
  FROM s, tot
),
lev AS (
  SELECT MAX(CASE WHEN pj + sup * (m - j + 1) <= budget THEN j
             ELSE 0 END) AS jstar
  FROM r
),
lam AS (
  SELECT r.budget, r.m, lev.jstar,
         (SELECT COALESCE(SUM(sup), 0) FROM r r2
          WHERE r2.j <= lev.jstar) AS psat,
         CASE WHEN lev.jstar < r.m THEN
           (r.budget - (SELECT COALESCE(SUM(sup), 0) FROM r r2
                        WHERE r2.j <= lev.jstar))
           // (r.m - lev.jstar)
         ELSE CAST(0 AS BIGINT) END AS lambda_tok
  FROM r, lev LIMIT 1
)
SELECT r.source, r.sup AS supply_tokens,
       CASE WHEN r.j <= lam.jstar THEN r.sup
            ELSE lam.lambda_tok END AS allocation_tokens,
       CASE WHEN r.j <= lam.jstar THEN 1 ELSE 0 END AS saturated,
       lam.lambda_tok AS water_level
FROM r, lam
ORDER BY r.source
"""


@register(
    "x523_waterfill_budget",
    _X523_ORACLE,
    doc="water-filling allocation of a global token budget (pinned: "
        "half the corpus) across sources: every source gets "
        "min(supply, lambda) with ONE water level lambda chosen so "
        "the budget is exhausted -- small sources keep everything, "
        "large sources are capped at the same level, the "
        "max-min-fair allocation a mixing planner actually ships "
        "(x46's temperature weights SCORE sources; this CUTS the "
        "budget); the classic sorted-prefix closed form: j* = "
        "largest rank where saturating through rank j fits the "
        "budget, lambda = (B - P_j*) div (m - j*) on the integer "
        "token grid (allocations are exact integers; the < m-token "
        "floor remainder is deliberately left unallocated -- "
        "stated). Exactness: exact integer token sums, rank/prefix "
        "windows over the source domain, integer div. Scale: one "
        "corpus pass to source supplies, then source-cardinality "
        "window algebra",
)
def x523_waterfill_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(_toks("text"))).cast("long").alias("sup")
    )
    tot = s.agg(
        F.sum("sup").cast("long").alias("t"),
        F.expr("CAST(sum(sup) div 2 AS BIGINT)").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    wo = Window.orderBy("sup", "source")
    r = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "sup",
        "budget",
        "m",
        F.row_number().over(wo).cast("long").alias("j"),
        F.coalesce(
            F.sum("sup").over(
                wo.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pj"),
    ).localCheckpoint(eager=False)
    lev = r.agg(
        F.max(
            F.when(
                F.col("pj") + F.col("sup") * (F.col("m") - F.col("j") + 1)
                <= F.col("budget"),
                F.col("j"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("jstar")
    )
    rj = r.crossJoin(F.broadcast(lev))
    psat = rj.filter(F.col("j") <= F.col("jstar")).agg(
        F.coalesce(F.sum("sup"), F.lit(0)).cast("long").alias("psat")
    )
    lam = (
        r.select("budget", "m")
        .limit(1)
        .crossJoin(F.broadcast(lev))
        .crossJoin(F.broadcast(psat))
        .select(
            "jstar",
            F.when(
                F.col("jstar") < F.col("m"),
                F.expr("CAST((budget - psat) div (m - jstar) AS BIGINT)"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("lambda_tok"),
        )
    )
    out = r.crossJoin(F.broadcast(lam))
    return out.select(
        "source",
        F.col("sup").alias("supply_tokens"),
        F.when(F.col("j") <= F.col("jstar"), F.col("sup"))
        .otherwise(F.col("lambda_tok"))
        .cast("long")
        .alias("allocation_tokens"),
        F.when(F.col("j") <= F.col("jstar"), 1).otherwise(0).alias(
            "saturated"
        ),
        F.col("lambda_tok").alias("water_level"),
    ).orderBy("source")


_X524_ORACLE = """
WITH d AS (SELECT source, lang FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
hs AS (
  SELECT CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE))
                                 * 1000000000000.0) AS BIGINT))
              AS HUGEINT) AS sc
  FROM (SELECT count(*) AS c FROM d GROUP BY source)
),
hl AS (
  SELECT CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE))
                                 * 1000000000000.0) AS BIGINT))
              AS HUGEINT) AS sc
  FROM (SELECT count(*) AS c FROM d GROUP BY lang)
),
hj AS (
  SELECT CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE))
                                 * 1000000000000.0) AS BIGINT))
              AS HUGEINT) AS sc
  FROM (SELECT count(*) AS c FROM d GROUP BY source, lang)
),
h AS (
  SELECT n.n,
         ln(CAST(n.n AS DOUBLE)) - CAST(hs.sc AS DOUBLE)
           / (n.n * 1000000000000.0) AS h_source,
         ln(CAST(n.n AS DOUBLE)) - CAST(hl.sc AS DOUBLE)
           / (n.n * 1000000000000.0) AS h_lang,
         ln(CAST(n.n AS DOUBLE)) - CAST(hj.sc AS DOUBLE)
           / (n.n * 1000000000000.0) AS h_joint
  FROM n, hs, hl, hj
)
SELECT n AS n_docs,
       ROUND(h_source, 6) AS h_source,
       ROUND(h_lang, 6) AS h_lang,
       ROUND(h_joint, 6) AS h_joint,
       ROUND((h_source + h_lang - h_joint) / h_lang, 6)
         AS u_lang_given_source,
       ROUND((h_source + h_lang - h_joint) / h_source, 6)
         AS u_source_given_lang,
       ROUND(2.0 * (h_source + h_lang - h_joint)
             / (h_source + h_lang), 6) AS u_symmetric
FROM h
"""


@register(
    "x524_theils_u",
    _X524_ORACLE,
    doc="Theil's uncertainty coefficient between source and lang: "
        "U(lang|source) = I(source;lang)/H(lang) -- the share of "
        "label entropy the source already tells you -- plus the "
        "reverse direction and the symmetric form; the ASYMMETRIC, "
        "[0,1]-normalized association x148's chi2 (significance) "
        "and x480's Cramer's V (symmetric strength) don't give: V "
        "can't say WHICH variable predicts which, U can. "
        "Exactness: every entropy uses the exact-count identity "
        "H = ln n - (1/n) sum c*ln(c) with ln(c) quantized "
        "1e12-floor, so the three entropy accumulators are exact "
        "integer sums (count-weighted) and H/U assemble in double "
        "at the end. Scale: three hash aggregates over the "
        "(source), (lang), (source,lang) domains -- all bounded",
)
def x524_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("source", "lang").localCheckpoint(eager=False)
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def ent_sum(*cols):
        return (
            d.groupBy(*cols)
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .agg(
                F.sum(
                    F.col("c").cast("decimal(38,0)")
                    * F.floor(
                        F.log(F.col("c").cast("double")) * F.lit(1e12)
                    ).cast("long")
                )
                .cast("decimal(38,0)")
                .alias("sc")
            )
        )

    hs = ent_sum("source").select(F.col("sc").alias("scs"))
    hl = ent_sum("lang").select(F.col("sc").alias("scl"))
    hj = ent_sum("source", "lang").select(F.col("sc").alias("scj"))
    j = (
        n.crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hj))
    )
    nd = F.col("n").cast("double")

    def h(sc):
        return F.log(nd) - sc.cast("double") / (nd * F.lit(1e12))

    h_s, h_l, h_j = h(F.col("scs")), h(F.col("scl")), h(F.col("scj"))
    mi = h_s + h_l - h_j
    return j.select(
        F.col("n").alias("n_docs"),
        F.round(h_s, 6).alias("h_source"),
        F.round(h_l, 6).alias("h_lang"),
        F.round(h_j, 6).alias("h_joint"),
        F.round(mi / h_l, 6).alias("u_lang_given_source"),
        F.round(mi / h_s, 6).alias("u_source_given_lang"),
        F.round(F.lit(2.0) * mi / (h_s + h_l), 6).alias("u_symmetric"),
    )


_X525_ORACLE = """
WITH d AS (
  SELECT source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
  FROM documents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
med AS (
  SELECT MIN(tok) AS med FROM (
    SELECT tok, SUM(count(*)) OVER (ORDER BY tok
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM d GROUP BY tok
  ) c, n
  WHERE c.cum >= (n.n + 1) // 2
),
cells AS (
  SELECT d.source,
         CAST(SUM(CASE WHEN d.tok > med.med THEN 1 ELSE 0 END)
              AS BIGINT) AS above,
         CAST(SUM(CASE WHEN d.tok <= med.med THEN 1 ELSE 0 END)
              AS BIGINT) AS notabove
  FROM d, med GROUP BY 1
),
marg AS (
  SELECT CAST(SUM(above) AS BIGINT) AS ta,
         CAST(SUM(notabove) AS BIGINT) AS tn,
         CAST(SUM(above + notabove) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS k
  FROM cells
)
SELECT marg.k AS n_groups, (SELECT med FROM med) AS grand_median,
       ROUND(CAST(SUM(CAST(round(
         (above - CAST(above + notabove AS DOUBLE) * marg.ta / marg.nn)
         * (above - CAST(above + notabove AS DOUBLE) * marg.ta / marg.nn)
         / (CAST(above + notabove AS DOUBLE) * marg.ta / marg.nn)
         + (notabove - CAST(above + notabove AS DOUBLE) * marg.tn
            / marg.nn)
           * (notabove - CAST(above + notabove AS DOUBLE) * marg.tn
              / marg.nn)
           / (CAST(above + notabove AS DOUBLE) * marg.tn / marg.nn), 8)
         AS DECIMAL(38,8))) AS DOUBLE), 4) AS mood_chi2,
       CAST(marg.k - 1 AS BIGINT) AS df
FROM cells, marg
GROUP BY marg.k, marg.ta, marg.tn, marg.nn
"""


@register(
    "x525_mood_median_test",
    _X525_ORACLE,
    doc="Mood's median test across the 20 sources on doc token "
        "counts: counts above vs not-above the grand LOWER median "
        "(the smallest value whose cumulative count reaches "
        "ceil(n/2) -- the x254 DISC seam, so both engines pick the "
        "same actual value; ties-with-median count as not-above, "
        "stated), chi2 over the k x 2 table with margin-derived "
        "expecteds -- the crudest-but-most-robust k-group location "
        "test: where x363's Kruskal-Wallis uses full rank "
        "information, Mood's only needs the median crossing, so "
        "it survives arbitrary monotone distortion and censoring "
        "of the tails. Exactness: exact integer cells and margins; "
        "per-cell chi2 terms are one fixed-order double expression "
        "rounded 8 into DECIMAL before the k-row sum. Scale: one "
        "corpus pass to (source, above) cells + the bounded "
        "token-count domain for the median",
)
def x525_mood_median_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(_toks("text")).cast("long").alias("tok"),
    ).localCheckpoint(eager=False)
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cum = (
        d.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "tok",
            F.sum("c")
            .over(
                Window.orderBy("tok").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .cast("long")
            .alias("cum"),
        )
    )
    med = (
        cum.crossJoin(F.broadcast(n))
        .filter(F.col("cum") >= F.expr("CAST((n + 1) div 2 AS BIGINT)"))
        .agg(F.min("tok").cast("long").alias("med"))
    )
    cells = (
        d.crossJoin(F.broadcast(med))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("tok") > F.col("med"), 1).otherwise(0))
            .cast("long")
            .alias("above"),
            F.sum(F.when(F.col("tok") <= F.col("med"), 1).otherwise(0))
            .cast("long")
            .alias("notabove"),
        )
    )
    marg = cells.agg(
        F.sum("above").cast("long").alias("ta"),
        F.sum("notabove").cast("long").alias("tn"),
        F.sum(F.col("above") + F.col("notabove")).cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    jn = cells.crossJoin(F.broadcast(marg))
    ri = (F.col("above") + F.col("notabove")).cast("double")
    ea = ri * F.col("ta") / F.col("nn")
    en = ri * F.col("tn") / F.col("nn")
    term = (
        (F.col("above") - ea) * (F.col("above") - ea) / ea
        + (F.col("notabove") - en) * (F.col("notabove") - en) / en
    )
    agg = jn.agg(
        F.max("k").alias("k"),
        F.round(
            F.sum(F.round(term, 8).cast("decimal(38,8)")).cast("double"),
            4,
        ).alias("mood_chi2"),
    )
    return agg.crossJoin(F.broadcast(med)).select(
        F.col("k").alias("n_groups"),
        F.col("med").alias("grand_median"),
        "mood_chi2",
        (F.col("k") - 1).cast("long").alias("df"),
    )


_X526_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '1999-01-01'
              THEN 0 ELSE 1 END AS grp,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
),
rk AS (
  SELECT grp,
         CAST(2 * RANK() OVER (ORDER BY y)
              + COUNT(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS dr,
         CAST(count(*) OVER () AS BIGINT) AS nn
  FROM daily
),
sc AS (
  SELECT grp, LEAST(dr, 2 * (nn + 1) - dr) AS s2, nn FROM rk
),
m AS (
  SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
         CAST(MAX(nn) AS BIGINT) AS nn,
         CAST(SUM(CASE WHEN grp = 1 THEN s2 ELSE 0 END) AS HUGEINT)
           AS t2,
         CAST(SUM(s2) AS HUGEINT) AS sa,
         CAST(SUM(CAST(s2 AS HUGEINT) * s2) AS HUGEINT) AS saa
  FROM sc
)
SELECT m1 AS n_post, nn - m1 AS n_pre,
       CAST(t2 AS BIGINT) AS ab_t_doubled,
       ROUND((CAST(t2 AS DOUBLE) - CAST(m1 AS DOUBLE) * sa / nn)
             / sqrt(CAST(m1 AS DOUBLE) * (nn - m1) / (nn - 1.0)
                    * (CAST(nn AS DOUBLE) * CAST(saa AS DOUBLE)
                       - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    / (CAST(nn AS DOUBLE) * nn)), 4) AS ansari_z
FROM m
"""


@register(
    "x526_ansari_bradley",
    _X526_ORACLE,
    doc="Ansari-Bradley rank test for a SCALE difference between "
        "pre- and post-1999 daily revenue: scores s_i = min(rank, "
        "N+1-rank) pile mass at the distribution's center, so a "
        "group with systematically central (low-dispersion) days "
        "scores high -- the dispersion twin of the location tests "
        "(x349/x363 ask 'shifted?', this asks 'tighter?'), and the "
        "rank-robust cousin of x392/x507's variance tests. "
        "Exactness: the null moments are the EXACT PERMUTATION "
        "moments computed from the realized score multiset "
        "(sampling m scores without replacement: E[T] = m*mean, "
        "Var[T] = m(N-m)/(N-1) * pop-variance), so ties need no "
        "correction formula AT ALL -- the doubled-midrank identity "
        "makes every score an exact integer and the variance is "
        "exact integer moments with one final sqrt. Scale: "
        "windows ride the bounded day domain",
)
def x526_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.when(
            F.col("o_orderdate").cast("date")
            < F.lit("1999-01-01").cast("date"),
            0,
        )
        .otherwise(1)
        .alias("grp"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y")
    )
    rk = daily.select(
        "grp",
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            - 1
        )
        .cast("long")
        .alias("dr"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias(
            "nn"
        ),
    )
    sc = rk.select(
        "grp",
        F.least(
            F.col("dr"), 2 * (F.col("nn") + 1) - F.col("dr")
        ).alias("s2"),
        "nn",
    )
    s2d = F.col("s2").cast("decimal(38,0)")
    m = sc.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("m1"),
        F.max("nn").cast("long").alias("nn"),
        F.sum(F.when(F.col("grp") == 1, F.col("s2")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("t2"),
        F.sum(s2d).cast("decimal(38,0)").alias("sa"),
        F.sum(s2d * F.col("s2")).cast("decimal(38,0)").alias("saa"),
    )
    m1d = F.col("m1").cast("double")
    nnd = F.col("nn").cast("double")
    sad = F.col("sa").cast("double")
    var = (
        m1d
        * (F.col("nn") - F.col("m1"))
        / (nnd - 1.0)
        * (nnd * F.col("saa").cast("double") - sad * sad)
        / (nnd * F.col("nn"))
    )
    return m.select(
        F.col("m1").alias("n_post"),
        (F.col("nn") - F.col("m1")).cast("long").alias("n_pre"),
        F.col("t2").cast("long").alias("ab_t_doubled"),
        F.round(
            (F.col("t2").cast("double") - m1d * sad / F.col("nn"))
            / F.sqrt(var),
            4,
        ).alias("ansari_z"),
    )


_X527_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
dom AS (
  SELECT n.n, t.k FROM n, UNNEST(range(0, n.n + 1)) AS t(k)
),
steps AS (
  SELECT n, k,
         CASE WHEN k < n THEN
           CAST(floor((ln(CAST(n - k AS DOUBLE))
                       - ln(CAST(k + 1 AS DOUBLE)))
                      * 1000000000000.0) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS st
  FROM dom
),
lpre AS (
  SELECT n, k,
         COALESCE(SUM(st) OVER (ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
  FROM steps
),
mx AS (SELECT MAX(l) AS mxl FROM lpre),
e AS (
  SELECT n, k,
         CAST(floor(exp(CAST(l - mx.mxl AS DOUBLE) / 1000000000000.0)
                    * 1000000000000000.0) AS BIGINT) AS ev
  FROM lpre, mx
),
z AS (SELECT CAST(SUM(ev) AS HUGEINT) AS zz FROM e),
cdf AS (
  SELECT k,
         CAST(SUM(ev) OVER (ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS HUGEINT) AS cum,
         zz
  FROM e, z
),
lrank AS (
  SELECT COALESCE(MAX(k + 1), 1) AS l,
         MAX(CASE WHEN CAST(cum AS DOUBLE) / CAST(zz AS DOUBLE)
                       <= 0.025
             THEN CAST(cum AS DOUBLE) / CAST(zz AS DOUBLE) END)
           AS tail_p
  FROM cdf
  WHERE CAST(cum AS DOUBLE) / CAST(zz AS DOUBLE) <= 0.025
),
ranked AS (
  SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY y) AS BIGINT) AS r
  FROM daily
),
med AS (
  SELECT MIN(y) AS med FROM ranked, n WHERE r >= (n.n + 1) // 2
)
SELECT n.n AS n_days,
       (SELECT med FROM med) AS median_cents,
       lrank.l AS lower_rank,
       (SELECT y FROM ranked WHERE r = lrank.l) AS ci_lo,
       (SELECT y FROM ranked, n WHERE r = n.n + 1 - lrank.l) AS ci_hi,
       ROUND(1.0 - 2.0 * COALESCE(lrank.tail_p, 0.0), 6)
         AS actual_coverage
FROM n, lrank
"""


@register(
    "x527_median_ci",
    _X527_ORACLE,
    doc="EXACT order-statistic confidence interval for the median "
        "daily revenue: the largest rank l with P(Bin(n,1/2) < l) "
        "<= alpha/2 brackets the median by (y_(l), y_(n+1-l)) with "
        "GUARANTEED >= 95% coverage regardless of the revenue "
        "distribution -- the distribution-free interval x308's MAD "
        "fence and x56's percentile machinery never provide, and "
        "the actual (conservative) coverage is emitted with it. "
        "Exactness: the Binomial(n,1/2) CDF comes from x520's "
        "quantized lgamma-free pmf machinery (exact integer "
        "weights, exact prefix sums), the rank comparison and "
        "order statistics are exact integers on the bounded day "
        "domain. Scale: one day-grain aggregate; the support and "
        "rank windows are day-cardinality through one task",
)
def x527_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders).localCheckpoint(eager=False)
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dom = n.select(
        "n",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n"))).alias(
            "k"
        ),
    )
    step = F.when(
        F.col("k") < F.col("n"),
        F.floor(
            (
                F.log((F.col("n") - F.col("k")).cast("double"))
                - F.log((F.col("k") + 1).cast("double"))
            )
            * F.lit(1e12)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    wc = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    lpre = dom.select(
        "n",
        "k",
        F.coalesce(F.sum(step).over(w), F.lit(0).cast("long")).alias("l"),
    )
    mx = lpre.agg(F.max("l").alias("mxl"))
    e = lpre.crossJoin(F.broadcast(mx)).select(
        "n",
        "k",
        F.floor(
            F.exp((F.col("l") - F.col("mxl")).cast("double") / F.lit(1e12))
            * F.lit(1e15)
        )
        .cast("long")
        .alias("ev"),
    )
    z = e.agg(
        F.sum(F.col("ev").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("zz")
    )
    cdf = e.crossJoin(F.broadcast(z)).select(
        "k",
        (
            F.sum(F.col("ev").cast("decimal(38,0)")).over(wc).cast(
                "double"
            )
            / F.col("zz").cast("double")
        ).alias("p"),
    )
    lrank = cdf.filter(F.col("p") <= 0.025).agg(
        F.coalesce(F.max(F.col("k") + 1), F.lit(1)).cast("long").alias(
            "l"
        ),
        F.max("p").alias("tail_p"),
    )
    ranked = daily.select(
        "y", F.row_number().over(Window.orderBy("y")).cast("long").alias("r")
    ).localCheckpoint(eager=False)
    med = ranked.crossJoin(F.broadcast(n)).filter(
        F.col("r") >= F.expr("CAST((n + 1) div 2 AS BIGINT)")
    ).agg(F.min("y").cast("long").alias("med"))
    j = n.crossJoin(F.broadcast(lrank)).crossJoin(F.broadcast(med))
    lo = ranked.join(
        j.select(F.col("l").alias("r")), "r"
    ).select(F.col("y").alias("ci_lo"))
    hi = ranked.join(
        j.select((F.col("n") + 1 - F.col("l")).cast("long").alias("r")),
        "r",
    ).select(F.col("y").alias("ci_hi"))
    return (
        j.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n").alias("n_days"),
            F.col("med").alias("median_cents"),
            F.col("l").alias("lower_rank"),
            "ci_lo",
            "ci_hi",
            F.round(
                F.lit(1.0)
                - F.lit(2.0) * F.coalesce(F.col("tail_p"), F.lit(0.0)),
                6,
            ).alias("actual_coverage"),
        )
    )


_X528_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
sq AS (
  SELECT day, CAST(y AS HUGEINT) * y AS y2,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily
),
tot AS (SELECT CAST(SUM(y2) AS HUGEINT) AS s2 FROM sq),
dev AS (
  SELECT day, t, n,
         CAST(n AS HUGEINT)
           * SUM(y2) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - CAST(t AS HUGEINT) * tot.s2 AS num,
         tot.s2
  FROM sq, tot
),
mx AS (
  SELECT day, num, s2, n
  FROM dev
  ORDER BY abs(CAST(num AS DOUBLE)) DESC, day ASC
  LIMIT 1
)
SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM sq) AS n_days,
       ROUND(abs(CAST(num AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)), 6)
         AS cusum_sq_stat,
       day AS break_day,
       ROUND(abs(CAST(num AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE))
             * sqrt(CAST(n AS DOUBLE) / 2.0), 4) AS normalized_stat
FROM mx
"""


@register(
    "x528_cusum_squares",
    _X528_ORACLE,
    doc="CUSUM-of-squares variance-break scan on daily revenue: "
        "D_t = sum_{<=t} y^2 / sum y^2 - t/n, statistic = max|D| "
        "with its argmax day -- the VARIANCE-regime complement of "
        "x289's mean CUSUM and x453's mean segmentation (a series "
        "can hold its level while its volatility doubles; only the "
        "squared path sees it), normalized by sqrt(n/2) for the "
        "Brownian-bridge comparison. Exactness: D_t's sign and "
        "magnitude come from the cross-multiplied integer identity "
        "n*cumsum(y^2) - t*total (exact HUGEINT/DECIMAL, ~2.5e25 "
        "at sf0.1, inside 1e38 through sf1 at cent grain), so the "
        "argmax and tie-break (earliest day) are exact integer "
        "comparisons; two double divisions at the end. Scale: one "
        "day-grain aggregate, windows on the bounded day domain",
)
def x528_cusum_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    sq = daily.select(
        "day",
        (F.col("y").cast("decimal(38,0)") * F.col("y")).alias("y2"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias(
            "n"
        ),
    )
    tot = sq.agg(F.sum("y2").cast("decimal(38,0)").alias("s2"))
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = sq.crossJoin(F.broadcast(tot)).select(
        "day",
        "t",
        "n",
        (
            F.col("n").cast("decimal(38,0)")
            * F.sum("y2").over(wcum).cast("decimal(38,0)")
            - F.col("t").cast("decimal(38,0)") * F.col("s2")
        ).alias("num"),
        "s2",
    )
    mx = dev.orderBy(
        F.abs(F.col("num").cast("double")).desc(), F.col("day").asc()
    ).limit(1)
    stat = F.abs(F.col("num").cast("double")) / (
        F.col("n").cast("double") * F.col("s2").cast("double")
    )
    return mx.select(
        F.col("n").alias("n_days"),
        F.round(stat, 6).alias("cusum_sq_stat"),
        F.col("day").alias("break_day"),
        F.round(
            stat * F.sqrt(F.col("n").cast("double") / F.lit(2.0)), 4
        ).alias("normalized_stat"),
    )


_X529_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(floor(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                    / 100.0) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
anchor AS (SELECT MIN(day) AS d0 FROM daily),
ty AS (
  SELECT datediff('day', a.d0, d.day) AS t, d.y
  FROM daily d, anchor a
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(t) AS HUGEINT) AS st,
         CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
  FROM ty
),
fit AS (
  SELECT n, st, stt,
         ROUND((n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)
                * CAST(sy AS DOUBLE))
               / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
                  * CAST(st AS DOUBLE)), 10) AS b,
         ROUND(CAST(sy AS DOUBLE) / n
               - ((n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)
                   * CAST(sy AS DOUBLE))
                  / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
                     * CAST(st AS DOUBLE)))
                 * CAST(st AS DOUBLE) / n, 10) AS a
  FROM m
),
q AS (
  SELECT ty.t,
         CAST(floor((ty.y - fit.a - fit.b * ty.t)
                    * (ty.y - fit.a - fit.b * ty.t)) AS BIGINT) AS q
  FROM ty, fit
),
m2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(t) AS HUGEINT) AS st,
         CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
         CAST(SUM(q) AS HUGEINT) AS sq,
         CAST(SUM(CAST(t AS HUGEINT) * q) AS HUGEINT) AS stq,
         CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq
  FROM q
)
SELECT n AS n_days,
       ROUND((SELECT b FROM fit), 6) AS trend_slope,
       ROUND(CAST(n AS DOUBLE)
             * ((n * CAST(stq AS DOUBLE) - CAST(st AS DOUBLE)
                 * CAST(sq AS DOUBLE))
                * (n * CAST(stq AS DOUBLE) - CAST(st AS DOUBLE)
                   * CAST(sq AS DOUBLE)))
             / ((n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
                 * CAST(st AS DOUBLE))
                * (n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)
                   * CAST(sq AS DOUBLE))), 4) AS breusch_pagan_lm,
       CAST(1 AS BIGINT) AS df
FROM m2
"""


@register(
    "x529_breusch_pagan",
    _X529_ORACLE,
    doc="Breusch-Pagan (Koenker studentized form) heteroskedasticity "
        "test of the daily-revenue linear trend: LM = n * R^2 of "
        "the SQUARED residuals regressed on time -- does the "
        "trend's noise grow with the calendar (it should if revenue "
        "scales: multiplicative noise on a growing level), the "
        "assumption check x198's trend fit and x519's Chow F "
        "quietly lean on (both assume constant error variance), "
        "complementing x484's DW (correlation) and x507/x392 "
        "(group variance). Exactness: DOLLAR-grain daily sums (the "
        "x489 lesson: squared-residual FOURTH-power moments "
        "overflow DECIMAL38 at cent grain); OLS (a, b) from exact "
        "integer moments, rounded 10 so both engines square "
        "IDENTICAL residuals; q = floor(e^2) integerizes the "
        "squared residuals on the 1-dollar^2 grid (stated part of "
        "the statistic), making the auxiliary regression's moments "
        "exact integers again. Scale: one day-grain aggregate, two "
        "bounded reductions",
)
def x529_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.floor(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
            )
            / F.lit(100.0)
        )
        .cast("long")
        .alias("y")
    )
    anchor = daily.agg(F.min("day").alias("d0"))
    ty = daily.crossJoin(F.broadcast(anchor)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
        "y",
    ).localCheckpoint(eager=False)
    td = F.col("t").cast("decimal(38,0)")
    m = ty.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(td).cast("decimal(38,0)").alias("st"),
        F.sum(td * F.col("t")).cast("decimal(38,0)").alias("stt"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sy"),
        F.sum(td * F.col("y")).cast("decimal(38,0)").alias("sty"),
    )
    nd = F.col("n").cast("double")
    b_raw = (
        nd * F.col("sty").cast("double")
        - F.col("st").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("stt").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
    )
    fit = m.select(
        "n",
        F.round(b_raw, 10).alias("b"),
        F.round(
            F.col("sy").cast("double") / F.col("n")
            - b_raw * F.col("st").cast("double") / F.col("n"),
            10,
        ).alias("a"),
    )
    q = ty.crossJoin(F.broadcast(fit)).select(
        "t",
        F.floor(
            (F.col("y") - F.col("a") - F.col("b") * F.col("t"))
            * (F.col("y") - F.col("a") - F.col("b") * F.col("t"))
        )
        .cast("long")
        .alias("q"),
        "b",
    )
    qd = F.col("q").cast("decimal(38,0)")
    m2 = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(td).cast("decimal(38,0)").alias("st"),
        F.sum(td * F.col("t")).cast("decimal(38,0)").alias("stt"),
        F.sum(qd).cast("decimal(38,0)").alias("sq"),
        F.sum(td * F.col("q")).cast("decimal(38,0)").alias("stq"),
        F.sum(qd * F.col("q")).cast("decimal(38,0)").alias("sqq"),
        F.max("b").alias("b"),
    )
    num = (
        nd * F.col("stq").cast("double")
        - F.col("st").cast("double") * F.col("sq").cast("double")
    )
    return m2.select(
        F.col("n").alias("n_days"),
        F.round("b", 6).alias("trend_slope"),
        F.round(
            nd
            * (num * num)
            / (
                (
                    nd * F.col("stt").cast("double")
                    - F.col("st").cast("double")
                    * F.col("st").cast("double")
                )
                * (
                    nd * F.col("sqq").cast("double")
                    - F.col("sq").cast("double")
                    * F.col("sq").cast("double")
                )
            ),
            4,
        ).alias("breusch_pagan_lm"),
        F.lit(1).cast("long").alias("df"),
    )


_X530_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
anchor AS (SELECT MIN(day) AS d0 FROM daily),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(y) AS HUGEINT) AS s FROM daily),
c AS (
  SELECT datediff('day', a.d0, d.day) AS t,
         CAST(t2.n AS HUGEINT) * d.y - t2.s AS cv
  FROM daily d, anchor a, tot t2
),
per AS (SELECT * FROM (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10),
                              (11),(12),(13),(14)) AS p(p)),
ph AS (
  SELECT per.p, c.cv,
         CAST(floor(cos(6.283185307179586 * (c.t % per.p) / per.p)
                    * 10000000000.0) AS BIGINT) AS qc,
         CAST(floor(sin(6.283185307179586 * (c.t % per.p) / per.p)
                    * 10000000000.0) AS BIGINT) AS qs
  FROM c, per
),
pw AS (
  SELECT p,
         CAST(SUM(cv * qc) AS HUGEINT) AS cc,
         CAST(SUM(cv * qs) AS HUGEINT) AS ss
  FROM ph GROUP BY 1
),
pwr AS (
  SELECT p,
         CAST(cc AS DOUBLE) * CAST(cc AS DOUBLE)
         + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) AS power
  FROM pw
),
tp AS (SELECT CAST(SUM(CAST(round(power / 1e40, 8)
                            AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS t
       FROM pwr)
SELECT p AS period_days,
       ROUND(CAST(round(power / 1e40, 8) AS DOUBLE)
             / CAST(tp.t AS DOUBLE), 6) AS power_share
FROM pwr, tp
ORDER BY period_days
"""


@register(
    "x530_periodogram_scan",
    _X530_ORACLE,
    doc="Goertzel-style periodogram scan of daily revenue at candidate "
        "periods 2-14 days: per period the squared projection onto "
        "(cos, sin) of the MEAN-CENTERED series, emitted as each "
        "period's share of the scanned power -- finds ARBITRARY "
        "cycles where x343/x288 assume the weekly one (a 7-day "
        "peak here CONFIRMS the dow model; a 10-day peak would "
        "refute it) and x290 checks only two chosen lags. "
        "Exactness: centered values are the exact n-scaled "
        "integers n*y - S; cos/sin evaluate on the p-periodic "
        "rational grid 2*pi*(t mod p)/p with ONE fixed operand "
        "order and quantize 1e10-floor to integers, so every "
        "projection is an exact integer sum (~1.4e26 at sf0.1, "
        "inside DECIMAL38); powers square in double, shares "
        "round-8 before the 13-row normalization. Scale: one "
        "day-grain aggregate, x13 period fan-out on the day "
        "domain",
)
def x530_periodogram_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    anchor = daily.agg(F.min("day").alias("d0"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s"),
    )
    c = (
        daily.crossJoin(F.broadcast(anchor))
        .crossJoin(F.broadcast(tot))
        .select(
            F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
            (
                F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s")
            ).alias("cv"),
        )
    )
    per = spark.createDataFrame(
        [(p,) for p in range(2, 15)], "p long"
    )
    arg = F.lit(6.283185307179586) * (F.col("t") % F.col("p")) / F.col("p")
    ph = c.crossJoin(F.broadcast(per)).select(
        "p",
        "cv",
        F.floor(F.cos(arg) * F.lit(1e10)).cast("long").alias("qc"),
        F.floor(F.sin(arg) * F.lit(1e10)).cast("long").alias("qs"),
    )
    pw = ph.groupBy("p").agg(
        F.sum(F.col("cv") * F.col("qc"))
        .cast("decimal(38,0)")
        .alias("cc"),
        F.sum(F.col("cv") * F.col("qs"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    pwr = pw.select(
        "p",
        (
            F.col("cc").cast("double") * F.col("cc").cast("double")
            + F.col("ss").cast("double") * F.col("ss").cast("double")
        ).alias("power"),
    )
    tp = pwr.agg(
        F.sum(
            F.round(F.col("power") / F.lit(1e40), 8).cast("decimal(38,8)")
        )
        .cast("decimal(38,8)")
        .alias("t")
    )
    return (
        pwr.crossJoin(F.broadcast(tp))
        .select(
            F.col("p").alias("period_days"),
            F.round(
                F.round(F.col("power") / F.lit(1e40), 8).cast("double")
                / F.col("t").cast("double"),
                6,
            ).alias("power_share"),
        )
        .orderBy("period_days")
    )


_X531_ORACLE = """
WITH d AS (
  SELECT source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
  FROM documents
),
g AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS nh,
         CAST(SUM(tok) AS HUGEINT) AS s1,
         CAST(SUM(CAST(tok AS HUGEINT) * tok) AS HUGEINT) AS s2
  FROM d GROUP BY 1
),
w AS (
  SELECT source, nh,
         CAST(round(nh * sqrt((nh * CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                              / (CAST(nh AS DOUBLE) * (nh - 1.0)))
                    * 1000000.0, 0) AS BIGINT) AS wq
  FROM g
),
tw AS (SELECT CAST(SUM(wq) AS HUGEINT) AS t FROM w),
alloc AS (
  SELECT w.source, w.nh, w.wq,
         CAST((1000 * CAST(w.wq AS HUGEINT)) // tw.t AS BIGINT) AS base,
         CAST((1000 * CAST(w.wq AS HUGEINT)) % tw.t AS HUGEINT) AS rem
  FROM w, tw
),
leftover AS (
  SELECT CAST(1000 - SUM(base) AS BIGINT) AS k FROM alloc
),
ranked AS (
  SELECT source, nh, wq, base,
         CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
              AS BIGINT) AS rr
  FROM alloc
)
SELECT r.source, r.nh AS n_docs,
       ROUND(CAST(r.wq AS DOUBLE) / 1000000.0 / r.nh, 4) AS sigma_tokens,
       r.base + CASE WHEN r.rr <= lo.k THEN 1 ELSE 0 END
         AS eval_allocation
FROM ranked r, leftover lo
ORDER BY r.source
"""


@register(
    "x531_neyman_allocation",
    _X531_ORACLE,
    doc="Neyman-optimal allocation of a 1000-doc eval budget across "
        "sources: n_h proportional to N_h * sigma_h (sources whose "
        "doc lengths VARY more get more eval docs -- the "
        "minimum-variance design for estimating the corpus mean "
        "under stratification), with Hamilton largest-remainder "
        "rounding to exact integers (x449's apportionment "
        "discipline applied to x25's stratified-sampling knob: x25 "
        "allocates proportionally, Neyman adds the variance "
        "weight). Exactness: per-source sd from exact HUGEINT "
        "moments, the weight N_h*sigma_h quantizes round-1e6 to an "
        "integer so quota = 1000*w div/mod total is EXACT integer "
        "arithmetic and the remainder ranking (ties by source) is "
        "deterministic; allocations sum to exactly 1000 by "
        "construction. Scale: one corpus groupBy, source-domain "
        "window algebra",
)
def x531_neyman_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(_toks("text")).cast("long").alias("tok"),
    )
    tokd = F.col("tok").cast("decimal(38,0)")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum(tokd).cast("decimal(38,0)").alias("s1"),
        F.sum(tokd * F.col("tok")).cast("decimal(38,0)").alias("s2"),
    )
    nhd = F.col("nh").cast("double")
    sd = F.sqrt(
        (
            F.col("nh") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        / (nhd * (F.col("nh") - 1.0))
    )
    w = g.select(
        "source",
        "nh",
        F.round(F.col("nh") * sd * F.lit(1e6), 0).cast("long").alias("wq"),
    )
    tw = w.agg(
        F.sum(F.col("wq").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("t")
    )
    alloc = w.crossJoin(F.broadcast(tw)).select(
        "source",
        "nh",
        "wq",
        F.expr(
            "CAST((1000 * CAST(wq AS DECIMAL(38,0))) div t AS BIGINT)"
        ).alias("base"),
        F.expr(
            "CAST((1000 * CAST(wq AS DECIMAL(38,0))) % t AS DECIMAL(38,0))"
        ).alias("rem"),
    )
    leftover = alloc.agg(
        (F.lit(1000) - F.sum("base")).cast("long").alias("k")
    )
    ranked = alloc.select(
        "source",
        "nh",
        "wq",
        "base",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("source").asc()))
        .cast("long")
        .alias("rr"),
    )
    return (
        ranked.crossJoin(F.broadcast(leftover))
        .select(
            "source",
            F.col("nh").alias("n_docs"),
            F.round(
                F.col("wq").cast("double") / F.lit(1e6) / F.col("nh"), 4
            ).alias("sigma_tokens"),
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("eval_allocation"),
        )
        .orderBy("source")
    )


_X532_ORACLE = """
WITH top5 AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice
  FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
  ) WHERE rn <= 5
)
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_top,
       string_agg(CAST(o_orderkey AS VARCHAR), ','
                  ORDER BY o_totalprice DESC, o_orderkey ASC)
         AS top_keys_csv
FROM top5
GROUP BY 1 ORDER BY 1
"""


@register(
    "x532_listagg_topk",
    _X532_ORACLE,
    doc="Spark 4 LISTAGG ... WITHIN GROUP (ORDER BY ...) surface "
        "(SQL:2016's ordered string aggregation, new in Spark 4.0) "
        "over a top-5-per-group window: per order priority the CSV "
        "of its 5 highest-value order keys in deterministic "
        "(price desc, key asc) order -- the API-surface member of "
        "the aggregation family beside q41's array_agg and x184's "
        "grouped top-N arrays (LISTAGG is what BI exports and "
        "legacy Oracle/Teradata migrations actually call); "
        "DuckDB's string_agg(expr, sep ORDER BY ...) is the exact "
        "dialect twin. Determinism: the window and the aggregation "
        "share one total (price, key) ordering, so the emitted "
        "string is byte-identical cross-engine. Scale: one "
        "partitioned top-k window (TakeOrdered shape), one "
        "groupBy over <= 5k rows",
)
def x532_listagg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("x532_orders")
    return spark.sql(
        """
        WITH top5 AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice
          FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM x532_orders
          ) WHERE rn <= 5
        )
        SELECT o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n_top,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_totalprice DESC,
                               o_orderkey ASC) AS top_keys_csv
        FROM top5
        GROUP BY 1 ORDER BY 1
        """
    )


_X533_ORACLE = """
WITH d AS (
  SELECT source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok
  FROM documents
),
cells AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2
),
ch AS (SELECT * FROM (VALUES (16), (32), (64)) AS c(c))
SELECT cells.source, CAST(ch.c AS BIGINT) AS chunk_tokens,
       CAST(SUM(n * ((tok - 1) // ch.c)) AS BIGINT) AS broken_bigrams,
       CAST(SUM(n * (tok - 1)) AS BIGINT) AS total_bigrams,
       ROUND(CAST(SUM(n * ((tok - 1) // ch.c)) AS DOUBLE)
             / CAST(SUM(n * (tok - 1)) AS DOUBLE), 6) AS loss_frac
FROM cells, ch
GROUP BY 1, 2
ORDER BY source, chunk_tokens
"""


@register(
    "x533_chunk_boundary_loss",
    _X533_ORACLE,
    doc="chunk-boundary bigram loss per (source, chunk size): a "
        "non-overlapping chunker at size c severs exactly "
        "floor((n-1)/c) of a doc's n-1 adjacent-token pairs, and "
        "this emits that severed fraction at c in {16,32,64} "
        "(fixture-scaled; a deployment sweeps {512..4096}) -- the "
        "measured WHY behind chunk overlap: x39 chunks documents, "
        "x503 prices truncation loss, this prices the CONTEXT "
        "SEAMS chunking itself introduces (every severed bigram is "
        "an n-gram/retrieval feature the chunked corpus can no "
        "longer see). Exactness: closed-form integer identity per "
        "(source, token-count) cell -- floor divisions on exact "
        "integers, one rounded division per row; no per-token work "
        "at all. Scale: one corpus pass to the bounded cell table, "
        "x3 fan-out on cells",
)
def x533_chunk_boundary_loss(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            "source",
            F.size(_toks("text")).cast("long").alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ch = spark.createDataFrame([(16,), (32,), (64,)], "c long")
    broken = F.col("n") * F.expr("(tok - 1) div c")
    return (
        cells.crossJoin(F.broadcast(ch))
        .groupBy("source", F.col("c").alias("chunk_tokens"))
        .agg(
            F.sum(broken).cast("long").alias("broken_bigrams"),
            F.sum(F.col("n") * (F.col("tok") - 1))
            .cast("long")
            .alias("total_bigrams"),
            F.round(
                F.sum(broken).cast("double")
                / F.sum(F.col("n") * (F.col("tok") - 1)).cast("double"),
                6,
            ).alias("loss_frac"),
        )
        .orderBy("source", "chunk_tokens")
    )


_X534_ORACLE = """
WITH pos AS (
  SELECT source,
         t.i AS p,
         len(string_split(lower(text), ' ')) AS n,
         (string_split(lower(text), ' '))[t.i] AS w
  FROM documents,
       UNNEST(range(1, len(string_split(lower(text), ' ')) + 1))
         AS t(i)
  WHERE len(string_split(lower(text), ' ')) >= 4
),
q AS (
  SELECT source,
         LEAST(3, (4 * (p - 1)) // n) AS quart,
         CASE WHEN w IN ('the','a','of','and','to','in','is')
              THEN 0 ELSE 1 END AS content
  FROM pos
),
cells AS (
  SELECT source, quart,
         CAST(SUM(content) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS t
  FROM q GROUP BY 1, 2
)
SELECT source,
       ROUND(CAST(MAX(CASE WHEN quart = 0 THEN c END) AS DOUBLE)
             / MAX(CASE WHEN quart = 0 THEN t END), 6) AS q1_density,
       ROUND(CAST(MAX(CASE WHEN quart = 3 THEN c END) AS DOUBLE)
             / MAX(CASE WHEN quart = 3 THEN t END), 6) AS q4_density,
       ROUND(CAST(MAX(CASE WHEN quart = 0 THEN c END) AS DOUBLE)
             / MAX(CASE WHEN quart = 0 THEN t END)
             - CAST(MAX(CASE WHEN quart = 3 THEN c END) AS DOUBLE)
               / MAX(CASE WHEN quart = 3 THEN t END), 6) AS lead_bias
FROM cells
GROUP BY 1 ORDER BY 1
"""


@register(
    "x534_positional_density",
    _X534_ORACLE,
    doc="positional lexical-density audit per source: the "
        "content-word (non-stopword) share of tokens in each doc's "
        "FIRST vs LAST position quartile (docs >= 4 tokens; "
        "quartile = least(3, 4(p-1) div n)), lead_bias = q1 - q4 "
        "-- headline-heavy or boilerplate-tailed sources show it "
        "immediately, the POSITION-WITHIN-DOC structure x26's "
        "boilerplate n-grams and x133's shared prefixes detect "
        "only when text repeats verbatim (density shifts even "
        "when the words differ). Uses x12's pinned 7-word English "
        "stopword list. Exactness: exact integer quartile "
        "assignment and counts, one rounded division per cell. "
        "Scale: one posexplode pass to (source, quartile) cells",
)
def x534_positional_density(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...ops.text import LANG_STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    toks = _toks("text")
    pos = (
        docs.filter(F.size(toks) >= 4)
        .select(
            "source",
            F.size(toks).cast("long").alias("n"),
            F.posexplode(toks).alias("p0", "w"),
        )
        .select(
            "source",
            F.least(
                F.lit(3), F.expr("(4 * p0) div n").cast("int")
            ).alias("quart"),
            F.when(
                F.col("w").isin(*LANG_STOPWORDS["en"]), 0
            ).otherwise(1).alias("content"),
        )
    )
    cells = pos.groupBy("source", "quart").agg(
        F.sum("content").cast("long").alias("c"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    q1c = F.max(F.when(F.col("quart") == 0, F.col("c")))
    q1t = F.max(F.when(F.col("quart") == 0, F.col("t")))
    q4c = F.max(F.when(F.col("quart") == 3, F.col("c")))
    q4t = F.max(F.when(F.col("quart") == 3, F.col("t")))
    return (
        cells.groupBy("source")
        .agg(
            F.round(q1c.cast("double") / q1t, 6).alias("q1_density"),
            F.round(q4c.cast("double") / q4t, 6).alias("q4_density"),
            F.round(
                q1c.cast("double") / q1t - q4c.cast("double") / q4t, 6
            ).alias("lead_bias"),
        )
        .orderBy("source")
    )


_X535_ORACLE = """
WITH s AS (
  SELECT user_id, event_type AS t1,
         lead(event_type) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
uni AS (
  SELECT t1 AS g, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1
),
nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
bi AS (
  SELECT t1, t2, CAST(count(*) AS BIGINT) AS c
  FROM s WHERE t2 IS NOT NULL GROUP BY 1, 2
),
tri AS (
  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS c123
  FROM s WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
),
j AS (
  SELECT tri.c123,
         GREATEST(tri.c123 - 1, 0) AS n3,
         GREATEST(b12.c - 1, 0) AS d3,
         GREATEST(b23.c - 1, 0) AS n2,
         GREATEST(u2.c - 1, 0) AS d2,
         GREATEST(u3.c - 1, 0) AS n1,
         GREATEST(nn.n - 1, 0) AS d1
  FROM tri
  JOIN bi b12 ON b12.t1 = tri.t1 AND b12.t2 = tri.t2
  JOIN bi b23 ON b23.t1 = tri.t2 AND b23.t2 = tri.t3
  JOIN uni u2 ON u2.g = tri.t2
  JOIN uni u3 ON u3.g = tri.t3
  CROSS JOIN nn
),
pick AS (
  SELECT c123,
         CASE
           WHEN CAST(CASE WHEN d1 > 0 THEN n1 ELSE 0 END AS HUGEINT)
                  * GREATEST(d2, 1) * GREATEST(d3, 1)
                >= CAST(CASE WHEN d2 > 0 THEN n2 ELSE 0 END AS HUGEINT)
                  * GREATEST(d1, 1) * GREATEST(d3, 1)
            AND CAST(CASE WHEN d1 > 0 THEN n1 ELSE 0 END AS HUGEINT)
                  * GREATEST(d2, 1) * GREATEST(d3, 1)
                >= CAST(CASE WHEN d3 > 0 THEN n3 ELSE 0 END AS HUGEINT)
                  * GREATEST(d1, 1) * GREATEST(d2, 1)
           THEN 1
           WHEN CAST(CASE WHEN d2 > 0 THEN n2 ELSE 0 END AS HUGEINT)
                  * GREATEST(d1, 1) * GREATEST(d3, 1)
                >= CAST(CASE WHEN d3 > 0 THEN n3 ELSE 0 END AS HUGEINT)
                  * GREATEST(d1, 1) * GREATEST(d2, 1)
           THEN 2
           ELSE 3
         END AS o
  FROM j
),
lam AS (
  SELECT CAST(SUM(CASE WHEN o = 1 THEN c123 ELSE 0 END) AS BIGINT)
           AS l1,
         CAST(SUM(CASE WHEN o = 2 THEN c123 ELSE 0 END) AS BIGINT)
           AS l2,
         CAST(SUM(CASE WHEN o = 3 THEN c123 ELSE 0 END) AS BIGINT)
           AS l3,
         CAST(SUM(c123) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS k
  FROM pick
)
SELECT k AS n_distinct_trigrams, tot AS n_trigram_tokens,
       ROUND(CAST(l1 AS DOUBLE) / tot, 6) AS lambda_unigram,
       ROUND(CAST(l2 AS DOUBLE) / tot, 6) AS lambda_bigram,
       ROUND(CAST(l3 AS DOUBLE) / tot, 6) AS lambda_trigram
FROM lam
"""


@register(
    "x535_deleted_interpolation",
    _X535_ORACLE,
    doc="Brants (TnT) deleted-interpolation lambdas for the "
        "event-type trigram LM: each distinct trigram votes its "
        "count to whichever order's held-out estimate (c-1)/(C-1) "
        "is largest -- trigram (c123-1)/(c12-1), bigram "
        "(c23-1)/(c2-1), unigram (c3-1)/(N-1); ties to the LOWEST "
        "(most robust) order, zero denominators score 0 (both "
        "pinned) -- the closed-form smoothing-weight estimator "
        "beside x383/x395's Kneser-Ney (KN discounts mass INSIDE "
        "an order; deleted interpolation decides BETWEEN orders, "
        "and runs in two aggregates where EM would iterate). "
        "Exactness: the argmax compares rationals by integer "
        "CROSS-MULTIPLICATION (a/b vs c/d as a*d vs c*b with "
        "guarded denominators), so order picks are exact integer "
        "decisions; lambda normalization is one rounded division "
        "each. Scale: x107's user-keyed lead windows, then "
        "k^3-bounded trigram-table algebra (5 event types -> <= "
        "125 rows)",
)
def x535_deleted_interpolation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).localCheckpoint(eager=False)
    uni = s.groupBy(F.col("t1").alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nn = uni.agg(F.sum("c").cast("long").alias("n"))
    bi = (
        s.filter(F.col("t2").isNotNull())
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tri = (
        s.filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).cast("long").alias("c123"))
    )
    b12 = bi.select(
        F.col("t1").alias("b1"), F.col("t2").alias("b2"),
        F.col("c").alias("c12"),
    )
    b23 = bi.select(
        F.col("t1").alias("p2"), F.col("t2").alias("p3"),
        F.col("c").alias("c23"),
    )
    u2 = uni.select(F.col("g").alias("g2"), F.col("c").alias("c2"))
    u3 = uni.select(F.col("g").alias("g3"), F.col("c").alias("c3"))
    j = (
        tri.join(
            F.broadcast(b12),
            (F.col("t1") == F.col("b1")) & (F.col("t2") == F.col("b2")),
        )
        .join(
            F.broadcast(b23),
            (F.col("t2") == F.col("p2")) & (F.col("t3") == F.col("p3")),
        )
        .join(F.broadcast(u2), F.col("t2") == F.col("g2"))
        .join(F.broadcast(u3), F.col("t3") == F.col("g3"))
        .crossJoin(F.broadcast(nn))
        .select(
            "c123",
            F.greatest(F.col("c123") - 1, F.lit(0)).alias("n3"),
            F.greatest(F.col("c12") - 1, F.lit(0)).alias("d3"),
            F.greatest(F.col("c23") - 1, F.lit(0)).alias("n2"),
            F.greatest(F.col("c2") - 1, F.lit(0)).alias("d2"),
            F.greatest(F.col("c3") - 1, F.lit(0)).alias("n1"),
            F.greatest(F.col("n") - 1, F.lit(0)).alias("d1"),
        )
    )
    # cross-multiplied common-denominator comparison in DECIMAL so the
    # triple products (n ~ 6e5 each at sf1 -> ~2e17; ~2e20 at sf10)
    # never overflow int64 on either engine
    v1 = (
        F.when(F.col("d1") > 0, F.col("n1"))
        .otherwise(0)
        .cast("decimal(38,0)")
        * F.greatest(F.col("d2"), F.lit(1))
        * F.greatest(F.col("d3"), F.lit(1))
    )
    v2 = (
        F.when(F.col("d2") > 0, F.col("n2"))
        .otherwise(0)
        .cast("decimal(38,0)")
        * F.greatest(F.col("d1"), F.lit(1))
        * F.greatest(F.col("d3"), F.lit(1))
    )
    v3 = (
        F.when(F.col("d3") > 0, F.col("n3"))
        .otherwise(0)
        .cast("decimal(38,0)")
        * F.greatest(F.col("d1"), F.lit(1))
        * F.greatest(F.col("d2"), F.lit(1))
    )
    pick = j.select(
        "c123",
        F.when((v1 >= v2) & (v1 >= v3), 1)
        .when(v2 >= v3, 2)
        .otherwise(3)
        .alias("o"),
    )
    lam = pick.agg(
        F.sum(F.when(F.col("o") == 1, F.col("c123")).otherwise(0))
        .cast("long")
        .alias("l1"),
        F.sum(F.when(F.col("o") == 2, F.col("c123")).otherwise(0))
        .cast("long")
        .alias("l2"),
        F.sum(F.when(F.col("o") == 3, F.col("c123")).otherwise(0))
        .cast("long")
        .alias("l3"),
        F.sum("c123").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return lam.select(
        F.col("k").alias("n_distinct_trigrams"),
        F.col("tot").alias("n_trigram_tokens"),
        F.round(F.col("l1").cast("double") / F.col("tot"), 6).alias(
            "lambda_unigram"
        ),
        F.round(F.col("l2").cast("double") / F.col("tot"), 6).alias(
            "lambda_bigram"
        ),
        F.round(F.col("l3").cast("double") / F.col("tot"), 6).alias(
            "lambda_trigram"
        ),
    )


def _x536_oracle() -> str:
    from ...ops.text import bm25_topk_sql

    bm25 = bm25_topk_sql()
    return f"""
WITH b AS MATERIALIZED ({bm25}),
r1 AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
              AS BIGINT) AS ra
  FROM b
),
tf AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS hits
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents)
  WHERE w IN ('spark', 'join', 'stream')
  GROUP BY 1
),
r2 AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY hits DESC, doc_id)
              AS BIGINT) AS rb
  FROM tf
  ORDER BY hits DESC, doc_id LIMIT 20
),
fused AS (
  SELECT COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
         r1.ra, r2.rb,
         ROUND(COALESCE(ROUND(1.0 / (60 + r1.ra), 10), 0.0)
               + COALESCE(ROUND(1.0 / (60 + r2.rb), 10), 0.0), 8)
           AS rrf
  FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
)
SELECT doc_id, COALESCE(ra, -1) AS bm25_rank,
       COALESCE(rb, -1) AS tf_rank, rrf AS rrf_score
FROM fused
ORDER BY rrf DESC, doc_id LIMIT 10
"""


@register(
    "x536_rrf_fusion",
    _x536_oracle(),
    doc="reciprocal-rank fusion of two retrieval rankings for the "
        "SAME fixed query (x106's BM25 top-20 and a raw "
        "term-frequency top-20): RRF = sum 1/(60+rank) over the "
        "lists each doc appears in -- THE standard hybrid-search "
        "combiner (lexical + semantic in production; two lexical "
        "scorers here keep both sides oracle-exact), score-scale-"
        "free where a weighted score sum would need calibration "
        "(x317 evaluates ONE ranking; this MAKES one from "
        "several). Exactness: ranks are exact integers under "
        "total (score desc, doc_id) orderings; each 1/(60+r) term "
        "rounds 10 before the 2-term fixed-order sum, final round "
        "8; missing-from-list contributes exactly 0 (full outer "
        "join), absent ranks emitted as -1. Scale: two TakeOrdered "
        "top-20s, a 40-row fusion join",
)
def x536_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ...ops import text as text_ops
    from ...ops.text import BM25_QUERY_TERMS

    docs = load_table(spark, sf_dir, "documents")
    b = text_ops.bm25_topk(docs, "doc_id", "text")
    r1 = b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .cast("long")
        .alias("ra"),
    )
    tf = (
        docs.select(
            "doc_id",
            F.explode(_toks("text")).alias("w"),
        )
        .filter(F.col("w").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
        .orderBy(F.col("hits").desc(), F.col("doc_id"))
        .limit(20)
    )
    r2 = tf.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("hits").desc(), F.col("doc_id")))
        .cast("long")
        .alias("rb"),
    )
    fused = r1.join(
        r2, "doc_id", "full_outer"
    ).select(
        "doc_id",
        "ra",
        "rb",
        F.round(
            F.coalesce(
                F.round(F.lit(1.0) / (60 + F.col("ra")), 10), F.lit(0.0)
            )
            + F.coalesce(
                F.round(F.lit(1.0) / (60 + F.col("rb")), 10), F.lit(0.0)
            ),
            8,
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            F.coalesce(F.col("ra"), F.lit(-1)).cast("long").alias(
                "bm25_rank"
            ),
            F.coalesce(F.col("rb"), F.lit(-1)).cast("long").alias(
                "tf_rank"
            ),
            F.col("rrf").alias("rrf_score"),
        )
    )


_X537_ORACLE = f"""
WITH {{pairs_cte}},
edges AS (SELECT id_a AS u, id_b AS v FROM pairs),
und AS (
  SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
),
wedges AS (
  SELECT a.u AS x, a.v AS mid, b.v AS z
  FROM und a JOIN und b ON a.v = b.u
  WHERE a.u < b.v
),
closedw AS (
  SELECT CAST(count(*) AS BIGINT) AS n_closed
  FROM wedges w
  JOIN edges e ON e.u = w.x AND e.v = w.z
),
cnt AS (
  SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
         CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges
)
SELECT cnt.n_edges, cnt.n_wedges, closedw.n_closed,
       ROUND(CASE WHEN cnt.n_wedges > 0
              THEN CAST(closedw.n_closed AS DOUBLE) / cnt.n_wedges
              ELSE 0.0 END, 6) AS transitivity
FROM cnt, closedw
"""


def _x537_oracle() -> str:
    from .foundations import _X03_PAIRS_CTE

    return _X537_ORACLE.format(pairs_cte=_X03_PAIRS_CTE)


@register(
    "x537_neardup_transitivity",
    _x537_oracle(),
    doc="transitivity audit of the x03 near-dup pair graph (bigram-"
        "shingle jaccard >= 0.5): fraction of wedges (a~b, b~c "
        "with a < c) whose closing pair a~c is ALSO a near-dup -- "
        "the measured answer to 'is near-duplication an "
        "equivalence relation here?' that decides whether x24's "
        "connected-component clusters over-merge (low transitivity "
        "= long chains glue unrelated docs; high = components are "
        "genuine duplicate families), the structural audit "
        "UNDERNEATH x115's survivorship and x497's survivor "
        "policies. Exactness: exact integer wedge/closure counts "
        "from equi-joins on the pair table (both directions "
        "unioned, each wedge counted once via a < c), one rounded "
        "division. Scale: joins are PAIR-sized (near-dup pairs "
        "are rare by construction), never corpus-sized",
)
def x537_neardup_transitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .foundations import _shared_jaccard_pairs

    pairs = _shared_jaccard_pairs(spark, sf_dir).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=False)
    und = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    a = und.select(F.col("u").alias("x"), F.col("v").alias("mid"))
    bb = und.select(F.col("u").alias("mid2"), F.col("v").alias("z"))
    wedges = a.join(bb, F.col("mid") == F.col("mid2")).filter(
        F.col("x") < F.col("z")
    ).select("x", "mid", "z")
    e = pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("z"))
    n_closed = wedges.join(e, ["x", "z"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_closed")
    )
    n_edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = wedges.agg(
        F.count(F.lit(1)).cast("long").alias("n_wedges")
    )
    j = (
        n_edges.crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_closed))
    )
    return j.select(
        "n_edges",
        "n_wedges",
        "n_closed",
        F.round(
            F.when(
                F.col("n_wedges") > 0,
                F.col("n_closed").cast("double") / F.col("n_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("transitivity"),
    )


_X538_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
idx AS (
  SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM daily
),
pairs AS (
  SELECT a.y AS y1, b.y AS y2
  FROM idx a JOIN idx b ON b.i = a.i + a.n // 2
  WHERE a.i < a.n // 2
),
s AS (
  SELECT CAST(SUM(CASE WHEN y2 > y1 THEN 1 ELSE 0 END) AS BIGINT)
           AS npos,
         CAST(SUM(CASE WHEN y2 < y1 THEN 1 ELSE 0 END) AS BIGINT)
           AS nneg
  FROM pairs
)
SELECT npos AS n_up, nneg AS n_down, npos + nneg AS n_informative,
       ROUND((npos - CAST(npos + nneg AS DOUBLE) / 2.0)
             / sqrt(CAST(npos + nneg AS DOUBLE) / 4.0), 4)
         AS cox_stuart_z
FROM s
"""


@register(
    "x538_cox_stuart",
    _X538_ORACLE,
    doc="Cox-Stuart trend test on daily revenue: pair day i with day "
        "i + n/2 (first half vs second half BY POSITION; odd "
        "middle day drops, ties drop -- both stated) and sign-test "
        "the pairs -- the assumption-free trend check that needs "
        "only comparisons, beside x384's O(n^2)-pairwise "
        "Mann-Kendall and x198's parametric fit (Cox-Stuart is "
        "what you can still run when values are only ORDINAL); "
        "the normal-approximation z is the readout (the exact "
        "binomial tail saturates on this fixture exactly as x520 "
        "measured -- same machinery, deliberately not repeated). "
        "Exactness: positional pairing by row_number over the day "
        "order, exact integer sign counts, one fixed-order double "
        "expression. Scale: one day-grain aggregate + a "
        "half-domain self-join on the bounded day index",
)
def x538_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    idx = daily.select(
        "y",
        (F.row_number().over(Window.orderBy("day")) - 1)
        .cast("long")
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias(
            "n"
        ),
    ).localCheckpoint(eager=False)
    a = idx.filter(F.col("i") < F.expr("n div 2")).select(
        F.col("y").alias("y1"),
        (F.col("i") + F.expr("n div 2")).alias("j"),
    )
    b = idx.select(F.col("i").alias("j"), F.col("y").alias("y2"))
    s = a.join(b, "j").agg(
        F.sum(F.when(F.col("y2") > F.col("y1"), 1).otherwise(0))
        .cast("long")
        .alias("npos"),
        F.sum(F.when(F.col("y2") < F.col("y1"), 1).otherwise(0))
        .cast("long")
        .alias("nneg"),
    )
    mm = (F.col("npos") + F.col("nneg")).cast("double")
    return s.select(
        F.col("npos").alias("n_up"),
        F.col("nneg").alias("n_down"),
        (F.col("npos") + F.col("nneg")).cast("long").alias(
            "n_informative"
        ),
        F.round(
            (F.col("npos") - mm / F.lit(2.0)) / F.sqrt(mm / F.lit(4.0)),
            4,
        ).alias("cox_stuart_z"),
    )


_X539_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
           AS wk,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
cal AS (
  SELECT CAST(count(*) AS BIGINT) AS nc,
         CAST(SUM(y) AS HUGEINT) AS s1,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
  FROM weekly WHERE wk < DATE '1999-01-01'
),
ms AS (
  SELECT ROUND(CAST(s1 AS DOUBLE) / nc, 4) AS mu,
         ROUND(sqrt(CAST(s2 AS DOUBLE) / nc
               - (CAST(s1 AS DOUBLE) / nc)
                 * (CAST(s1 AS DOUBLE) / nc)), 4) AS sigma
  FROM cal
),
q AS (
  SELECT w.wk,
         CAST(floor((w.y - ms.mu - ms.sigma / 4.0) * 100.0) AS BIGINT)
           AS qd,
         ms.sigma
  FROM weekly w, ms
),
ph0 AS (
  SELECT wk, sigma,
         SUM(qd) OVER (ORDER BY wk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM q
),
ph AS (
  SELECT wk, sigma, m,
         MIN(m) OVER (ORDER BY wk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
  FROM ph0
),
alarm AS (
  SELECT wk, sigma, m - mn AS phv
  FROM ph WHERE wk >= DATE '1999-01-01'
)
SELECT CAST(count(*) AS BIGINT) AS n_test_weeks,
       CAST(SUM(CASE WHEN CAST(phv AS DOUBLE)
                          > 3.0 * sigma * 100.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       MIN(CASE WHEN CAST(phv AS DOUBLE) > 3.0 * sigma * 100.0
           THEN wk END) AS first_alarm_week,
       ROUND(MAX(CAST(phv AS DOUBLE)) / (sigma * 100.0), 4)
         AS max_ph_sigmas
FROM alarm
GROUP BY sigma
"""


@register(
    "x539_page_hinkley",
    _X539_ORACLE,
    doc="Page-Hinkley drift detector on weekly revenue (x501's "
        "calibration framing: pre-1999 mean/sd, post-1999 "
        "monitored): PH_t = m_t - min m_i with m_t = cumsum(y - mu "
        "- delta), delta = sigma/4, alarm at 3 sigma -- the "
        "standard streaming-ML drift alarm for a sustained mean "
        "INCREASE, where x501's EWMA tracks level exceedances and "
        "x289's CUSUM is the offline twin (PH's subtracted "
        "running-min is what makes it one-pass online). "
        "Exactness: mu/sigma round 4 from exact calibration "
        "moments, deviations floor-quantize to integer cents so "
        "the cumulative sum AND its running minimum are exact "
        "integer windows (a float cumsum under DuckDB's "
        "segment-tree windows would be order-dependent -- the "
        "x477 lesson applied to windows); alarms are integer "
        "comparisons against the rounded 3-sigma threshold. "
        "Scale: one week-grain aggregate, windows on the bounded "
        "week domain",
)
def x539_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("wk")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y")
    )
    cut = F.lit("1999-01-01").cast("date")
    cal = weekly.filter(F.col("wk") < cut).agg(
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    mu_raw = F.col("s1").cast("double") / F.col("nc")
    ms = cal.select(
        F.round(mu_raw, 4).alias("mu"),
        F.round(
            F.sqrt(
                F.col("s2").cast("double") / F.col("nc") - mu_raw * mu_raw
            ),
            4,
        ).alias("sigma"),
    )
    q = weekly.crossJoin(F.broadcast(ms)).select(
        "wk",
        F.floor(
            (F.col("y") - F.col("mu") - F.col("sigma") / F.lit(4.0))
            * F.lit(100.0)
        )
        .cast("long")
        .alias("qd"),
        "sigma",
    )
    wc = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, 0)
    ph0 = q.select(
        "wk", "sigma", F.sum("qd").over(wc).alias("m")
    )
    ph = ph0.select(
        "wk", "sigma", "m", F.min("m").over(wc).alias("mn")
    )
    alarm = ph.filter(F.col("wk") >= cut).select(
        "wk", "sigma", (F.col("m") - F.col("mn")).alias("phv")
    )
    thr = F.lit(3.0) * F.col("sigma") * F.lit(100.0)
    return alarm.groupBy("sigma").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_weeks"),
        F.sum(F.when(F.col("phv").cast("double") > thr, 1).otherwise(0))
        .cast("long")
        .alias("n_alarms"),
        F.min(
            F.when(F.col("phv").cast("double") > thr, F.col("wk"))
        ).alias("first_alarm_week"),
        F.round(
            F.max(F.col("phv").cast("double"))
            / (F.col("sigma") * F.lit(100.0)),
            4,
        ).alias("max_ph_sigmas"),
    ).drop("sigma")


_X540_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
           AS mon,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
),
blocks AS (
  SELECT mon, CAST(MAX(y) AS BIGINT) AS mx
  FROM daily GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS nb,
         CAST(SUM(mx) AS HUGEINT) AS s1,
         CAST(SUM(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS s2,
         CAST(MAX(mx) AS BIGINT) AS grand_max
  FROM blocks
),
fit AS (
  SELECT nb, grand_max,
         CAST(s1 AS DOUBLE) / nb AS mean_mx,
         sqrt((nb * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
               * CAST(s1 AS DOUBLE))
              / (CAST(nb AS DOUBLE) * (nb - 1.0))) AS sd_mx
  FROM m
)
SELECT nb AS n_months, grand_max AS record_day_cents,
       ROUND(sd_mx * 2.449489742783178 / 3.141592653589793, 4)
         AS gumbel_scale,
       ROUND(mean_mx - 0.5772156649015329
             * (sd_mx * 2.449489742783178 / 3.141592653589793), 4)
         AS gumbel_loc,
       ROUND(1.0 - exp(-exp(-((grand_max
              - (mean_mx - 0.5772156649015329
                 * (sd_mx * 2.449489742783178 / 3.141592653589793)))
             / (sd_mx * 2.449489742783178 / 3.141592653589793)))), 6)
         AS p_exceed_record
FROM fit
"""


@register(
    "x540_gumbel_block_maxima",
    _X540_ORACLE,
    doc="Gumbel extreme-value fit of MONTHLY block maxima of daily "
        "revenue (method of moments: scale = sd*sqrt(6)/pi, loc = "
        "mean - gamma*scale with Euler-Mascheroni pinned), plus "
        "P(a future month's max exceeds the historical record) "
        "from the fitted CDF -- the BLOCK-MAXIMA side of extreme-"
        "value theory where x463's Hill index is the peaks-over-"
        "threshold side: capacity planning asks 'how big can a "
        "day get', not 'how heavy is the tail'. Exactness: block "
        "maxima are exact integer cents, mean/sd from exact "
        "HUGEINT moments; sqrt(6)/pi and gamma enter as pinned "
        "literals (2.449489742783178 / 3.141592653589793 / "
        "0.5772156649015329) so both engines evaluate the "
        "identical double expression; one exp chain at the end. "
        "Scale: one day-grain aggregate, one month-grain "
        "aggregate, constant algebra",
)
def x540_gumbel_block_maxima(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("mon"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y")
    )
    blocks = daily.groupBy("mon").agg(
        F.max("y").cast("long").alias("mx")
    )
    mxd = F.col("mx").cast("decimal(38,0)")
    m = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum(mxd).cast("decimal(38,0)").alias("s1"),
        F.sum(mxd * F.col("mx")).cast("decimal(38,0)").alias("s2"),
        F.max("mx").cast("long").alias("grand_max"),
    )
    nbd = F.col("nb").cast("double")
    mean_mx = F.col("s1").cast("double") / F.col("nb")
    sd_mx = F.sqrt(
        (
            F.col("nb") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        / (nbd * (F.col("nb") - 1.0))
    )
    scale = sd_mx * F.lit(2.449489742783178) / F.lit(3.141592653589793)
    loc = mean_mx - F.lit(0.5772156649015329) * scale
    return m.select(
        F.col("nb").alias("n_months"),
        F.col("grand_max").alias("record_day_cents"),
        F.round(scale, 4).alias("gumbel_scale"),
        F.round(loc, 4).alias("gumbel_loc"),
        F.round(
            F.lit(1.0)
            - F.exp(-F.exp(-((F.col("grand_max") - loc) / scale))),
            6,
        ).alias("p_exceed_record"),
    )


_X541_ORACLE = """
WITH u AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv,
         CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS spend
  FROM events GROUP BY user_id
),
strata AS (
  SELECT conv,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS nt,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS nc
  FROM u GROUP BY 1
),
l1 AS (
  SELECT CAST((SELECT nt FROM strata WHERE conv = 1)
              * (SELECT nc FROM strata WHERE conv = 0) AS HUGEINT)
           AS wins1,
         CAST((SELECT nc FROM strata WHERE conv = 1)
              * (SELECT nt FROM strata WHERE conv = 0) AS HUGEINT)
           AS losses1
),
sdom AS (
  SELECT conv, spend,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS ct,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS cc
  FROM u GROUP BY 1, 2
),
cum AS (
  SELECT conv, spend, ct, cc,
         COALESCE(SUM(cc) OVER (PARTITION BY conv ORDER BY spend
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cc_below,
         COALESCE(SUM(ct) OVER (PARTITION BY conv ORDER BY spend
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS ct_below,
         CAST(SUM(ct * cc) OVER (PARTITION BY conv) AS HUGEINT)
           AS cross_total
  FROM sdom
),
l2 AS (
  SELECT CAST(SUM(CAST(ct AS HUGEINT) * cc_below) AS HUGEINT) AS wins2,
         CAST(SUM(CAST(cc AS HUGEINT) * ct_below) AS HUGEINT)
           AS losses2,
         CAST(SUM(CAST(ct AS HUGEINT) * cc) AS HUGEINT) AS ties2
  FROM cum
)
SELECT CAST(l1.wins1 + l2.wins2 AS BIGINT) AS wins,
       CAST(l1.losses1 + l2.losses2 AS BIGINT) AS losses,
       CAST(l2.ties2 AS BIGINT) AS ties,
       ROUND(CAST(l1.wins1 + l2.wins2 AS DOUBLE)
             / CAST(l1.losses1 + l2.losses2 AS DOUBLE), 6)
         AS win_ratio
FROM l1, l2
"""


@register(
    "x541_win_ratio",
    _X541_ORACLE,
    doc="Pocock win ratio between the user-parity arms on the "
        "PRIORITIZED outcome pair (conversion first, then total "
        "spend): every treat x control pair is compared on "
        "conversion, spend breaks conversion ties, and WR = "
        "wins/losses -- the composite-endpoint effect measure "
        "clinical trials standardized (here: 'did the arm produce "
        "better customers, conversion before revenue') that a "
        "single-metric lift (x125) or a rank test on spend alone "
        "(x349) cannot express. Exactness: the O(n^2) pairwise "
        "comparison collapses to EXACT integer identities -- "
        "level-1 wins are a margin product, level-2 spend "
        "dominance rides cumulative counts over the per-stratum "
        "spend domain (x492's dominance-credit discipline); exact "
        "HUGEINT tallies, one rounded division. Scale: one "
        "user-grain aggregate, spend-domain windows; no pair is "
        "ever materialized",
)
def x541_win_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("conv"),
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("spend"),
    ).select((F.col("user_id") % 2).alias("arm"), "conv", "spend")
    strata = u.groupBy("conv").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("nc"),
    )
    l1 = strata.agg(
        (
            F.sum(F.when(F.col("conv") == 1, F.col("nt")).otherwise(0))
            .cast("decimal(38,0)")
            * F.sum(F.when(F.col("conv") == 0, F.col("nc")).otherwise(0))
        )
        .cast("decimal(38,0)")
        .alias("wins1"),
        (
            F.sum(F.when(F.col("conv") == 1, F.col("nc")).otherwise(0))
            .cast("decimal(38,0)")
            * F.sum(F.when(F.col("conv") == 0, F.col("nt")).otherwise(0))
        )
        .cast("decimal(38,0)")
        .alias("losses1"),
    )
    sdom = u.groupBy("conv", "spend").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("cc"),
    )
    wb = Window.partitionBy("conv").orderBy("spend").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = sdom.select(
        "conv",
        "ct",
        "cc",
        F.coalesce(F.sum("cc").over(wb), F.lit(0)).cast("long").alias(
            "cc_below"
        ),
        F.coalesce(F.sum("ct").over(wb), F.lit(0)).cast("long").alias(
            "ct_below"
        ),
    )
    l2 = cum.agg(
        F.sum(F.col("ct").cast("decimal(38,0)") * F.col("cc_below"))
        .cast("decimal(38,0)")
        .alias("wins2"),
        F.sum(F.col("cc").cast("decimal(38,0)") * F.col("ct_below"))
        .cast("decimal(38,0)")
        .alias("losses2"),
        F.sum(F.col("ct").cast("decimal(38,0)") * F.col("cc"))
        .cast("decimal(38,0)")
        .alias("ties2"),
    )
    j = l1.crossJoin(F.broadcast(l2))
    wins = F.col("wins1") + F.col("wins2")
    losses = F.col("losses1") + F.col("losses2")
    return j.select(
        wins.cast("long").alias("wins"),
        losses.cast("long").alias("losses"),
        F.col("ties2").cast("long").alias("ties"),
        F.round(
            wins.cast("double") / losses.cast("double"), 6
        ).alias("win_ratio"),
    )
