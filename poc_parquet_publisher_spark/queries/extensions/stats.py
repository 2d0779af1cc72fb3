"""Extension entries x381-x429: curation rule ablations and the
statistics / experimentation wave (tests, power, causal, thresholds).

Split (round 7) from the former single-file queries/extensions.py
(31,988 lines) preserving registration order; see the package
__init__ for the import order that reproduces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...scale import rebalanced
from ...ops import dedup, graph, text
from ...ops.text import _toks
from .. import register
from .foundations import _STOP_EN

_X381_ORACLE = """
WITH d AS (
  SELECT source,
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
  SELECT source,
         CASE WHEN nw BETWEEN 30 AND 90 THEN 1 ELSE 0 END AS ok_wc,
         CASE WHEN lc >= 4 * nw AND lc <= 5 * nw THEN 1 ELSE 0 END
           AS ok_mwl,
         CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS ok_stop,
         CASE WHEN 5 * nd > 3 * nw THEN 1 ELSE 0 END AS ok_dup,
         CASE WHEN 8 * topc <= nw THEN 1 ELSE 0 END AS ok_top
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(1 - ok_wc) AS BIGINT) AS fail_word_count,
       CAST(SUM(1 - ok_mwl) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(1 - ok_stop) AS BIGINT) AS fail_stopwords,
       CAST(SUM(1 - ok_dup) AS BIGINT) AS fail_dup_tokens,
       CAST(SUM(1 - ok_top) AS BIGINT) AS fail_top_token,
       CAST(SUM(ok_wc * ok_mwl * ok_stop * ok_dup * ok_top) AS BIGINT)
         AS pass_all,
       ROUND(SUM(ok_wc * ok_mwl * ok_stop * ok_dup * ok_top)
             / CAST(count(*) AS DOUBLE), 4) AS pass_rate
FROM r GROUP BY source ORDER BY source
"""


@register(
    "x381_gopher_rules",
    _X381_ORACLE,
    doc="Gopher-style rule-based quality funnel (Rae et al. 2021 "
        "family, thresholds fit to this corpus so every rule "
        "discriminates): word count in [30,90], mean word length in "
        "[4,5], >=2 distinct English stopwords, duplicate-token "
        "fraction < 0.4, top-unigram share <= 1/8 -- reported per "
        "source as PER-RULE fail counts plus the conjunction "
        "survivor count (x11 scores docs, x119 ensembles scores; "
        "this is the named REJECTION-BREAKDOWN gate a curation run "
        "reads to see WHY docs died). Every rule is an integer "
        "cross-multiplication (4*nw <= chars <= 5*nw, 5*distinct > "
        "3*nw, 8*topcnt <= nw) -- no float boundary can disagree "
        "between engines; the top-unigram count is a distinct x "
        "occurrences HOF fold, O(nw * distinct) per doc, row-local. "
        "Scale: one expression-only pass, one source groupBy; no "
        "joins, no windows, map-side partials",
)
def x381_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # token + distinct-token arrays bound as attributes before the
    # top-token count transform (HOF-lambda CSE trap: the inlined split
    # would re-tokenize once per DISTINCT TOKEN)
    t = docs.select(
        "source",
        "text",
        _toks("text").alias("__toks"),
    ).select(
        "source",
        "text",
        "__toks",
        F.array_distinct("__toks").alias("__dtoks"),
    )
    toks = F.col("__toks")
    dtoks = F.col("__dtoks")
    stop = list(text.LANG_STOPWORDS["en"])
    d = t.select(
        "source",
        F.size(toks).alias("nw"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("lc"),
        F.size(F.filter(dtoks, lambda t: t.isin(*stop))).alias("nstop"),
        F.size(dtoks).alias("nd"),
        F.array_max(
            F.transform(
                dtoks,
                lambda t: F.size(F.filter(toks, lambda x: x == t)),
            )
        ).alias("topc"),
    )
    r = d.select(
        "source",
        F.when(F.col("nw").between(30, 90), 1).otherwise(0).alias("ok_wc"),
        F.when(
            (F.col("lc") >= 4 * F.col("nw"))
            & (F.col("lc") <= 5 * F.col("nw")),
            1,
        )
        .otherwise(0)
        .alias("ok_mwl"),
        F.when(F.col("nstop") >= 2, 1).otherwise(0).alias("ok_stop"),
        F.when(5 * F.col("nd") > 3 * F.col("nw"), 1)
        .otherwise(0)
        .alias("ok_dup"),
        F.when(8 * F.col("topc") <= F.col("nw"), 1)
        .otherwise(0)
        .alias("ok_top"),
    )
    allok = (
        F.col("ok_wc")
        * F.col("ok_mwl")
        * F.col("ok_stop")
        * F.col("ok_dup")
        * F.col("ok_top")
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(1 - F.col("ok_wc")).cast("long").alias("fail_word_count"),
            F.sum(1 - F.col("ok_mwl"))
            .cast("long")
            .alias("fail_mean_word_len"),
            F.sum(1 - F.col("ok_stop")).cast("long").alias("fail_stopwords"),
            F.sum(1 - F.col("ok_dup")).cast("long").alias("fail_dup_tokens"),
            F.sum(1 - F.col("ok_top")).cast("long").alias("fail_top_token"),
            F.sum(allok).cast("long").alias("pass_all"),
            F.round(
                F.sum(allok) / F.count(F.lit(1)).cast("double"), 4
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


_X382_ORACLE = """
WITH j AS (
  SELECT p.p_brand AS brand, l.l_quantity AS q, l.l_extendedprice AS pr
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
rk AS (
  SELECT brand,
         2 * rank() OVER (PARTITION BY brand ORDER BY q)
           + count(*) OVER (PARTITION BY brand, q) - 1 AS dq,
         2 * rank() OVER (PARTITION BY brand ORDER BY pr)
           + count(*) OVER (PARTITION BY brand, pr) - 1 AS dp
  FROM j
),
m AS (
  SELECT brand, CAST(count(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(dq AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(dp AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(dq AS HUGEINT) * dq) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(dp AS HUGEINT) * dp) AS HUGEINT) AS syy,
         CAST(SUM(CAST(dq AS HUGEINT) * dp) AS HUGEINT) AS sxy
  FROM rk GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
         AS rho
FROM m ORDER BY brand
"""


@register(
    "x382_spearman_rho",
    _X382_ORACLE,
    doc="Spearman rank correlation with EXACT midranks, per brand, "
        "between line quantity and extended price -- the monotone-"
        "association companion to x357's Kendall tau-b (tau counts "
        "concordant pairs; rho is Pearson on ranks, far cheaper: two "
        "windows vs a pair join) and to x147's Pearson (which a "
        "single outlier can saturate). Midranks handle the massive "
        "quantity ties exactly via the doubled-rank identity 2*mid "
        "= 2*rank + tiecount - 1 (integers, no .5 floats); all five "
        "moment sums accumulate in DECIMAL(38,0)/HUGEINT (exact), "
        "the single division+sqrt runs per 25-row brand aggregate "
        "in DOUBLE on identical integers -- engine-exact. Scale: "
        "two rank windows sharing the brand partition key (one "
        "shuffle), then a brand groupBy; no pair materialization",
)
def x382_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(pt.select("p_partkey", "p_brand")),
        li["l_partkey"] == pt["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("pr"),
    )
    rk = j.select(
        "brand",
        (
            2 * F.rank().over(Window.partitionBy("brand").orderBy("q"))
            + F.count(F.lit(1)).over(Window.partitionBy("brand", "q"))
            - 1
        )
        .cast("long")
        .alias("dq"),
        (
            2 * F.rank().over(Window.partitionBy("brand").orderBy("pr"))
            + F.count(F.lit(1)).over(Window.partitionBy("brand", "pr"))
            - 1
        )
        .cast("long")
        .alias("dp"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = rk.groupBy("brand").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("dq"))).cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("dp"))).cast("decimal(38,0)").alias("sy"),
        F.sum(dec(F.col("dq") * F.col("dq")))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(dec(F.col("dp") * F.col("dp")))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(dec(F.col("dq") * F.col("dp")))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    return m.selectExpr(
        "brand",
        "CAST(n AS BIGINT) AS n",
        """ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           AS rho""",
    ).orderBy("brand")


_X383_ORACLE = """
WITH t AS (
  SELECT string_split(lower(text), ' ') AS toks FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 2
),
bg AS (
  SELECT unnest(list_transform(
           range(1, len(toks)),
           i -> array_to_string(toks[i:i+1], ' '))) AS g
  FROM t
),
big AS (
  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS c12
  FROM bg GROUP BY 1, 2
),
ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1f
  FROM big GROUP BY w1
),
bwd AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM big GROUP BY w2
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS ntypes FROM big)
SELECT b.w1, b.w2, b.c12,
       ROUND(CAST(b.c12 AS DOUBLE) / c.c1, 8) AS p_mle,
       ROUND(CAST(GREATEST(4 * b.c12 - 3, 0) * n.ntypes
                  + 3 * c.n1f * d.n1b AS DOUBLE)
             / (4.0 * c.c1 * n.ntypes), 8) AS p_kn
FROM big b JOIN ctx c ON b.w1 = c.w1
JOIN bwd d ON b.w2 = d.w2 CROSS JOIN nt n
ORDER BY b.c12 DESC, b.w1, b.w2 LIMIT 20
"""


@register(
    "x383_kneser_ney",
    _X383_ORACLE,
    doc="interpolated Kneser-Ney bigram probabilities (Kneser & Ney "
        "1995, the smoothing KenLM popularized for corpus LM "
        "scoring), discount D=3/4, for the 20 highest-count bigrams "
        "beside their MLE: P_KN = max(c12-D,0)/c1 + D*N1+(w1.)/c1 * "
        "N1+(.w2)/Ntypes -- the CONTINUATION-count correction x52's "
        "MLE model lacks ('san francisco' gives 'francisco' high "
        "MLE unigram mass but low continuation mass). The whole "
        "probability evaluates as ONE integer rational: (max(4*c12-3"
        ",0)*Nt + 3*N1f*N1b) / (4*c1*Nt) -- D=3/4 clears the only "
        "fraction, so both engines divide identical int64s (no "
        "float accumulation anywhere); pytest proves the model "
        "normalizes: sum over the full vocab of P_KN(.|w1) = 1 "
        "exactly (seen mass + continuation mass). Scale: counts are "
        "three reuses of one bigram-type aggregate (type-, not "
        "instance-cardinality); joins are aggregate x aggregate on "
        "w1/w2 keys; Ntypes broadcasts",
)
def x383_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bind the token array as an attribute before the bigram transform
    # (HOF-lambda CSE trap: an inlined split() re-tokenizes per bigram
    # position) and rebalance the single-split scan so the explode runs
    # on the core budget, not one task
    t = (
        rebalanced(docs)
        .select(_toks("text").alias("__toks"))
        .filter(F.size("__toks") >= 2)
    )
    toks = F.col("__toks")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    bg = t.select(F.explode(bigrams).alias("g"))
    big = (
        bg.select(
            F.split(F.col("g"), " ").getItem(0).alias("w1"),
            F.split(F.col("g"), " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=False)
    )
    ctx = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    bwd = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1b")
    )
    nt = big.agg(F.count(F.lit(1)).cast("long").alias("ntypes"))
    return (
        big.join(ctx, "w1")
        .join(bwd, "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(F.col("c12").cast("double") / F.col("c1"), 8).alias(
                "p_mle"
            ),
            F.round(
                (
                    F.greatest(4 * F.col("c12") - 3, F.lit(0)).cast("long")
                    * F.col("ntypes")
                    + 3 * F.col("n1f") * F.col("n1b")
                ).cast("double")
                / (4.0 * F.col("c1") * F.col("ntypes")),
                8,
            ).alias("p_kn"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(20)
    )


_X384_ORACLE = """
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM d a JOIN d b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
),
n AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM d GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(COALESCE(SUM(tg * (tg - 1) * (2 * tg + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (
    SELECT event_type, v, CAST(count(*) AS BIGINT) AS tg
    FROM d GROUP BY 1, 2 HAVING count(*) > 1
  ) GROUP BY 1
)
SELECT n.event_type, n.n_days, s.s_stat,
       n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
         - COALESCE(t.tie_term, 0) AS var18,
       ROUND(CASE
         WHEN s.s_stat > 0 THEN (s.s_stat - 1)
           / sqrt((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                   - COALESCE(t.tie_term, 0)) / 18.0)
         WHEN s.s_stat < 0 THEN (s.s_stat + 1)
           / sqrt((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                   - COALESCE(t.tie_term, 0)) / 18.0)
         ELSE 0.0 END, 6) AS z_mk
FROM n JOIN s ON n.event_type = s.event_type
LEFT JOIN ties t ON n.event_type = t.event_type
ORDER BY n.event_type
"""


@register(
    "x384_mann_kendall",
    _X384_ORACLE,
    doc="Mann-Kendall trend test per event type over the daily "
        "revenue series: S = sum of sign(v_j - v_i) over all day "
        "pairs i<j, tie-corrected variance 18V = n(n-1)(2n+5) - "
        "sum t(t-1)(2t+5), continuity-corrected z -- the "
        "DISTRIBUTION-FREE monotone-trend test beside x198's "
        "parametric least-squares fit and x309's Theil-Sen slope "
        "estimate (MK answers 'is there a trend', Theil-Sen 'how "
        "steep'); a single outlier day moves S by at most n-1. "
        "Determinism: daily values are exact cent sums (round-then-"
        "BIGINT), S/var18 pure integers, the one sqrt+division runs "
        "per 5-row type aggregate. Scale: the pair join is "
        "aggregate x aggregate (day-cardinality, C(30,2) pairs per "
        "type -- bounded by the day domain, never by events); the "
        "corpus pays one groupBy",
)
def x384_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("v")
        )
        .localCheckpoint(eager=False)
    )
    a = d.select(
        "event_type", F.col("day").alias("di"), F.col("v").alias("vi")
    )
    b = d.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("dj"),
        F.col("v").alias("vj"),
    )
    s = (
        a.join(
            b,
            (F.col("event_type") == F.col("et2"))
            & (F.col("di") < F.col("dj")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("vj") > F.col("vi"), 1)
                .when(F.col("vj") < F.col("vi"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    ties = (
        d.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("tg"))
        .filter(F.col("tg") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tg") * (F.col("tg") - 1) * (2 * F.col("tg") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ).cast("long")
    return (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            var18.alias("var18"),
            F.round(
                F.when(
                    F.col("s_stat") > 0,
                    (F.col("s_stat") - 1) / F.sqrt(var18 / F.lit(18.0)),
                )
                .when(
                    F.col("s_stat") < 0,
                    (F.col("s_stat") + 1) / F.sqrt(var18 / F.lit(18.0)),
                )
                .otherwise(0.0),
                6,
            ).alias("z_mk"),
        )
        .orderBy("event_type")
    )


_X385_ORACLE = """
WITH cell AS (
  SELECT r.r_name AS region,
         CAST(SUM(CASE WHEN l.l_discount >= 0.05
                        AND l.l_returnflag = 'R' THEN 1 ELSE 0 END)
           AS BIGINT) AS a,
         CAST(SUM(CASE WHEN l.l_discount >= 0.05
                        AND l.l_returnflag <> 'R' THEN 1 ELSE 0 END)
           AS BIGINT) AS b,
         CAST(SUM(CASE WHEN l.l_discount < 0.05
                        AND l.l_returnflag = 'R' THEN 1 ELSE 0 END)
           AS BIGINT) AS c,
         CAST(SUM(CASE WHEN l.l_discount < 0.05
                        AND l.l_returnflag <> 'R' THEN 1 ELSE 0 END)
           AS BIGINT) AS d
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer cu ON o.o_custkey = cu.c_custkey
  JOIN nation n ON cu.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1
),
term AS (
  SELECT region, a, b, c, d, a + b + c + d AS n,
         CAST(ROUND(CAST(a AS DOUBLE) * d / (a + b + c + d), 10)
           AS DECIMAL(28,10)) AS t_num,
         CAST(ROUND(CAST(b AS DOUBLE) * c / (a + b + c + d), 10)
           AS DECIMAL(28,10)) AS t_den,
         CAST(ROUND(CAST(a + b AS DOUBLE) * (a + c)
                    / (a + b + c + d), 10) AS DECIMAL(28,10)) AS e,
         CAST(ROUND(CAST(a + b AS DOUBLE) * (c + d)
                    * (CAST(a + c AS DOUBLE) * (b + d))
                    / (CAST(a + b + c + d AS DOUBLE)
                       * (a + b + c + d) * (a + b + c + d - 1)), 10)
           AS DECIMAL(28,10)) AS v
  FROM cell
),
pool AS (
  SELECT CAST(SUM(t_num) AS DECIMAL(38,10)) AS sn,
         CAST(SUM(t_den) AS DECIMAL(38,10)) AS sd,
         CAST(SUM(a) AS BIGINT) AS sa,
         CAST(SUM(e) AS DECIMAL(38,10)) AS se,
         CAST(SUM(v) AS DECIMAL(38,10)) AS sv
  FROM term
)
SELECT t.region, t.a, t.b, t.c, t.d,
       ROUND(CAST(t.a AS DOUBLE) * t.d
             / (CAST(t.b AS DOUBLE) * t.c), 4) AS or_stratum,
       ROUND(CAST(p.sn AS DOUBLE) / CAST(p.sd AS DOUBLE), 4) AS or_mh,
       ROUND(pow(abs(CAST(p.sa AS DOUBLE) - CAST(p.se AS DOUBLE))
                 - 0.5, 2)
             / CAST(p.sv AS DOUBLE), 4) AS cmh_chi2
FROM term t CROSS JOIN pool p
ORDER BY t.region
"""


@register(
    "x385_cmh_odds_ratio",
    _X385_ORACLE,
    doc="Cochran-Mantel-Haenszel stratified 2x2 analysis: does a "
        "deep discount (>= 0.05) associate with returns, CONTROLLING "
        "for region -- the confounder-adjusted pooled odds ratio "
        "OR_MH = sum(a_i*d_i/n_i)/sum(b_i*c_i/n_i) plus the "
        "continuity-corrected CMH chi2, beside each stratum's raw "
        "OR. This is the stratified-inference layer x318's Simpson "
        "audit motivates (x318 DETECTS reversal; CMH pools "
        "correctly through it) and x148's single-table chi2 lacks. "
        "Determinism: cell counts exact BIGINTs; each per-stratum "
        "term (ad/n, bc/n, E_i, V_i) is one fixed-order double "
        "expression on exact integers rounded-10 into DECIMAL "
        "before the 5-row sum (partition-order free); V_i's "
        "4-factor product runs in DOUBLE because (a+b)(c+d)(a+c)"
        "(b+d) ~ 1e20 overflows int64. Scale: one 5-table "
        "star join (dims broadcast) into one region groupBy -- the "
        "corpus is read once; everything downstream is 5 rows",
)
def x385_cmh_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    j = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(
            F.broadcast(cu.select("c_custkey", "c_nationkey")),
            od["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(na.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(re.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    exp = F.col("l_discount") >= 0.05
    ret = F.col("l_returnflag") == "R"
    cell = j.groupBy(F.col("r_name").alias("region")).agg(
        F.sum(F.when(exp & ret, 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(exp & ~ret, 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~exp & ret, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~exp & ~ret, 1).otherwise(0)).cast("long").alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    term = cell.select(
        "region",
        "a",
        "b",
        "c",
        "d",
        F.round(F.col("a").cast("double") * F.col("d") / n, 10)
        .cast("decimal(28,10)")
        .alias("t_num"),
        F.round(F.col("b").cast("double") * F.col("c") / n, 10)
        .cast("decimal(28,10)")
        .alias("t_den"),
        F.round(
            (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c")) / n,
            10,
        )
        .cast("decimal(28,10)")
        .alias("e"),
        F.round(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * ((F.col("a") + F.col("c")).cast("double") * (F.col("b") + F.col("d")))
            / (n.cast("double") * n * (n - 1)),
            10,
        )
        .cast("decimal(28,10)")
        .alias("v"),
    )
    pool = term.agg(
        F.sum("t_num").cast("decimal(38,10)").alias("sn"),
        F.sum("t_den").cast("decimal(38,10)").alias("sd"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("e").cast("decimal(38,10)").alias("se"),
        F.sum("v").cast("decimal(38,10)").alias("sv"),
    )
    return (
        term.crossJoin(F.broadcast(pool))
        .select(
            "region",
            "a",
            "b",
            "c",
            "d",
            F.round(
                F.col("a").cast("double")
                * F.col("d")
                / (F.col("b").cast("double") * F.col("c")),
                4,
            ).alias("or_stratum"),
            F.round(
                F.col("sn").cast("double") / F.col("sd").cast("double"), 4
            ).alias("or_mh"),
            F.round(
                F.pow(
                    F.abs(
                        F.col("sa").cast("double")
                        - F.col("se").cast("double")
                    )
                    - 0.5,
                    2,
                )
                / F.col("sv").cast("double"),
                4,
            ).alias("cmh_chi2"),
        )
        .orderBy("region")
    )


_X386_ORACLE = """
WITH u AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                          1, 4) < '8000'
              THEN 1 ELSE 0 END AS treat,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS conv,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           AS BIGINT) AS score
  FROM events GROUP BY 1
),
dec AS (
  SELECT treat, conv,
         ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
  FROM u
),
g AS (
  SELECT decile,
         CAST(SUM(treat) AS BIGINT) AS n_t,
         CAST(SUM(1 - treat) AS BIGINT) AS n_c,
         CAST(SUM(treat * conv) AS BIGINT) AS conv_t,
         CAST(SUM((1 - treat) * conv) AS BIGINT) AS conv_c
  FROM dec GROUP BY 1
),
c AS (
  SELECT decile, n_t, n_c, conv_t, conv_c,
         CAST(SUM(n_t) OVER w AS BIGINT) AS cum_n_t,
         CAST(SUM(n_c) OVER w AS BIGINT) AS cum_n_c,
         CAST(SUM(conv_t) OVER w AS BIGINT) AS cum_conv_t,
         CAST(SUM(conv_c) OVER w AS BIGINT) AS cum_conv_c
  FROM g WINDOW w AS (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, n_t, n_c, conv_t, conv_c,
       ROUND(cum_conv_t - CASE WHEN cum_n_c = 0 THEN 0.0
             ELSE CAST(cum_conv_c AS DOUBLE) * cum_n_t / cum_n_c END,
             6) AS qini_k,
       ROUND((SELECT (MAX(cum_conv_t)
                      - CAST(MAX(cum_conv_c) AS DOUBLE)
                        * MAX(cum_n_t) / MAX(cum_n_c)) FROM c)
             * decile / 10.0, 6) AS diag_k
FROM c ORDER BY decile
"""


@register(
    "x386_qini_curve",
    _X386_ORACLE,
    doc="Qini curve (Radcliffe 2007) for x303's md5-bucket experiment "
        "under a deterministic targeting policy (score = the user's "
        "view count, arm-independent by construction): users rank by "
        "score into ntile(10) deciles over a TOTAL order (score "
        "DESC, user_id), and Qini(k) = cum_conv_t(k) - cum_conv_c(k)"
        " * cum_N_t(k)/cum_N_c(k) -- the incremental conversions "
        "the policy captured by targeting the top k/10, beside the "
        "random-targeting diagonal; the curve-above-diagonal gap IS "
        "the targeting value x303's single uplift number cannot "
        "show. Determinism: counts exact, the cumulative window "
        "runs over the 10-row decile aggregate, divisions in DOUBLE "
        "on identical integers. Scale: one user groupBy (the "
        "corpus shuffle x303 pays), one 10-bucket ntile over the "
        "user aggregate, then 10-row algebra",
)
def x386_qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("score"),
    ).select(
        "user_id",
        "conv",
        "score",
        F.when(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit(":ab"))
                ),
                1,
                4,
            )
            < "8000",
            1,
        )
        .otherwise(0)
        .alias("treat"),
    )
    # ntile(10) over a user-cardinality total order would plan as
    # Exchange SinglePartition; instead reconstruct EXACT ntile
    # semantics (first N%10 tiles get one extra row) from the
    # two-pass distributed global row number + the broadcast count.
    from ... import scale

    rn = scale.global_row_number(
        u, [F.col("score").desc(), F.col("user_id")], "rn"
    )
    tot = u.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    qsz = F.floor(F.col("n_users") / 10).cast("long")
    r = F.col("n_users") % 10
    boundary = r * (qsz + 1)
    dec = (
        rn.crossJoin(F.broadcast(tot))
        .select(
            "treat",
            "conv",
            F.when(
                F.col("rn") <= boundary,
                F.floor((F.col("rn") - 1) / (qsz + 1)) + 1,
            )
            .otherwise(
                r + F.floor((F.col("rn") - boundary - 1) / qsz) + 1
            )
            .cast("int")
            .alias("decile"),
        )
    )
    g = dec.groupBy("decile").agg(
        F.sum("treat").cast("long").alias("n_t"),
        F.sum(1 - F.col("treat")).cast("long").alias("n_c"),
        F.sum(F.col("treat") * F.col("conv")).cast("long").alias("conv_t"),
        F.sum((1 - F.col("treat")) * F.col("conv"))
        .cast("long")
        .alias("conv_c"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.sum("n_t").over(w).cast("long").alias("cum_n_t"),
        F.sum("n_c").over(w).cast("long").alias("cum_n_c"),
        F.sum("conv_t").over(w).cast("long").alias("cum_conv_t"),
        F.sum("conv_c").over(w).cast("long").alias("cum_conv_c"),
    )
    fin = c.agg(
        (
            F.max("cum_conv_t")
            - F.max("cum_conv_c").cast("double")
            * F.max("cum_n_t")
            / F.max("cum_n_c")
        ).alias("q_final")
    )
    return (
        c.crossJoin(F.broadcast(fin))
        .select(
            "decile",
            "n_t",
            "n_c",
            "conv_t",
            "conv_c",
            F.round(
                F.col("cum_conv_t")
                - F.when(F.col("cum_n_c") == 0, F.lit(0.0)).otherwise(
                    F.col("cum_conv_c").cast("double")
                    * F.col("cum_n_t")
                    / F.col("cum_n_c")
                ),
                6,
            ).alias("qini_k"),
            F.round(F.col("q_final") * F.col("decile") / 10.0, 6).alias(
                "diag_k"
            ),
        )
        .orderBy("decile")
    )


_X387_ORACLE = """
WITH d AS (
  SELECT len(string_split(lower(text), ' ')) AS nw,
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
  SELECT CASE WHEN nw BETWEEN 30 AND 90 THEN 1 ELSE 0 END AS i1,
         CASE WHEN lc >= 4 * nw AND lc <= 5 * nw THEN 1 ELSE 0 END AS i2,
         CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS i3,
         CASE WHEN 5 * nd > 3 * nw THEN 1 ELSE 0 END AS i4,
         CASE WHEN 8 * topc <= nw THEN 1 ELSE 0 END AS i5
  FROM d
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(i1) AS BIGINT) AS s1, CAST(SUM(i2) AS BIGINT) AS s2,
         CAST(SUM(i3) AS BIGINT) AS s3, CAST(SUM(i4) AS BIGINT) AS s4,
         CAST(SUM(i5) AS BIGINT) AS s5,
         CAST(SUM(i1 + i2 + i3 + i4 + i5) AS BIGINT) AS sx,
         CAST(SUM((i1 + i2 + i3 + i4 + i5)
                  * (i1 + i2 + i3 + i4 + i5)) AS BIGINT) AS sx2
  FROM r
),
items AS (
  SELECT * FROM (
    VALUES ('word_count', 1), ('mean_word_len', 2), ('stopwords', 3),
           ('dup_tokens', 4), ('top_token', 5)
  ) AS t(item, ord)
)
SELECT i.item,
       CASE i.ord WHEN 1 THEN m.s1 WHEN 2 THEN m.s2 WHEN 3 THEN m.s3
                  WHEN 4 THEN m.s4 ELSE m.s5 END AS item_sum,
       ROUND((m.n * CASE i.ord WHEN 1 THEN m.s1 WHEN 2 THEN m.s2
                    WHEN 3 THEN m.s3 WHEN 4 THEN m.s4 ELSE m.s5 END
              - CASE i.ord WHEN 1 THEN m.s1 WHEN 2 THEN m.s2
                WHEN 3 THEN m.s3 WHEN 4 THEN m.s4 ELSE m.s5 END
                * CASE i.ord WHEN 1 THEN m.s1 WHEN 2 THEN m.s2
                  WHEN 3 THEN m.s3 WHEN 4 THEN m.s4 ELSE m.s5 END)
             / (CAST(m.n AS DOUBLE) * m.n), 8) AS item_var,
       ROUND((m.n * m.sx2 - m.sx * m.sx)
             / (CAST(m.n AS DOUBLE) * m.n), 8) AS total_var,
       ROUND((5.0 / 4.0)
             * (1 - ((m.n * m.s1 - m.s1 * m.s1)
                     + (m.n * m.s2 - m.s2 * m.s2)
                     + (m.n * m.s3 - m.s3 * m.s3)
                     + (m.n * m.s4 - m.s4 * m.s4)
                     + (m.n * m.s5 - m.s5 * m.s5))
                    / CAST(m.n * m.sx2 - m.sx * m.sx AS DOUBLE)), 6)
         AS cronbach_alpha
FROM items i CROSS JOIN m
ORDER BY i.item
"""


@register(
    "x387_cronbach_alpha",
    _X387_ORACLE,
    doc="Cronbach's alpha internal-consistency reliability of x381's "
        "five-rule quality scale: alpha = k/(k-1) * (1 - sum(var_i)"
        "/var_total) over the per-doc 0/1 rule indicators -- do the "
        "five rules measure ONE latent 'document quality' construct "
        "(alpha near 1) or five unrelated things (near 0)? The "
        "psychometric check a multi-signal quality ensemble (x119) "
        "should run before averaging its signals. Exactness: binary "
        "items make every variance a pure integer identity (n*s - "
        "s^2, since x^2 = x), the total-score moments are exact "
        "BIGINTs (score in 0..5), all divisions happen once in "
        "DOUBLE on identical integers. Scale: one expression-only "
        "corpus pass into a single 1-row moment aggregate; the "
        "5-row item frame is a VALUES literal joined broadcast",
)
def x387_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bound arrays (HOF-lambda CSE trap on the top-token transform --
    # see x381)
    t = docs.select("text", _toks("text").alias("__toks")).select(
        "text", "__toks", F.array_distinct("__toks").alias("__dtoks")
    )
    toks = F.col("__toks")
    dtoks = F.col("__dtoks")
    stop = list(text.LANG_STOPWORDS["en"])
    d = t.select(
        F.size(toks).alias("nw"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("lc"),
        F.size(F.filter(dtoks, lambda t: t.isin(*stop))).alias("nstop"),
        F.size(dtoks).alias("nd"),
        F.array_max(
            F.transform(
                dtoks,
                lambda t: F.size(F.filter(toks, lambda x: x == t)),
            )
        ).alias("topc"),
    )
    r = d.select(
        F.when(F.col("nw").between(30, 90), 1).otherwise(0).alias("i1"),
        F.when(
            (F.col("lc") >= 4 * F.col("nw"))
            & (F.col("lc") <= 5 * F.col("nw")),
            1,
        )
        .otherwise(0)
        .alias("i2"),
        F.when(F.col("nstop") >= 2, 1).otherwise(0).alias("i3"),
        F.when(5 * F.col("nd") > 3 * F.col("nw"), 1).otherwise(0).alias("i4"),
        F.when(8 * F.col("topc") <= F.col("nw"), 1).otherwise(0).alias("i5"),
    )
    x = (
        F.col("i1") + F.col("i2") + F.col("i3") + F.col("i4") + F.col("i5")
    )
    m = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("i1").cast("long").alias("s1"),
        F.sum("i2").cast("long").alias("s2"),
        F.sum("i3").cast("long").alias("s3"),
        F.sum("i4").cast("long").alias("s4"),
        F.sum("i5").cast("long").alias("s5"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(x * x).cast("long").alias("sx2"),
    )
    items = spark.createDataFrame(
        [("word_count", 1), ("mean_word_len", 2), ("stopwords", 3),
         ("dup_tokens", 4), ("top_token", 5)],
        "item string, ord int",
    )
    s_of = (
        F.when(F.col("ord") == 1, F.col("s1"))
        .when(F.col("ord") == 2, F.col("s2"))
        .when(F.col("ord") == 3, F.col("s3"))
        .when(F.col("ord") == 4, F.col("s4"))
        .otherwise(F.col("s5"))
    )
    nvar = lambda s: F.col("n") * s - s * s  # noqa: E731
    sum_ivar = (
        nvar(F.col("s1")) + nvar(F.col("s2")) + nvar(F.col("s3"))
        + nvar(F.col("s4")) + nvar(F.col("s5"))
    )
    tvar18 = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    return (
        items.crossJoin(F.broadcast(m))
        .select(
            "item",
            s_of.alias("item_sum"),
            F.round(
                nvar(s_of) / (F.col("n").cast("double") * F.col("n")), 8
            ).alias("item_var"),
            F.round(
                tvar18 / (F.col("n").cast("double") * F.col("n")), 8
            ).alias("total_var"),
            F.round(
                F.lit(5.0 / 4.0)
                * (1 - sum_ivar / tvar18.cast("double")),
                6,
            ).alias("cronbach_alpha"),
        )
        .orderBy("item")
    )


_X388_ORACLE = """
WITH w AS (
  SELECT p.p_brand AS brand,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
           AS BIGINT) AS sum_price_c,
         CAST(SUM(CAST(round(l.l_discount * 100, 0) AS BIGINT))
           AS BIGINT) AS sum_disc_c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT brand, 'sum_qty' AS metric, sum_qty AS val FROM w
UNION ALL
SELECT brand, 'sum_price_c', sum_price_c FROM w
UNION ALL
SELECT brand, 'sum_disc_c', sum_disc_c FROM w
ORDER BY brand, metric
"""


@register(
    "x388_unpivot_melt",
    _X388_ORACLE,
    doc="DataFrame.unpivot (melt) API parity: the wide per-brand "
        "metric table (exact cent/qty sums) reshapes to long "
        "(brand, metric, val) via Spark's native unpivot operator "
        "-- the inverse of x141's pivot and the missing member of "
        "the reshape matrix (pivot, CUBE x142, ROLLUP x175, "
        "GROUPING SETS x301, crosstab x284); the oracle pins the "
        "API to the classic UNION ALL relational form, so the "
        "entry also documents that unpivot is plan-sugar, not new "
        "semantics. Values are exact BIGINTs (round-then-cast "
        "cents). Scale: unpivot is a map-side Expand node -- 3x "
        "row fan-out on the 25-row aggregate, no shuffle",
)
def x388_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    w = (
        li.join(
            F.broadcast(pt.select("p_partkey", "p_brand")),
            li["l_partkey"] == pt["p_partkey"],
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("sum_price_c"),
            F.sum(F.round(F.col("l_discount") * 100, 0).cast("long"))
            .cast("long")
            .alias("sum_disc_c"),
        )
    )
    return (
        w.unpivot(
            ids=["brand"],
            values=["sum_qty", "sum_price_c", "sum_disc_c"],
            variableColumnName="metric",
            valueColumnName="val",
        )
        .orderBy("brand", "metric")
    )


_X389_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 10),
d AS (
  SELECT e.vec_id, c.cid,
         ROUND(list_dot_product(e.v, e.v)
               - 2 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e CROSS JOIN c
),
own AS (SELECT vec_id, min(d2) AS a2 FROM d GROUP BY 1),
asg AS (
  SELECT d.vec_id, min(d.cid) AS cid, min(o.a2) AS a2
  FROM d JOIN own o ON d.vec_id = o.vec_id AND d.d2 = o.a2
  GROUP BY 1
),
nb AS (
  SELECT d.vec_id, min(d.d2) AS b2
  FROM d JOIN asg ON d.vec_id = asg.vec_id AND d.cid <> asg.cid
  GROUP BY 1
),
s AS (
  SELECT asg.cid,
         CAST(ROUND(CASE WHEN GREATEST(sqrt(asg.a2), sqrt(nb.b2)) = 0
                         THEN 0.0
                         ELSE (sqrt(nb.b2) - sqrt(asg.a2))
                              / GREATEST(sqrt(asg.a2), sqrt(nb.b2))
                    END, 8) AS DECIMAL(18,8)) AS sil
  FROM asg JOIN nb ON asg.vec_id = nb.vec_id
)
SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
       ROUND(CAST(SUM(sil) AS DOUBLE) / count(*), 6) AS mean_silhouette
FROM s GROUP BY cid ORDER BY cid
"""


@register(
    "x389_silhouette",
    _X389_ORACLE,
    doc="simplified silhouette (the centroid-based variant standard "
        "for large-scale cluster validation -- per-point a = "
        "distance to OWN centroid, b = distance to the nearest "
        "OTHER centroid, s = (b-a)/max(a,b)) for x341's "
        "deterministic seed clustering, rolled up per cluster -- "
        "the INTERNAL quality measure beside x380's external "
        "B-cubed (no truth labels needed; negative means points sit "
        "closer to a rival centroid). Full O(n^2) silhouette is a "
        "pairwise corpus join; the simplified form is O(n*k) and "
        "is the one that survives 100 TB. Exactness: squared "
        "distances via the same round-6 dot-product identity as "
        "x341/x372 (assignment ties broken min-cid), sqrt/ratio on "
        "identical decimals, per-point s rounds 8 into DECIMAL "
        "before the cluster mean. Scale: k=10 centroids broadcast; "
        "one map-side distance pass; two vec_id-keyed aggregates",
)
def x389_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )
    c = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    d = e.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "cid",
        F.round(
            dot(F.col("v"), F.col("v"))
            - 2 * dot(F.col("v"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
            6,
        ).alias("d2"),
    ).localCheckpoint(eager=False)
    own = d.groupBy("vec_id").agg(F.min("d2").alias("a2"))
    asg = (
        d.join(own, "vec_id")
        .filter(F.col("d2") == F.col("a2"))
        .groupBy("vec_id")
        .agg(F.min("cid").alias("cid"), F.min("a2").alias("a2"))
    )
    nb = (
        d.join(asg.select("vec_id", F.col("cid").alias("own_cid")), "vec_id")
        .filter(F.col("cid") != F.col("own_cid"))
        .groupBy("vec_id")
        .agg(F.min("d2").alias("b2"))
    )
    ra = F.sqrt(F.col("a2"))
    rb = F.sqrt(F.col("b2"))
    s = asg.join(nb, "vec_id").select(
        "cid",
        F.round(
            F.when(F.greatest(ra, rb) == 0, 0.0).otherwise(
                (rb - ra) / F.greatest(ra, rb)
            ),
            8,
        )
        .cast("decimal(18,8)")
        .alias("sil"),
    )
    return (
        s.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(
                F.sum("sil").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_silhouette"),
        )
        .orderBy("cid")
    )


_X390_ORACLE = """
WITH d AS (
  SELECT len(string_split(lower(text), ' ')) AS nw,
         len(list_filter(list_distinct(string_split(lower(text), ' ')),
             t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')))
           AS nstop
  FROM documents
),
p AS (
  SELECT CASE WHEN nw BETWEEN 30 AND 90 THEN 1 ELSE 0 END AS ra,
         CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS rb
  FROM d
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(ra * rb) AS BIGINT) AS both_pass,
         CAST(SUM(ra * (1 - rb)) AS BIGINT) AS b_cell,
         CAST(SUM((1 - ra) * rb) AS BIGINT) AS c_cell,
         CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS both_fail
  FROM p
)
SELECT n, both_pass, b_cell, c_cell, both_fail,
       ROUND(CASE WHEN b_cell + c_cell = 0 THEN 0.0
             ELSE pow(abs(b_cell - c_cell) - 1, 2)
                  / CAST(b_cell + c_cell AS DOUBLE) END, 6)
         AS mcnemar_chi2
FROM m
"""


@register(
    "x390_mcnemar_test",
    _X390_ORACLE,
    doc="McNemar's test (continuity-corrected) for marginal homogeneity "
        "of two PAIRED binary rules on the same documents -- do "
        "x381's word-count gate and stopword gate reject at the same "
        "rate, judged only on the b/c discordant cells ((|b-c|-1)^2/"
        "(b+c)), the test x148's independence chi2 CANNOT do "
        "(paired indicators violate its independence assumption; "
        "McNemar conditions on the pairs). The practical question: "
        "swapping gate A for gate B, does the pass rate shift? "
        "Determinism: four exact BIGINT cells from one expression "
        "pass, one double division; b+c=0 convention fixed "
        "identically. Scale: expression-only corpus pass into a "
        "1-row aggregate -- no joins, no windows",
)
def x390_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks("text")
    dtoks = F.array_distinct(toks)
    stop = list(text.LANG_STOPWORDS["en"])
    p = docs.select(
        F.when(F.size(toks).between(30, 90), 1).otherwise(0).alias("ra"),
        F.when(
            F.size(F.filter(dtoks, lambda t: t.isin(*stop))) >= 2, 1
        )
        .otherwise(0)
        .alias("rb"),
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("both_pass"),
        F.sum(F.col("ra") * (1 - F.col("rb")))
        .cast("long")
        .alias("b_cell"),
        F.sum((1 - F.col("ra")) * F.col("rb"))
        .cast("long")
        .alias("c_cell"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb")))
        .cast("long")
        .alias("both_fail"),
    )
    return m.select(
        "n",
        "both_pass",
        "b_cell",
        "c_cell",
        "both_fail",
        F.round(
            F.when(F.col("b_cell") + F.col("c_cell") == 0, 0.0).otherwise(
                F.pow(F.abs(F.col("b_cell") - F.col("c_cell")) - 1, 2)
                / (F.col("b_cell") + F.col("c_cell")).cast("double")
            ),
            6,
        ).alias("mcnemar_chi2"),
    )


_X391_ORACLE = """
WITH d AS (
  SELECT len(string_split(lower(text), ' ')) AS nw,
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
x AS (
  SELECT (CASE WHEN nw BETWEEN 30 AND 90 THEN 1 ELSE 0 END)
         + (CASE WHEN lc >= 4 * nw AND lc <= 5 * nw THEN 1 ELSE 0 END)
         + (CASE WHEN nstop >= 2 THEN 1 ELSE 0 END)
         + (CASE WHEN 5 * nd > 3 * nw THEN 1 ELSE 0 END)
         + (CASE WHEN 8 * topc <= nw THEN 1 ELSE 0 END) AS xp
  FROM d
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(xp) AS BIGINT) AS sx,
         CAST(SUM(xp * (xp - 1) + (5 - xp) * (4 - xp)) AS BIGINT) AS spi
  FROM x
)
SELECT n, sx,
       ROUND(spi / (20.0 * n), 6) AS p_bar,
       ROUND((CAST(sx AS DOUBLE) / (5 * n))
             * (CAST(sx AS DOUBLE) / (5 * n))
             + (1 - CAST(sx AS DOUBLE) / (5 * n))
               * (1 - CAST(sx AS DOUBLE) / (5 * n)), 6) AS p_e,
       ROUND((spi / (20.0 * n)
              - ((CAST(sx AS DOUBLE) / (5 * n))
                 * (CAST(sx AS DOUBLE) / (5 * n))
                 + (1 - CAST(sx AS DOUBLE) / (5 * n))
                   * (1 - CAST(sx AS DOUBLE) / (5 * n))))
             / (1 - ((CAST(sx AS DOUBLE) / (5 * n))
                     * (CAST(sx AS DOUBLE) / (5 * n))
                     + (1 - CAST(sx AS DOUBLE) / (5 * n))
                       * (1 - CAST(sx AS DOUBLE) / (5 * n)))), 6)
         AS fleiss_kappa
FROM m
"""


@register(
    "x391_fleiss_kappa",
    _X391_ORACLE,
    doc="Fleiss' kappa treating x381's five rules as five RATERS "
        "judging each document pass/fail -- the k-rater "
        "generalization of x298's two-rater Cohen's kappa, and the "
        "agreement-beyond-chance complement to x387's Cronbach "
        "(alpha asks 'same construct?', Fleiss asks 'do the raters "
        "actually AGREE per item?'): per-doc agreement P_i = "
        "(X(X-1) + (5-X)(4-X))/20 for X passing votes collapses to "
        "one integer sum, chance agreement from the pooled pass "
        "share. Determinism: the two moments are exact BIGINTs; "
        "all divisions once in DOUBLE on identical integers. Scale: "
        "expression-only corpus pass into a 1-row aggregate",
)
def x391_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bound arrays (HOF-lambda CSE trap on the top-token transform --
    # see x381)
    t = docs.select("text", _toks("text").alias("__toks")).select(
        "text", "__toks", F.array_distinct("__toks").alias("__dtoks")
    )
    toks = F.col("__toks")
    dtoks = F.col("__dtoks")
    stop = list(text.LANG_STOPWORDS["en"])
    d = t.select(
        F.size(toks).alias("nw"),
        F.length(F.regexp_replace(F.col("text"), " ", "")).alias("lc"),
        F.size(F.filter(dtoks, lambda t: t.isin(*stop))).alias("nstop"),
        F.size(dtoks).alias("nd"),
        F.array_max(
            F.transform(
                dtoks,
                lambda t: F.size(F.filter(toks, lambda x: x == t)),
            )
        ).alias("topc"),
    )
    xp = (
        F.when(F.col("nw").between(30, 90), 1).otherwise(0)
        + F.when(
            (F.col("lc") >= 4 * F.col("nw"))
            & (F.col("lc") <= 5 * F.col("nw")),
            1,
        ).otherwise(0)
        + F.when(F.col("nstop") >= 2, 1).otherwise(0)
        + F.when(5 * F.col("nd") > 3 * F.col("nw"), 1).otherwise(0)
        + F.when(8 * F.col("topc") <= F.col("nw"), 1).otherwise(0)
    )
    m = d.select(xp.alias("xp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xp").cast("long").alias("sx"),
        F.sum(
            F.col("xp") * (F.col("xp") - 1)
            + (5 - F.col("xp")) * (4 - F.col("xp"))
        )
        .cast("long")
        .alias("spi"),
    )
    pp = F.col("sx").cast("double") / (5 * F.col("n"))
    pe = pp * pp + (1 - pp) * (1 - pp)
    pbar = F.col("spi") / (20.0 * F.col("n"))
    return m.select(
        "n",
        "sx",
        F.round(pbar, 6).alias("p_bar"),
        F.round(pe, 6).alias("p_e"),
        F.round((pbar - pe) / (1 - pe), 6).alias("fleiss_kappa"),
    )


_X392_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s
  FROM v GROUP BY 1
),
z AS (
  SELECT v.event_type, g.n, g.s,
         abs(g.n * v.x - g.s) AS u
  FROM v JOIN g ON v.event_type = g.event_type
),
gz AS (
  SELECT event_type, n,
         CAST(SUM(CAST(u AS HUGEINT)) AS HUGEINT) AS su,
         CAST(SUM(CAST(u AS HUGEINT) * u) AS HUGEINT) AS qu
  FROM z GROUP BY event_type, n
),
terms AS (
  SELECT event_type, n,
         CAST(ROUND(CAST(su AS DOUBLE) / n, 10) AS DECIMAL(28,10))
           AS zsum,
         CAST(ROUND(CAST(qu AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                    - (CAST(su AS DOUBLE) / n)
                      * (CAST(su AS DOUBLE) / n) / n, 8)
           AS DECIMAL(28,8)) AS ssw_i
  FROM gz
),
tot AS (
  SELECT CAST(SUM(CAST(n AS BIGINT)) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(zsum) AS DECIMAL(38,10)) AS zt,
         CAST(SUM(ssw_i) AS DECIMAL(38,8)) AS ssw
  FROM terms
),
ssb AS (
  SELECT CAST(SUM(CAST(ROUND(
           t.n * (CAST(t.zsum AS DOUBLE) / t.n
                  - CAST(o.zt AS DOUBLE) / o.nn)
               * (CAST(t.zsum AS DOUBLE) / t.n
                  - CAST(o.zt AS DOUBLE) / o.nn), 8)
           AS DECIMAL(28,8))) AS DECIMAL(38,8)) AS ssb
  FROM terms t CROSS JOIN tot o
)
SELECT t.event_type, t.n,
       ROUND(CAST(t.zsum AS DOUBLE) / t.n / 100.0, 6) AS mean_abs_dev,
       ROUND((CAST(o.nn AS DOUBLE) - o.k) / (o.k - 1)
             * CAST(b.ssb AS DOUBLE) / CAST(o.ssw AS DOUBLE), 6)
         AS levene_w
FROM terms t CROSS JOIN tot o CROSS JOIN ssb b
ORDER BY t.event_type
"""


@register(
    "x392_levene_test",
    _X392_ORACLE,
    doc="Levene's test (mean-centered) for variance homogeneity of "
        "event value across event types -- the ASSUMPTION CHECK "
        "before pooled-variance inference (x286 Welch exists "
        "precisely because this often fails; Levene quantifies the "
        "failure): W = (N-k)/(k-1) * SSB(z)/SSW(z) on absolute "
        "deviations z = |x - mean_g|. The mean is rational, so z "
        "rides the integer identity |n_g*x - s_g|/n_g: per-row u = "
        "|n*x - s| is an exact integer (HUGEINT/DECIMAL moment "
        "sums -- u^2 sums reach ~1e22, documented int64 overflow), "
        "per-group zsum/ssw terms round into DECIMAL before the "
        "5-row sums (partition-order free), the final three-factor "
        "ratio runs once in DOUBLE. Scale: one groupBy for (n,s), "
        "one key-partitioned join back (the unavoidable second "
        "pass -- deviations need the mean), one groupBy of exact "
        "integers; everything after is 5 rows",
)
def x392_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    z = v.join(g, "event_type").select(
        "event_type",
        "n",
        F.abs(F.col("n") * F.col("x") - F.col("s")).alias("u"),
    )
    ud = F.col("u").cast("decimal(38,0)")
    gz = z.groupBy("event_type", "n").agg(
        F.sum(ud).cast("decimal(38,0)").alias("su"),
        F.sum(ud * F.col("u")).cast("decimal(38,0)").alias("qu"),
    )
    nD = F.col("n").cast("double")
    terms = gz.select(
        "event_type",
        "n",
        F.round(F.col("su").cast("double") / F.col("n"), 10)
        .cast("decimal(28,10)")
        .alias("zsum"),
        F.round(
            F.col("qu").cast("double") / (nD * F.col("n"))
            - (F.col("su").cast("double") / F.col("n"))
            * (F.col("su").cast("double") / F.col("n"))
            / F.col("n"),
            8,
        )
        .cast("decimal(28,8)")
        .alias("ssw_i"),
    )
    tot = terms.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("zsum").cast("decimal(38,10)").alias("zt"),
        F.sum("ssw_i").cast("decimal(38,8)").alias("ssw"),
    )
    with_tot = terms.crossJoin(F.broadcast(tot))
    zbar_i = F.col("zsum").cast("double") / F.col("n")
    zbar = F.col("zt").cast("double") / F.col("nn")
    ssb = with_tot.agg(
        F.sum(
            F.round(F.col("n") * (zbar_i - zbar) * (zbar_i - zbar), 8)
            .cast("decimal(28,8)")
        )
        .cast("decimal(38,8)")
        .alias("ssb")
    )
    return (
        with_tot.crossJoin(F.broadcast(ssb))
        .select(
            "event_type",
            "n",
            F.round(zbar_i / 100.0, 6).alias("mean_abs_dev"),
            F.round(
                (F.col("nn").cast("double") - F.col("k"))
                / (F.col("k") - 1)
                * F.col("ssb").cast("double")
                / F.col("ssw").cast("double"),
                6,
            ).alias("levene_w"),
        )
        .orderBy("event_type")
    )


_X393_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS x
  FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS t,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q,
         CAST(ROUND(CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE)
                    * CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE)
                    / count(*), 6) AS DECIMAL(38,6)) AS t2n
  FROM v GROUP BY 1
),
o AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(t) AS HUGEINT) AS gt,
         CAST(SUM(q) AS HUGEINT) AS qq,
         CAST(SUM(t2n) AS DECIMAL(38,6)) AS st2n
  FROM g
)
SELECT g.event_type, g.n,
       ROUND(CAST(g.t AS DOUBLE) / g.n / 100.0, 6) AS mean_value,
       ROUND(((CAST(o.st2n AS DOUBLE)
               - CAST(o.gt AS DOUBLE) * CAST(o.gt AS DOUBLE) / o.nn)
              / (o.k - 1))
             / ((CAST(o.qq AS DOUBLE) - CAST(o.st2n AS DOUBLE))
                / (o.nn - o.k)), 6) AS anova_f,
       ROUND((CAST(o.st2n AS DOUBLE)
              - CAST(o.gt AS DOUBLE) * CAST(o.gt AS DOUBLE) / o.nn)
             / (CAST(o.qq AS DOUBLE)
                - CAST(o.gt AS DOUBLE) * CAST(o.gt AS DOUBLE) / o.nn),
             6) AS eta_squared
FROM g CROSS JOIN o ORDER BY g.event_type
"""


@register(
    "x393_anova_oneway",
    _X393_ORACLE,
    doc="one-way ANOVA F test of event value across event types -- "
        "the PARAMETRIC k-group mean comparison completing the "
        "inference matrix (x363 Kruskal-Wallis is its rank twin, "
        "x286 Welch its k=2 case, x392 Levene its assumption "
        "check), plus eta^2 effect size (SSB/SST -- how much "
        "variance the grouping explains). Sums-of-squares from the "
        "classic moment identities SSB = sum T_g^2/n_g - G^2/N, "
        "SSW = sum x^2 - sum T_g^2/n_g: cent moments are exact "
        "HUGEINT/DECIMAL, each group's T^2/n rounds 6 into DECIMAL "
        "before the k-row sum, the F ratio runs once in DOUBLE. "
        "Scale: ONE corpus groupBy; everything downstream is "
        "k=5 rows",
)
def x393_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("t"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("q"),
    ).select(
        "event_type",
        "n",
        "t",
        "q",
        F.round(
            F.col("t").cast("double") * F.col("t").cast("double")
            / F.col("n"),
            6,
        )
        .cast("decimal(38,6)")
        .alias("t2n"),
    )
    o = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("t").cast("decimal(38,0)").alias("gt"),
        F.sum("q").cast("decimal(38,0)").alias("qq"),
        F.sum("t2n").cast("decimal(38,6)").alias("st2n"),
    )
    ssb = (
        F.col("st2n").cast("double")
        - F.col("gt").cast("double") * F.col("gt").cast("double")
        / F.col("nn")
    )
    ssw = F.col("qq").cast("double") - F.col("st2n").cast("double")
    sst = (
        F.col("qq").cast("double")
        - F.col("gt").cast("double") * F.col("gt").cast("double")
        / F.col("nn")
    )
    return (
        g.crossJoin(F.broadcast(o))
        .select(
            "event_type",
            "n",
            F.round(F.col("t").cast("double") / F.col("n") / 100.0, 6)
            .alias("mean_value"),
            F.round(
                (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k"))),
                6,
            ).alias("anova_f"),
            F.round(ssb / sst, 6).alias("eta_squared"),
        )
        .orderBy("event_type")
    )


_X394_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS z
  FROM lineitem
),
m AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
         CAST(SUM(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
  FROM v GROUP BY 1
),
r AS (
  SELECT flag, n,
         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(n * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(n * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rxy,
         (n * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
         / (sqrt(n * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(n * CAST(szz AS DOUBLE)
                   - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS rxz,
         (n * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
         / (sqrt(n * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
            * sqrt(n * CAST(szz AS DOUBLE)
                   - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) AS ryz
  FROM m
)
SELECT flag, n, ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz,
       ROUND(ryz, 6) AS r_yz,
       ROUND((rxy - rxz * ryz)
             / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz)), 6)
         AS r_xy_given_z
FROM r ORDER BY flag
"""


@register(
    "x394_partial_correlation",
    _X394_ORACLE,
    doc="first-order partial correlation per return flag: quantity-"
        "price association CONTROLLING for discount, r_xy.z = (r_xy "
        "- r_xz*r_yz)/sqrt((1-r_xz^2)(1-r_yz^2)) -- the 'is the "
        "correlation real or routed through a third variable' "
        "question x147's raw matrix leaves open (x385 answers it "
        "for categorical strata; this is the continuous analog). "
        "Determinism: all nine moment sums are exact HUGEINT/"
        "DECIMAL cents, the three Pearson r's and the partial "
        "formula evaluate once in DOUBLE per 3-row flag aggregate "
        "in identical expression order. Scale: ONE corpus groupBy "
        "carrying nine integer moments; no second pass (contrast "
        "x392, where |x - mean| forces one)",
)
def x394_partial_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("z"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = v.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(d("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(d("z")).cast("decimal(38,0)").alias("sz"),
        F.sum(d("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(d("z") * F.col("z")).cast("decimal(38,0)").alias("szz"),
        F.sum(d("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(d("x") * F.col("z")).cast("decimal(38,0)").alias("sxz"),
        F.sum(d("y") * F.col("z")).cast("decimal(38,0)").alias("syz"),
    )

    def pear(sab, sa, sb, saa, sbb):
        n = F.col("n").cast("double")
        return (
            n * F.col(sab).cast("double")
            - F.col(sa).cast("double") * F.col(sb).cast("double")
        ) / (
            F.sqrt(
                n * F.col(saa).cast("double")
                - F.col(sa).cast("double") * F.col(sa).cast("double")
            )
            * F.sqrt(
                n * F.col(sbb).cast("double")
                - F.col(sb).cast("double") * F.col(sb).cast("double")
            )
        )

    rxy = pear("sxy", "sx", "sy", "sxx", "syy")
    rxz = pear("sxz", "sx", "sz", "sxx", "szz")
    ryz = pear("syz", "sy", "sz", "syy", "szz")
    return m.select(
        "flag",
        "n",
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.round(
            (rxy - rxz * ryz)
            / (F.sqrt(1 - rxz * rxz) * F.sqrt(1 - ryz * ryz)),
            6,
        ).alias("r_xy_given_z"),
    ).orderBy("flag")


_X395_ORACLE = """
WITH tr AS (
  SELECT string_split(lower(text), ' ') AS toks FROM documents
  WHERE doc_id % 10 < 8 AND len(string_split(lower(text), ' ')) >= 2
),
trbg AS (
  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS c12
  FROM (
    SELECT unnest(list_transform(
             range(1, len(toks)),
             i -> array_to_string(toks[i:i+1], ' '))) AS g
    FROM tr
  ) GROUP BY 1, 2
),
ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1f
  FROM trbg GROUP BY w1
),
bwd AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM trbg GROUP BY w2
),
con AS (
  SELECT CAST(count(*) AS BIGINT) AS ntypes,
         CAST(count(DISTINCT w2) + 1 AS BIGINT) AS v2
  FROM trbg
),
ho AS (
  SELECT source, string_split(g, ' ')[1] AS w1,
         string_split(g, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT source,
           unnest(list_transform(
             range(1, len(string_split(lower(text), ' '))),
             i -> array_to_string(
               string_split(lower(text), ' ')[i:i+1], ' '))) AS g
    FROM documents
    WHERE doc_id % 10 >= 8
      AND len(string_split(lower(text), ' ')) >= 2
  ) GROUP BY 1, 2, 3
),
sc AS (
  SELECT h.source, h.cnt,
         CASE WHEN c.w1 IS NULL THEN 1 ELSE 0 END AS oov_ctx,
         CAST(ROUND(ln(
           CASE WHEN c.w1 IS NULL
                THEN (COALESCE(b.n1b, 0) + 1)
                     / CAST(n.ntypes + n.v2 AS DOUBLE)
                ELSE (GREATEST(4 * COALESCE(t.c12, 0) - 3, 0)
                        * (n.ntypes + n.v2)
                      + 3 * c.n1f * (COALESCE(b.n1b, 0) + 1))
                     / (4.0 * c.c1 * (n.ntypes + n.v2))
           END), 8) AS DECIMAL(20,8)) AS lp
  FROM ho h
  LEFT JOIN ctx c ON h.w1 = c.w1
  LEFT JOIN trbg t ON h.w1 = t.w1 AND h.w2 = t.w2
  LEFT JOIN bwd b ON h.w2 = b.w2
  CROSS JOIN con n
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       ROUND(SUM(cnt * oov_ctx) / CAST(SUM(cnt) AS DOUBLE), 6)
         AS oov_context_rate,
       ROUND(exp(-CAST(SUM(CAST(cnt AS DECIMAL(18,0)) * lp)
                    AS DOUBLE) / SUM(cnt)), 4) AS kn_perplexity
FROM sc GROUP BY source ORDER BY source
"""


@register(
    "x395_kn_heldout_perplexity",
    _X395_ORACLE,
    doc="held-out Kneser-Ney bigram perplexity per source: train the "
        "x383 KN model (D=3/4) on doc_id%10<8, score the held-out "
        "20% -- the EVALUATED version of x383 and the properly-"
        "smoothed upgrade of x230's add-k perplexity (KN is what "
        "KenLM ships for corpus quality scoring); per-source PPL "
        "separates template-heavy sources (low) from diverse ones, "
        "and oov_context_rate shows how often the model backed off "
        "entirely. Unseen mass: continuation probs Laplace-smoothed "
        "((n1b+1)/(Nt+V2)) so EVERY held-out bigram has P > 0 -- "
        "unseen context falls back to the smoothed continuation "
        "unigram, the deterministic analog of KN's unigram backoff. "
        "Exactness: with D=3/4 each P is one integer rational; ONE "
        "ln per distinct held-out bigram TYPE rounds 8 into DECIMAL, "
        "weighted by exact instance counts, one exp per 20-row "
        "source aggregate. Scale: model counts are bigram-TYPE "
        "aggregates (x383's shapes); scoring is three LEFT key "
        "joins on the held-out TYPE table (never instances); the "
        "two corpus explodes each feed one groupBy",
)
def x395_kn_heldout_perplexity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bound token attribute + rebalanced scan (HOF-lambda CSE trap /
    # single-split parallelism -- see x383); both the train and the
    # held-out branch evaluate the bigram transform over the bound array
    base = (
        rebalanced(docs)
        .select(
            "doc_id",
            "source",
            _toks("text").alias("__toks"),
        )
        .filter(F.size("__toks") >= 2)
    )
    toks = F.col("__toks")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    trbg = (
        base.filter(F.col("doc_id") % 10 < 8)
        .select(F.explode(bigrams).alias("g"))
        .select(
            F.split("g", " ").getItem(0).alias("w1"),
            F.split("g", " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint(eager=False)
    )
    ctx = trbg.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    bwd = trbg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1b")
    )
    con = trbg.agg(
        F.count(F.lit(1)).cast("long").alias("ntypes"),
        (F.count_distinct("w2") + 1).cast("long").alias("v2"),
    )
    ho = (
        base.filter(F.col("doc_id") % 10 >= 8)
        .select("source", F.explode(bigrams).alias("g"))
        .select(
            "source",
            F.split("g", " ").getItem(0).alias("w1"),
            F.split("g", " ").getItem(1).alias("w2"),
        )
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    nv = F.col("ntypes") + F.col("v2")
    p_backoff = (F.coalesce(F.col("n1b"), F.lit(0)) + 1) / nv.cast(
        "double"
    )
    p_kn = (
        F.greatest(4 * F.coalesce(F.col("c12"), F.lit(0)) - 3, F.lit(0))
        .cast("long")
        * nv
        + 3 * F.col("n1f") * (F.coalesce(F.col("n1b"), F.lit(0)) + 1)
    ) / (4.0 * F.col("c1") * nv)
    sc = (
        ho.join(ctx, "w1", "left")
        .join(trbg, ["w1", "w2"], "left")
        .join(bwd, "w2", "left")
        .crossJoin(F.broadcast(con))
        .select(
            "source",
            "cnt",
            F.when(F.col("c1").isNull(), 1).otherwise(0).alias("oov_ctx"),
            F.round(
                F.log(
                    F.when(F.col("c1").isNull(), p_backoff).otherwise(
                        p_kn
                    )
                ),
                8,
            )
            .cast("decimal(20,8)")
            .alias("lp"),
        )
    )
    return (
        sc.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("cnt") * F.col("oov_ctx"))
                / F.sum("cnt").cast("double"),
                6,
            ).alias("oov_context_rate"),
            F.round(
                F.exp(
                    -F.sum(F.col("cnt").cast("decimal(18,0)") * F.col("lp"))
                    .cast("double")
                    / F.sum("cnt")
                ),
                4,
            ).alias("kn_perplexity"),
        )
        .orderBy("source")
    )


_X396_ORACLE = """
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
dc AS (
  SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) GROUP BY 1, 2
),
t AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS tf,
         CAST(count(*) AS BIGINT) AS df,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM dc GROUP BY w
)
SELECT t.w AS term, t.tf, t.df,
       ROUND((n.n_docs * t.q - t.tf * t.tf)
             / (CAST(n.n_docs AS DOUBLE) * t.tf), 6) AS vmr
FROM t CROSS JOIN nd n
ORDER BY t.tf DESC, t.w LIMIT 20
"""


@register(
    "x396_term_burstiness",
    _X396_ORACLE,
    doc="Church-Gale term burstiness for the 20 highest-frequency "
        "terms: variance-to-mean ratio of per-document counts "
        "(zeros included via the identity VMR = (N*Q - S^2)/(N*S) "
        "over nonzero-doc moments -- absent docs contribute 0 to "
        "both S and Q, so the full-corpus moments need NO dense "
        "doc x term frame). VMR ~ 1 means Poisson scatter "
        "(function words); VMR >> 1 means the term BURSTS in few "
        "docs (content/template words) -- the dispersion dimension "
        "x87's frequency spectrum and x100's Zipf fit both "
        "marginalize away, and a direct template-detection signal. "
        "Determinism: the VMR is one double division of exact "
        "BIGINTs. Scale: one token explode -> (term, doc) groupBy "
        "-> term groupBy; top-20 is a TakeOrdered, N broadcasts",
)
def x396_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    dc = (
        docs.select(
            "doc_id",
            F.explode(_toks("text")).alias("w"),
        )
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    t = dc.groupBy("w").agg(
        F.sum("c").cast("long").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    return (
        t.crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("term"),
            "tf",
            "df",
            F.round(
                (F.col("n_docs") * F.col("q") - F.col("tf") * F.col("tf"))
                / (F.col("n_docs").cast("double") * F.col("tf")),
                6,
            ).alias("vmr"),
        )
        .orderBy(F.col("tf").desc(), "term")
        .limit(20)
    )


_X397_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         len(string_split(lower(text), ' ')) AS n
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
       ROUND(len(list_distinct(toks)) / CAST(n AS DOUBLE), 6) AS ttr,
       CASE WHEN n <= 50
            THEN ROUND(len(list_distinct(toks)) / CAST(n AS DOUBLE), 6)
            ELSE ROUND(list_sum(list_transform(
                   range(1, n - 50 + 2),
                   i -> len(list_distinct(toks[i:i+49]))))
                 / (50.0 * (n - 50 + 1)), 6)
       END AS mattr_50
FROM t ORDER BY doc_id
"""


@register(
    "x397_mattr_diversity",
    _X397_ORACLE,
    doc="moving-average type-token ratio (MATTR, Covington & McFall "
        "2010, window 50) per document beside the raw TTR -- the "
        "length-INVARIANT lexical-diversity measure (raw TTR falls "
        "mechanically with length, so comparing a 30-token doc to a "
        "90-token doc on TTR is a length comparison in disguise; "
        "MATTR averages the TTR of every 50-token sliding window). "
        "Docs shorter than the window fall back to single-window "
        "TTR (the standard convention). Row-local HOF: one "
        "slice+distinct fold per window position, O(n*w) per doc "
        "with n <= 99 -- no explode, no shuffle, whole-stage "
        "codegen; the window-distinct sum is an exact integer, one "
        "division per doc. Complements x86 (corpus vocab growth) "
        "and x136 (token entropy): this is the per-DOC diversity "
        "gate a curation run thresholds on",
)
def x397_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bound token attribute: the MATTR window slices the array once
    # per window position, so an inlined split() would re-tokenize per
    # position (HOF-lambda CSE trap -- see x383)
    t = docs.select("doc_id", _toks("text").alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    win_sum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n - 50 + 1),
            lambda i: F.size(F.array_distinct(F.slice(toks, i, 50))),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ttr = F.round(
        F.size(F.array_distinct(toks)) / n.cast("double"), 6
    )
    return t.select(
        "doc_id",
        n.cast("long").alias("n_toks"),
        ttr.alias("ttr"),
        F.when(n <= 50, ttr)
        .otherwise(F.round(win_sum / (50.0 * (n - 50 + 1)), 6))
        .alias("mattr_50"),
    ).orderBy("doc_id")


def _kn_score_sql(prefix: str, train_filter: str) -> str:
    """DuckDB CTE block training a D=3/4 KN bigram model on
    ``train_filter`` docs and scoring the held-out bigram types;
    column names are prefixed so two models can sit in one query."""
    p = prefix
    return f"""
{p}tr AS (
  SELECT string_split(lower(text), ' ') AS toks FROM documents
  WHERE ({train_filter}) AND len(string_split(lower(text), ' ')) >= 2
),
{p}bg AS (
  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS c12
  FROM (
    SELECT unnest(list_transform(
             range(1, len(toks)),
             i -> array_to_string(toks[i:i+1], ' '))) AS g
    FROM {p}tr
  ) GROUP BY 1, 2
),
{p}ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1f
  FROM {p}bg GROUP BY w1
),
{p}bwd AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM {p}bg GROUP BY w2
),
{p}con AS (
  SELECT CAST(count(*) AS BIGINT) AS ntypes,
         CAST(count(DISTINCT w2) + 1 AS BIGINT) AS v2
  FROM {p}bg
),
{p}sc AS (
  SELECT h.source, h.cnt,
         CAST(ROUND(ln(
           CASE WHEN c.w1 IS NULL
                THEN (COALESCE(b.n1b, 0) + 1)
                     / CAST(n.ntypes + n.v2 AS DOUBLE)
                ELSE (GREATEST(4 * COALESCE(t.c12, 0) - 3, 0)
                        * (n.ntypes + n.v2)
                      + 3 * c.n1f * (COALESCE(b.n1b, 0) + 1))
                     / (4.0 * c.c1 * (n.ntypes + n.v2))
           END), 8) AS DECIMAL(20,8)) AS lp
  FROM ho h
  LEFT JOIN {p}ctx c ON h.w1 = c.w1
  LEFT JOIN {p}bg t ON h.w1 = t.w1 AND h.w2 = t.w2
  LEFT JOIN {p}bwd b ON h.w2 = b.w2
  CROSS JOIN {p}con n
),
{p}ppl AS (
  SELECT source,
         CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         ROUND(exp(-CAST(SUM(CAST(cnt AS DECIMAL(18,0)) * lp)
                      AS DOUBLE) / SUM(cnt)), 4) AS ppl
  FROM {p}sc GROUP BY source
)"""


_X398_ORACLE = (
    """
WITH ho AS (
  SELECT source, string_split(g, ' ')[1] AS w1,
         string_split(g, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT source,
           unnest(list_transform(
             range(1, len(string_split(lower(text), ' '))),
             i -> array_to_string(
               string_split(lower(text), ' ')[i:i+1], ' '))) AS g
    FROM documents
    WHERE doc_id % 10 >= 8
      AND len(string_split(lower(text), ' ')) >= 2
  ) GROUP BY 1, 2, 3
),
"""
    + _kn_score_sql("r", "doc_id % 10 < 8")
    + ","
    + _kn_score_sql(
        "d",
        "doc_id % 10 < 8 AND doc_id IN ("
        "  SELECT min(doc_id) FROM documents WHERE doc_id % 10 < 8"
        "  GROUP BY md5(lower(text)))",
    )
    + """
SELECT r.source, r.n_bigrams, r.ppl AS ppl_raw, d.ppl AS ppl_dedup,
       ROUND(r.ppl - d.ppl, 4) AS ppl_delta
FROM rppl r JOIN dppl d ON r.source = d.source
ORDER BY r.source
"""
)


@register(
    "x398_dedup_ppl_impact",
    _X398_ORACLE,
    doc="does exact dedup change what a language model learns? Train "
        "x395's KN bigram model TWICE -- on the raw 80% train split "
        "and on its x01-dedup'd version (one survivor per "
        "md5(lower(text)), min doc_id) -- and score the SAME held-"
        "out 20% with both: per-source ppl_raw vs ppl_dedup and the "
        "delta. Duplicated templates inflate their bigram counts, "
        "skewing probability mass toward boilerplate; the delta "
        "MEASURES that distortion (the Lee et al. 2022 dedup-"
        "improves-LM claim as a query, on this corpus's actual "
        "dups) -- turning x01 (find dups) + x395 (eval LM) into the "
        "decision-grade number a curation run acts on. Same "
        "determinism contract as x395 (integer-rational P, type-"
        "level round-8 ln, exact count weighting). Scale: two "
        "bigram-type model builds off one shared train scan shape + "
        "three key joins each; the dedup is one hash-groupBy "
        "(x01's shape) -- nothing pairwise",
)
def x398_dedup_ppl_impact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bound token attribute + rebalanced scan (HOF-lambda CSE trap /
    # single-split parallelism -- see x383); text stays projected for
    # the exact-dedup survivor hash below
    base = (
        rebalanced(docs)
        .select(
            "doc_id",
            "source",
            "text",
            _toks("text").alias("__toks"),
        )
        .filter(F.size("__toks") >= 2)
    )
    toks = F.col("__toks")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    train_raw = base.filter(F.col("doc_id") % 10 < 8)
    survivors = (
        train_raw.groupBy(F.md5(F.lower(F.col("text"))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    ho = (
        base.filter(F.col("doc_id") % 10 >= 8)
        .select("source", F.explode(bigrams).alias("g"))
        .select(
            "source",
            F.split("g", " ").getItem(0).alias("w1"),
            F.split("g", " ").getItem(1).alias("w2"),
        )
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # ONE train explode builds BOTH models: per-bigram raw count plus
    # the survivor-weighted count (the dedup'd model's count is the
    # same aggregate restricted to surviving docs) -- halves the
    # dominant explode+shuffle vs training twice.
    both = (
        train_raw.join(
            survivors.withColumn("is_surv", F.lit(1)), "doc_id", "left"
        )
        .select(
            F.coalesce(F.col("is_surv"), F.lit(0)).alias("is_surv"),
            F.explode(bigrams).alias("g"),
        )
        .select(
            "is_surv",
            F.split("g", " ").getItem(0).alias("w1"),
            F.split("g", " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c12_raw"),
            F.sum("is_surv").cast("long").alias("c12_ded"),
        )
        .localCheckpoint(eager=False)
    )

    def ppl_under(count_col: str, out: str) -> DataFrame:
        trbg = (
            both.filter(F.col(count_col) > 0)
            .select("w1", "w2", F.col(count_col).alias("c12"))
        )
        ctx = trbg.groupBy("w1").agg(
            F.sum("c12").cast("long").alias("c1"),
            F.count(F.lit(1)).cast("long").alias("n1f"),
        )
        bwd = trbg.groupBy("w2").agg(
            F.count(F.lit(1)).cast("long").alias("n1b")
        )
        con = trbg.agg(
            F.count(F.lit(1)).cast("long").alias("ntypes"),
            (F.count_distinct("w2") + 1).cast("long").alias("v2"),
        )
        nv = F.col("ntypes") + F.col("v2")
        p_backoff = (
            F.coalesce(F.col("n1b"), F.lit(0)) + 1
        ) / nv.cast("double")
        p_kn = (
            F.greatest(
                4 * F.coalesce(F.col("c12"), F.lit(0)) - 3, F.lit(0)
            ).cast("long")
            * nv
            + 3 * F.col("n1f") * (F.coalesce(F.col("n1b"), F.lit(0)) + 1)
        ) / (4.0 * F.col("c1") * nv)
        sc = (
            ho.join(ctx, "w1", "left")
            .join(trbg, ["w1", "w2"], "left")
            .join(bwd, "w2", "left")
            .crossJoin(F.broadcast(con))
            .select(
                "source",
                "cnt",
                F.round(
                    F.log(
                        F.when(
                            F.col("c1").isNull(), p_backoff
                        ).otherwise(p_kn)
                    ),
                    8,
                )
                .cast("decimal(20,8)")
                .alias("lp"),
            )
        )
        return sc.groupBy("source").agg(
            F.sum("cnt").cast("long").alias(f"{out}_n"),
            F.round(
                F.exp(
                    -F.sum(
                        F.col("cnt").cast("decimal(18,0)") * F.col("lp")
                    ).cast("double")
                    / F.sum("cnt")
                ),
                4,
            ).alias(out),
        )

    raw = ppl_under("c12_raw", "ppl_raw")
    ded = ppl_under("c12_ded", "ppl_dedup")
    return (
        raw.join(ded, "source")
        .select(
            "source",
            F.col("ppl_raw_n").alias("n_bigrams"),
            "ppl_raw",
            "ppl_dedup",
            F.round(F.col("ppl_raw") - F.col("ppl_dedup"), 4).alias(
                "ppl_delta"
            ),
        )
        .orderBy("source")
    )


_X399_ORACLE = """
WITH t AS (
  SELECT p.p_brand AS brand,
         CASE WHEN l.l_returnflag = 'R' THEN 'R' ELSE 'K' END AS grp,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
m AS (
  SELECT brand, grp, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
           AS DECIMAL(38,0)) AS s2
  FROM t GROUP BY 1, 2
),
w AS (
  SELECT brand,
         MAX(CASE WHEN grp = 'R' THEN n END) AS na,
         MAX(CASE WHEN grp = 'R' THEN CAST(s1 AS DOUBLE) END) AS sa1,
         MAX(CASE WHEN grp = 'R' THEN CAST(s2 AS DOUBLE) END) AS sa2,
         MAX(CASE WHEN grp = 'K' THEN n END) AS nb,
         MAX(CASE WHEN grp = 'K' THEN CAST(s1 AS DOUBLE) END) AS sb1,
         MAX(CASE WHEN grp = 'K' THEN CAST(s2 AS DOUBLE) END) AS sb2
  FROM m GROUP BY brand
),
z AS (
  SELECT brand,
         ROUND((sa1 / na - sb1 / nb)
               / sqrt((sa2 / na - (sa1 / na) * (sa1 / na)) / (na - 1)
                      + (sb2 / nb - (sb1 / nb) * (sb1 / nb))
                        / (nb - 1)), 4) AS z_stat
  FROM w WHERE na > 1 AND nb > 1
),
p AS (
  SELECT brand, z_stat,
         CAST(ROUND(2.0 / (1.0 + exp(1.702 * abs(z_stat))), 8)
           AS DECIMAL(18,8)) AS p_val
  FROM z
),
r AS (
  SELECT brand, z_stat, p_val,
         CAST(row_number() OVER (ORDER BY p_val, brand) AS BIGINT)
           AS rnk,
         CAST(count(*) OVER () AS BIGINT) AS m_tests
  FROM p
),
cut AS (
  SELECT COALESCE(MIN(CASE WHEN CAST(p_val AS DOUBLE)
                              > 0.10 / (m_tests - rnk + 1)
                       THEN rnk END), 0) AS k_fail
  FROM r
)
SELECT r.brand, r.z_stat, CAST(r.p_val AS DOUBLE) AS p_val, r.rnk,
       ROUND(0.10 / (r.m_tests - r.rnk + 1), 8) AS holm_threshold,
       CASE WHEN c.k_fail = 0 OR r.rnk < c.k_fail THEN 1 ELSE 0 END
         AS rejected
FROM r CROSS JOIN cut c
ORDER BY r.rnk
"""


@register(
    "x399_holm_bonferroni",
    _X399_ORACLE,
    doc="Holm-Bonferroni step-DOWN over the same per-brand Welch z "
        "family as x378's BH step-up -- the FWER-controlling "
        "counterpart (BH controls FDR, strictly more rejections; "
        "Holm guarantees P(any false positive) <= alpha, what a "
        "ship/no-ship gate wants): walk ranks ascending, reject "
        "while p_(k) <= alpha/(m-k+1), STOP at the first failure "
        "(everything after stays accepted even if individually "
        "below threshold -- the dual of BH's step-up, and the pair "
        "of entries makes the step direction testable). Identical "
        "determinism contract to x378 (rounded z, logistic-CDF p "
        "in DECIMAL, rank ties impossible); the stop-rank is one "
        "MIN over the 25-row aggregate. Scale: corpus pays the one "
        "join + groupBy x378 pays; windows run over 25 rows",
)
def x399_holm_bonferroni(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    t = li.join(
        F.broadcast(pt.select("p_partkey", "p_brand")),
        li["l_partkey"] == pt["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_returnflag") == "R", "R")
        .otherwise("K")
        .alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("c"),
    )
    cd = F.col("c").cast("decimal(19,0)")
    m = t.groupBy("brand", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cd).cast("decimal(38,0)").alias("s1"),
        F.sum(cd * cd).cast("decimal(38,0)").alias("s2"),
    )
    w = m.groupBy("brand").agg(
        F.max(F.when(F.col("grp") == "R", F.col("n"))).alias("na"),
        F.max(
            F.when(F.col("grp") == "R", F.col("s1").cast("double"))
        ).alias("sa1"),
        F.max(
            F.when(F.col("grp") == "R", F.col("s2").cast("double"))
        ).alias("sa2"),
        F.max(F.when(F.col("grp") == "K", F.col("n"))).alias("nb"),
        F.max(
            F.when(F.col("grp") == "K", F.col("s1").cast("double"))
        ).alias("sb1"),
        F.max(
            F.when(F.col("grp") == "K", F.col("s2").cast("double"))
        ).alias("sb2"),
    )
    z = w.filter((F.col("na") > 1) & (F.col("nb") > 1)).selectExpr(
        "brand",
        """ROUND((sa1 / na - sb1 / nb)
                 / sqrt((sa2 / na - (sa1 / na) * (sa1 / na)) / (na - 1)
                        + (sb2 / nb - (sb1 / nb) * (sb1 / nb))
                          / (nb - 1)), 4) AS z_stat""",
    )
    p = z.withColumn(
        "p_val",
        F.round(
            F.lit(2.0) / (F.lit(1.0) + F.exp(1.702 * F.abs("z_stat"))),
            8,
        ).cast("decimal(18,8)"),
    )
    r = p.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy("p_val", "brand"))
        .cast("long"),
    ).withColumn(
        "m_tests",
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long"),
    )
    cut = r.agg(
        F.coalesce(
            F.min(
                F.when(
                    F.col("p_val").cast("double")
                    > 0.10 / (F.col("m_tests") - F.col("rnk") + 1),
                    F.col("rnk"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("k_fail")
    )
    return (
        r.crossJoin(F.broadcast(cut))
        .select(
            "brand",
            "z_stat",
            F.col("p_val").cast("double").alias("p_val"),
            "rnk",
            F.round(
                0.10 / (F.col("m_tests") - F.col("rnk") + 1), 8
            ).alias("holm_threshold"),
            F.when(
                (F.col("k_fail") == 0) | (F.col("rnk") < F.col("k_fail")),
                1,
            )
            .otherwise(0)
            .alias("rejected"),
        )
        .orderBy("rnk")
    )


_X400_ORACLE = """
WITH t AS (
  SELECT p.p_brand AS brand,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS c
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
rk AS (
  SELECT brand, is_r,
         2 * rank() OVER (PARTITION BY brand ORDER BY c)
           + count(*) OVER (PARTITION BY brand, c) - 1 AS dmid
  FROM t
),
g AS (
  SELECT brand,
         CAST(SUM(is_r) AS BIGINT) AS n1,
         CAST(SUM(1 - is_r) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN is_r = 1 THEN dmid END) AS HUGEINT) AS rsum2
  FROM rk GROUP BY brand
)
SELECT brand, n1, n2,
       ROUND((CAST(rsum2 AS DOUBLE) / 2 - n1 * (n1 + 1) / 2.0)
             / (CAST(n1 AS DOUBLE) * n2), 6) AS auc_u,
       ROUND(2 * ((CAST(rsum2 AS DOUBLE) / 2 - n1 * (n1 + 1) / 2.0)
                  / (CAST(n1 AS DOUBLE) * n2)) - 1, 6) AS cliffs_delta
FROM g WHERE n1 > 0 AND n2 > 0 ORDER BY brand
"""


@register(
    "x400_cliffs_delta",
    _X400_ORACLE,
    doc="Cliff's delta ordinal EFFECT SIZE per brand for returned-vs-"
        "kept price -- P(X>Y) - P(X<Y), the magnitude companion the "
        "test entries stop short of (x378/x399 say 'significant', "
        "delta says 'by how much' in a unit robust to any monotone "
        "transform; |delta|<0.147 is the conventional 'negligible' "
        "bar): computed WITHOUT the pairwise join via the Mann-"
        "Whitney identity delta = 2U/(n1*n2) - 1 with U from the "
        "midrank sum of the returned group (x382's doubled-midrank "
        "integers, so U is exact: rsum2/2 - n1(n1+1)/2 counts tie "
        "halves exactly). Also emits the AUC form U/(n1*n2) -- the "
        "probability a random returned item costs more. Scale: one "
        "rank window + one tie window sharing the brand shuffle, "
        "one groupBy; never the O(n^2) pair expansion",
)
def x400_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    t = li.join(
        F.broadcast(pt.select("p_partkey", "p_brand")),
        li["l_partkey"] == pt["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_r"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("c"),
    )
    rk = t.select(
        "brand",
        "is_r",
        (
            2 * F.rank().over(Window.partitionBy("brand").orderBy("c"))
            + F.count(F.lit(1)).over(Window.partitionBy("brand", "c"))
            - 1
        )
        .cast("long")
        .alias("dmid"),
    )
    g = rk.groupBy("brand").agg(
        F.sum("is_r").cast("long").alias("n1"),
        F.sum(1 - F.col("is_r")).cast("long").alias("n2"),
        F.sum(
            F.when(F.col("is_r") == 1, F.col("dmid")).cast(
                "decimal(38,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("rsum2"),
    )
    u_frac = (
        F.col("rsum2").cast("double") / 2
        - F.col("n1") * (F.col("n1") + 1) / 2.0
    ) / (F.col("n1").cast("double") * F.col("n2"))
    return (
        g.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            "brand",
            "n1",
            "n2",
            F.round(u_frac, 6).alias("auc_u"),
            F.round(2 * u_frac - 1, 6).alias("cliffs_delta"),
        )
        .orderBy("brand")
    )


_X401_ORACLE = """
WITH pr AS (
  SELECT l.l_partkey, p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
           AS BIGINT) AS r,
         CAST(ROUND(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0
                        END) * 100000000.0 / count(*), 0) AS BIGINT)
           AS p8
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS np,
         CAST(SUM(p8) AS BIGINT) AS sp,
         CAST(SUM(CAST(p8 AS HUGEINT) * p8) AS HUGEINT) AS sp2
  FROM pr
),
ab AS (
  SELECT np,
         CAST(sp AS DOUBLE) / np / 1e8 AS m,
         CAST(sp2 AS DOUBLE) / np / 1e16
           - (CAST(sp AS DOUBLE) / np / 1e8)
             * (CAST(sp AS DOUBLE) / np / 1e8) AS v
  FROM mom
),
prior AS (
  SELECT ((m * (1 - m)) / v - 1) * m AS a,
         ((m * (1 - m)) / v - 1) * (1 - m) AS b
  FROM ab
)
SELECT pr.brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       ROUND(CAST(SUM(pr.p8) AS DOUBLE) / count(*) / 1e8, 6)
         AS mean_raw_rate,
       ROUND(CAST(SUM(CAST(ROUND((q.a + pr.r) / (q.a + q.b + pr.n), 8)
                        AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6)
         AS mean_shrunk_rate,
       ROUND(MIN(q.a), 4) AS prior_a,
       ROUND(MIN(q.b), 4) AS prior_b
FROM pr CROSS JOIN prior q
GROUP BY pr.brand ORDER BY pr.brand
"""


@register(
    "x401_eb_shrinkage",
    _X401_ORACLE,
    doc="empirical-Bayes beta-binomial shrinkage of per-part return "
        "rates (the Efron-Morris / James-Stein move every small-n "
        "ranking needs): fit Beta(a,b) to the per-part rate "
        "distribution by method of moments (a+b = m(1-m)/v - 1), "
        "then shrink each part's raw r/n toward the prior mean via "
        "(a+r)/(a+b+n) -- a 2-lineitem part with 1 return no longer "
        "outranks a 200-lineitem part at 30%; rolled up per brand "
        "as raw vs shrunk means (the shrinkage a leaderboard/"
        "anomaly report should display). Determinism: per-part "
        "rates round-8 DECIMAL, prior moments exact DECIMAL sums, "
        "a/b one fixed-order double expression, per-part shrunk "
        "rates round-8 DECIMAL before the brand mean. Scale: one "
        "part-key groupBy (the corpus shuffle), one 1-row prior "
        "broadcast back -- no per-part iteration",
)
def x401_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    pr = (
        li.join(
            F.broadcast(pt.select("p_partkey", "p_brand")),
            li["l_partkey"] == pt["p_partkey"],
        )
        .groupBy("l_partkey", F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("r"),
        )
        .withColumn(
            "p8",
            F.round(
                F.col("r") * 100000000.0 / F.col("n"), 0
            ).cast("long"),
        )
    )
    p8d = F.col("p8").cast("decimal(38,0)")
    mom = pr.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("p8").cast("long").alias("sp"),
        F.sum(p8d * F.col("p8")).cast("decimal(38,0)").alias("sp2"),
    )
    m = F.col("sp").cast("double") / F.col("np") / F.lit(1e8)
    v = F.col("sp2").cast("double") / F.col("np") / F.lit(1e16) - m * m
    prior = mom.select(
        (((m * (1 - m)) / v - 1) * m).alias("a"),
        (((m * (1 - m)) / v - 1) * (1 - m)).alias("b"),
    )
    return (
        pr.crossJoin(F.broadcast(prior))
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(
                F.sum("p8").cast("double") / F.count(F.lit(1)) / 1e8, 6
            ).alias("mean_raw_rate"),
            F.round(
                F.sum(
                    F.round(
                        (F.col("a") + F.col("r"))
                        / (F.col("a") + F.col("b") + F.col("n")),
                        8,
                    ).cast("decimal(18,8)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_shrunk_rate"),
            F.round(F.min("a"), 4).alias("prior_a"),
            F.round(F.min("b"), 4).alias("prior_b"),
        )
        .orderBy("brand")
    )


_X402_ORACLE = """
WITH w AS (
  SELECT l_returnflag AS flag,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
           AS BIGINT) AS sum_price_c,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem GROUP BY 1
)
SELECT k.key,
       MAX(CASE WHEN w.flag = 'A' THEN
         CASE k.key WHEN 'n_items' THEN w.n_items
                    WHEN 'sum_price_c' THEN w.sum_price_c
                    ELSE w.sum_qty END END) AS "A",
       MAX(CASE WHEN w.flag = 'N' THEN
         CASE k.key WHEN 'n_items' THEN w.n_items
                    WHEN 'sum_price_c' THEN w.sum_price_c
                    ELSE w.sum_qty END END) AS "N",
       MAX(CASE WHEN w.flag = 'R' THEN
         CASE k.key WHEN 'n_items' THEN w.n_items
                    WHEN 'sum_price_c' THEN w.sum_price_c
                    ELSE w.sum_qty END END) AS "R"
FROM w CROSS JOIN (VALUES ('n_items'), ('sum_price_c'), ('sum_qty'))
  AS k(key)
GROUP BY k.key ORDER BY k.key
"""


@register(
    "x402_transpose",
    _X402_ORACLE,
    doc="DataFrame.transpose API parity (new in Spark 4.0): the 3x3 "
        "per-returnflag metric aggregate flips to metrics-as-rows / "
        "flags-as-columns -- the report orientation BI tools want -- "
        "with the first column supplying the new column names (values "
        "'A'/'N'/'R' become columns, so the schema is data-dependent: "
        "the documented trap is that transpose COLLECTS the key "
        "column to the driver to plan the schema, which is why this "
        "entry transposes a k-row AGGREGATE, never a corpus table). "
        "Oracle pins it to the classic conditional-aggregation "
        "pivot. All values exact BIGINTs (common-type rule: "
        "transpose requires one least-common type across value "
        "columns). Completes the reshape matrix begun by x141 "
        "pivot / x388 unpivot. Scale: input is a 3-row aggregate; "
        "the corpus pays one groupBy",
)
def x402_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.sum(F.col("l_quantity").cast("long"))
        .cast("long")
        .alias("sum_qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("sum_price_c"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    return w.transpose().orderBy("key")


_X403_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
    AS day
  FROM bounds
)
SELECT s.day, COALESCE(d.n_events, 0) AS n_events,
       CASE WHEN d.day IS NULL THEN 1 ELSE 0 END AS is_gap
FROM spine s LEFT JOIN daily d ON s.day = d.day
ORDER BY s.day
"""


@register(
    "x403_recursive_cte",
    _X403_ORACLE,
    doc="WITH RECURSIVE API parity (new in Spark 4.0): the date "
        "spine between the corpus's min and max event day is built "
        "by a genuine recursive CTE (anchor = min day, step = day + "
        "1 while <= max) and left-joined to daily counts with "
        "zero-fill -- pinned by the oracle to the non-recursive "
        "generate_series formulation, proving the recursion is "
        "plan-sugar over the same relational result (x155 builds "
        "this spine with sequence(); this entry exercises the SQL-"
        "standard construct a migrating warehouse user will reach "
        "for first). The recursion depth is the DAY span -- bounded "
        "by the calendar, not the corpus, so the iterative plan is "
        "safe at any data scale; counts are exact BIGINTs. Scale: "
        "one corpus groupBy; the spine is day-cardinality",
)
def x403_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    ).createOrReplaceTempView("x403_daily")
    # the recursion bound rides the anchor row as a column: a scalar
    # subquery in the step's WHERE re-runs the MAX(day) aggregate (a
    # full scan + groupBy job) on EVERY iteration -- ~90 extra jobs at
    # sf0.1, measured as the bulk of the entry's 218 stages
    return spark.sql(
        """
        WITH RECURSIVE spine(day, maxd) AS (
          SELECT MIN(day), MAX(day) FROM x403_daily
          UNION ALL
          SELECT date_add(day, 1), maxd FROM spine
          WHERE day < maxd
        )
        SELECT s.day, COALESCE(d.n_events, CAST(0 AS BIGINT))
                 AS n_events,
               CASE WHEN d.day IS NULL THEN 1 ELSE 0 END AS is_gap
        FROM spine s LEFT JOIN x403_daily d ON s.day = d.day
        ORDER BY s.day
        """
    )


_X404_ORACLE = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey % 4 = 0
),
p AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
w1 AS MATERIALIZED (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS w1 FROM edges GROUP BY 1
),
w2 AS MATERIALIZED (
  SELECT e.u AS node, CAST(SUM(w.w1) AS BIGINT) AS w2
  FROM edges e JOIN w1 w ON w.node = e.v GROUP BY 1
),
w3 AS MATERIALIZED (
  SELECT e.u AS node, CAST(SUM(w.w2) AS BIGINT) AS w3
  FROM edges e JOIN w2 w ON w.node = e.v GROUP BY 1
)
SELECT w1.node, w1.w1 AS walks1, w2.w2 AS walks2, w3.w3 AS walks3,
       64 * w1.w1 + 8 * w2.w2 + w3.w3 AS katz8
FROM w1 JOIN w2 ON w1.node = w2.node JOIN w3 ON w1.node = w3.node
ORDER BY katz8 DESC, w1.node LIMIT 20
"""


@register(
    "x404_katz_centrality",
    _X404_ORACLE,
    doc="truncated Katz centrality (depth 3, alpha = 1/8) over the "
        "l_partkey%4 co-purchase subgraph: walk counts w_k(v) = "
        "sum_u A(v,u) w_{k-1}(u) are EXACT INTEGERS, and with "
        "alpha = 1/8 the score order is the integer 64*w1 + 8*w2 + "
        "w3 -- no float damping anywhere, so the top-20 ranking is "
        "engine-exact. Completes the centrality matrix: x104 "
        "PageRank (stationary/normalized), x345 HITS (mutual "
        "reinforcement), x360 clustering coefficient (local "
        "density), x361 assortativity (mixing) -- Katz counts "
        "damped walks of ALL lengths and, unlike degree (= w1 "
        "alone), credits nodes whose NEIGHBORS are connected. "
        "Scale: each depth is ONE edge-sized equi-join with node "
        "state in shuffled hash joins (x104's broadcast refusal "
        "applies -- node state scales with the graph); oracle "
        "CTEs all MATERIALIZED (the k-core re-inline defense)",
)
def x404_katz_centrality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    edges = graph.symmetric_copurchase_edges(li).localCheckpoint(
        eager=False
    )
    w1 = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("w1")
    )
    w2 = (
        edges.join(
            w1.select(F.col("node").alias("v"), F.col("w1").alias("wv")),
            "v",
        )
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum("wv").cast("long").alias("w2"))
    )
    w3 = (
        edges.join(
            w2.select(F.col("node").alias("v"), F.col("w2").alias("wv")),
            "v",
        )
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum("wv").cast("long").alias("w3"))
    )
    return (
        w1.join(w2, "node")
        .join(w3, "node")
        .select(
            "node",
            F.col("w1").alias("walks1"),
            F.col("w2").alias("walks2"),
            F.col("w3").alias("walks3"),
            (64 * F.col("w1") + 8 * F.col("w2") + F.col("w3"))
            .cast("long")
            .alias("katz8"),
        )
        .orderBy(F.col("katz8").desc(), "node")
        .limit(20)
    )


_X405_ORACLE = """
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           AS BIGINT) AS x1,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           AS BIGINT) AS x2
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
         CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
         CAST(SUM(x1) AS HUGEINT) AS s13,
         CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
         CAST(SUM(x2) AS HUGEINT) AS s23,
         CAST(SUM(CAST(x1 AS HUGEINT) * (2 * y - 1)) AS HUGEINT) AS g1,
         CAST(SUM(CAST(x2 AS HUGEINT) * (2 * y - 1)) AS HUGEINT) AS g2,
         CAST(SUM(CAST(2 * y - 1 AS HUGEINT)) AS HUGEINT) AS g3
  FROM u
),
d AS (
  SELECT n, g1, g2, g3,
         s11 * (s22 * n - s23 * s23)
           - s12 * (s12 * n - s23 * s13)
           + s13 * (s12 * s23 - s22 * s13) AS det,
         (s22 * n - s23 * s23) AS c11,
         -(s12 * n - s13 * s23) AS c12,
         (s12 * s23 - s13 * s22) AS c13,
         (s11 * n - s13 * s13) AS c22,
         -(s11 * s23 - s13 * s12) AS c23,
         (s11 * s22 - s12 * s12) AS c33
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_users,
       ROUND(2.0 * (c11 * CAST(g1 AS DOUBLE) + c12 * g2 + c13 * g3)
             / CAST(det AS DOUBLE), 8) AS beta_views,
       ROUND(2.0 * (c12 * CAST(g1 AS DOUBLE) + c22 * g2 + c23 * g3)
             / CAST(det AS DOUBLE), 8) AS beta_clicks,
       ROUND(2.0 * (c13 * CAST(g1 AS DOUBLE) + c23 * g2 + c33 * g3)
             / CAST(det AS DOUBLE), 8) AS beta_intercept
FROM d
"""


@register(
    "x405_logistic_newton",
    _X405_ORACLE,
    doc="one closed-form Newton-Raphson step of logistic regression "
        "from beta = 0 (predicting user conversion from view/click "
        "counts + intercept): at the origin the Hessian is X'X/4 "
        "and the gradient X'(y - 1/2), so the step is beta = "
        "2 * (X'X)^{-1} X'(2y-1), computed ENTIRELY via Cramer's "
        "rule -- the 3x3 determinant and cofactors are exact "
        "HUGEINT/DECIMAL integer arithmetic on the moment sums, and "
        "each coefficient is ONE double division at the end. The "
        "iterative-ML-step pattern x341 (k-means) and x364 (PCA "
        "power iteration) establish, extended to supervised GLMs: "
        "a real L-BFGS would iterate this exact map. Scale: one "
        "user-level groupBy (the corpus shuffle), one 1-row moment "
        "aggregate -- the 'training step' costs one aggregation "
        "regardless of corpus size",
)
def x405_logistic_newton(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    d_ = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x1, x2 = F.col("x1"), F.col("x2")
    sgn = 2 * F.col("y") - 1
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d_(x1) * x1).cast("decimal(38,0)").alias("s11"),
        F.sum(d_(x1) * x2).cast("decimal(38,0)").alias("s12"),
        F.sum(x1).cast("decimal(38,0)").alias("s13"),
        F.sum(d_(x2) * x2).cast("decimal(38,0)").alias("s22"),
        F.sum(x2).cast("decimal(38,0)").alias("s23"),
        F.sum(d_(x1) * sgn).cast("decimal(38,0)").alias("g1"),
        F.sum(d_(x2) * sgn).cast("decimal(38,0)").alias("g2"),
        F.sum(sgn).cast("decimal(38,0)").alias("g3"),
    )
    s11, s12, s13 = F.col("s11"), F.col("s12"), F.col("s13")
    s22, s23, n = F.col("s22"), F.col("s23"), F.col("n")
    det = (
        s11 * (s22 * n - s23 * s23)
        - s12 * (s12 * n - s23 * s13)
        + s13 * (s12 * s23 - s22 * s13)
    )
    c11 = s22 * n - s23 * s23
    c12 = -(s12 * n - s13 * s23)
    c13 = s12 * s23 - s13 * s22
    c22 = s11 * n - s13 * s13
    c23 = -(s11 * s23 - s13 * s12)
    c33 = s11 * s22 - s12 * s12
    d = m.select(
        "n",
        "g1",
        "g2",
        "g3",
        det.alias("det"),
        c11.alias("c11"),
        c12.alias("c12"),
        c13.alias("c13"),
        c22.alias("c22"),
        c23.alias("c23"),
        c33.alias("c33"),
    )
    beta = lambda a, b, c: F.round(  # noqa: E731
        2.0
        * (
            F.col(a).cast("double") * F.col("g1").cast("double")
            + F.col(b).cast("double") * F.col("g2").cast("double")
            + F.col(c).cast("double") * F.col("g3").cast("double")
        )
        / F.col("det").cast("double"),
        8,
    )
    return d.select(
        F.col("n").alias("n_users"),
        beta("c11", "c12", "c13").alias("beta_views"),
        beta("c12", "c22", "c23").alias("beta_clicks"),
        beta("c13", "c23", "c33").alias("beta_intercept"),
    )


_X406_ORACLE = """
WITH comp AS (
  SELECT label, vec_id, d,
         CAST(ROUND(CAST(c AS DOUBLE) * 10000, 0) AS BIGINT) AS c4
  FROM (
    SELECT label, vec_id, unnest(embedding) AS c,
           generate_subscripts(embedding, 1) AS d
    FROM embeddings
  )
),
dims AS (
  SELECT label, d,
         CAST(SUM(c4) AS BIGINT) AS s,
         CAST(SUM(CAST(c4 AS HUGEINT) * c4) AS HUGEINT) AS q
  FROM comp GROUP BY 1, 2
),
g AS (
  SELECT label,
         CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) AS s2,
         CAST(SUM(q) AS HUGEINT) AS q
  FROM dims GROUP BY 1
),
n AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(CAST(ts AS HUGEINT) * ts) AS HUGEINT) AS ts2
  FROM (
    SELECT d, CAST(SUM(s) AS BIGINT) AS ts FROM dims GROUP BY d
  )
),
agg AS (
  SELECT CAST(SUM(n.n) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(CAST(g.s2 AS DOUBLE) / n.n / 1e8, 10)
               AS DECIMAL(28,10))) AS DECIMAL(38,10)) AS sb_part,
         CAST(SUM(CAST(ROUND(CAST(g.q AS DOUBLE) / 1e8
                             - CAST(g.s2 AS DOUBLE) / n.n / 1e8, 10)
               AS DECIMAL(28,10))) AS DECIMAL(38,10)) AS ssw
  FROM g JOIN n ON g.label = n.label
)
SELECT n.label, n.n AS n_vecs,
       ROUND(CAST(g.q AS DOUBLE) / n.n / 1e8
             - (CAST(g.s2 AS DOUBLE) / n.n / 1e8) / n.n, 6)
         AS within_disp,
       ROUND(sqrt(CAST(g.s2 AS DOUBLE)) / n.n / 1e4, 6)
         AS centroid_norm,
       ROUND(((CAST(a.sb_part AS DOUBLE)
               - CAST(t.ts2 AS DOUBLE) / a.nn / 1e8) / (a.k - 1))
             / (CAST(a.ssw AS DOUBLE) / (a.nn - a.k)), 4) AS fisher_f
FROM g JOIN n ON g.label = n.label
CROSS JOIN agg a CROSS JOIN tot t
ORDER BY n.label
"""


@register(
    "x406_embedding_separability",
    _X406_ORACLE,
    doc="Fisher-style class separability of the embedding space by "
        "label, computed WITHOUT A SINGLE PAIRWISE DISTANCE: the "
        "within-class scatter Q_g - |S_g|^2/n_g and between-class "
        "scatter sum |S_g|^2/n_g - |S|^2/N come entirely from "
        "per-dim sum/sum-of-squares moments (the |sum v|^2 "
        "identity), giving the trace-form Fisher F ratio -- 'do "
        "labels form tight, separated clusters in embedding space' "
        "(the supervised companion to x389's unsupervised "
        "silhouette and x372's distributional JS), at one-pass "
        "cost where the naive definition is O(n^2 d). Exactness "
        "lesson recorded: a first draft summed DECIMAL(28,6) "
        "component squares -- Spark's precision-overflow SCALE "
        "REDUCTION on the (28,6)x(28,6) product rounds differently "
        "from DuckDB and flipped the 6th decimal; the fix is scale-"
        "4 INTEGER components (c4 = round(1e4 c)) so every moment "
        "is an exact integer that stays below 2^53 through sf1, "
        "cast to double ONCE and divided in fixed order. Scale: "
        "one posexplode -> (label, dim) groupBy -> label groupBy",
)
def x406_embedding_separability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("d", "c0"),
    ).select(
        "label",
        "d",
        F.round(F.col("c0").cast("double") * 10000, 0)
        .cast("long")
        .alias("c4"),
    )
    c4d = F.col("c4").cast("decimal(38,0)")
    dims = comp.groupBy("label", "d").agg(
        F.sum("c4").cast("long").alias("s"),
        F.sum(c4d * F.col("c4")).cast("decimal(38,0)").alias("q"),
    )
    sd = F.col("s").cast("decimal(38,0)")
    g = dims.groupBy("label").agg(
        F.sum(sd * F.col("s")).cast("decimal(38,0)").alias("s2"),
        F.sum("q").cast("decimal(38,0)").alias("q"),
    )
    n = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ts = dims.groupBy("d").agg(F.sum("s").cast("long").alias("ts"))
    tsd = F.col("ts").cast("decimal(38,0)")
    tot = ts.agg(
        F.sum(tsd * F.col("ts")).cast("decimal(38,0)").alias("ts2")
    )
    gn = g.join(n, "label")
    agg = gn.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.round(
                F.col("s2").cast("double") / F.col("n") / F.lit(1e8), 10
            ).cast("decimal(28,10)")
        )
        .cast("decimal(38,10)")
        .alias("sb_part"),
        F.sum(
            F.round(
                F.col("q").cast("double") / F.lit(1e8)
                - F.col("s2").cast("double") / F.col("n") / F.lit(1e8),
                10,
            ).cast("decimal(28,10)")
        )
        .cast("decimal(38,10)")
        .alias("ssw"),
    )
    return (
        gn.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(tot))
        .select(
            "label",
            F.col("n").alias("n_vecs"),
            F.round(
                F.col("q").cast("double") / F.col("n") / F.lit(1e8)
                - (F.col("s2").cast("double") / F.col("n") / F.lit(1e8))
                / F.col("n"),
                6,
            ).alias("within_disp"),
            F.round(
                F.sqrt(F.col("s2").cast("double"))
                / F.col("n")
                / F.lit(1e4),
                6,
            ).alias("centroid_norm"),
            F.round(
                (
                    (
                        F.col("sb_part").cast("double")
                        - F.col("ts2").cast("double")
                        / F.col("nn")
                        / F.lit(1e8)
                    )
                    / (F.col("k") - 1)
                )
                / (F.col("ssw").cast("double") / (F.col("nn") - F.col("k"))),
                4,
            ).alias("fisher_f"),
        )
        .orderBy("label")
    )


def _x407_oracle() -> str:
    """DuckDB SQL replaying the greedy vocab cover: universe = top-N
    corpus words, each round picks the doc adding the most uncovered
    words (ties -> min doc_id). Chained CTEs all MATERIALIZED."""
    ctes = [
        """sh AS MATERIALIZED (
  SELECT doc_id, unnest(list_transform(
           range(1, len(toks) - 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS w
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents WHERE len(string_split(lower(text), ' ')) >= 3)
)""",
        """uni AS MATERIALIZED (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM sh GROUP BY 1
  ) ORDER BY c DESC, w LIMIT 200
)""",
        """pairs AS MATERIALIZED (
  SELECT DISTINCT t.doc_id, t.w FROM sh t JOIN uni u ON t.w = u.w
)""",
    ]
    sel: list[str] = []
    for i in range(1, 8 + 1):
        prev_cov = (
            "SELECT w FROM pairs WHERE doc_id IN ("
            + ", ".join(f"(SELECT doc_id FROM {s})" for s in sel)
            + ")"
            if sel
            else "SELECT CAST(NULL AS VARCHAR) AS w WHERE FALSE"
        )
        ctes.append(
            f"""cov{i} AS MATERIALIZED (SELECT DISTINCT w FROM ({prev_cov}) c)"""
        )
        ctes.append(
            f"""pick{i} AS MATERIALIZED (
  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS gain
  FROM pairs p LEFT JOIN cov{i} c ON p.w = c.w
  WHERE c.w IS NULL
  GROUP BY 1 ORDER BY gain DESC, p.doc_id LIMIT 1
)"""
        )
        sel.append(f"pick{i}")
    rounds_sql = " UNION ALL ".join(
        f"SELECT {i} AS round, doc_id, gain FROM pick{i}"
        for i in range(1, 8 + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
r AS ({rounds_sql})
SELECT round, doc_id, gain,
       CAST(SUM(gain) OVER (ORDER BY round
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_covered,
       ROUND(SUM(gain) OVER (ORDER BY round
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / CAST((SELECT count(*) FROM uni) AS DOUBLE), 4)
         AS coverage_frac
FROM r ORDER BY round
"""
    )


@register(
    "x407_greedy_vocab_cover",
    _x407_oracle(),
    doc="greedy maximum-coverage document selection (the submodular-"
        "selection curation op: pick k docs that together cover the "
        "most vocabulary -- the classic 1-1/e-approximate greedy, "
        "deterministic with min-doc_id ties): universe = the top-200 "
        "corpus 3-SHINGLES (this corpus's 31-word shared vocab makes "
        "word-cover degenerate -- one doc covers it; shingles are "
        "doc-specific, measured 16.5k distinct at sf0.001), 8 "
        "rounds, emitting per round the chosen doc, its marginal "
        "gain, and cumulative coverage -- the 'smallest probe set "
        "that exercises the corpus' selection a curation/eval "
        "pipeline uses for coverage-based sampling (x47 measures "
        "coverage of a GIVEN set; this CHOOSES the set). Scale: "
        "the (doc x universe-shingle) pair table is built "
        "ONCE (explode joins the 200-word broadcast universe, "
        "localCheckpointed); selection is LAZY greedy (CELF, "
        "Leskovec 2007's cost-effective variant of the same "
        "1-1/e greedy): ONE aggregate collects the top-M frontier "
        "docs WITH their <= 200-universe-word sets, then marginal "
        "gains are re-evaluated driver-side from those sets under "
        "submodular decay, re-aggregating only when the frontier "
        "floor could beat the best exact gain -- provably the "
        "IDENTICAL selection to round-per-round greedy (gain desc, "
        "doc_id asc ties), at 1-2 Spark jobs instead of k. The "
        "driver holds only the covered set, k picks, and the "
        "M x 200-word frontier (bounded contract, never corpus "
        "state). Oracle: 8 chained MATERIALIZED CTE rounds (k-core "
        "re-inline defense)",
)
def x407_greedy_vocab_cover(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rounds, top_words = 8, 200
    docs = load_table(spark, sf_dir, "documents")
    # bound token attribute + rebalanced scan (HOF-lambda CSE trap /
    # single-split parallelism -- see x383)
    t = (
        rebalanced(docs)
        .select("doc_id", _toks("text").alias("__toks"))
        .filter(F.size("__toks") >= 3)
    )
    toks = F.col("__toks")
    shingles = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    # checkpoint the exploded shingle table ONCE: both the universe
    # aggregate and the pairs build consume it, and re-deriving it is
    # a second full corpus explode (measured ~40% of the entry's
    # fixed cost at sf0.1 -- the rounds themselves are cheap CELF
    # re-aggregates over the tiny checkpointed pairs table)
    tok = (
        t.select("doc_id", F.explode(shingles).alias("w"))
        .localCheckpoint(eager=False)
    )
    uni = [
        r["w"]
        for r in tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(top_words)
        .collect()
    ]
    pairs = (
        tok.join(
            F.broadcast(
                docs.sparkSession.createDataFrame(
                    [(w,) for w in uni], "w string"
                )
            ),
            "w",
        )
        .select("doc_id", "w")
        .distinct()
        .localCheckpoint(eager=False)
    )
    import heapq

    # CELF lazy greedy (Leskovec 2007). Marginal gains under a
    # submodular objective only DECREASE as the covered set grows, so
    # a refresh-time gain is a valid upper bound later. ONE aggregate
    # collects the top-M frontier docs WITH their universe-word sets
    # (each <= top_words strings -- pairs only holds universe
    # shingles, so the driver state stays bounded at M x top_words);
    # every later round re-evaluates gains EXACTLY driver-side as
    # len(words - covered). Every doc OUTSIDE the frontier sorts
    # strictly after the frontier's boundary row (g_M, id_M) in the
    # selection order (gain desc, doc_id asc): its refresh gain g_u
    # and id satisfy g_u < g_M OR (g_u == g_M AND id > id_M), and its
    # CURRENT gain only decays from g_u. A driver-side pick (g*, id*)
    # is therefore provably the GLOBAL greedy argmax when g* > g_M,
    # or when g* == g_M with id* <= id_M (an uncollected tie would
    # need an undecayed g_M gain, forcing its id > id_M >= id*) --
    # the boundary-id refinement matters on tie-heavy gain
    # distributions like this corpus's, where a strict g* > g_M
    # guard degenerates back to one aggregate per round. Otherwise
    # re-aggregate. Selection is IDENTICAL to round-per-round greedy
    # -- the oracle replays that exact sequence -- at 1-2 Spark jobs
    # instead of k (differential-tested against plain greedy).
    frontier = max(64, 8 * rounds)

    def refresh(covered: set) -> list:
        cand = pairs
        if covered:
            # broadcast anti-join, not a growing isin literal list:
            # keeps the plan size constant across refreshes (the
            # literal form embeds O(rounds x top_words) strings)
            cov_df = spark.createDataFrame(
                [(w,) for w in sorted(covered)], "w string"
            )
            cand = pairs.join(F.broadcast(cov_df), "w", "left_anti")
        return (
            cand.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("gain"),
                F.collect_set("w").alias("new_words"),
            )
            .orderBy(F.col("gain").desc(), "doc_id")
            .limit(frontier)
            .collect()
        )

    covered: set = set()
    picks: list = []
    selected: set = set()
    total = len(uni)
    cum = 0
    heap: list = []
    sets: dict = {}
    floor_g = 0
    floor_id: int | None = None
    need_refresh = True

    def take(doc_id, gain) -> None:
        nonlocal cum
        selected.add(doc_id)
        covered.update(sets[doc_id])
        cum += gain
        picks.append(
            (len(picks) + 1, doc_id, gain, cum, round(cum / total, 4))
        )

    while len(picks) < rounds:
        if need_refresh:
            rows = refresh(covered)
            if not rows:
                break  # every universe word covered: greedy halts too
            sets = {r["doc_id"]: set(r["new_words"]) for r in rows}
            heap = [(-r["gain"], r["doc_id"]) for r in rows]
            heapq.heapify(heap)
            # only docs OUTSIDE a full frontier can be unaccounted
            # for; they sort strictly after the boundary row
            if len(rows) == frontier:
                floor_g = rows[-1]["gain"]
                floor_id = rows[-1]["doc_id"]
            else:
                floor_g, floor_id = 0, None
            # rows[0] is fresh and exact: the global argmax, take it
            heapq.heappop(heap)
            take(rows[0]["doc_id"], rows[0]["gain"])
            need_refresh = False
            continue
        # lazy-exact pop: settle the heap top to its current gain
        while heap:
            negg, d = heap[0]
            if d in selected:
                heapq.heappop(heap)
                continue
            exact = len(sets[d] - covered)
            if exact != -negg:
                heapq.heapreplace(heap, (-exact, d))
                continue
            break
        if not heap:
            need_refresh = True
            continue
        best_g, best_d = -heap[0][0], heap[0][1]
        if best_g == 0 and floor_g == 0:
            break  # no doc anywhere adds an uncovered word
        safe = best_g > floor_g or (
            best_g == floor_g
            and floor_id is not None
            and best_d <= floor_id
        )
        if not safe:
            need_refresh = True  # an uncollected doc could beat/tie
            continue
        heapq.heappop(heap)
        take(best_d, best_g)

    return docs.sparkSession.createDataFrame(
        picks,
        "round int, doc_id bigint, gain bigint, cum_covered bigint, "
        "coverage_frac double",
    ).orderBy("round")


def _x408_oracle() -> str:
    """Calibration sweep oracle: per (doc, prefix fraction q/10) the
    exact Jaccard is |prefix shingle set| / |full shingle set| (prefix
    shingles are a subset), and the banded-MinHash collision is a
    row-local band-key comparison using x40's exact md5 slices."""
    def sig(arr: str) -> str:
        comps = [
            f"list_min(list_transform({arr}, s -> "
            f"substr(md5('{salt}:' || s), {off}, 8)))"
            for salt in (0, 1)
            for off in (1, 9, 17, 25)
        ]
        return (
            "["
            + ", ".join(
                f"{comps[2 * b]} || {comps[2 * b + 1]}" for b in range(4)
            )
            + "]"
        )

    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 15
),
v AS MATERIALIZED (
  SELECT doc_id, q,
         list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shf,
         list_distinct(list_transform(
           range(1, CAST(floor(len(toks) * q / 10.0) AS BIGINT) - 1),
           i -> array_to_string(toks[i:i+2], ' '))) AS shp
  FROM t CROSS JOIN (
    VALUES (2), (3), (4), (5), (6), (7), (8), (9)
  ) AS qs(q)
),
sg AS MATERIALIZED (
  SELECT q, len(shp) / CAST(len(shf) AS DOUBLE) AS j,
         {sig("shf")} AS bf, {sig("shp")} AS bp
  FROM v WHERE len(shp) >= 1
),
s AS (
  SELECT q, j,
         CASE WHEN bf[1] = bp[1] OR bf[2] = bp[2]
                OR bf[3] = bp[3] OR bf[4] = bp[4]
              THEN 1 ELSE 0 END AS collided
  FROM sg
),
binned AS (
  SELECT LEAST(CAST(floor(j * 10) AS BIGINT), 9) AS bin, j, collided
  FROM s
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(collided) AS BIGINT) AS n_collided,
       ROUND(SUM(collided) / CAST(count(*) AS DOUBLE), 4)
         AS empirical_rate,
       ROUND(CAST(SUM(CAST(ROUND(
           1 - ((1 - j * j) * (1 - j * j))
               * ((1 - j * j) * (1 - j * j)), 8)
         AS DECIMAL(18,8))) AS DOUBLE) / count(*), 4) AS theory_rate
FROM binned GROUP BY bin ORDER BY bin
"""


@register(
    "x408_lsh_tuning_curve",
    _x408_oracle(),
    doc="the LSH tuning table every banded-MinHash deployment needs, "
        "MEASURED against pairs of KNOWN Jaccard: natural corpus "
        "pairs here are bimodal (j=0 or j~1, measured -- no mid-"
        "curve signal), so the sweep builds calibration pairs "
        "row-locally: each doc vs its own prefix truncations at "
        "fractions 2/10..9/10, whose exact Jaccard is "
        "|prefix-shingles|/|full-shingles| (a subset -- no set "
        "intersection needed), banded with x40's exact md5-slice "
        "band keys (det_band_keys) for BOTH sides IN THE SAME ROW "
        "-- collision = any band index where the keys agree. Per "
        "Jaccard decile: empirical collision rate beside the "
        "per-pair-averaged theoretical S-curve 1-(1-j^2)^4; "
        "divergence = the minhash implementation mis-approximates "
        "Jaccard (x04's gate samples one threshold; this sweeps "
        "the curve). Determinism: j is a ratio of exact ints, "
        "band keys md5-exact, theory terms round-8 DECIMAL. "
        "Scale: ZERO joins -- one row-local map + one 10-row "
        "groupBy; the corpus is read once",
)
def x408_lsh_tuning_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # token array bound as an attribute BEFORE the shingle transform
    # (the HOF-lambda CSE trap: an inlined split() re-tokenizes the doc
    # once per shingle position -- see ops/dedup.py shingles()), and the
    # single-split scan rebalanced so the md5/min-hash work runs on the
    # full core budget instead of one task (no-op at real scale)
    t = (
        rebalanced(docs)
        .select(_toks("text").alias("__toks"))
        .filter(F.size("__toks") >= 15)
    )
    toks = F.col("__toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    # positional (non-distinct) md5 digests, ONE md5 pass per salt per
    # doc: every variant signature below is a min over a PREFIX SLICE
    # of these arrays (duplicates cannot change a min, so positional
    # == distinct), and the checkpoint stops Catalyst re-inlining the
    # md5 fold into each of the 16 component expressions
    base = (
        t.select(
            F.size(toks).alias("n"),
            grams.alias("g"),
        )
        .select(
            "n",
            "g",
            F.transform(
                F.col("g"),
                lambda s: F.md5(F.concat(F.lit("0:"), s)),
            ).alias("dg0"),
            F.transform(
                F.col("g"),
                lambda s: F.md5(F.concat(F.lit("1:"), s)),
            ).alias("dg1"),
        )
        .localCheckpoint(eager=False)
    )

    def bands_of(dg0, dg1, length=None):
        def comp(dg, off):
            arr = dg if length is None else F.slice(dg, 1, length)
            return F.array_min(
                F.transform(arr, lambda d: F.substring(d, off, 8))
            )

        sigs = [comp(dg0, o) for o in (1, 9, 17, 25)] + [
            comp(dg1, o) for o in (1, 9, 17, 25)
        ]
        return F.array(
            *[F.concat(sigs[2 * b], sigs[2 * b + 1]) for b in range(4)]
        )

    qs = spark.createDataFrame([(q,) for q in range(2, 10)], "q int")
    full = base.select(
        "n",
        "g",
        "dg0",
        "dg1",
        bands_of(F.col("dg0"), F.col("dg1")).alias("bf"),
        F.size(F.array_distinct(F.col("g"))).alias("nf"),
    ).localCheckpoint(eager=False)
    npref = (
        F.floor(F.col("n") * F.col("q") / 10).cast("int") - 2
    )
    v = (
        full.crossJoin(F.broadcast(qs))
        .select(
            "bf",
            "nf",
            npref.alias("npref"),
            F.size(
                F.array_distinct(F.slice(F.col("g"), 1, npref))
            ).alias("np_"),
            bands_of(F.col("dg0"), F.col("dg1"), npref).alias("bp"),
        )
        .filter(F.col("npref") >= 1)
    )
    collided = (
        F.size(
            F.filter(
                F.zip_with(
                    F.col("bf"), F.col("bp"), lambda x, y: x == y
                ),
                lambda e: e,
            )
        )
        > 0
    )
    s = v.select(
        (F.col("np_") / F.col("nf").cast("double")).alias("j"),
        F.when(collided, 1).otherwise(0).alias("collided"),
    )
    t2 = (1 - F.col("j") * F.col("j")) * (1 - F.col("j") * F.col("j"))
    return (
        s.select(
            F.least(F.floor(F.col("j") * 10).cast("long"), F.lit(9)).alias(
                "bin"
            ),
            "j",
            "collided",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("collided").cast("long").alias("n_collided"),
            F.round(
                F.sum("collided") / F.count(F.lit(1)).cast("double"), 4
            ).alias("empirical_rate"),
            F.round(
                F.sum(
                    F.round(1 - t2 * t2, 8).cast("decimal(18,8)")
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("theory_rate"),
        )
        .orderBy("bin")
    )


_X409_ORACLE = """
WITH scored AS (
  SELECT ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':fold'), 1, 1))
           %% 5 AS fold,
         CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
per AS (
  SELECT fold, p_s, CAST(count(*) AS BIGINT) AS n_s,
         CAST(SUM(pos) AS BIGINT) AS pos_s
  FROM scored GROUP BY 1, 2
),
cum AS (
  SELECT fold, n_s, pos_s,
         SUM(n_s) OVER (PARTITION BY fold ORDER BY p_s) - n_s
           AS cum_before
  FROM per
),
f AS (
  SELECT fold,
         CAST(SUM(pos_s) AS BIGINT) AS n_pos,
         CAST(SUM(n_s - pos_s) AS BIGINT) AS n_neg,
         CAST(SUM(pos_s * (2 * cum_before + n_s + 1)) AS BIGINT) AS r2
  FROM cum GROUP BY fold
),
a AS (
  SELECT fold, n_pos, n_neg,
         CAST(ROUND((r2 - n_pos * (n_pos + 1))
               / (2.0 * n_pos * n_neg) * 1e8, 0) AS BIGINT) AS auc8i
  FROM f
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(auc8i) AS BIGINT) AS sa,
         CAST(SUM(CAST(auc8i AS HUGEINT) * auc8i) AS HUGEINT) AS sa2
  FROM a
)
SELECT a.fold, a.n_pos, a.n_neg,
       ROUND(a.auc8i / 1e8, 6) AS fold_auc,
       ROUND(CAST(m.sa AS DOUBLE) / m.k / 1e8, 6) AS mean_auc,
       ROUND(sqrt((CAST(m.sa2 AS DOUBLE)
                   - CAST(m.sa AS DOUBLE) * CAST(m.sa AS DOUBLE) / m.k)
                  / (m.k - 1)) / 1e8, 6) AS sd_auc
FROM a CROSS JOIN m ORDER BY a.fold
""" % _STOP_EN


@register(
    "x409_kfold_auc",
    _X409_ORACLE,
    doc="5-fold cross-validated ROC AUC of x349's stopword-ratio "
        "scorer (folds = md5-hash of doc_id, deterministic and "
        "content-independent): per-fold Mann-Whitney midrank AUC "
        "plus the across-fold mean and SAMPLE sd -- the VARIANCE "
        "companion x349's single number lacks (a scorer whose AUC "
        "swings by fold is not deployable even with a good mean; "
        "same rigor move as x320's jackknife, but over the standard "
        "CV partition every ML eval reports). Exactness: x349's "
        "all-integer midrank identity per fold (2R+ = sum pos_s(2*"
        "cum_before + n_s + 1)); per-fold AUC rounds 8 into DECIMAL "
        "before the 5-row moment sums; sd's (28,8)x(28,8) product "
        "keeps scale 16 under precision 38 (the x406 scale-"
        "reduction trap checked: 38 = 28+28 clipped, scale "
        "min(16,...) -- values ~1 make it exact). Scale: one corpus "
        "pass to the (fold x score)-domain aggregate (<= 5x10001 "
        "rows); windows ride it partitioned BY FOLD",
)
def x409_kfold_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    fold = (
        F.ascii(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":fold"))
                ),
                1,
                1,
            )
        )
        % 5
    ).alias("fold")
    scored = docs.select(
        fold,
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per = scored.groupBy("fold", "p_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("pos").cast("long").alias("pos_s"),
    )
    w = Window.partitionBy("fold").orderBy("p_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "fold",
        "n_s",
        "pos_s",
        (F.sum("n_s").over(w) - F.col("n_s")).alias("cum_before"),
    )
    f = cum.groupBy("fold").agg(
        F.sum("pos_s").cast("long").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("pos_s")).cast("long").alias("n_neg"),
        F.sum(
            F.col("pos_s")
            * (2 * F.col("cum_before") + F.col("n_s") + 1)
        )
        .cast("long")
        .alias("r2"),
    )
    a = f.select(
        "fold",
        "n_pos",
        "n_neg",
        F.round(
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2.0 * F.col("n_pos") * F.col("n_neg"))
            * F.lit(1e8),
            0,
        )
        .cast("long")
        .alias("auc8i"),
    )
    a8 = F.col("auc8i").cast("decimal(38,0)")
    m = a.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("auc8i").cast("long").alias("sa"),
        F.sum(a8 * F.col("auc8i")).cast("decimal(38,0)").alias("sa2"),
    )
    return (
        a.crossJoin(F.broadcast(m))
        .select(
            "fold",
            "n_pos",
            "n_neg",
            F.round(F.col("auc8i") / F.lit(1e8), 6).alias("fold_auc"),
            F.round(
                F.col("sa").cast("double") / F.col("k") / F.lit(1e8), 6
            ).alias("mean_auc"),
            F.round(
                F.sqrt(
                    (
                        F.col("sa2").cast("double")
                        - F.col("sa").cast("double")
                        * F.col("sa").cast("double")
                        / F.col("k")
                    )
                    / (F.col("k") - 1)
                )
                / F.lit(1e8),
                6,
            ).alias("sd_auc"),
        )
        .orderBy("fold")
    )


_X410_ORACLE = """
WITH u AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                          1, 4) < '8000'
              THEN 'treat' ELSE 'control' END AS arm,
         CAST(round(SUM(CASE WHEN event_type = 'purchase'
                             THEN value ELSE 0 END), 0) AS BIGINT) AS v
  FROM events GROUP BY 1
),
dom AS (
  SELECT arm, v, CAST(count(*) AS BIGINT) AS c
  FROM u GROUP BY 1, 2
),
cum AS (
  SELECT arm, v, c,
         CAST(SUM(c) OVER (PARTITION BY arm ORDER BY v) AS BIGINT)
           AS cc,
         CAST(SUM(c) OVER (PARTITION BY arm) AS BIGINT) AS n
  FROM dom
),
ranks AS (SELECT unnest(range(1, 10)) * 10 AS p),
q AS (
  SELECT r.p, c.arm, MIN(c.v) AS qv
  FROM ranks r JOIN cum c
    ON c.cc >= CAST(ceil(r.p * c.n / 100.0) AS BIGINT)
  GROUP BY 1, 2
)
SELECT t.p,
       t.qv AS v_treat, c.qv AS v_control,
       t.qv - c.qv AS qte
FROM q t JOIN q c ON t.p = c.p AND c.arm = 'control'
WHERE t.arm = 'treat'
ORDER BY t.p
"""


@register(
    "x410_quantile_treatment_effect",
    _X410_ORACLE,
    doc="quantile treatment effects for x303's md5 experiment: per "
        "decile p10..p90, the type-1 (exact, no interpolation) "
        "quantile of per-user purchase value in each arm and their "
        "difference -- the DISTRIBUTIONAL effect x303's single mean "
        "uplift averages away (a treatment that moves only the "
        "top decile shows qte=0 across p10..p80: where the effect "
        "lives is the decision). Type-1 quantile = min value whose "
        "cumulative count reaches ceil(p*n/100) -- integer-exact in "
        "both engines, no percentile-definition divergence (the "
        "x254 trap avoided by construction). Scale: user values "
        "round to WHOLE-DOLLAR grid so the quantile domain is "
        "value-range-bounded, not user-bounded (x349's score-domain "
        "move); the cumulative window rides the (arm x dollar)-"
        "domain aggregate; one corpus groupBy total",
)
def x410_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value")
                ).otherwise(0.0)
            ),
            0,
        )
        .cast("long")
        .alias("v")
    ).select(
        "v",
        F.when(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit(":ab"))
                ),
                1,
                4,
            )
            < "8000",
            "treat",
        )
        .otherwise("control")
        .alias("arm"),
    )
    dom = u.groupBy("arm", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wc = Window.partitionBy("arm").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy("arm")
    cum = dom.select(
        "arm",
        "v",
        F.sum("c").over(wc).cast("long").alias("cc"),
        F.sum("c").over(wn).cast("long").alias("n"),
    )
    ranks = spark.createDataFrame(
        [(p,) for p in range(10, 100, 10)], "p int"
    )
    q = (
        F.broadcast(ranks)
        .crossJoin(cum)
        .filter(
            F.col("cc")
            >= F.ceil(F.col("p") * F.col("n") / 100.0).cast("long")
        )
        .groupBy("p", "arm")
        .agg(F.min("v").alias("qv"))
    )
    t = q.filter(F.col("arm") == "treat").select(
        "p", F.col("qv").alias("v_treat")
    )
    c = q.filter(F.col("arm") == "control").select(
        "p", F.col("qv").alias("v_control")
    )
    return (
        t.join(c, "p")
        .select(
            "p",
            "v_treat",
            "v_control",
            (F.col("v_treat") - F.col("v_control")).alias("qte"),
        )
        .orderBy("p")
    )


_X411_ORACLE = """
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS valid_from, ts AS tx_from,
         CAST(floor(value / 100) AS BIGINT) AS tier
  FROM events WHERE event_type = 'purchase'
),
versions AS (
  SELECT user_id, valid_from, tx_from, tier FROM base
  UNION ALL
  SELECT user_id, CAST(ts AS DATE), ts + INTERVAL 2 DAY,
         CAST(floor(value / 100) AS BIGINT) + 1
  FROM events
  WHERE event_type = 'purchase'
    AND CAST(round(value * 100, 0) AS BIGINT) % 5 = 0
),
snaps AS (
  SELECT * FROM (VALUES
    (1, DATE '2024-01-20', TIMESTAMP '2024-01-22 00:00:00'),
    (2, DATE '2024-01-20', TIMESTAMP '2024-02-15 00:00:00'))
    AS s(snap_id, v_asof, t_asof)
),
vf AS (
  SELECT s.snap_id, v.user_id, MAX(v.valid_from) AS valid_from
  FROM versions v JOIN snaps s
    ON v.valid_from <= s.v_asof AND v.tx_from <= s.t_asof
  GROUP BY 1, 2
),
snap AS (
  SELECT f.snap_id, f.user_id,
         MAX(epoch_us(v.tx_from) * 1000 + v.tier) % 1000 AS tier
  FROM vf f
  JOIN versions v
    ON v.user_id = f.user_id AND v.valid_from = f.valid_from
  JOIN snaps s ON s.snap_id = f.snap_id AND v.tx_from <= s.t_asof
  GROUP BY 1, 2
)
SELECT COALESCE(a.tier, b.tier) AS tier,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS users_known_early,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS users_known_late,
       CAST(COALESCE(b.n, 0) - COALESCE(a.n, 0) AS BIGINT)
         AS revision_shift
FROM (SELECT tier, count(*) AS n FROM snap WHERE snap_id = 1
      GROUP BY 1) a
FULL OUTER JOIN
     (SELECT tier, count(*) AS n FROM snap WHERE snap_id = 2
      GROUP BY 1) b
  ON a.tier = b.tier
ORDER BY tier
"""


@register(
    "x411_bitemporal_asof",
    _X411_ORACLE,
    doc="BITEMPORAL as-of query -- the two-clock capability x113 "
        "(SCD2, valid time) and x245 (point-in-time reads) each "
        "cover only half of: versions carry BOTH a valid-from "
        "(when the tier was true) and a tx-from (when the system "
        "LEARNED it; every 5th purchase gets a +1-tier correction "
        "recorded 2 days later), and the query asks 'what did we "
        "BELIEVE on Jan 22 about tiers valid on Jan 20' beside "
        "'what do we NOW (Feb 15) believe about that same Jan 20' "
        "-- the revision_shift column is exactly the late-data "
        "distortion an ML training snapshot inherits when it reads "
        "tables without freezing transaction time (x347's leakage "
        "audit, made queryable). Per (snapshot, user) the effective "
        "version is ONE max_by/max(struct) over (valid_from, "
        "tx_from) -- no window, no self-join. Scale: versions "
        "derive map-side; the snapshot join fans out x2 (a VALUES "
        "literal); one user-key groupBy per snapshot",
)
def x411_bitemporal_asof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime

    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.to_date("ts").alias("valid_from"),
        F.col("ts").alias("tx_from"),
        F.floor(F.col("value") / 100).cast("long").alias("tier"),
    )
    corr = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.round(F.col("value") * 100, 0).cast("long") % 5 == 0)
        )
        .select(
            "user_id",
            F.to_date("ts").alias("valid_from"),
            (F.col("ts") + F.expr("INTERVAL 2 DAY")).alias("tx_from"),
            (F.floor(F.col("value") / 100) + 1).cast("long").alias("tier"),
        )
    )
    versions = base.unionByName(corr)
    snaps = spark.createDataFrame(
        [
            (1, datetime.date(2024, 1, 20),
             datetime.datetime(2024, 1, 22)),
            (2, datetime.date(2024, 1, 20),
             datetime.datetime(2024, 2, 15)),
        ],
        "snap_id int, v_asof date, t_asof timestamp",
    )
    joined = versions.join(
        F.broadcast(snaps),
        (F.col("valid_from") <= F.col("v_asof"))
        & (F.col("tx_from") <= F.col("t_asof")),
    )
    vf = joined.groupBy("snap_id", "user_id").agg(
        F.max("valid_from").alias("valid_from")
    )
    # effective version = max (tx_from, tier) for that valid_from,
    # encoded as one BIGINT (epoch micros * 1000 + tier) -- DuckDB's
    # max_by rejects composite keys (the arg_min tuple trap)
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP '1970-01-01 00:00:00', "
        "tx_from)"
    )
    snap = (
        joined.join(vf, ["snap_id", "user_id", "valid_from"])
        .groupBy("snap_id", "user_id")
        .agg((F.max(us * 1000 + F.col("tier")) % 1000).alias("tier"))
    )
    a = (
        snap.filter(F.col("snap_id") == 1)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).cast("long").alias("n_early"))
    )
    b = (
        snap.filter(F.col("snap_id") == 2)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).cast("long").alias("n_late"))
    )
    return (
        a.join(b, "tier", "full_outer")
        .select(
            "tier",
            F.coalesce(F.col("n_early"), F.lit(0))
            .cast("long")
            .alias("users_known_early"),
            F.coalesce(F.col("n_late"), F.lit(0))
            .cast("long")
            .alias("users_known_late"),
            (
                F.coalesce(F.col("n_late"), F.lit(0))
                - F.coalesce(F.col("n_early"), F.lit(0))
            )
            .cast("long")
            .alias("revision_shift"),
        )
        .orderBy("tier")
    )


_X412_ORACLE = """
WITH d AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 2
),
pos AS (
  SELECT doc_id, source,
         len(toks) - 1 AS n,
         len(list_filter(
           range(1, len(toks)),
           i -> substr(md5(toks[i] || ':' || toks[i + 1]), 1, 1)
                < '8')) AS g
  FROM d
),
z AS (
  SELECT source,
         CAST(ROUND((2.0 * g - n) / sqrt(CAST(n AS DOUBLE)), 6)
           AS DECIMAL(18,6)) AS z
  FROM pos
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(z) AS DOUBLE) / count(*), 4) AS mean_z,
       ROUND(SUM(CASE WHEN CAST(z AS DOUBLE) > 2 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS frac_flagged
FROM z GROUP BY source ORDER BY source
"""


@register(
    "x412_watermark_detect",
    _X412_ORACLE,
    doc="statistical watermark detection (the Kirchenbauer et al. "
        "2023 green-list scheme, detection side): each token "
        "position is 'green' iff md5(prev_token:token) < '8' -- a "
        "deterministic half-vocabulary partition keyed on the "
        "previous token, exactly the detector a provider runs to "
        "test 'was this text sampled from our watermarked model'; "
        "per-doc z = (2g - n)/sqrt(n) under H0 (natural text, "
        "green prob 1/2), rolled up per source as mean z and the "
        "fraction flagged at z > 2. On THIS corpus everything "
        "should sit near z=0 -- the entry is the null-calibration "
        "audit (a source drifting positive means its text "
        "correlates with the hash -- template leakage), and the "
        "machinery is the production detector. Exactness: g and n "
        "are exact ints per doc (one row-local HOF pass), per-doc "
        "z rounds 6 into DECIMAL before the source mean. Scale: "
        "expression-only corpus pass + one source groupBy -- the "
        "detector is embarrassingly parallel",
)
def x412_watermark_detect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bound token attribute (HOF-lambda CSE trap on the per-bigram
    # md5 transform -- see x383)
    t = (
        docs.select("source", _toks("text").alias("__toks"))
        .filter(F.size("__toks") >= 2)
    )
    toks = F.col("__toks")
    greens = F.size(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.substring(
                    F.md5(
                        F.concat(
                            F.element_at(toks, i + 1),
                            F.lit(":"),
                            F.element_at(toks, i + 2),
                        )
                    ),
                    1,
                    1,
                )
                < "8",
            ),
            lambda e: e,
        )
    )
    pos = t.select(
        "source",
        (F.size(toks) - 1).alias("n"),
        greens.alias("g"),
    )
    z = pos.select(
        "source",
        F.round(
            (2.0 * F.col("g") - F.col("n"))
            / F.sqrt(F.col("n").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("z"),
    )
    return (
        z.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.sum("z").cast("double") / F.count(F.lit(1)), 4)
            .alias("mean_z"),
            F.round(
                F.sum(
                    F.when(F.col("z").cast("double") > 2, 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("frac_flagged"),
        )
        .orderBy("source")
    )


_X413_ORACLE = """
WITH u AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                          1, 4) < '8000'
              THEN 'treat' ELSE 'control' END AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 250
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
),
a AS (
  SELECT CAST(SUM(CASE WHEN arm = 'treat' THEN 1 END) AS BIGINT)
           AS n_t,
         CAST(SUM(CASE WHEN arm = 'control' THEN 1 END) AS BIGINT)
           AS n_c,
         CAST(SUM(conv) AS BIGINT) AS conv_all,
         CAST(count(*) AS BIGINT) AS n_all
  FROM u
)
SELECT n_t, n_c,
       ROUND(CAST(conv_all AS DOUBLE) / n_all, 6) AS pooled_rate,
       ROUND((1.959964 + 0.841621)
             * sqrt((CAST(conv_all AS DOUBLE) / n_all)
                    * (1 - CAST(conv_all AS DOUBLE) / n_all)
                    * (1.0 / n_t + 1.0 / n_c)), 6) AS mde_abs,
       ROUND((1.959964 + 0.841621)
             * sqrt((CAST(conv_all AS DOUBLE) / n_all)
                    * (1 - CAST(conv_all AS DOUBLE) / n_all)
                    * (1.0 / n_t + 1.0 / n_c))
             / (CAST(conv_all AS DOUBLE) / n_all), 6) AS mde_rel,
       CAST(ceil(2 * pow(1.959964 + 0.841621, 2)
                 * (CAST(conv_all AS DOUBLE) / n_all)
                 * (1 - CAST(conv_all AS DOUBLE) / n_all)
                 / pow(0.01, 2)) AS BIGINT) AS n_per_arm_for_1pt
FROM a
"""


@register(
    "x413_power_mde",
    _X413_ORACLE,
    doc="experiment power analysis for x303's A/B assignment, closed "
        "form, on a NON-DEGENERATE conversion (any purchase >= 250 "
        "-- the any-purchase rate is 1.0 at small SFs, making "
        "p(1-p) = 0 and the MDE vacuous; measured 6-9 percent here): "
        "the minimum detectable effect at alpha=0.05 (two-sided) / "
        "power=0.8 given the REALIZED arm sizes and pooled "
        "conversion rate -- MDE = (z_{a/2} + z_b) * sqrt(p(1-p)"
        "(1/n_t + 1/n_c)) with the normal quantiles as literals "
        "(1.959964, 0.841621) -- plus the required per-arm n to "
        "detect a 1-point absolute lift: the DESIGN-side number "
        "that tells you whether x303's observed uplift was even "
        "detectable and x321's SRM guardrail assumes. An uplift "
        "below mde_abs is a non-result, not a negative result. "
        "Exactness: counts exact, one fixed-order double "
        "expression. Scale: one user groupBy, 1-row algebra",
)
def x413_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 250),
                1,
            ).otherwise(0)
        ).alias("conv")
    ).select(
        "conv",
        F.when(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit(":ab"))
                ),
                1,
                4,
            )
            < "8000",
            "treat",
        )
        .otherwise("control")
        .alias("arm"),
    )
    a = u.agg(
        F.sum(F.when(F.col("arm") == "treat", 1)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("arm") == "control", 1))
        .cast("long")
        .alias("n_c"),
        F.sum("conv").cast("long").alias("conv_all"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
    )
    p = F.col("conv_all").cast("double") / F.col("n_all")
    zsum = F.lit(1.959964 + 0.841621)
    mde = zsum * F.sqrt(
        p * (1 - p) * (1.0 / F.col("n_t") + 1.0 / F.col("n_c"))
    )
    return a.select(
        "n_t",
        "n_c",
        F.round(p, 6).alias("pooled_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
        F.ceil(
            2 * F.pow(zsum, 2) * p * (1 - p) / F.pow(F.lit(0.01), 2)
        )
        .cast("long")
        .alias("n_per_arm_for_1pt"),
    )


_X414_ORACLE = """
WITH u AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM u GROUP BY 1
)
SELECT event_type, n,
       ROUND(CAST(s AS DOUBLE) / n, 6) AS mean_c,
       ROUND(CAST(q AS DOUBLE) / n
             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 6)
         AS var_c,
       ROUND((CAST(q AS DOUBLE) / n
              - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
             / (CAST(s AS DOUBLE) / n), 6) AS dispersion_index,
       ROUND(CASE WHEN CAST(q AS DOUBLE) / n
                       - (CAST(s AS DOUBLE) / n)
                         * (CAST(s AS DOUBLE) / n)
                       <= CAST(s AS DOUBLE) / n
                  THEN NULL
                  ELSE (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                       / ((CAST(q AS DOUBLE) / n
                           - (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n))
                          - CAST(s AS DOUBLE) / n) END, 6) AS nb_r,
       ROUND(CASE WHEN CAST(q AS DOUBLE) / n
                       - (CAST(s AS DOUBLE) / n)
                         * (CAST(s AS DOUBLE) / n)
                       <= CAST(s AS DOUBLE) / n
                  THEN NULL
                  ELSE (CAST(s AS DOUBLE) / n)
                       / (CAST(q AS DOUBLE) / n
                          - (CAST(s AS DOUBLE) / n)
                            * (CAST(s AS DOUBLE) / n)) END, 6) AS nb_p
FROM m ORDER BY event_type
"""


@register(
    "x414_negbin_overdispersion",
    _X414_ORACLE,
    doc="negative-binomial overdispersion fit for per-user event "
        "counts by type: dispersion index var/mean (Poisson = 1; "
        "> 1 means user heterogeneity a Poisson rate model will "
        "underfit -- the per-USER analog of x396's per-term "
        "burstiness) plus the method-of-moments NB parameters r = "
        "m^2/(v-m), p = m/v, NULL when the data is UNDER-dispersed "
        "(NB undefined -- the guard is semantics, not cosmetics, "
        "and is hash-checked through the driver's NULL canonical-"
        "ization). The capacity-planning primitive behind x135's "
        "load profile: an NB fit says how heavy the per-user tail "
        "really is. Exactness: count moments are exact BIGINTs, "
        "divisions once in fixed-order DOUBLE. Scale: one (type, "
        "user) groupBy then a 5-row rollup",
)
def x414_negbin_overdispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    m = u.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("q").cast("double") / F.col("n") - mean * mean
    over = var > mean
    return m.select(
        "event_type",
        "n",
        F.round(mean, 6).alias("mean_c"),
        F.round(var, 6).alias("var_c"),
        F.round(var / mean, 6).alias("dispersion_index"),
        F.round(
            F.when(over, mean * mean / (var - mean)), 6
        ).alias("nb_r"),
        F.round(F.when(over, mean / var), 6).alias("nb_p"),
    ).orderBy("event_type")


_X415_ORACLE = """
WITH cnt AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS k
  FROM cnt
),
w AS (
  -- inverse-frequency weight targeting a UNIFORM source mix:
  -- w_i = N / (k * n_source(i)), one weight per doc
  SELECT c.source, c.n,
         CAST(t.nn AS DOUBLE) / (t.k * c.n) AS wt
  FROM cnt c CROSS JOIN tot t
),
agg AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(ROUND(n * wt, 8) AS DECIMAL(28,8)))
           AS DECIMAL(38,8)) AS sw,
         CAST(SUM(CAST(ROUND(n * wt * wt, 8) AS DECIMAL(28,8)))
           AS DECIMAL(38,8)) AS sw2
  FROM w
)
SELECT w.source, w.n, ROUND(w.wt, 6) AS weight,
       ROUND(CAST(a.sw AS DOUBLE) * CAST(a.sw AS DOUBLE)
             / CAST(a.sw2 AS DOUBLE), 2) AS kish_ess,
       ROUND(a.nn * CAST(a.sw2 AS DOUBLE)
             / (CAST(a.sw AS DOUBLE) * CAST(a.sw AS DOUBLE)), 6)
         AS design_effect
FROM w CROSS JOIN agg a
ORDER BY w.source
"""


@register(
    "x415_kish_ess",
    _X415_ORACLE,
    doc="Kish effective sample size and design effect for inverse-"
        "frequency source reweighting (the uniform-mix weights "
        "x38/x46 apply): ESS = (sum w)^2 / sum w^2 and deff = "
        "n * sum w^2 / (sum w)^2 -- the survey-statistics answer to "
        "'my reweighted corpus has N docs, how many INDEPENDENT "
        "docs is it WORTH' (a skewed mix reweighted to uniform can "
        "cost half its effective size; every importance-weighted "
        "eval (x348, x232) silently pays deff and this entry "
        "prices it). Weights are constant within a source, so the "
        "doc-level sums collapse to source-level n*w / n*w^2 -- "
        "NO per-doc pass; terms round-8 DECIMAL before the 20-row "
        "sums. Scale: one source groupBy, 1-row rollup, broadcast "
        "back",
)
def x415_kish_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cnt.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    w = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        (
            F.col("nn").cast("double") / (F.col("k") * F.col("n"))
        ).alias("wt"),
    )
    agg = w.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(
            F.round(F.col("n") * F.col("wt"), 8).cast("decimal(28,8)")
        )
        .cast("decimal(38,8)")
        .alias("sw"),
        F.sum(
            F.round(F.col("n") * F.col("wt") * F.col("wt"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("decimal(38,8)")
        .alias("sw2"),
    )
    return (
        w.crossJoin(F.broadcast(agg))
        .select(
            "source",
            "n",
            F.round(F.col("wt"), 6).alias("weight"),
            F.round(
                F.col("sw").cast("double")
                * F.col("sw").cast("double")
                / F.col("sw2").cast("double"),
                2,
            ).alias("kish_ess"),
            F.round(
                F.col("nn")
                * F.col("sw2").cast("double")
                / (F.col("sw").cast("double") * F.col("sw").cast("double")),
                6,
            ).alias("design_effect"),
        )
        .orderBy("source")
    )


_X416_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_c
FROM events
WHERE event_type IN ('purchase', 'view')
GROUP BY event_type ORDER BY event_type
"""


@register(
    "x416_identifier_params",
    _X416_ORACLE,
    doc="parameterized SQL + IDENTIFIER() clause parity (Spark 4 "
        "named-parameter binding): the table is referenced via "
        "IDENTIFIER(:tab) and the event-type filter via :et1/:et2 "
        "value parameters -- the INJECTION-SAFE dynamic-SQL pattern "
        "(string-splicing table names is the SQL-injection vector "
        "every orchestration layer hits; IDENTIFIER binds an "
        "identifier through the parser, parameter markers bind "
        "values through the analyzer). The oracle pins the "
        "parameterized form to the literal SQL -- parity proof "
        "that binding is plan-neutral. Exactness: exact cent sums. "
        "Scale: one filtered groupBy; predicate pushdown verified "
        "by the same plan as the literal form",
)
def x416_identifier_params(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    view = "x416_events"
    ev.createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
                 AS BIGINT) AS revenue_c
        FROM IDENTIFIER(:tab)
        WHERE event_type IN (:et1, :et2)
        GROUP BY event_type ORDER BY event_type
        """,
        args={"tab": view, "et1": "purchase", "et2": "view"},
    )


_X417_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(round(value, 0) AS BIGINT) AS x
  FROM events
),
dom AS (
  SELECT event_type, x, CAST(count(*) AS BIGINT) AS c
  FROM v GROUP BY 1, 2
),
cum AS (
  SELECT event_type, x, c,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY x)
           AS BIGINT) AS cc,
         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM dom
),
med AS (
  SELECT event_type, MIN(x) AS med
  FROM cum WHERE cc >= CAST(ceil(n / 2.0) AS BIGINT)
  GROUP BY 1
),
adev AS (
  SELECT c.event_type, abs(c.x - m.med) AS d, c.c
  FROM cum c JOIN med m ON c.event_type = m.event_type
),
adom AS (
  SELECT event_type, d, CAST(SUM(c) AS BIGINT) AS c
  FROM adev GROUP BY 1, 2
),
acum AS (
  SELECT event_type, d, c,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d)
           AS BIGINT) AS cc,
         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM adom
),
mad AS (
  SELECT event_type, MIN(d) AS mad
  FROM acum WHERE cc >= CAST(ceil(n / 2.0) AS BIGINT)
  GROUP BY 1
),
hub AS (
  SELECT v.event_type,
         CAST(ROUND(CASE WHEN abs(v.x - m.med)
                              <= 1.345 * 1.4826 * d.mad
                         THEN CAST(v.x AS DOUBLE)
                         ELSE v.x * (1.345 * 1.4826 * d.mad
                                     / abs(v.x - m.med)) END, 8)
           AS DECIMAL(28,8)) AS wx,
         CAST(ROUND(CASE WHEN abs(v.x - m.med)
                              <= 1.345 * 1.4826 * d.mad
                         THEN 1.0
                         ELSE 1.345 * 1.4826 * d.mad
                              / abs(v.x - m.med) END, 8)
           AS DECIMAL(28,8)) AS w
  FROM v JOIN med m ON v.event_type = m.event_type
  JOIN mad d ON v.event_type = d.event_type
)
SELECT h.event_type, m.med AS median_x, d.mad AS mad_x,
       ROUND(CAST(SUM(h.wx) AS DOUBLE) / CAST(SUM(h.w) AS DOUBLE), 6)
         AS huber_mean,
       ROUND(CAST(SUM(h.w) AS DOUBLE) / count(*), 6)
         AS mean_weight
FROM hub h JOIN med m ON h.event_type = m.event_type
JOIN mad d ON h.event_type = d.event_type
GROUP BY 1, 2, 3 ORDER BY h.event_type
"""


@register(
    "x417_huber_location",
    _X417_ORACLE,
    doc="one IRLS step of the Huber M-estimator for event value per "
        "type, starting at the exact type-1 median with MAD scale "
        "(k = 1.345, consistency factor 1.4826): weights w = min(1, "
        "k*sigma/|x - med|) downweight the tail smoothly -- the "
        "robust-location member completing the robust family (x116 "
        "winsorizes by hard quantile cut, x124/x308 FLAG outliers, "
        "x309 is the regression analog; Huber ESTIMATES through "
        "them) -- and the weighted mean is what a robust KPI "
        "dashboard should show when x124 fires. Median and MAD are "
        "EXACT type-1 order statistics on the whole-dollar domain "
        "(x410's bounded-domain move, windows ride the (type x "
        "dollar) aggregate); per-row weighted terms round-8 DECIMAL "
        "before the sums, one final division. Scale: two bounded-"
        "domain passes (median, MAD) + one weighted aggregate; no "
        "sort of raw data",
)
def x417_huber_location(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round("value", 0).cast("long").alias("x")
    )

    def type1_median(df, col, out):
        dom = df.groupBy("event_type", col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        wc = Window.partitionBy("event_type").orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wn = Window.partitionBy("event_type")
        cum = dom.select(
            "event_type",
            F.col(col),
            F.sum("c").over(wc).alias("cc"),
            F.sum("c").over(wn).alias("n"),
        )
        return (
            cum.filter(
                F.col("cc") >= F.ceil(F.col("n") / 2.0).cast("long")
            )
            .groupBy("event_type")
            .agg(F.min(col).alias(out))
        )

    med = type1_median(v, "x", "med")
    adev = v.join(med, "event_type").select(
        "event_type", F.abs(F.col("x") - F.col("med")).alias("d")
    )
    mad = type1_median(adev, "d", "mad")
    k = 1.345 * 1.4826
    joined = v.join(med, "event_type").join(mad, "event_type")
    dist = F.abs(F.col("x") - F.col("med"))
    wexpr = F.when(dist <= k * F.col("mad"), F.lit(1.0)).otherwise(
        k * F.col("mad") / dist
    )
    hub = joined.select(
        "event_type",
        "med",
        "mad",
        F.round(F.col("x") * wexpr, 8).cast("decimal(28,8)").alias("wx"),
        F.round(wexpr, 8).cast("decimal(28,8)").alias("w"),
    )
    return (
        hub.groupBy("event_type", "med", "mad")
        .agg(
            F.round(
                F.sum("wx").cast("double") / F.sum("w").cast("double"), 6
            ).alias("huber_mean"),
            F.round(
                F.sum("w").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_weight"),
        )
        .select(
            "event_type",
            F.col("med").alias("median_x"),
            F.col("mad").alias("mad_x"),
            "huber_mean",
            "mean_weight",
        )
        .orderBy("event_type")
    )


_X418_ORACLE = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                          1, 4) < '8000'
              THEN 't' ELSE 'c' END AS arm,
         CAST(round(value * 100, 0) AS BIGINT) AS v
  FROM events
),
d AS (
  SELECT day, arm, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s
  FROM e GROUP BY 1, 2
),
p AS (
  SELECT arm,
         CASE WHEN day < DATE '2024-01-16' THEN 'pre' ELSE 'post' END
           AS period,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s
  FROM d GROUP BY 1, 2
),
did AS (
  SELECT ROUND(
    (MAX(CASE WHEN arm = 't' AND period = 'post'
              THEN CAST(s AS DOUBLE) / n END)
     - MAX(CASE WHEN arm = 't' AND period = 'pre'
                THEN CAST(s AS DOUBLE) / n END))
    - (MAX(CASE WHEN arm = 'c' AND period = 'post'
                THEN CAST(s AS DOUBLE) / n END)
       - MAX(CASE WHEN arm = 'c' AND period = 'pre'
                  THEN CAST(s AS DOUBLE) / n END)), 6) AS did_c
  FROM p
),
pl AS (
  SELECT arm,
         CASE WHEN day < DATE '2024-01-08' THEN 'pre' ELSE 'post' END
           AS period,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS s
  FROM d WHERE day < DATE '2024-01-16' GROUP BY 1, 2
),
placebo AS (
  SELECT ROUND(
    (MAX(CASE WHEN arm = 't' AND period = 'post'
              THEN CAST(s AS DOUBLE) / n END)
     - MAX(CASE WHEN arm = 't' AND period = 'pre'
                THEN CAST(s AS DOUBLE) / n END))
    - (MAX(CASE WHEN arm = 'c' AND period = 'post'
                THEN CAST(s AS DOUBLE) / n END)
       - MAX(CASE WHEN arm = 'c' AND period = 'pre'
                  THEN CAST(s AS DOUBLE) / n END)), 6) AS placebo_c
  FROM pl
),
byday AS (
  SELECT day,
         MAX(CASE WHEN arm = 't'
                  THEN ROUND(CAST(s AS DOUBLE) / n / 100, 6) END)
           AS mean_t,
         MAX(CASE WHEN arm = 'c'
                  THEN ROUND(CAST(s AS DOUBLE) / n / 100, 6) END)
           AS mean_c
  FROM d GROUP BY day
)
SELECT b.day,
       CASE WHEN b.day < DATE '2024-01-16' THEN 'pre' ELSE 'post' END
         AS period,
       b.mean_t, b.mean_c,
       ROUND(b.mean_t - b.mean_c, 6) AS gap,
       ROUND(i.did_c / 100, 6) AS did,
       ROUND(q.placebo_c / 100, 6) AS placebo_did
FROM byday b CROSS JOIN did i CROSS JOIN placebo q
ORDER BY b.day
"""


@register(
    "x418_diff_in_diff",
    _X418_ORACLE,
    doc="difference-in-differences readout for x303's arms with a "
        "Jan-16 'intervention': DiD = (post_t - pre_t) - (post_c - "
        "pre_c) on mean event value -- the PANEL-methods member the "
        "inference suite lacked (x303 compares one period; DiD "
        "nets out both arm-level constants and common time shocks) "
        "-- emitted beside the per-day arm means and gap (the "
        "parallel-trends check read as 30 rows of evidence) and a "
        "PLACEBO DiD (fake Jan-8 intervention inside the pre-"
        "period: a non-zero placebo means the design, not the "
        "treatment, moves the number -- the validity instrument "
        "x318/x321 are to x303). On this null corpus DiD and "
        "placebo should both sit near 0. Exactness: cents and "
        "counts exact per (arm, day); every mean is one division "
        "of exact integers; fixed-order algebra on 4-row "
        "aggregates. Scale: one corpus groupBy to (day x arm); "
        "everything downstream is 30 rows",
)
def x418_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.to_date("ts").alias("day"),
        F.when(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit(":ab"))
                ),
                1,
                4,
            )
            < "8000",
            "t",
        )
        .otherwise("c")
        .alias("arm"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    d = e.groupBy("day", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
    ).localCheckpoint(eager=False)
    cut = datetime.date(2024, 1, 16)
    pcut = datetime.date(2024, 1, 8)

    def did_of(base: DataFrame, cutoff) -> DataFrame:
        p = base.groupBy(
            "arm",
            F.when(F.col("day") < F.lit(cutoff), "pre")
            .otherwise("post")
            .alias("period"),
        ).agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
        )
        m = lambda a, pe: F.max(  # noqa: E731
            F.when(
                (F.col("arm") == a) & (F.col("period") == pe),
                F.col("s").cast("double") / F.col("n"),
            )
        )
        return p.agg(
            F.round(
                (m("t", "post") - m("t", "pre"))
                - (m("c", "post") - m("c", "pre")),
                6,
            ).alias("did_c")
        )

    did = did_of(d, cut)
    placebo = did_of(
        d.filter(F.col("day") < F.lit(cut)), pcut
    ).withColumnRenamed("did_c", "placebo_c")
    byday = d.groupBy("day").agg(
        F.max(
            F.when(
                F.col("arm") == "t",
                F.round(F.col("s").cast("double") / F.col("n") / 100, 6),
            )
        ).alias("mean_t"),
        F.max(
            F.when(
                F.col("arm") == "c",
                F.round(F.col("s").cast("double") / F.col("n") / 100, 6),
            )
        ).alias("mean_c"),
    )
    return (
        byday.crossJoin(F.broadcast(did))
        .crossJoin(F.broadcast(placebo))
        .select(
            "day",
            F.when(F.col("day") < F.lit(cut), "pre")
            .otherwise("post")
            .alias("period"),
            "mean_t",
            "mean_c",
            F.round(F.col("mean_t") - F.col("mean_c"), 6).alias("gap"),
            F.round(F.col("did_c") / 100, 6).alias("did"),
            F.round(F.col("placebo_c") / 100, 6).alias("placebo_did"),
        )
        .orderBy("day")
    )


_X419_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         len(string_split(lower(text), ' ')) AS n
  FROM documents
),
chunks AS MATERIALIZED (
  SELECT doc_id, c,
         list_transform(
           range(1, GREATEST(LEAST(25, n - 25 * c) - 1, 0)),
           i -> array_to_string(
             (toks[25 * c + 1 : LEAST(25 * c + 25, n)])[i:i+2], ' ')
         ) AS sh
  FROM t, unnest(range(0, CAST(ceil(n / 25.0) AS BIGINT))) AS u(c)
),
ch AS MATERIALIZED (
  SELECT doc_id, c, sh, len(sh) AS clen FROM chunks WHERE len(sh) >= 1
),
post AS MATERIALIZED (
  SELECT doc_id, c, g, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, c, unnest(sh) AS g FROM ch)
  GROUP BY 1, 2, 3
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(SUM(clen) AS BIGINT) AS total_len
  FROM ch
),
q AS MATERIALIZED (
  SELECT doc_id AS qid,
         unnest(list_distinct(list_transform(
           range(1, 4),
           i -> array_to_string((toks[30:34])[i:i+2], ' ')))) AS g
  FROM t WHERE n >= 35 AND doc_id % 11 = 0
),
df AS (
  SELECT p.g, CAST(count(*) AS BIGINT) AS df
  FROM post p WHERE p.g IN (SELECT DISTINCT g FROM q)
  GROUP BY 1
),
idf AS (
  SELECT d.g,
         CAST(ROUND(ln(1 + (s.n_chunks - d.df + 0.5) / (d.df + 0.5)),
              6) AS DECIMAL(18,6)) AS idf
  FROM df d CROSS JOIN stats s
),
scored AS MATERIALIZED (
  SELECT q.qid, p.doc_id, p.c,
         CAST(SUM(CAST(ROUND(CAST(i.idf AS DOUBLE) * p.tf * 2.2
             / (p.tf + 1.2 * (0.25 + 0.75 * ch.clen
                              / (CAST(s.total_len AS DOUBLE)
                                 / s.n_chunks))), 8)
           AS DECIMAL(28,8))) AS DECIMAL(38,8)) AS score
  FROM q JOIN post p ON q.g = p.g
  JOIN idf i ON q.g = i.g
  JOIN ch ON ch.doc_id = p.doc_id AND ch.c = p.c
  CROSS JOIN stats s
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT qid, doc_id, c,
         row_number() OVER (PARTITION BY qid
           ORDER BY score DESC, doc_id, c) AS rnk
  FROM scored
),
per_q AS (
  SELECT qid,
         MIN(CASE WHEN doc_id = qid THEN rnk END) AS own_rank
  FROM ranked WHERE rnk <= 20 GROUP BY qid
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       ROUND(SUM(CASE WHEN own_rank = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS hit_at_1,
       ROUND(SUM(CASE WHEN own_rank <= 5 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS hit_at_5,
       ROUND(CAST(SUM(CAST(ROUND(
           COALESCE(1.0 / own_rank, 0.0), 8) AS DECIMAL(18,8)))
           AS DOUBLE) / count(*), 6) AS mrr_at_20
FROM per_q
"""


@register(
    "x419_self_retrieval_eval",
    _X419_ORACLE,
    doc="LABEL-FREE retrieval evaluation by self-retrieval (the "
        "standard RAG smoke test when no relevance judgments "
        "exist): documents split into 25-token chunks, every 11th "
        "long-enough doc issues a mid-doc 5-token phrase as its "
        "query, and BM25 over 3-SHINGLE terms (selective on this "
        "31-word shared vocab, where word terms match everything -- "
        "the x376/x407 lesson applied to retrieval) must rank a "
        "chunk of the QUERY'S OWN DOC first: hit@1, hit@5 and "
        "MRR@20 are the corpus-level readout. Completes the "
        "retrieval suite: x106 scores one query, x317 needs "
        "labels, x313/x314 re-rank -- this EVALUATES the retriever "
        "with the corpus as its own ground truth. Exactness: "
        "x106's contract (idf ln round-6 DECIMAL, per-term "
        "contributions round-8 DECIMAL-summed, tf/len exact ints); "
        "ties broken (doc, chunk). Scale: postings materialize "
        "ONLY for query shingles (semi-join before df); the "
        "(query x candidate) space is shingle-selective, never "
        "all-chunks; rank windows partition per query",
)
def x419_self_retrieval_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # rebalanced off the single-split scan so the chunk explode and the
    # per-chunk shingle transforms run on the core budget, not one task
    t = (
        rebalanced(docs)
        .select("doc_id", _toks("text").alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("n"))
        .localCheckpoint(eager=False)
    )

    def shingles_of(arr):
        # sequence(0, n-3) DESCENDS when n < 3 (the x274 trap):
        # guard short arrays to an empty shingle list
        return F.when(
            F.size(arr) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(arr) - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(arr, i + 1),
                    F.element_at(arr, i + 2),
                    F.element_at(arr, i + 3),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    ch = (
        t.select(
            "doc_id",
            "n",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0), F.ceil(F.col("n") / 25.0).cast("int") - 1
                )
            ).alias("c"),
        )
        .select(
            "doc_id",
            "c",
            shingles_of(
                F.slice(F.col("toks"), 25 * F.col("c") + 1, 25)
            ).alias("sh"),
        )
        .filter(F.size("sh") >= 1)
        .select("doc_id", "c", "sh", F.size("sh").alias("clen"))
        .localCheckpoint(eager=False)
    )
    post = (
        ch.select("doc_id", "c", F.explode("sh").alias("g"))
        .groupBy("doc_id", "c", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    stats = ch.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("clen").cast("long").alias("total_len"),
    )
    q = (
        t.filter((F.col("n") >= 35) & (F.col("doc_id") % 11 == 0))
        .select(
            F.col("doc_id").alias("qid"),
            F.explode(
                F.array_distinct(
                    shingles_of(F.slice(F.col("toks"), 30, 5))
                )
            ).alias("g"),
        )
    )
    qterms = q.select("g").distinct()
    df = (
        post.join(F.broadcast(qterms), "g", "left_semi")
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    idf = df.crossJoin(F.broadcast(stats.select("n_chunks"))).select(
        "g",
        F.round(
            F.log(
                1
                + (F.col("n_chunks") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("idf"),
    )
    avglen = F.col("total_len").cast("double") / F.col("n_chunks")
    scored = (
        q.join(post, "g")
        .join(idf, "g")
        .join(ch.select("doc_id", "c", "clen"), ["doc_id", "c"])
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "doc_id", "c")
        .agg(
            F.sum(
                F.round(
                    F.col("idf").cast("double")
                    * F.col("tf")
                    * 2.2
                    / (
                        F.col("tf")
                        + 1.2 * (0.25 + 0.75 * F.col("clen") / avglen)
                    ),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("decimal(38,8)")
            .alias("score")
        )
    )
    ranked = scored.select(
        "qid",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(
                F.col("score").desc(), "doc_id", "c"
            )
        )
        .alias("rnk"),
    ).filter(F.col("rnk") <= 20)
    per_q = ranked.groupBy("qid").agg(
        F.min(
            F.when(F.col("doc_id") == F.col("qid"), F.col("rnk"))
        ).alias("own_rank")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(
            F.sum(F.when(F.col("own_rank") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hit_at_1"),
        F.round(
            F.sum(F.when(F.col("own_rank") <= 5, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hit_at_5"),
        F.round(
            F.sum(
                F.round(
                    F.coalesce(1.0 / F.col("own_rank"), F.lit(0.0)), 8
                ).cast("decimal(18,8)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mrr_at_20"),
    )


def _x420_oracle() -> str:
    corpus = (
        "(SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 1000000, text FROM documents "
        "WHERE doc_id % 13 = 0)"
    )
    band = dedup.minhash_banded_pairs_oracle_sql(source=f"{corpus} s")
    return f"""
WITH bands AS MATERIALIZED ({band}),
corpus AS MATERIALIZED (SELECT * FROM {corpus} c),
ex AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, md5(lower(text)) AS h FROM corpus) a
  JOIN (SELECT doc_id, md5(lower(text)) AS h FROM corpus) b
    ON a.h = b.h AND a.doc_id < b.doc_id
),
fp AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
          string_split(lower(text), ' '))), ' ')) AS h
        FROM corpus) a
  JOIN (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
          string_split(lower(text), ' '))), ' ')) AS h
        FROM corpus) b
    ON a.h = b.h AND a.doc_id < b.doc_id
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact_pairs,
  (SELECT CAST(count(*) AS BIGINT) FROM fp) AS n_fingerprint_pairs,
  (SELECT CAST(count(*) AS BIGINT) FROM bands) AS n_band_candidates,
  (SELECT CAST(count(*) AS BIGINT) FROM ex e
   LEFT JOIN bands c ON e.id_a = c.id_a AND e.id_b = c.id_b
   WHERE c.id_a IS NULL) AS exact_missing_from_bands,
  (SELECT CAST(count(*) AS BIGINT) FROM fp f
   LEFT JOIN bands c ON f.id_a = c.id_a AND f.id_b = c.id_b
   WHERE c.id_a IS NULL) AS fp_missing_from_bands
"""


@register(
    "x420_dedup_tier_containment",
    _x420_oracle(),
    doc="the dedup-tier CONTAINMENT LAW as a query, on a corpus with "
        "exact duplicates BY CONSTRUCTION (the natural fixture has "
        "none -- measured; every 13th doc gains an id-shifted twin, "
        "so the law check cannot pass vacuously): exact-duplicate "
        "pairs (x01's md5 of lowered text) MUST all surface as "
        "banded-MinHash candidates (identical text -> identical "
        "shingle set -> identical signature -> all 4 bands collide; "
        "exact_missing_from_bands = 0 BY MATHEMATICS, pinned by the "
        "hash), while fingerprint pairs (x02's sorted-distinct bag) "
        "need NOT be (same bag, different order -> different "
        "shingles): fp_missing_from_bands is the MEASURED recall "
        "boundary between token-set and sequence-aware dedup. x322 "
        "scores pairwise agreement; this asserts the lattice "
        "underneath -- any exact pair missing means the minhash "
        "pipeline is not a pure function of the text. Scale: pair "
        "sets expand inside md5-keyed buckets (never a corpus self-"
        "join); bands are x40's one groupBy; anti-joins pair-keyed",
)
def x420_dedup_tier_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).localCheckpoint(eager=False)

    def pairs_by(hash_col):
        g = corpus.select("doc_id", hash_col.alias("h"))
        a = g.select(F.col("doc_id").alias("id_a"), "h")
        b = g.select(F.col("doc_id").alias("id_b"), F.col("h").alias("h2"))
        return a.join(
            b,
            (F.col("h") == F.col("h2")) & (F.col("id_a") < F.col("id_b")),
        ).select("id_a", "id_b")

    ex = pairs_by(F.md5(F.lower(F.col("text")))).localCheckpoint(
        eager=False
    )
    fp = pairs_by(
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(_toks("text"))),
                " ",
            )
        )
    ).localCheckpoint(eager=False)
    bands = dedup.minhash_banded_pairs(
        corpus, "doc_id", "text", max_docs_per_band=None
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    n_ex = ex.count()
    n_fp = fp.count()
    n_band = bands.count()
    # ONE anti-join job for both miss counts: tag the union of the two
    # pair sets, anti-join against bands once, split with conditional
    # counts (count(when) is 0 on an empty frame, unlike sum).
    miss = (
        ex.withColumn("src", F.lit("ex"))
        .unionByName(fp.withColumn("src", F.lit("fp")))
        .join(bands, ["id_a", "id_b"], "left_anti")
        .agg(
            F.count(F.when(F.col("src") == "ex", 1))
            .cast("long")
            .alias("ex_miss"),
            F.count(F.when(F.col("src") == "fp", 1))
            .cast("long")
            .alias("fp_miss"),
        )
        .collect()[0]
    )
    ex_miss, fp_miss = miss["ex_miss"], miss["fp_miss"]
    return spark.createDataFrame(
        [(n_ex, n_fp, n_band, ex_miss, fp_miss)],
        "n_exact_pairs bigint, n_fingerprint_pairs bigint, "
        "n_band_candidates bigint, exact_missing_from_bands bigint, "
        "fp_missing_from_bands bigint",
    )


_X421_ORACLE = """
WITH looks AS (
  SELECT * FROM (VALUES
    (1, DATE '2024-01-11', 3.471), (2, DATE '2024-01-21', 2.454),
    (3, DATE '2024-01-31', 2.004)) AS l(look, cutoff, obf_bound)
),
u AS (
  SELECT l.look, l.cutoff, l.obf_bound, e.user_id,
         CASE WHEN substr(md5(CAST(e.user_id AS VARCHAR) || ':ab'),
                          1, 4) < '8000'
              THEN 't' ELSE 'c' END AS arm,
         MAX(CASE WHEN e.event_type = 'purchase' AND e.value >= 250
                  THEN 1 ELSE 0 END) AS conv
  FROM events e JOIN looks l ON CAST(e.ts AS DATE) < l.cutoff
  GROUP BY 1, 2, 3, 4
),
a AS (
  SELECT look, cutoff, obf_bound,
         CAST(SUM(CASE WHEN arm = 't' THEN 1 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN arm = 'c' THEN 1 END) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN arm = 't' THEN conv END) AS BIGINT)
           AS x_t,
         CAST(SUM(CASE WHEN arm = 'c' THEN conv END) AS BIGINT)
           AS x_c
  FROM u GROUP BY 1, 2, 3
),
z AS (
  SELECT look, cutoff, n_t, n_c, obf_bound,
         CASE WHEN x_t + x_c = 0 OR x_t + x_c = n_t + n_c THEN 0.0
              ELSE (CAST(x_t AS DOUBLE) / n_t
                    - CAST(x_c AS DOUBLE) / n_c)
                   / sqrt((CAST(x_t + x_c AS DOUBLE) / (n_t + n_c))
                          * (1 - CAST(x_t + x_c AS DOUBLE)
                                 / (n_t + n_c))
                          * (1.0 / n_t + 1.0 / n_c)) END AS z
  FROM a
)
SELECT look, cutoff, n_t, n_c,
       ROUND(z, 4) AS z_look, obf_bound,
       CASE WHEN abs(z) > obf_bound THEN 1 ELSE 0 END AS crossed
FROM z ORDER BY look
"""


@register(
    "x421_group_sequential",
    _X421_ORACLE,
    doc="group-sequential monitoring of x303's experiment with "
        "O'Brien-Fleming boundaries at three interim looks (day 10/"
        "20/30; boundary z = 3.471 / 2.454 / 2.004, the standard "
        "3-look OBF spending literals): per look, the pooled two-"
        "proportion z on the x413 high-value conversion among users "
        "OBSERVED so far, beside its boundary and the crossing flag "
        "-- the peeking-safe monitoring discipline that makes x303's "
        "single readout honest under sequential looks (naive "
        "repeated z>1.96 checks inflate alpha ~2.4x at 3 looks; OBF "
        "spends almost nothing early). Exactness: per-look cell "
        "counts are exact BIGINTs (the look join fans events x3 "
        "against a VALUES literal -- no window over time), the z "
        "expression runs once per 3-row aggregate. Scale: one "
        "(look x user) groupBy -- 3x the x303 shuffle, bounded by "
        "the look count, never a per-day state scan",
)
def x421_group_sequential(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime

    ev = load_table(spark, sf_dir, "events")
    looks = spark.createDataFrame(
        [
            (1, datetime.date(2024, 1, 11), 3.471),
            (2, datetime.date(2024, 1, 21), 2.454),
            (3, datetime.date(2024, 1, 31), 2.004),
        ],
        "look int, cutoff date, obf_bound double",
    )
    u = (
        ev.join(
            F.broadcast(looks), F.to_date("ts") < F.col("cutoff")
        )
        .groupBy("look", "cutoff", "obf_bound", "user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 250),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .withColumn(
            "arm",
            F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"), F.lit(":ab")
                        )
                    ),
                    1,
                    4,
                )
                < "8000",
                "t",
            ).otherwise("c"),
        )
    )
    a = u.groupBy("look", "cutoff", "obf_bound").agg(
        F.sum(F.when(F.col("arm") == "t", 1)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("arm") == "c", 1)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("arm") == "t", F.col("conv")))
        .cast("long")
        .alias("x_t"),
        F.sum(F.when(F.col("arm") == "c", F.col("conv")))
        .cast("long")
        .alias("x_c"),
    )
    p = (F.col("x_t") + F.col("x_c")).cast("double") / (
        F.col("n_t") + F.col("n_c")
    )
    degenerate = (F.col("x_t") + F.col("x_c") == 0) | (
        F.col("x_t") + F.col("x_c") == F.col("n_t") + F.col("n_c")
    )
    z = F.when(degenerate, F.lit(0.0)).otherwise(
        (
            F.col("x_t").cast("double") / F.col("n_t")
            - F.col("x_c").cast("double") / F.col("n_c")
        )
        / F.sqrt(
            p * (1 - p) * (1.0 / F.col("n_t") + 1.0 / F.col("n_c"))
        )
    )
    return a.select(
        "look",
        "cutoff",
        "n_t",
        "n_c",
        F.round(z, 4).alias("z_look"),
        "obf_bound",
        F.when(F.abs(z) > F.col("obf_bound"), 1)
        .otherwise(0)
        .alias("crossed"),
    ).orderBy("look")


_X422_ORACLE = """
WITH pre AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS pre_n
  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-08'
  GROUP BY 1
),
seg AS (
  SELECT user_id,
         CASE WHEN pre_n <= 13 THEN 'low'
              WHEN pre_n <= 17 THEN 'mid' ELSE 'high' END AS segment,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                          1, 4) < '8000'
              THEN 't' ELSE 'c' END AS arm
  FROM pre
),
conv AS (
  SELECT user_id, MAX(CASE WHEN event_type = 'purchase'
                            AND value >= 250 THEN 1 ELSE 0 END) AS y
  FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
  GROUP BY 1
),
cell AS (
  SELECT s.segment,
         CAST(SUM(CASE WHEN s.arm = 't' THEN 1 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN s.arm = 'c' THEN 1 END) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN s.arm = 't' THEN COALESCE(c.y, 0) END)
           AS BIGINT) AS x_t,
         CAST(SUM(CASE WHEN s.arm = 'c' THEN COALESCE(c.y, 0) END)
           AS BIGINT) AS x_c
  FROM seg s LEFT JOIN conv c ON s.user_id = c.user_id
  GROUP BY 1
)
SELECT segment,
       COALESCE(n_t, 0) AS n_t, COALESCE(n_c, 0) AS n_c,
       ROUND(CASE WHEN COALESCE(n_t, 0) = 0 THEN NULL
             ELSE CAST(COALESCE(x_t, 0) AS DOUBLE) / n_t END, 6)
         AS rate_t,
       ROUND(CASE WHEN COALESCE(n_c, 0) = 0 THEN NULL
             ELSE CAST(COALESCE(x_c, 0) AS DOUBLE) / n_c END, 6)
         AS rate_c,
       ROUND(CASE WHEN COALESCE(n_t, 0) = 0 OR COALESCE(n_c, 0) = 0
             THEN NULL
             ELSE CAST(COALESCE(x_t, 0) AS DOUBLE) / n_t
                  - CAST(COALESCE(x_c, 0) AS DOUBLE) / n_c END, 6)
         AS uplift,
       ROUND(CASE WHEN COALESCE(n_t, 0) = 0 OR COALESCE(n_c, 0) = 0
                    OR COALESCE(x_t, 0) + COALESCE(x_c, 0) = 0
                    OR COALESCE(x_t, 0) + COALESCE(x_c, 0)
                       = COALESCE(n_t, 0) + COALESCE(n_c, 0)
                  THEN 0.0
                  ELSE (CAST(x_t AS DOUBLE) / n_t
                        - CAST(x_c AS DOUBLE) / n_c)
                       / sqrt((CAST(x_t + x_c AS DOUBLE)
                               / (n_t + n_c))
                              * (1 - CAST(x_t + x_c AS DOUBLE)
                                     / (n_t + n_c))
                              * (1.0 / n_t + 1.0 / n_c)) END, 4)
         AS z_segment
FROM cell ORDER BY segment
"""


@register(
    "x422_hte_pre_segments",
    _X422_ORACLE,
    doc="heterogeneous treatment effects done RIGHT: segments come "
        "from PRE-period activity only (Jan 1-7 event count; "
        "thresholds <=13 / 14-17 / >=18 split the user base in "
        "thirds -- measured), the outcome (x413's high-value "
        "conversion) only from the post period -- conditioning on "
        "post-treatment behavior is the classic HTE self-selection "
        "bug this entry's construction forbids (the x347 leakage "
        "discipline applied to experiment readouts). Per segment: "
        "arm sizes, rates, uplift and the pooled two-proportion z "
        "(x421's degenerate convention) -- 'WHO responds' where "
        "x303 answers 'does anyone'. Exactness: cells exact "
        "BIGINTs; one fixed-order double block per 3-row segment "
        "aggregate. Scale: two user-key groupBys (pre and post "
        "periods) + one user-key LEFT join -- the corpus is read "
        "twice by period filter, never joined to itself",
)
def x422_hte_pre_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime

    ev = load_table(spark, sf_dir, "events")
    cut = datetime.date(2024, 1, 8)
    pre = (
        ev.filter(F.to_date("ts") < F.lit(cut))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("pre_n"))
    )
    seg = pre.select(
        "user_id",
        F.when(F.col("pre_n") <= 13, "low")
        .when(F.col("pre_n") <= 17, "mid")
        .otherwise("high")
        .alias("segment"),
        F.when(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit(":ab"))
                ),
                1,
                4,
            )
            < "8000",
            "t",
        )
        .otherwise("c")
        .alias("arm"),
    )
    conv = (
        ev.filter(F.to_date("ts") >= F.lit(cut))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 250),
                    1,
                ).otherwise(0)
            ).alias("y")
        )
    )
    cell = (
        seg.join(conv, "user_id", "left")
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("arm") == "t", 1)).cast("long").alias("n_t"),
            F.sum(F.when(F.col("arm") == "c", 1)).cast("long").alias("n_c"),
            F.sum(
                F.when(F.col("arm") == "t", F.coalesce(F.col("y"), F.lit(0)))
            )
            .cast("long")
            .alias("x_t"),
            F.sum(
                F.when(F.col("arm") == "c", F.coalesce(F.col("y"), F.lit(0)))
            )
            .cast("long")
            .alias("x_c"),
        )
    )
    cell = cell.select(
        "segment",
        F.coalesce(F.col("n_t"), F.lit(0)).alias("n_t"),
        F.coalesce(F.col("n_c"), F.lit(0)).alias("n_c"),
        F.coalesce(F.col("x_t"), F.lit(0)).alias("x_t"),
        F.coalesce(F.col("x_c"), F.lit(0)).alias("x_c"),
    )
    rt = F.when(
        F.col("n_t") > 0, F.col("x_t").cast("double") / F.col("n_t")
    )
    rc = F.when(
        F.col("n_c") > 0, F.col("x_c").cast("double") / F.col("n_c")
    )
    pool = (F.col("x_t") + F.col("x_c")).cast("double") / (
        F.col("n_t") + F.col("n_c")
    )
    degenerate = (
        (F.col("n_t") == 0)
        | (F.col("n_c") == 0)
        | (F.col("x_t") + F.col("x_c") == 0)
        | (F.col("x_t") + F.col("x_c") == F.col("n_t") + F.col("n_c"))
    )
    z = F.when(degenerate, F.lit(0.0)).otherwise(
        (rt - rc)
        / F.sqrt(
            pool
            * (1 - pool)
            * (1.0 / F.col("n_t") + 1.0 / F.col("n_c"))
        )
    )
    return cell.select(
        "segment",
        "n_t",
        "n_c",
        F.round(rt, 6).alias("rate_t"),
        F.round(rc, 6).alias("rate_c"),
        F.round(
            F.when((F.col("n_t") > 0) & (F.col("n_c") > 0), rt - rc), 6
        ).alias("uplift"),
        F.round(z, 4).alias("z_segment"),
    ).orderBy("segment")


def _x423_oracle() -> str:
    """Two chained BFS replays (full vs hub-ablated co-purchase
    subgraph), CTEs MATERIALIZED."""
    def bfs_chain(prefix: str, edges: str) -> tuple[list[str], str]:
        ctes = [
            f"{prefix}f0 AS MATERIALIZED "
            f"(SELECT MIN(u) AS node FROM {edges})"
        ]
        for h in range(1, 3 + 1):
            visited = " UNION ALL ".join(
                f"SELECT node FROM {prefix}f{i}" for i in range(h)
            )
            ctes.append(
                f"""{prefix}f{h} AS MATERIALIZED (
  SELECT DISTINCT e.v AS node
  FROM {edges} e JOIN {prefix}f{h - 1} f ON e.u = f.node
  WHERE e.v NOT IN ({visited})
)"""
            )
        counts = " UNION ALL ".join(
            f"SELECT {i} AS level, CAST(count(*) AS BIGINT) AS n "
            f"FROM {prefix}f{i}"
            for i in range(3 + 1)
        )
        return ctes, counts

    full_ctes, full_counts = bfs_chain("a", "edges")
    abl_ctes, abl_counts = bfs_chain("b", "edges2")
    return f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey % 4 = 0
),
p AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
edges AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
hubs AS MATERIALIZED (
  SELECT u FROM (
    SELECT u, count(*) AS c FROM edges GROUP BY 1
  ) ORDER BY c DESC, u LIMIT 3
),
edges2 AS MATERIALIZED (
  SELECT u, v FROM edges
  WHERE u NOT IN (SELECT u FROM hubs)
    AND v NOT IN (SELECT u FROM hubs)
),
{', '.join(full_ctes)},
{', '.join(abl_ctes)},
fc AS ({full_counts}),
ac AS ({abl_counts})
SELECT fc.level, fc.n AS reached_full, ac.n AS reached_ablated,
       fc.n - ac.n AS reach_lost
FROM fc JOIN ac ON fc.level = ac.level
ORDER BY fc.level
"""


@register(
    "x423_hub_removal_robustness",
    _x423_oracle(),
    doc="graph ROBUSTNESS under targeted attack (the Albert-Barabasi "
        "scale-free-fragility experiment as a query): BFS "
        "reachability per level from the min node on the co-"
        "purchase subgraph, before and after removing the top-3 "
        "degree hubs (ties min-node) -- reach_lost per level is how "
        "much of the network routes THROUGH the hubs, the "
        "resilience number x104/x404 centralities imply but never "
        "measure (scale-free graphs shatter under hub removal; "
        "random graphs shrug). Both runs share one edge derivation; "
        "ablation is a 3-element anti-filter. Per hop ONE edge-"
        "sized equi-join with node-state shuffled-hash (x104's "
        "broadcast refusal), visited sets anti-joined, level counts "
        "1-row aggregates -- (hops+1)-row output regardless of "
        "graph size; oracle = two chained MATERIALIZED BFS replays",
)
def x423_hub_removal_robustness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    edges = graph.symmetric_copurchase_edges(li).localCheckpoint(
        eager=False
    )
    hubs = [
        r["u"]
        for r in edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "u")
        .limit(3)
        .collect()
    ]
    edges2 = edges.filter(
        ~F.col("u").isin(*hubs) & ~F.col("v").isin(*hubs)
    ).localCheckpoint(eager=False)
    full = graph.bfs_levels(edges).select(
        F.col("dist").alias("level"),
        F.col("n_nodes").alias("reached_full"),
    )
    abl = graph.bfs_levels(edges2).select(
        F.col("dist").alias("level"),
        F.col("n_nodes").alias("reached_ablated"),
    )
    return (
        full.join(abl, "level")
        .select(
            "level",
            "reached_full",
            "reached_ablated",
            (F.col("reached_full") - F.col("reached_ablated")).alias(
                "reach_lost"
            ),
        )
        .orderBy("level")
    )


_X424_ORACLE = """
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
dom AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
),
m AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(s AS HUGEINT) * s * n) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(s AS HUGEINT) * n) AS HUGEINT) AS sx,
         CAST(SUM(CAST(s AS HUGEINT) * (2 * pos - n)) AS HUGEINT)
           AS g1,
         CAST(SUM(CAST(2 * pos - n AS HUGEINT)) AS HUGEINT) AS g2
  FROM dom
),
ab AS (
  SELECT 2.0 * (CAST(nn AS DOUBLE) * g1 - CAST(sx AS DOUBLE) * g2)
           / (CAST(nn AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           AS a,
         2.0 * (CAST(sxx AS DOUBLE) * g2 - CAST(sx AS DOUBLE) * g1)
           / (CAST(nn AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
           AS b,
         nn
  FROM m
),
cal AS (
  SELECT d.s, d.n, d.pos,
         CAST(ROUND(1.0 / (1.0 + exp(-(q.a * d.s + q.b))), 8)
           AS DECIMAL(18,8)) AS p
  FROM dom d CROSS JOIN ab q
),
raw_bins AS (
  SELECT LEAST(CAST(floor(s / 1000.0) AS BIGINT), 9) AS bin,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS pos,
         CAST(SUM(CAST(s AS HUGEINT) * n) AS HUGEINT) AS ssum
  FROM dom GROUP BY 1
),
cal_bins AS (
  SELECT LEAST(CAST(floor(CAST(p AS DOUBLE) * 10) AS BIGINT), 9)
           AS bin,
         CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS pos,
         CAST(SUM(CAST(ROUND(CAST(p AS DOUBLE) * n, 8)
           AS DECIMAL(28,8))) AS DECIMAL(38,8)) AS psum
  FROM cal GROUP BY 1
),
e1 AS (
  SELECT CAST(SUM(CAST(ROUND(
           abs(CAST(ssum AS DOUBLE) / n / 10000
               - CAST(pos AS DOUBLE) / n) * n, 8)
           AS DECIMAL(28,8))) AS DECIMAL(38,8)) AS gap
  FROM raw_bins
),
e2 AS (
  SELECT CAST(SUM(CAST(ROUND(
           abs(CAST(psum AS DOUBLE) / n
               - CAST(pos AS DOUBLE) / n) * n, 8)
           AS DECIMAL(28,8))) AS DECIMAL(38,8)) AS gap
  FROM cal_bins
)
SELECT ROUND(q.a, 6) AS platt_a, ROUND(q.b, 6) AS platt_b,
       ROUND(CAST(e1.gap AS DOUBLE) / q.nn, 6) AS ece_raw,
       ROUND(CAST(e2.gap AS DOUBLE) / q.nn, 6) AS ece_platt,
       CASE WHEN CAST(e2.gap AS DOUBLE) < CAST(e1.gap AS DOUBLE)
            THEN 1 ELSE 0 END AS improved
FROM ab q CROSS JOIN e1 CROSS JOIN e2
""" % _STOP_EN


@register(
    "x424_platt_scaling",
    _X424_ORACLE,
    doc="one closed-form Newton step of PLATT SCALING (logistic "
        "recalibration sigma(a*s + b), the standard post-hoc "
        "calibrator) for x315's stopword-ratio scorer, with ECE "
        "measured BEFORE and AFTER -- x315 diagnoses miscalibration, "
        "x356 fixes it non-parametrically (isotonic); Platt is the "
        "2-parameter parametric fix, and the before/after delta is "
        "the decision number. The step is x405's Cramer machinery "
        "at 2x2: moments over the SCORE-DOMAIN aggregate (<=10001 "
        "rows, weighted by counts -- exact HUGEINT/DECIMAL), one "
        "sigmoid per distinct score rounded-8 into DECIMAL, both "
        "ECEs from round-8 DECIMAL bin gaps. Scale: one corpus "
        "pass to the score domain; everything else is domain-sized",
)
def x424_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s_ = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        s_.alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    dom = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).localCheckpoint(eager=False)
    d_ = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = dom.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(d_(F.col("s")) * F.col("s") * F.col("n"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(d_(F.col("s")) * F.col("n"))
        .cast("decimal(38,0)")
        .alias("sx"),
        F.sum(d_(F.col("s")) * (2 * F.col("pos") - F.col("n")))
        .cast("decimal(38,0)")
        .alias("g1"),
        F.sum(d_(2 * F.col("pos") - F.col("n")))
        .cast("decimal(38,0)")
        .alias("g2"),
    )
    det = (
        F.col("nn").cast("double") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    ab = m.select(
        (
            2.0
            * (
                F.col("nn").cast("double") * F.col("g1").cast("double")
                - F.col("sx").cast("double") * F.col("g2").cast("double")
            )
            / det
        ).alias("a"),
        (
            2.0
            * (
                F.col("sxx").cast("double") * F.col("g2").cast("double")
                - F.col("sx").cast("double") * F.col("g1").cast("double")
            )
            / det
        ).alias("b"),
        "nn",
    )
    cal = dom.crossJoin(F.broadcast(ab)).select(
        "s",
        "n",
        "pos",
        "nn",
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b")))),
            8,
        )
        .cast("decimal(18,8)")
        .alias("p"),
    )
    raw_bins = dom.groupBy(
        F.least(F.floor(F.col("s") / 1000.0).cast("long"), F.lit(9))
        .alias("bin")
    ).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos"),
        F.sum(d_(F.col("s")) * F.col("n"))
        .cast("decimal(38,0)")
        .alias("ssum"),
    )
    cal_bins = cal.groupBy(
        F.least(
            F.floor(F.col("p").cast("double") * 10).cast("long"), F.lit(9)
        ).alias("bin")
    ).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos"),
        F.sum(
            F.round(F.col("p").cast("double") * F.col("n"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("decimal(38,8)")
        .alias("psum"),
    )
    e1 = raw_bins.agg(
        F.sum(
            F.round(
                F.abs(
                    F.col("ssum").cast("double") / F.col("n") / 10000
                    - F.col("pos").cast("double") / F.col("n")
                )
                * F.col("n"),
                8,
            ).cast("decimal(28,8)")
        )
        .cast("decimal(38,8)")
        .alias("gap_raw")
    )
    e2 = cal_bins.agg(
        F.sum(
            F.round(
                F.abs(
                    F.col("psum").cast("double") / F.col("n")
                    - F.col("pos").cast("double") / F.col("n")
                )
                * F.col("n"),
                8,
            ).cast("decimal(28,8)")
        )
        .cast("decimal(38,8)")
        .alias("gap_platt")
    )
    return (
        ab.crossJoin(F.broadcast(e1))
        .crossJoin(F.broadcast(e2))
        .select(
            F.round(F.col("a"), 6).alias("platt_a"),
            F.round(F.col("b"), 6).alias("platt_b"),
            F.round(
                F.col("gap_raw").cast("double") / F.col("nn"), 6
            ).alias("ece_raw"),
            F.round(
                F.col("gap_platt").cast("double") / F.col("nn"), 6
            ).alias("ece_platt"),
            F.when(
                F.col("gap_platt").cast("double")
                < F.col("gap_raw").cast("double"),
                1,
            )
            .otherwise(0)
            .alias("improved"),
        )
    )


_X425_ORACLE = """
WITH cnt AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cnt),
taus AS (
  SELECT * FROM (VALUES (0.0), (0.5), (1.0), (2.0)) AS t(tau)
),
w AS (
  -- per-doc importance weight emulating tau-temperature sampling of
  -- the natural source mix: w_i propto p_i^(tau-1), p_i = n_i/N;
  -- tau grid {0, 1/2, 1, 2} needs only 1/p, 1/sqrt(p), 1, p --
  -- no pow(), so both engines produce identical doubles
  SELECT t.tau, c.source, c.n,
         CASE WHEN t.tau = 0.0
                THEN CAST(o.nn AS DOUBLE) / c.n
              WHEN t.tau = 0.5
                THEN sqrt(CAST(o.nn AS DOUBLE) / c.n)
              WHEN t.tau = 1.0 THEN 1.0
              ELSE CAST(c.n AS DOUBLE) / o.nn END AS wt
  FROM cnt c CROSS JOIN tot o CROSS JOIN taus t
),
agg AS (
  SELECT tau,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(CAST(ROUND(n * wt, 8) AS DECIMAL(28,8)))
           AS DECIMAL(38,8)) AS sw,
         CAST(SUM(CAST(ROUND(n * wt * wt, 8) AS DECIMAL(28,8)))
           AS DECIMAL(38,8)) AS sw2,
         MAX(CAST(ROUND(n * wt, 8) AS DECIMAL(28,8))) AS max_src_w
  FROM w GROUP BY tau
)
SELECT tau,
       ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
             / CAST(sw2 AS DOUBLE), 2) AS kish_ess,
       ROUND(nn * CAST(sw2 AS DOUBLE)
             / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)), 6)
         AS design_effect,
       ROUND(CAST(max_src_w AS DOUBLE) / CAST(sw AS DOUBLE), 6)
         AS top_source_mass
FROM agg ORDER BY tau
"""


@register(
    "x425_temperature_ess_curve",
    _X425_ORACLE,
    doc="the mixing-design table behind x46's temperature sampling: "
        "for tau in {0, 1/2, 1, 2}, the Kish effective sample size, "
        "design effect and top-source mass share of importance "
        "weights w propto p^(tau-1) that emulate tau-tempered "
        "source sampling -- tau=1 is the natural mix (ESS = N, deff "
        "= 1, the fixed point the hash pins), tau=0 is x415's "
        "uniform target, and the CURVE prices the information cost "
        "of every point between ('flattening to tau=0.5 costs X "
        "effective docs') -- the number a mixing design reads "
        "BEFORE training, not after. The tau grid is chosen so "
        "every weight needs only 1/p, 1/sqrt(p), 1, or p -- no "
        "pow(), whose libm differs across engines; sqrt is IEEE "
        "correctly-rounded, so the doubles are engine-identical. "
        "Source-constant weights collapse all doc sums to "
        "source-level n*w (no per-doc pass), terms round-8 "
        "DECIMAL. Scale: one source groupBy, a x4 VALUES fan-out, "
        "20-row algebra",
)
def x425_temperature_ess_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cnt.agg(F.sum("n").cast("long").alias("nn"))
    taus = spark.createDataFrame(
        [(0.0,), (0.5,), (1.0,), (2.0,)], "tau double"
    )
    ratio = F.col("nn").cast("double") / F.col("n")
    wt = (
        F.when(F.col("tau") == 0.0, ratio)
        .when(F.col("tau") == 0.5, F.sqrt(ratio))
        .when(F.col("tau") == 1.0, F.lit(1.0))
        .otherwise(F.col("n").cast("double") / F.col("nn"))
    )
    w = (
        cnt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(taus))
        .select("tau", "source", "n", "nn", wt.alias("wt"))
    )
    nw = F.round(F.col("n") * F.col("wt"), 8).cast("decimal(28,8)")
    agg = w.groupBy("tau").agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(nw).cast("decimal(38,8)").alias("sw"),
        F.sum(
            F.round(F.col("n") * F.col("wt") * F.col("wt"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("decimal(38,8)")
        .alias("sw2"),
        F.max(nw).alias("max_src_w"),
    )
    return agg.select(
        "tau",
        F.round(
            F.col("sw").cast("double")
            * F.col("sw").cast("double")
            / F.col("sw2").cast("double"),
            2,
        ).alias("kish_ess"),
        F.round(
            F.col("nn")
            * F.col("sw2").cast("double")
            / (F.col("sw").cast("double") * F.col("sw").cast("double")),
            6,
        ).alias("design_effect"),
        F.round(
            F.col("max_src_w").cast("double") / F.col("sw").cast("double"),
            6,
        ).alias("top_source_mass"),
    ).orderBy("tau")


_X426_ORACLE = """
WITH d AS (
  SELECT len(string_split(lower(text), ' ')) AS nw,
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
  SELECT nw, nd,
         CASE WHEN nw BETWEEN 30 AND 90 THEN 1 ELSE 0 END AS k1,
         CASE WHEN lc >= 4 * nw AND lc <= 5 * nw THEN 1 ELSE 0 END
           AS k2,
         CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS k3,
         CASE WHEN 5 * nd > 3 * nw THEN 1 ELSE 0 END AS k4,
         CASE WHEN 8 * topc <= nw THEN 1 ELSE 0 END AS k5
  FROM d
),
long AS (
  SELECT rule, keep, nw, nd FROM (
    SELECT 'word_count' AS rule, k1 AS keep, nw, nd FROM r
    UNION ALL SELECT 'mean_word_len', k2, nw, nd FROM r
    UNION ALL SELECT 'stopwords', k3, nw, nd FROM r
    UNION ALL SELECT 'dup_tokens', k4, nw, nd FROM r
    UNION ALL SELECT 'top_token', k5, nw, nd FROM r
  )
)
SELECT rule,
       CAST(SUM(keep) AS BIGINT) AS docs_kept,
       ROUND(SUM(keep) / CAST(count(*) AS DOUBLE), 6) AS frac_docs,
       ROUND(SUM(keep * nw) / CAST(SUM(nw) AS DOUBLE), 6)
         AS frac_tokens,
       ROUND(CAST(SUM(CASE WHEN keep = 1 THEN
               CAST(ROUND(nd / CAST(nw AS DOUBLE), 8)
                 AS DECIMAL(18,8)) END) AS DOUBLE)
             / SUM(keep), 6) AS mean_ttr_survivors
FROM long GROUP BY rule ORDER BY rule
"""


@register(
    "x426_filter_impact",
    _X426_ORACLE,
    doc="the curation WHAT-IF matrix: each of x381's five quality "
        "rules applied INDEPENDENTLY, reporting docs kept, doc "
        "fraction, TOKEN fraction (a rule that keeps 80 percent of "
        "docs can still drop 40 percent of tokens if it kills long "
        "docs -- the budget-relevant number) and the survivors' "
        "mean type-token ratio -- x381 reports why docs DIE under "
        "the conjunction; this prices each rule ALONE before "
        "composing them (the ablation a filter-design review "
        "reads). Determinism: keep flags are x381's integer cross-"
        "multiplications, per-doc TTR rounds 8 into DECIMAL before "
        "the survivor mean, token fractions are ratios of exact "
        "BIGINTs. Scale: one expression pass computes all five "
        "indicators, a x5 UNION fan-out (map-side Expand, x388's "
        "shape), one rule groupBy",
)
def x426_filter_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bound arrays + rebalanced scan (HOF-lambda CSE trap on the
    # top-token transform -- see x381)
    t = rebalanced(docs).select("text", _toks("text").alias("__toks")).select(
        "text", "__toks", F.array_distinct("__toks").alias("__dtoks")
    )
    toks = F.col("__toks")
    dtoks = F.col("__dtoks")
    stop = list(text.LANG_STOPWORDS["en"])
    r = t.select(
        F.size(toks).alias("nw"),
        F.size(dtoks).alias("nd"),
        F.when(F.size(toks).between(30, 90), 1).otherwise(0).alias("k1"),
        F.when(
            (F.length(F.regexp_replace(F.col("text"), " ", ""))
             >= 4 * F.size(toks))
            & (F.length(F.regexp_replace(F.col("text"), " ", ""))
               <= 5 * F.size(toks)),
            1,
        )
        .otherwise(0)
        .alias("k2"),
        F.when(
            F.size(F.filter(dtoks, lambda t: t.isin(*stop))) >= 2, 1
        )
        .otherwise(0)
        .alias("k3"),
        F.when(5 * F.size(dtoks) > 3 * F.size(toks), 1)
        .otherwise(0)
        .alias("k4"),
        F.when(
            8
            * F.array_max(
                F.transform(
                    dtoks,
                    lambda t: F.size(F.filter(toks, lambda x: x == t)),
                )
            )
            <= F.size(toks),
            1,
        )
        .otherwise(0)
        .alias("k5"),
    )
    long = r.selectExpr(
        "nw",
        "nd",
        """stack(5,
           'word_count', k1, 'mean_word_len', k2, 'stopwords', k3,
           'dup_tokens', k4, 'top_token', k5) AS (rule, keep)""",
    )
    ttr8 = F.round(
        F.col("nd") / F.col("nw").cast("double"), 8
    ).cast("decimal(18,8)")
    return (
        long.groupBy("rule")
        .agg(
            F.sum("keep").cast("long").alias("docs_kept"),
            F.round(
                F.sum("keep") / F.count(F.lit(1)).cast("double"), 6
            ).alias("frac_docs"),
            F.round(
                F.sum(F.col("keep") * F.col("nw"))
                / F.sum("nw").cast("double"),
                6,
            ).alias("frac_tokens"),
            F.round(
                F.sum(F.when(F.col("keep") == 1, ttr8)).cast("double")
                / F.sum("keep"),
                6,
            ).alias("mean_ttr_survivors"),
        )
        .orderBy("rule")
    )


_X427_ORACLE = """
WITH seqs AS MATERIALIZED (
  SELECT user_id,
         array_agg(event_type ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
),
pre AS MATERIALIZED (
  SELECT user_id, t,
         list_transform(t, x -> list_filter(
           range(1, len(s) + 1), i -> s[i] = x)) AS ps
  FROM (SELECT user_id, s, list_distinct(s) AS t FROM seqs
        WHERE len(s) >= 3)
),
pre2 AS MATERIALIZED (
  SELECT user_id, t, ps,
         list_transform(ps, a -> list_min(a)) AS mins,
         list_transform(ps, a -> list_max(a)) AS maxs
  FROM pre
),
pats AS (
  SELECT user_id, unnest(pat_list) AS pat
  FROM (
    SELECT user_id,
           list_filter(
             flatten(list_transform(
               range(1, len(t) + 1),
               ai -> flatten(list_transform(
                 range(1, len(t) + 1),
                 bi -> list_transform(
                   range(1, len(t) + 1),
                   ci -> CASE WHEN len(list_filter(
                            ps[bi],
                            j -> j > mins[ai] AND j < maxs[ci])) > 0
                         THEN t[ai] || '>' || t[bi] || '>' || t[ci]
                         END))))),
             x -> x IS NOT NULL) AS pat_list
    FROM pre2
  )
)
SELECT pat AS pattern, CAST(count(*) AS BIGINT) AS support,
       ROUND(count(*) / CAST((SELECT count(*) FROM pre2)
         AS DOUBLE), 6) AS support_frac
FROM pats GROUP BY pat
ORDER BY support DESC, pattern LIMIT 15
"""


@register(
    "x427_frequent_subsequences",
    _X427_ORACLE,
    doc="frequent ORDERED SUBSEQUENCE mining (the PrefixSpan/SPAM "
        "family at depth 3): the top-15 non-contiguous event-type "
        "triples a<b<c by user support -- x107's trigrams require "
        "ADJACENCY; real behavioral motifs are interleaved with "
        "noise, and subsequence support is what sequential-pattern "
        "miners compute. Scale lessons measured and recorded: (1) "
        "naive expansion of all C(k,3) position triples cost 105 s "
        "at sf0.1 (k reaches 99 -> 156k strings per hot user); the "
        "5-type alphabet collapses it to the MIN-MID-MAX identity "
        "-- a>b>c occurs iff some b-position lies strictly between "
        "the FIRST a and the LAST c (the projection real PrefixSpan "
        "uses); (2) recomputing the position filters inside each of "
        "the 125 combo lambdas still cost 88 s -- per-type position "
        "arrays and their min/max MATERIALIZE AS COLUMNS once per "
        "user behind the checkpoint barrier (x408's HOF-reuse "
        "lesson), leaving O(|alphabet|^3) array lookups per row. "
        "Sequences build via array_sort(collect_list(struct)) "
        "(x157's declarative secondary sort); support exact; "
        "top-15 TakeOrdered with total (support, pattern) order",
)
def x427_frequent_subsequences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", "event_type")
                )
            ).alias("z")
        )
        .select(
            F.transform(F.col("z"), lambda r: r["event_type"]).alias("s"),
        )
        .filter(F.size("s") >= 3)
    )
    s = F.col("s")
    idx = F.sequence(F.lit(1), F.size(s))
    pre = seqs.select(
        F.array_distinct(s).alias("t"),
        F.transform(
            F.array_distinct(s),
            lambda x: F.filter(idx, lambda i: F.element_at(s, i) == x),
        ).alias("ps"),
    ).localCheckpoint(eager=False)
    pre2 = pre.select(
        "t",
        "ps",
        F.transform(F.col("ps"), F.array_min).alias("mins"),
        F.transform(F.col("ps"), F.array_max).alias("maxs"),
    ).localCheckpoint(eager=False)
    t, ps = F.col("t"), F.col("ps")
    mins, maxs = F.col("mins"), F.col("maxs")
    rng = F.sequence(F.lit(1), F.size(t))
    pat_list = F.filter(
        F.flatten(
            F.transform(
                rng,
                lambda ai: F.flatten(
                    F.transform(
                        rng,
                        lambda bi: F.transform(
                            rng,
                            lambda ci: F.when(
                                F.size(
                                    F.filter(
                                        F.element_at(ps, bi),
                                        lambda j: (
                                            j > F.element_at(mins, ai)
                                        )
                                        & (j < F.element_at(maxs, ci)),
                                    )
                                )
                                > 0,
                                F.concat_ws(
                                    ">",
                                    F.element_at(t, ai),
                                    F.element_at(t, bi),
                                    F.element_at(t, ci),
                                ),
                            ),
                        ),
                    )
                ),
            )
        ),
        lambda x: x.isNotNull(),
    )
    n_seqs = pre2.count()
    pats = pre2.select(F.explode(pat_list).alias("pattern"))
    return (
        pats.groupBy("pattern")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .select(
            "pattern",
            "support",
            F.round(F.col("support") / F.lit(float(n_seqs)), 6).alias(
                "support_frac"
            ),
        )
        .orderBy(F.col("support").desc(), "pattern")
        .limit(15)
    )


_X428_ORACLE = """
WITH fp AS (
  SELECT doc_id % 2 AS half,
         md5(array_to_string(list_sort(list_distinct(
           string_split(lower(text), ' '))), ' ')) AS h
  FROM documents
),
a AS (SELECT DISTINCT h FROM fp WHERE half = 0),
b AS (SELECT DISTINCT h FROM fp WHERE half = 1),
m AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
         (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
         (SELECT CAST(count(*) AS BIGINT)
          FROM a JOIN b ON a.h = b.h) AS n_ab,
         (SELECT CAST(count(DISTINCT h) AS BIGINT) FROM fp)
           AS true_distinct
)
SELECT n_a, n_b, n_ab, true_distinct,
       ROUND(CASE WHEN n_ab = 0 THEN NULL
             ELSE CAST(n_a AS DOUBLE) * n_b / n_ab END, 2)
         AS lincoln_petersen,
       ROUND((CAST(n_a + 1 AS DOUBLE) * (n_b + 1)) / (n_ab + 1) - 1,
             2) AS chapman,
       ROUND(((CAST(n_a + 1 AS DOUBLE) * (n_b + 1)) / (n_ab + 1) - 1
              - true_distinct) / true_distinct, 6)
         AS chapman_rel_error
FROM m
"""


@register(
    "x428_capture_recapture",
    _X428_ORACLE,
    doc="capture-recapture richness estimation (Lincoln-Petersen + "
        "the bias-corrected Chapman form) for the corpus's distinct "
        "content fingerprints: the even-doc_id half is capture 1, "
        "the odd half is capture 2, overlap = fingerprints seen in "
        "both, N-hat = nA*nB/nAB -- the TWO-SAMPLE estimator of "
        "unseen-population size beside x326's frequency-spectrum "
        "family (Chao1 needs the f1/f2 spectrum; capture-recapture "
        "needs only two independent samples -- the design you have "
        "when two crawls/snapshots exist), and because the full "
        "corpus is in hand the entry also emits the REALIZED "
        "relative error of the estimate -- the estimator and its "
        "honest report card in one row. LP is NULL at zero overlap "
        "(undefined -- the guard is semantics); Chapman is finite "
        "always. Exactness: distinct counts are md5-keyed exact "
        "BIGINTs, two divisions in fixed-order double. Scale: two "
        "hash-distinct aggregates + one key join -- x01's shapes",
)
def x428_capture_recapture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(_toks("text"))),
                " ",
            )
        ).alias("h"),
    ).localCheckpoint(eager=False)
    a = fp.filter(F.col("half") == 0).select("h").distinct()
    b = fp.filter(F.col("half") == 1).select("h").distinct()
    m = (
        a.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
        .crossJoin(
            F.broadcast(
                b.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
            )
        )
        .crossJoin(
            F.broadcast(
                a.join(b, "h").agg(
                    F.count(F.lit(1)).cast("long").alias("n_ab")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                fp.agg(
                    F.count_distinct("h").cast("long").alias(
                        "true_distinct"
                    )
                )
            )
        )
    )
    chapman = (
        (F.col("n_a") + 1).cast("double")
        * (F.col("n_b") + 1)
        / (F.col("n_ab") + 1)
        - 1
    )
    return m.select(
        "n_a",
        "n_b",
        "n_ab",
        "true_distinct",
        F.round(
            F.when(
                F.col("n_ab") > 0,
                F.col("n_a").cast("double")
                * F.col("n_b")
                / F.col("n_ab"),
            ),
            2,
        ).alias("lincoln_petersen"),
        F.round(chapman, 2).alias("chapman"),
        F.round(
            (chapman - F.col("true_distinct")) / F.col("true_distinct"),
            6,
        ).alias("chapman_rel_error"),
    )


_X429_ORACLE = """
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
dom AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT)
    AS pos
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(pos) AS BIGINT) AS np
  FROM dom
),
cum AS (
  -- predict positive when score >= s: counts at or above each s
  SELECT d.s,
         t.np - (SUM(d.pos) OVER (ORDER BY d.s) - d.pos) AS tp,
         (t.nn - t.np)
           - (SUM(d.n - d.pos) OVER (ORDER BY d.s)
              - (d.n - d.pos)) AS fp,
         t.np, t.nn
  FROM dom d CROSS JOIN tot t
),
costs AS (
  SELECT * FROM (VALUES (0.5), (1.0), (2.0), (5.0)) AS c(fp_cost)
),
evald AS (
  SELECT c.fp_cost, u.s,
         CAST(u.np - u.tp AS BIGINT) AS fn_cnt,
         CAST(u.fp AS BIGINT) AS fp_cnt,
         CAST(ROUND((u.np - u.tp) + c.fp_cost * u.fp, 4)
           AS DECIMAL(18,4)) AS cost
  FROM cum u CROSS JOIN costs c
),
best AS (
  SELECT fp_cost, MIN(cost) AS min_cost FROM evald GROUP BY 1
),
picked AS (
  -- coherent argmin: encode (threshold, fn, fp) into one integer so
  -- the tie-broken minimum is ONE row's tuple, not a mix of mins
  SELECT e.fp_cost, CAST(e.cost AS DOUBLE) AS expected_cost,
         MIN(e.s * 1000000000000 + e.fn_cnt * 1000000 + e.fp_cnt)
           AS enc
  FROM evald e JOIN best b
    ON e.fp_cost = b.fp_cost AND e.cost = b.min_cost
  GROUP BY 1, 2
)
SELECT fp_cost,
       CAST(enc // 1000000000000 AS BIGINT) AS best_threshold,
       expected_cost,
       CAST((enc // 1000000) %% 1000000 AS BIGINT) AS fn_at_best,
       CAST(enc %% 1000000 AS BIGINT) AS fp_at_best
FROM picked ORDER BY fp_cost
""" % _STOP_EN


@register(
    "x429_cost_optimal_threshold",
    _X429_ORACLE,
    doc="cost-sensitive operating-point selection for x349's scorer: "
        "for false-positive:false-negative cost ratios {0.5, 1, 2, "
        "5}, the threshold minimizing FN + c*FP over the FULL "
        "score domain (predict positive at score >= s), with the "
        "realized FN/FP at the optimum -- the DEPLOYMENT decision "
        "x350's sweep tabulates but never resolves and x349's AUC "
        "deliberately ignores (AUC is threshold-free; production "
        "is not: a spam filter at c=5 and a recall-critical "
        "contamination screen at c=0.5 pick DIFFERENT thresholds "
        "from the same scorer). Exactness: TP/FP at every "
        "threshold from exact cumulative counts over the bounded "
        "score domain (x349's contract), cost rounds 4 into "
        "DECIMAL so the argmin is engine-exact, ties -> min "
        "threshold. Scale: one corpus pass to the score domain; "
        "the cost sweep is a x4 VALUES fan-out over it",
)
def x429_cost_optimal_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    s_ = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        s_.alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    dom = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = dom.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("pos").cast("long").alias("np"),
    )
    w = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dom.crossJoin(F.broadcast(tot)).select(
        "s",
        "np",
        (
            F.col("np") - (F.sum("pos").over(w) - F.col("pos"))
        ).alias("tp"),
        (
            (F.col("nn") - F.col("np"))
            - (
                F.sum(F.col("n") - F.col("pos")).over(w)
                - (F.col("n") - F.col("pos"))
            )
        ).alias("fp"),
    )
    costs = spark.createDataFrame(
        [(0.5,), (1.0,), (2.0,), (5.0,)], "fp_cost double"
    )
    evald = cum.crossJoin(F.broadcast(costs)).select(
        "fp_cost",
        "s",
        (F.col("np") - F.col("tp")).cast("long").alias("fn_cnt"),
        F.col("fp").cast("long").alias("fp_cnt"),
        F.round(
            (F.col("np") - F.col("tp"))
            + F.col("fp_cost") * F.col("fp"),
            4,
        )
        .cast("decimal(18,4)")
        .alias("cost"),
    )
    best = evald.groupBy("fp_cost").agg(F.min("cost").alias("min_cost"))
    return (
        evald.join(
            best.select(
                F.col("fp_cost").alias("fp_cost2"), "min_cost"
            ),
            (F.col("fp_cost") == F.col("fp_cost2"))
            & (F.col("cost") == F.col("min_cost")),
        )
        .groupBy("fp_cost", "cost")
        .agg(
            F.min(
                F.col("s") * F.lit(1000000000000).cast("long")
                + F.col("fn_cnt") * 1000000
                + F.col("fp_cnt")
            ).alias("enc")
        )
        .select(
            "fp_cost",
            (F.col("enc") / F.lit(1000000000000))
            .cast("long")
            .alias("best_threshold"),
            F.col("cost").cast("double").alias("expected_cost"),
            ((F.col("enc") / 1000000) % 1000000)
            .cast("long")
            .alias("fn_at_best"),
            (F.col("enc") % 1000000).cast("long").alias("fp_at_best"),
        )
        .orderBy("fp_cost")
    )
