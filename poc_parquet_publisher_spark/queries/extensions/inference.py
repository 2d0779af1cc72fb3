"""Extension entries x430+: the round-7 inference-depth wave --
privacy distances, survival summaries, meta-analysis, sequential and
trend tests, inequality decompositions, lexical richness, and
embedding-geometry diagnostics a training-data pipeline's measurement
layer needs beyond the x381-x429 statistics wave.

Engine-exactness recipes follow the proven registry contracts
(SURVEY.md section 5.3): exact integer/DECIMAL accumulation wherever a
sum's addition order could drift, divisions in DOUBLE with fixed
operand order, ROUND before every emitted float, and bounded-domain
windows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...ops import graph
from ...scale import rebalanced
from ...ops.text import _toks
from .. import register


_X430_ORACLE = """
WITH b AS (
  SELECT lang, source, CAST(n_chars // 200 AS BIGINT) AS bucket
  FROM documents
),
dom AS (SELECT DISTINCT bucket FROM b),
m AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets FROM dom),
g AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS gn FROM b GROUP BY 1
),
gc AS (
  SELECT bucket,
         CAST(SUM(gn) OVER (ORDER BY bucket) AS DOUBLE)
           / (SELECT SUM(gn) FROM g) AS gp
  FROM g
),
cls AS (
  SELECT lang, source, bucket, CAST(count(*) AS BIGINT) AS cn
  FROM b GROUP BY 1, 2, 3
),
grid AS (
  SELECT k.lang, k.source, k.class_n, d.bucket,
         COALESCE(c.cn, 0) AS cn
  FROM (SELECT lang, source, CAST(count(*) AS BIGINT) AS class_n
        FROM b GROUP BY 1, 2) k
  CROSS JOIN dom d
  LEFT JOIN cls c
    ON c.lang = k.lang AND c.source = k.source AND c.bucket = d.bucket
),
cum AS (
  SELECT lang, source, class_n, bucket,
         CAST(SUM(cn) OVER (PARTITION BY lang, source
                            ORDER BY bucket) AS DOUBLE)
           / class_n AS cp
  FROM grid
),
terms AS (
  SELECT c.lang, c.source, c.class_n,
         CAST(ROUND(ABS(c.cp - g.gp), 12) AS DECIMAL(28,12)) AS term
  FROM cum c JOIN gc g USING (bucket)
)
SELECT lang, source, class_n,
       ROUND(CAST(SUM(term) AS DOUBLE)
             / ((SELECT n_buckets FROM m) - 1), 6) AS t_closeness
FROM terms
GROUP BY 1, 2, 3
ORDER BY 1, 2
"""


@register(
    "x430_t_closeness",
    _X430_ORACLE,
    doc="t-closeness privacy audit, the missing third leg of the "
        "anonymity family (x172 k-anonymity counts class sizes, x246 "
        "l-diversity counts distinct sensitive values; neither "
        "catches a class whose sensitive DISTRIBUTION is skewed): "
        "per quasi-identifier class (lang, source), the ordered "
        "earth-mover's distance between the class's sensitive-"
        "attribute distribution (n_chars bucketed by 200) and the "
        "global one -- for ordered attributes EMD is the mean "
        "absolute CDF gap, |cum_class - cum_global| averaged over "
        "bucket STEPS (m-1). Exactness: counts are exact BIGINTs, "
        "CDFs are per-row double divisions, and the per-bucket "
        "|gap| rounds to 12 into DECIMAL before the class sum so "
        "Spark's nondeterministic addition order cannot drift the "
        "hash. Scale: two groupBys on (class, bucket) grain + a "
        "class x bucket-domain grid (buckets are a bounded value "
        "domain, classes are the audit's output grain); windows "
        "ride the bucket domain only",
)
def x430_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "lang",
        "source",
        (F.col("n_chars") / 200).cast("long").alias("bucket"),
    )
    dom = b.select("bucket").distinct()
    m = dom.agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    g = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("gn"))
    n_total = g.agg(F.sum("gn").alias("nn"))
    w_b = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gc = (
        g.select("bucket", F.sum("gn").over(w_b).alias("gcum"))
        .crossJoin(F.broadcast(n_total))
        .select(
            "bucket",
            (F.col("gcum").cast("double") / F.col("nn")).alias("gp"),
        )
    )
    k = b.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("class_n")
    )
    cls = b.groupBy("lang", "source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cn")
    )
    grid = (
        k.crossJoin(F.broadcast(dom))
        .join(cls, ["lang", "source", "bucket"], "left")
        .select(
            "lang",
            "source",
            "class_n",
            "bucket",
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
    )
    w_c = (
        Window.partitionBy("lang", "source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "lang",
        "source",
        "class_n",
        "bucket",
        (F.sum("cn").over(w_c).cast("double") / F.col("class_n")).alias(
            "cp"
        ),
    )
    terms = cum.join(F.broadcast(gc), "bucket").select(
        "lang",
        "source",
        "class_n",
        F.round(F.abs(F.col("cp") - F.col("gp")), 12)
        .cast("decimal(28,12)")
        .alias("term"),
    )
    return (
        terms.groupBy("lang", "source", "class_n")
        .agg(F.sum("term").alias("s"))
        .crossJoin(F.broadcast(m))
        .select(
            "lang",
            "source",
            "class_n",
            F.round(
                F.col("s").cast("double") / (F.col("n_buckets") - 1), 6
            ).alias("t_closeness"),
        )
        .orderBy("lang", "source")
    )


_X431_ORACLE = """
WITH u AS (
  SELECT CAST((epoch_us(max(ts)) - epoch_us(min(ts)))
              // 3600000000 AS BIGINT) AS lt,
         max(ts) AS last_ts
  FROM events GROUP BY user_id
),
mx AS (SELECT max(ts) AS max_ts FROM events),
lab AS (
  SELECT u.lt,
         CASE WHEN epoch_us(mx.max_ts) - epoch_us(u.last_ts)
                   > 86400000000 THEN 1 ELSE 0 END AS observed
  FROM u CROSS JOIN mx
),
d AS (
  SELECT lt, CAST(SUM(observed) AS BIGINT) AS deaths,
         CAST(count(*) AS BIGINT) AS ending
  FROM lab GROUP BY 1
),
r AS (
  SELECT lt, deaths,
         CAST(SUM(ending) OVER (ORDER BY lt DESC) AS BIGINT) AS at_risk
  FROM d
),
k AS (
  SELECT lt, deaths, at_risk,
         CASE WHEN deaths = at_risk THEN 0.0
              ELSE ROUND(EXP(CAST(SUM(
                     CAST(ROUND(LN(1.0 - CAST(deaths AS DOUBLE)
                                      / at_risk), 12)
                          AS DECIMAL(28,12))
                   ) OVER (ORDER BY lt) AS DOUBLE)), 4) END AS surv
  FROM r WHERE deaths > 0
),
horizons AS (SELECT * FROM (VALUES (700), (720)) AS h(tau)),
-- step function: S(t) = surv of the LAST event time <= t; RMST is the
-- integral of the step function from 0 to tau
steps AS (
  SELECT h.tau, k.lt, k.surv,
         LAG(k.lt, 1, 0) OVER (PARTITION BY h.tau ORDER BY k.lt)
           AS prev_lt,
         LAG(k.surv, 1, 1.0) OVER (PARTITION BY h.tau ORDER BY k.lt)
           AS prev_surv
  FROM horizons h JOIN k ON k.lt <= h.tau
),
segs AS (
  SELECT tau,
         CAST(ROUND(prev_surv * (lt - prev_lt), 10)
              AS DECIMAL(28,10)) AS seg,
         lt, surv
  FROM steps
),
tail AS (
  SELECT s.tau,
         CAST(ROUND(t.surv * (s.tau - t.lt), 10) AS DECIMAL(28,10))
           AS seg
  FROM horizons s
  JOIN (SELECT tau, max(lt) AS mlt FROM steps GROUP BY 1) mm
    ON mm.tau = s.tau
  JOIN steps t ON t.tau = s.tau AND t.lt = mm.mlt
),
allsegs AS (
  SELECT tau, seg FROM segs
  UNION ALL SELECT tau, seg FROM tail
)
SELECT tau AS horizon_hours,
       ROUND(CAST(SUM(seg) AS DOUBLE), 4) AS rmst_hours,
       CAST(count(*) - 1 AS BIGINT) AS n_steps
FROM allsegs GROUP BY 1 ORDER BY 1
"""


@register(
    "x431_rmst",
    _X431_ORACLE,
    doc="restricted mean survival time: the integral of x305's "
        "Kaplan-Meier curve up to horizons tau in {700h, 720h} (the corpus spans ~30 days; a week-scale tau would see no deaths) -- the "
        "ONE-NUMBER survival summary a retention report actually "
        "ships (mean hours of user lifetime observed within the "
        "window; x305 gives the whole curve, x368/x370 give hazards "
        "and comparisons, none integrates). Same lifetime/censoring "
        "construction as x305 (user lifespan in hours, censored if "
        "active within 24h of corpus end), same engine-exact "
        "survival recipe (log-sum in rounded DECIMAL, exp, round 4); "
        "the integral is a sum of step areas prev_surv*(t_i - "
        "t_{i-1}) rounded to 10 into DECIMAL -- addition-order "
        "independent. Scale: one user groupBy, then all windows "
        "ride the distinct-event-time domain (bounded); horizons "
        "are a x2 VALUES fan-out",
)
def x431_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"), F.min("ts").alias("first_ts")
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
    term = F.round(
        F.log(
            F.lit(1.0) - F.col("deaths").cast("double") / F.col("at_risk")
        ),
        12,
    ).cast("decimal(28,12)")
    w_cum = Window.orderBy("lt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    k = r.filter(F.col("deaths") > 0).select(
        "lt",
        F.when(F.col("deaths") == F.col("at_risk"), F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum(term).over(w_cum).cast("double")), 4)
        )
        .alias("surv"),
    )
    horizons = spark.createDataFrame([(700,), (720,)], "tau int")
    w_tau = Window.partitionBy("tau").orderBy("lt")
    steps = (
        F.broadcast(horizons)
        .join(k, k["lt"] <= F.col("tau"))
        .select(
            "tau",
            "lt",
            "surv",
            F.lag("lt", 1, 0).over(w_tau).alias("prev_lt"),
            F.lag("surv", 1, 1.0).over(w_tau).alias("prev_surv"),
        )
    )
    segs = steps.select(
        "tau",
        F.round(
            F.col("prev_surv") * (F.col("lt") - F.col("prev_lt")), 10
        )
        .cast("decimal(28,10)")
        .alias("seg"),
    )
    last = steps.groupBy("tau").agg(F.max("lt").alias("mlt"))
    tail = (
        last.join(
            steps.select("tau", "lt", "surv"),
            (last["tau"] == steps["tau"]) & (steps["lt"] == last["mlt"]),
        )
        .select(
            last["tau"].alias("tau"),
            F.round(F.col("surv") * (last["tau"] - F.col("lt")), 10)
            .cast("decimal(28,10)")
            .alias("seg"),
        )
    )
    return (
        segs.unionByName(tail)
        .groupBy("tau")
        .agg(
            F.round(F.sum("seg").cast("double"), 4).alias("rmst_hours"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_steps"),
        )
        .select(
            F.col("tau").alias("horizon_hours"), "rmst_hours", "n_steps"
        )
        .orderBy("horizon_hours")
    )


_X432_ORACLE = """
WITH e AS (
  SELECT event_type AS stratum,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events
),
s AS (
  SELECT stratum, t,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(vc) AS BIGINT) AS sv,
         CAST(SUM(vc * vc) AS BIGINT) AS sv2
  FROM e GROUP BY 1, 2
),
p AS (
  SELECT t1.stratum,
         t1.n AS n1, t0.n AS n0,
         CAST(t1.sv AS DOUBLE) / t1.n / 100 AS m1,
         CAST(t0.sv AS DOUBLE) / t0.n / 100 AS m0,
         (CAST(t1.sv2 AS DOUBLE) - CAST(t1.sv AS DOUBLE) * t1.sv / t1.n)
           / (t1.n - 1) / 10000 AS v1,
         (CAST(t0.sv2 AS DOUBLE) - CAST(t0.sv AS DOUBLE) * t0.sv / t0.n)
           / (t0.n - 1) / 10000 AS v0
  FROM (SELECT * FROM s WHERE t = 1) t1
  JOIN (SELECT * FROM s WHERE t = 0) t0 USING (stratum)
),
eff AS (
  SELECT stratum, n1, n0,
         ROUND(m1 - m0, 10) AS effect,
         ROUND(v1 / n1 + v0 / n0, 12) AS var_d
  FROM p
),
wsum AS (
  SELECT CAST(SUM(CAST(ROUND(1.0 / var_d, 8) AS DECIMAL(28,8)))
           AS DOUBLE) AS sw,
         CAST(SUM(CAST(ROUND(effect / var_d, 8) AS DECIMAL(28,8)))
           AS DOUBLE) AS swd,
         CAST(count(*) AS BIGINT) AS k
  FROM eff
),
pooled AS (
  SELECT sw, swd, k, swd / sw AS pooled_effect FROM wsum
),
q AS (
  SELECT CAST(SUM(CAST(ROUND(
           (e.effect - p.pooled_effect)
             * (e.effect - p.pooled_effect) / e.var_d, 8)
           AS DECIMAL(28,8))) AS DOUBLE) AS q_stat
  FROM eff e CROSS JOIN pooled p
)
SELECT e.stratum, e.n1, e.n0,
       ROUND(e.effect, 6) AS effect,
       ROUND(SQRT(e.var_d), 6) AS se,
       ROUND(1.0 / e.var_d / p.sw, 6) AS weight_frac,
       ROUND(p.pooled_effect, 6) AS pooled_effect,
       ROUND(SQRT(1.0 / p.sw), 6) AS pooled_se,
       ROUND(q.q_stat, 6) AS q_stat,
       ROUND(GREATEST(0.0, (q.q_stat - (p.k - 1)) / q.q_stat), 6)
         AS i_squared
FROM eff e CROSS JOIN pooled p CROSS JOIN q
ORDER BY e.stratum
"""


@register(
    "x432_meta_fixed_effect",
    _X432_ORACLE,
    doc="fixed-effect (inverse-variance) meta-analysis of the "
        "treatment effect across event-type strata, with Cochran's Q "
        "and I-squared heterogeneity: x303/x125 estimate ONE lift, "
        "x318 warns that pooling can invert it (Simpson), x385 pools "
        "odds ratios for BINARY outcomes -- this is the continuous-"
        "outcome pooling with the heterogeneity report that says "
        "whether pooling was legitimate (I2 > 0.75 means the strata "
        "disagree and the pooled number is fiction). Per stratum: "
        "effect = mean diff (treated = even user_id), var from exact "
        "cent-integer sums; weights 1/var; pooled = sum(w*d)/sum(w); "
        "Q = sum(w*(d-pooled)^2); I2 = max(0,(Q-(k-1))/Q). Weighted "
        "sums round to 8 into DECIMAL pre-sum (order-independent). "
        "Scale: one (stratum, arm) groupBy -- everything after is "
        "stratum-domain algebra",
)
def x432_meta_fixed_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("stratum"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    s = e.groupBy("stratum", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vc").cast("long").alias("sv"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("sv2"),
    )
    t1 = s.filter(F.col("t") == 1).select(
        "stratum",
        F.col("n").alias("n1"),
        F.col("sv").alias("sv1"),
        F.col("sv2").alias("sv21"),
    )
    t0 = s.filter(F.col("t") == 0).select(
        "stratum",
        F.col("n").alias("n0"),
        F.col("sv").alias("sv0"),
        F.col("sv2").alias("sv20"),
    )
    p = t1.join(t0, "stratum").select(
        "stratum",
        "n1",
        "n0",
        (F.col("sv1").cast("double") / F.col("n1") / 100).alias("m1"),
        (F.col("sv0").cast("double") / F.col("n0") / 100).alias("m0"),
        (
            (
                F.col("sv21").cast("double")
                - F.col("sv1").cast("double")
                * F.col("sv1")
                / F.col("n1")
            )
            / (F.col("n1") - 1)
            / 10000
        ).alias("v1"),
        (
            (
                F.col("sv20").cast("double")
                - F.col("sv0").cast("double")
                * F.col("sv0")
                / F.col("n0")
            )
            / (F.col("n0") - 1)
            / 10000
        ).alias("v0"),
    )
    eff = p.select(
        "stratum",
        "n1",
        "n0",
        F.round(F.col("m1") - F.col("m0"), 10).alias("effect"),
        F.round(
            F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0"), 12
        ).alias("var_d"),
    ).localCheckpoint(eager=False)
    wsum = eff.agg(
        F.sum(
            F.round(F.lit(1.0) / F.col("var_d"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("sw"),
        F.sum(
            F.round(F.col("effect") / F.col("var_d"), 8).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("swd"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    pooled = wsum.select(
        "sw", "k", (F.col("swd") / F.col("sw")).alias("pooled_effect")
    )
    q = (
        eff.crossJoin(F.broadcast(pooled))
        .select(
            F.round(
                (F.col("effect") - F.col("pooled_effect"))
                * (F.col("effect") - F.col("pooled_effect"))
                / F.col("var_d"),
                8,
            )
            .cast("decimal(28,8)")
            .alias("qt")
        )
        .agg(F.sum("qt").cast("double").alias("q_stat"))
    )
    return (
        eff.crossJoin(F.broadcast(pooled))
        .crossJoin(F.broadcast(q))
        .select(
            "stratum",
            "n1",
            "n0",
            F.round("effect", 6).alias("effect"),
            F.round(F.sqrt("var_d"), 6).alias("se"),
            F.round(F.lit(1.0) / F.col("var_d") / F.col("sw"), 6).alias(
                "weight_frac"
            ),
            F.round("pooled_effect", 6).alias("pooled_effect"),
            F.round(F.sqrt(F.lit(1.0) / F.col("sw")), 6).alias(
                "pooled_se"
            ),
            F.round("q_stat", 6).alias("q_stat"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    (F.col("q_stat") - (F.col("k") - 1))
                    / F.col("q_stat"),
                ),
                6,
            ).alias("i_squared"),
        )
        .orderBy("stratum")
    )


_X433_ORACLE = """
WITH d AS (
  SELECT LEAST(CAST(n_chars // 500 AS BIGINT), 3) AS g,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
grp AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS r
  FROM d GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
         CAST(SUM(g * r) AS BIGINT) AS sgr,
         CAST(SUM(g * n) AS BIGINT) AS sgn,
         CAST(SUM(g * g * n) AS BIGINT) AS sg2n
  FROM grp
)
SELECT nn AS n, rr AS successes,
       ROUND(
         (CAST(sgr AS DOUBLE) - CAST(rr AS DOUBLE) * sgn / nn)
         / SQRT(
             (CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn)
             * (CAST(sg2n AS DOUBLE) - CAST(sgn AS DOUBLE) * sgn / nn)
           ),
         6) AS z_trend,
       CASE WHEN ABS(
         (CAST(sgr AS DOUBLE) - CAST(rr AS DOUBLE) * sgn / nn)
         / SQRT(
             (CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn)
             * (CAST(sg2n AS DOUBLE) - CAST(sgn AS DOUBLE) * sgn / nn)
           )) > 1.959963984540054 THEN true ELSE false END
         AS reject_5pct
FROM tot
"""


@register(
    "x433_cochran_armitage",
    _X433_ORACLE,
    doc="Cochran-Armitage trend test: is the en-share MONOTONE in "
        "document length? x148's chi-square only says 'associated', "
        "burning power on non-ordered alternatives; CA spends all "
        "its power on the linear-in-dose direction (dose = length "
        "bucket 0..3 at 500 chars, scores = bucket index), the test "
        "a curation team reaches for when a quality gate is "
        "suspected of drifting with length. Z = (sum(g*r) - "
        "R*sum(g*n)/N) / sqrt(p(1-p)*(sum(g^2 n) - (sum(g n))^2/N)) "
        "entirely from exact integer moments in ONE groupBy + one "
        "fixed-order double expression; reject flag at |z| > "
        "z_{0.975} (p-values need erf, which the engines do not "
        "share -- the z and the decision are the portable outputs). "
        "Scale: one pass, 4-row aggregate domain",
)
def x433_cochran_armitage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.least((F.col("n_chars") / 500).cast("long"), F.lit(3)).alias(
            "g"
        ),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    grp = d.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("r"),
    )
    tot = grp.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("g") * F.col("r")).cast("long").alias("sgr"),
        F.sum(F.col("g") * F.col("n")).cast("long").alias("sgn"),
        F.sum(F.col("g") * F.col("g") * F.col("n"))
        .cast("long")
        .alias("sg2n"),
    )
    z = (
        F.col("sgr").cast("double")
        - F.col("rr").cast("double") * F.col("sgn") / F.col("nn")
    ) / F.sqrt(
        (F.col("rr").cast("double") / F.col("nn"))
        * (F.lit(1.0) - F.col("rr").cast("double") / F.col("nn"))
        * (
            F.col("sg2n").cast("double")
            - F.col("sgn").cast("double") * F.col("sgn") / F.col("nn")
        )
    )
    return tot.select(
        F.col("nn").alias("n"),
        F.col("rr").alias("successes"),
        F.round(z, 6).alias("z_trend"),
        (F.abs(z) > F.lit(1.959963984540054)).alias("reject_5pct"),
    )


_X434_ORACLE = """
WITH tot AS (
  SELECT CAST(max(event_id) + 1 AS BIGINT) AS nn FROM events
),
e AS (
  SELECT CAST(e.event_id * 4 // t.nn AS BIGINT) AS b,
         CASE WHEN e.user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         CAST(ROUND(e.value * 100) AS BIGINT) AS vc
  FROM events e CROSS JOIN tot t
),
s AS (
  SELECT b, t, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(vc) AS BIGINT) AS sv,
         CAST(SUM(vc * vc) AS BIGINT) AS sv2
  FROM e GROUP BY 1, 2
),
cum AS (
  SELECT b, t,
         CAST(SUM(n) OVER (PARTITION BY t ORDER BY b) AS BIGINT) AS n,
         CAST(SUM(sv) OVER (PARTITION BY t ORDER BY b) AS BIGINT) AS sv,
         CAST(SUM(sv2) OVER (PARTITION BY t ORDER BY b) AS BIGINT) AS sv2
  FROM s
),
chk AS (
  SELECT c1.b + 1 AS checkpoint,
         c1.n AS n1, c0.n AS n0,
         ROUND(CAST(c1.sv AS DOUBLE) / c1.n / 100
               - CAST(c0.sv AS DOUBLE) / c0.n / 100, 10) AS d,
         ROUND(
           ((CAST(c1.sv2 AS DOUBLE)
             - CAST(c1.sv AS DOUBLE) * c1.sv / c1.n)
            / (c1.n - 1) / 10000) / c1.n
           + ((CAST(c0.sv2 AS DOUBLE)
               - CAST(c0.sv AS DOUBLE) * c0.sv / c0.n)
              / (c0.n - 1) / 10000) / c0.n, 12) AS v
  FROM (SELECT * FROM cum WHERE t = 1) c1
  JOIN (SELECT * FROM cum WHERE t = 0) c0 USING (b)
),
lam AS (
  SELECT checkpoint, n1, n0, d, v,
         ROUND(0.5 * LN(v / (v + 0.25))
               + d * d * 0.25 / (2.0 * v * (v + 0.25)), 6)
           AS log_lambda
  FROM chk
)
SELECT checkpoint, n1, n0,
       ROUND(d, 6) AS effect,
       log_lambda,
       ROUND(LEAST(1.0, EXP(-log_lambda)), 6) AS p_always_valid,
       ROUND(MIN(LEAST(1.0, EXP(-log_lambda)))
             OVER (ORDER BY checkpoint), 6) AS p_running_min
FROM lam ORDER BY checkpoint
"""


@register(
    "x434_msprt",
    _X434_ORACLE,
    doc="mixture sequential probability ratio test (always-valid "
        "inference) on the running A/B stream: at interim checkpoints "
        "(event-stream quarters by event_id), the normal-mixture "
        "(tau^2 = 0.25) log likelihood ratio for the treated-vs-"
        "control value difference, its always-valid p = min(1, "
        "1/Lambda), and the running-min p that stays valid under "
        "CONTINUOUS monitoring -- the modern industry alternative to "
        "x421's O'Brien-Fleming fixed-look boundaries (OBF prices K "
        "planned looks; mSPRT licenses peeking at EVERY event). "
        "Exactness: quarter buckets b = id*4//N are integer-exact, "
        "per-(bucket, arm) moments are exact cent-integer sums, the "
        "cumulative-to-checkpoint step is a window over the 4-row "
        "bucket domain, ln/exp round to 6. Scale: ONE corpus pass "
        "(no x4 re-scan -- checkpoint cumulation happens on the "
        "16-row aggregate), then 4-row algebra",
)
def x434_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    tot = ev.agg((F.max("event_id") + 1).cast("long").alias("nn"))
    e = ev.crossJoin(F.broadcast(tot)).select(
        (F.col("event_id") * 4 / F.col("nn"))
        .cast("long")
        .alias("b"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    s = e.groupBy("b", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vc").cast("long").alias("sv"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("sv2"),
    )
    w = (
        Window.partitionBy("t")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = s.select(
        "b",
        "t",
        F.sum("n").over(w).cast("long").alias("n"),
        F.sum("sv").over(w).cast("long").alias("sv"),
        F.sum("sv2").over(w).cast("long").alias("sv2"),
    )
    c1 = cum.filter(F.col("t") == 1).select(
        "b",
        F.col("n").alias("n1"),
        F.col("sv").alias("sv1"),
        F.col("sv2").alias("sv21"),
    )
    c0 = cum.filter(F.col("t") == 0).select(
        "b",
        F.col("n").alias("n0"),
        F.col("sv").alias("sv0"),
        F.col("sv2").alias("sv20"),
    )
    var1 = (
        (
            F.col("sv21").cast("double")
            - F.col("sv1").cast("double") * F.col("sv1") / F.col("n1")
        )
        / (F.col("n1") - 1)
        / 10000
    )
    var0 = (
        (
            F.col("sv20").cast("double")
            - F.col("sv0").cast("double") * F.col("sv0") / F.col("n0")
        )
        / (F.col("n0") - 1)
        / 10000
    )
    chk = c1.join(c0, "b").select(
        (F.col("b") + 1).alias("checkpoint"),
        "n1",
        "n0",
        F.round(
            F.col("sv1").cast("double") / F.col("n1") / 100
            - F.col("sv0").cast("double") / F.col("n0") / 100,
            10,
        ).alias("d"),
        F.round(var1 / F.col("n1") + var0 / F.col("n0"), 12).alias("v"),
    )
    lam = chk.select(
        "checkpoint",
        "n1",
        "n0",
        "d",
        "v",
        F.round(
            F.lit(0.5) * F.log(F.col("v") / (F.col("v") + 0.25))
            + F.col("d")
            * F.col("d")
            * 0.25
            / (F.lit(2.0) * F.col("v") * (F.col("v") + 0.25)),
            6,
        ).alias("log_lambda"),
    )
    w_run = Window.orderBy("checkpoint").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = F.round(F.least(F.lit(1.0), F.exp(-F.col("log_lambda"))), 6)
    return lam.select(
        "checkpoint",
        "n1",
        "n0",
        F.round("d", 6).alias("effect"),
        "log_lambda",
        p.alias("p_always_valid"),
        F.round(F.min(p).over(w_run), 6).alias("p_running_min"),
    ).orderBy("checkpoint")


_X435_ORACLE = """
WITH cov AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           AS BIGINT) AS views,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS spend_c
  FROM events GROUP BY 1
),
u AS (
  SELECT LEAST(views // 5, 4) AS stratum,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         spend_c
  FROM cov
),
s AS (
  SELECT stratum, t, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(spend_c) AS BIGINT) AS sv
  FROM u GROUP BY 1, 2
),
p AS (
  SELECT s1.stratum, s1.n AS n_treated, s0.n AS n_control,
         ROUND(CAST(s1.sv AS DOUBLE) / s1.n / 100, 6) AS y_treated,
         ROUND(CAST(s0.sv AS DOUBLE) / s0.n / 100, 6) AS y_control,
         ROUND(CAST(s1.sv AS DOUBLE) / s1.n / 100
               - CAST(s0.sv AS DOUBLE) / s0.n / 100, 10) AS diff
  FROM (SELECT * FROM s WHERE t = 1) s1
  JOIN (SELECT * FROM s WHERE t = 0) s0 USING (stratum)
),
nt AS (SELECT CAST(SUM(n_treated) AS BIGINT) AS total_t FROM p),
att AS (
  SELECT CAST(SUM(CAST(ROUND(
           p.diff * p.n_treated / nt.total_t, 10)
           AS DECIMAL(28,10))) AS DOUBLE) AS att
  FROM p CROSS JOIN nt
)
SELECT p.stratum, p.n_treated, p.n_control,
       p.y_treated, p.y_control,
       ROUND(p.diff, 6) AS diff,
       ROUND(CAST(p.n_treated AS DOUBLE) / nt.total_t, 6)
         AS weight,
       ROUND(att.att, 6) AS att
FROM p CROSS JOIN nt CROSS JOIN att
ORDER BY p.stratum
"""


@register(
    "x435_propensity_stratified_att",
    _X435_ORACLE,
    doc="stratified average treatment effect on the treated: users "
        "are binned on their PRE-EXPOSURE activity (view count, "
        "fixed-width bins capped at 5 strata -- the deterministic "
        "stand-in for propensity quintiles; fixed-width beats NTILE "
        "here because it needs no user-cardinality window), within "
        "each stratum the treated-minus-control purchase spend diff, "
        "ATT = sum of diffs weighted by each stratum's treated share "
        "(strata missing an arm carry no counterfactual and drop via "
        "the inner join -- the common-support restriction) "
        "-- the confounder-adjusted effect x303's raw uplift and "
        "x358's CUPED (variance only) do not give; beside x418 "
        "(time confounding) and x422 (pre-segment HTE) this closes "
        "the covariate-stratification leg of the causal family. "
        "Exactness: per-(stratum, arm) exact cent sums; the weighted "
        "ATT sum rounds to 10 into DECIMAL pre-sum. Scale: one user "
        "groupBy + one (stratum, arm) groupBy; strata algebra is a "
        "5-row domain",
)
def x435_propensity_stratified_att(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cov = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        )
        .cast("long")
        .alias("views"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("spend_c"),
    )
    u = cov.select(
        F.least((F.col("views") / 5).cast("long"), F.lit(4)).alias(
            "stratum"
        ),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("t"),
        "spend_c",
    )
    s = u.groupBy("stratum", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("spend_c").cast("long").alias("sv"),
    )
    s1 = s.filter(F.col("t") == 1).select(
        "stratum", F.col("n").alias("n_treated"), F.col("sv").alias("sv1")
    )
    s0 = s.filter(F.col("t") == 0).select(
        "stratum", F.col("n").alias("n_control"), F.col("sv").alias("sv0")
    )
    p = s1.join(s0, "stratum").select(
        "stratum",
        "n_treated",
        "n_control",
        F.round(
            F.col("sv1").cast("double") / F.col("n_treated") / 100, 6
        ).alias("y_treated"),
        F.round(
            F.col("sv0").cast("double") / F.col("n_control") / 100, 6
        ).alias("y_control"),
        F.round(
            F.col("sv1").cast("double") / F.col("n_treated") / 100
            - F.col("sv0").cast("double") / F.col("n_control") / 100,
            10,
        ).alias("diff"),
    ).localCheckpoint(eager=False)
    nt = p.agg(F.sum("n_treated").cast("long").alias("total_t"))
    att = (
        p.crossJoin(F.broadcast(nt))
        .select(
            F.round(
                F.col("diff") * F.col("n_treated") / F.col("total_t"),
                10,
            )
            .cast("decimal(28,10)")
            .alias("term")
        )
        .agg(F.sum("term").cast("double").alias("att"))
    )
    return (
        p.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(att))
        .select(
            "stratum",
            "n_treated",
            "n_control",
            "y_treated",
            "y_control",
            F.round("diff", 6).alias("diff"),
            F.round(
                F.col("n_treated").cast("double") / F.col("total_t"), 6
            ).alias("weight"),
            F.round("att", 6).alias("att"),
        )
        .orderBy("stratum")
    )


_X436_ORACLE = """
WITH d AS (
  SELECT source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x
  FROM documents
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS sx
  FROM d
),
src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ns,
         CAST(SUM(x) AS BIGINT) AS sxs
  FROM d GROUP BY 1
),
within AS (
  SELECT d.source,
         CAST(SUM(CAST(ROUND(
           (CAST(d.x AS DOUBLE) / (CAST(s.sxs AS DOUBLE) / s.ns))
             * LN(CAST(d.x AS DOUBLE) / (CAST(s.sxs AS DOUBLE) / s.ns)),
           10) AS DECIMAL(28,10))) AS DOUBLE) / max(s.ns) AS theil_s
  FROM d JOIN src s USING (source)
  GROUP BY 1
),
gtot AS (
  SELECT CAST(SUM(CAST(ROUND(
           (CAST(d.x AS DOUBLE) / (CAST(t.sx AS DOUBLE) / t.nn))
             * LN(CAST(d.x AS DOUBLE) / (CAST(t.sx AS DOUBLE) / t.nn)),
           10) AS DECIMAL(28,10))) AS DOUBLE)
           / max(t.nn) AS theil_total
  FROM d CROSS JOIN tot t
)
SELECT s.source, s.ns AS n_docs,
       ROUND(CAST(s.sxs AS DOUBLE) / s.ns, 6) AS mean_tokens,
       ROUND(w.theil_s, 6) AS theil_within_source,
       ROUND((CAST(s.ns AS DOUBLE) / t.nn)
             * ((CAST(s.sxs AS DOUBLE) / s.ns)
                / (CAST(t.sx AS DOUBLE) / t.nn))
             * w.theil_s, 6) AS within_component,
       ROUND((CAST(s.ns AS DOUBLE) / t.nn)
             * ((CAST(s.sxs AS DOUBLE) / s.ns)
                / (CAST(t.sx AS DOUBLE) / t.nn))
             * LN((CAST(s.sxs AS DOUBLE) / s.ns)
                  / (CAST(t.sx AS DOUBLE) / t.nn)), 6)
         AS between_component,
       ROUND(g.theil_total, 6) AS theil_total
FROM src s
JOIN within w USING (source)
CROSS JOIN tot t CROSS JOIN gtot g
ORDER BY s.source
"""


@register(
    "x436_theil_decomposition",
    _X436_ORACLE,
    doc="Theil-T inequality decomposition of per-document token "
        "counts across sources: total corpus inequality splits "
        "EXACTLY into within-source + between-source components "
        "(T = sum_s share_s*mu_ratio_s*T_s + "
        "sum_s share_s*mu_ratio_s*ln(mu_ratio_s)) -- the additive "
        "decomposability x183's HHI and x108's Gini lack, answering "
        "'is token-budget inequality a between-source mix problem "
        "(reweight sources) or a within-source length problem "
        "(chunk/filter docs)?' -- two different curation fixes. "
        "Token counts are never 0 (the [''] tokenizer invariant), so "
        "x*ln(x) is total. Exactness: means from exact BIGINT sums; "
        "each x*ln(x/mu) term rounds to 10 into DECIMAL pre-sum. "
        "Scale: one doc-grain pass + one source groupBy; the "
        "decomposition identity is pinned by the replay test",
)
def x436_theil_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(_toks("text")).cast("long").alias("x"),
    ).localCheckpoint(eager=False)
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("x").cast("long").alias("sx"),
    )
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("x").cast("long").alias("sxs"),
    )
    mu_s = F.col("sxs").cast("double") / F.col("ns")
    within = (
        d.join(F.broadcast(src), "source")
        .select(
            "source",
            "ns",
            F.round(
                (F.col("x").cast("double") / mu_s)
                * F.log(F.col("x").cast("double") / mu_s),
                10,
            )
            .cast("decimal(28,10)")
            .alias("term"),
        )
        .groupBy("source")
        .agg(
            (F.sum("term").cast("double") / F.max("ns")).alias("theil_s")
        )
    )
    mu_g = F.col("sx").cast("double") / F.col("nn")
    glob = (
        d.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("x").cast("double") / mu_g)
                * F.log(F.col("x").cast("double") / mu_g),
                10,
            )
            .cast("decimal(28,10)")
            .alias("term"),
            "nn",
        )
        .agg(
            (F.sum("term").cast("double") / F.max("nn")).alias(
                "theil_total"
            )
        )
    )
    share = F.col("ns").cast("double") / F.col("nn")
    mu_ratio = (F.col("sxs").cast("double") / F.col("ns")) / (
        F.col("sx").cast("double") / F.col("nn")
    )
    return (
        src.join(within, "source")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(glob))
        .select(
            "source",
            F.col("ns").alias("n_docs"),
            F.round(F.col("sxs").cast("double") / F.col("ns"), 6).alias(
                "mean_tokens"
            ),
            F.round("theil_s", 6).alias("theil_within_source"),
            F.round(share * mu_ratio * F.col("theil_s"), 6).alias(
                "within_component"
            ),
            F.round(share * mu_ratio * F.log(mu_ratio), 6).alias(
                "between_component"
            ),
            F.round("theil_total", 6).alias("theil_total"),
        )
        .orderBy("source")
    )


_X437_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
f AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
),
spec AS (
  SELECT lang,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS v,
         CAST(SUM(c * c) AS BIGINT) AS sc2,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS scc1
  FROM f GROUP BY 1
)
SELECT lang, n AS n_tokens, v AS v_types,
       ROUND(10000.0 * (CAST(sc2 AS DOUBLE) - n) / (CAST(n AS DOUBLE) * n),
             6) AS yule_k,
       ROUND(CAST(scc1 AS DOUBLE)
             / (CAST(n AS DOUBLE) * (n - 1)), 8) AS simpson_d,
       ROUND(LN(CAST(v AS DOUBLE)) / LN(CAST(n AS DOUBLE)), 6)
         AS herdan_c
FROM spec ORDER BY lang
"""


@register(
    "x437_yule_richness",
    _X437_ORACLE,
    doc="classical lexical-richness constants per language: Yule's K "
        "= 10^4*(sum(c^2)-N)/N^2 (repeat-rate, the LENGTH-INVARIANT "
        "richness measure -- x397's MATTR windows to get invariance, "
        "K has it analytically), Simpson's D = sum(c(c-1))/(N(N-1)) "
        "(probability two random tokens coincide), and Herdan's C = "
        "ln V/ln N (the log-log type-token slope x86's growth curve "
        "plots pointwise) -- three one-number profiles that flag "
        "template/boilerplate corpora (high K/D) before a tokenizer "
        "is trained on them. Exactness: every moment is an exact "
        "BIGINT off ONE (lang, token) hash-groupBy; each constant is "
        "a single fixed-order double expression. Scale: the x87 "
        "profile -- token groupBy with map-side partial agg, then a "
        "per-lang rollup",
)
def x437_yule_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(_toks("text")).alias("w"))
    f = tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    spec = f.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("scc1"),
    )
    return spec.select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("v_types"),
        F.round(
            F.lit(10000.0)
            * (F.col("sc2").cast("double") - F.col("n"))
            / (F.col("n").cast("double") * F.col("n")),
            6,
        ).alias("yule_k"),
        F.round(
            F.col("scc1").cast("double")
            / (F.col("n").cast("double") * (F.col("n") - 1)),
            8,
        ).alias("simpson_d"),
        F.round(
            F.log(F.col("v").cast("double"))
            / F.log(F.col("n").cast("double")),
            6,
        ).alias("herdan_c"),
    ).orderBy("lang")


_X438_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
s AS (
  SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v[1:d.dim], c.v[1:d.dim])
               / (sqrt(list_dot_product(q.v[1:d.dim], q.v[1:d.dim]))
                  * sqrt(list_dot_product(c.v[1:d.dim], c.v[1:d.dim]))),
               6) AS sim
  FROM dims d
  CROSS JOIN (SELECT * FROM e WHERE vec_id < 20) q
  JOIN e c ON c.vec_id != q.vec_id
),
top AS (
  SELECT dim, query_id, neighbor_id,
         row_number() OVER (PARTITION BY dim, query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM s
),
t10 AS (SELECT * FROM top WHERE rnk <= 10),
base AS (SELECT query_id, neighbor_id FROM t10 WHERE dim = 64),
hits AS (
  SELECT t.dim, t.query_id, CAST(count(*) AS BIGINT) AS h
  FROM t10 t JOIN base b USING (query_id, neighbor_id)
  GROUP BY 1, 2
),
grid AS (
  SELECT d.dim, q.query_id
  FROM dims d CROSS JOIN (SELECT DISTINCT query_id FROM t10) q
)
SELECT g.dim,
       CAST(count(*) AS BIGINT) AS n_queries,
       ROUND(CAST(SUM(COALESCE(h.h, 0)) AS DOUBLE)
             / (10.0 * count(*)), 4) AS mean_recall,
       ROUND(CAST(MIN(COALESCE(h.h, 0)) AS DOUBLE) / 10.0, 4)
         AS min_recall
FROM grid g LEFT JOIN hits h ON h.dim = g.dim AND h.query_id = g.query_id
GROUP BY 1 ORDER BY 1
"""


@register(
    "x438_matryoshka_recall",
    _X438_ORACLE,
    doc="dimension-truncation recall curve (the Matryoshka/MRL "
        "deployment question): for prefix dims {8, 16, 32, 64}, the "
        "exact cosine top-10 of the 20 query vectors under TRUNCATED "
        "embeddings, scored as recall against the full-dim top-10 -- "
        "how many index bytes a vector store can drop before ANN "
        "quality visibly decays, the capacity/recall trade x94's "
        "scalar quantization prices in BITS and this prices in DIMS. "
        "The 64-dim row is the self-recall 1.0 sanity anchor (pinned "
        "in the replay test). Exactness: sims round to 6 (x333's "
        "BLAS-vs-fold contract) and ranks tie-break on neighbor_id. "
        "Scale: query side broadcast as a numpy matrix, corpus "
        "streams through Arrow-batch BLAS (similarity.pairwise_sims) "
        "once PER DIM tier; ranking windows ride (dim, query) "
        "partitions -- never the corpus",
)
def x438_matryoshka_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from ...ops import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    parts = []
    for d in (8, 16, 32, 64):
        t = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("v")
        )
        q = t.filter(F.col("vec_id") < 20)
        sims = similarity.pairwise_sims(
            t,
            q,
            vec_col="v",
            stream_id_out="neighbor_id",
            broadcast_id_out="query_id",
        ).filter(F.col("query_id") != F.col("neighbor_id"))
        parts.append(sims.withColumn("dim", F.lit(d)))
    allsims = parts[0]
    for p in parts[1:]:
        allsims = allsims.unionByName(p)
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("sim"), "neighbor_id"
    )
    t10 = (
        allsims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("dim", "query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    base = t10.filter(F.col("dim") == 64).select(
        "query_id", "neighbor_id"
    )
    hits = (
        t10.join(base, ["query_id", "neighbor_id"])
        .groupBy("dim", "query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("h"))
    )
    dims_df = spark.createDataFrame([(8,), (16,), (32,), (64,)], "dim int")
    grid = F.broadcast(dims_df).crossJoin(
        t10.select("query_id").distinct()
    )
    return (
        grid.join(hits, ["dim", "query_id"], "left")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(
                F.sum(F.coalesce("h", F.lit(0))).cast("double")
                / (F.lit(10.0) * F.count(F.lit(1))),
                4,
            ).alias("mean_recall"),
            F.round(
                F.min(F.coalesce("h", F.lit(0))).cast("double") / 10.0, 4
            ).alias("min_recall"),
        )
        .orderBy("dim")
    )


_X439_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 5 = 0
),
s AS (
  SELECT a.vec_id AS pid,
         ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM e a JOIN e b ON a.vec_id != b.vec_id
),
r AS (
  SELECT pid, sim,
         row_number() OVER (PARTITION BY pid ORDER BY sim DESC) AS rnk
  FROM s
),
p AS (
  SELECT pid,
         MAX(CASE WHEN rnk = 1 THEN sim END) AS c1,
         MAX(CASE WHEN rnk = 2 THEN sim END) AS c2
  FROM r GROUP BY 1
),
t AS (
  SELECT pid,
         CAST(ROUND(0.5 * LN((1.0 - c2) / (1.0 - c1)), 10)
              AS DECIMAL(28,10)) AS term
  FROM p WHERE c1 < 1.0
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_points,
       CAST(count(*) AS BIGINT) AS n_used,
       ROUND(CAST(SUM(term) AS DOUBLE), 6) AS sum_log_mu,
       ROUND(count(*) / CAST(SUM(term) AS DOUBLE), 4) AS twonn_dim
FROM t
"""


@register(
    "x439_twonn_intrinsic_dim",
    _X439_ORACLE,
    doc="TwoNN intrinsic dimensionality of the embedding corpus "
        "(Facco et al.'s two-nearest-neighbor MLE): d-hat = n / "
        "sum(ln mu_i) with mu_i = r2/r1, estimated on the angular "
        "metric of unit-normalized vectors where r^2 = 2(1 - cos) "
        "makes ln mu = 0.5*ln((1-c2)/(1-c1)) -- only the top-2 "
        "COSINE neighbors are needed, no distances materialized. "
        "The number says how many of the 64 ambient dims the data "
        "actually occupies -- the manifold reality check behind "
        "x364's PCA spectrum (variance mass) and x438's truncation "
        "curve (what you lose cutting dims): if d-hat << 64, "
        "truncation is safe BY GEOMETRY. Deterministic 1-in-5 id "
        "subsample; exact-duplicate neighbors (c1 = 1) are excluded "
        "(mu undefined); ln terms round 10 into DECIMAL. Scale: "
        "sample broadcast as the query matrix, Arrow-batch BLAS "
        "scoring (x333's path), top-2 via (point)-partitioned "
        "window over sample-sized rows",
)
def x439_twonn_intrinsic_dim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from ...ops import similarity

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    )
    sims = similarity.pairwise_sims(
        emb,
        emb,
        vec_col="embedding",
        stream_id_out="other_id",
        broadcast_id_out="pid",
    ).filter(F.col("pid") != F.col("other_id"))
    w = Window.partitionBy("pid").orderBy(F.desc("sim"))
    p = (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .groupBy("pid")
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("sim"))).alias("c1"),
            F.max(F.when(F.col("rnk") == 2, F.col("sim"))).alias("c2"),
        )
        .localCheckpoint(eager=False)
    )
    n_points = p.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    t = p.filter(F.col("c1") < 1.0).select(
        F.round(
            F.lit(0.5)
            * F.log(
                (F.lit(1.0) - F.col("c2")) / (F.lit(1.0) - F.col("c1"))
            ),
            10,
        )
        .cast("decimal(28,10)")
        .alias("term")
    )
    return (
        t.agg(
            F.count(F.lit(1)).cast("long").alias("n_used"),
            F.sum("term").cast("double").alias("s"),
        )
        .crossJoin(F.broadcast(n_points))
        .select(
            "n_points",
            "n_used",
            F.round("s", 6).alias("sum_log_mu"),
            F.round(F.col("n_used") / F.col("s"), 4).alias("twonn_dim"),
        )
    )


_X440_ORACLE = """
WITH tot AS (
  SELECT CAST(max(doc_id) + 1 AS BIGINT) AS nn FROM documents
),
h AS (
  SELECT CAST(d.doc_id * 10 // t.nn AS BIGINT) AS b,
         md5(lower(d.text)) AS hh
  FROM documents d CROSS JOIN tot t
),
firstb AS (
  SELECT hh, CAST(MIN(b) AS BIGINT) AS fb FROM h GROUP BY 1
),
newc AS (
  SELECT fb AS b, CAST(count(*) AS BIGINT) AS new_distinct
  FROM firstb GROUP BY 1
),
docs AS (
  SELECT b, CAST(count(*) AS BIGINT) AS docs FROM h GROUP BY 1
),
cur AS (
  SELECT d.b, d.docs, COALESCE(n.new_distinct, 0) AS new_distinct
  FROM docs d LEFT JOIN newc n ON n.b = d.b
)
SELECT b AS batch, docs, new_distinct,
       CAST(SUM(new_distinct) OVER (ORDER BY b) AS BIGINT)
         AS cum_distinct,
       ROUND(CAST(new_distinct AS DOUBLE) / docs, 6)
         AS marginal_new_frac,
       ROUND(CAST(SUM(new_distinct) OVER (ORDER BY b) AS DOUBLE)
             / SUM(docs) OVER (ORDER BY b), 6) AS cum_unique_frac
FROM cur ORDER BY batch
"""


@register(
    "x440_dedup_saturation",
    _X440_ORACLE,
    doc="dedup saturation curve: the corpus replayed as 10 ingest "
        "batches (doc_id decile buckets -- ids are arrival-ordered), "
        "per batch the NEVER-SEEN-BEFORE distinct-content count, its "
        "marginal new fraction, and the cumulative unique fraction "
        "-- the curve that says when continued crawling of a source "
        "stops yielding new content (x60 measures dup rate per "
        "source, x162 cumulative audience; neither gives the "
        "marginal-yield-over-INGEST-TIME shape capacity planning "
        "needs, and it is the observable x295's incremental index "
        "sizes follow in production). Exactness: one md5 "
        "hash-groupBy to each hash's first batch (exact MIN), then "
        "10-row batch-domain algebra; cumulative windows ride the "
        "batch domain. Scale: x01's dedup shape -- a single "
        "hash-partitioned groupBy, no pairwise anything",
)
def x440_dedup_saturation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg((F.max("doc_id") + 1).cast("long").alias("nn"))
    h = docs.crossJoin(F.broadcast(tot)).select(
        (F.col("doc_id") * 10 / F.col("nn")).cast("long").alias("b"),
        F.md5(F.lower("text")).alias("hh"),
    )
    firstb = h.groupBy("hh").agg(F.min("b").cast("long").alias("fb"))
    newc = firstb.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("new_distinct")
    )
    d = h.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("docs"))
    cur = d.join(newc, "b", "left").select(
        "b",
        "docs",
        F.coalesce("new_distinct", F.lit(0)).alias("new_distinct"),
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cur.select(
        F.col("b").alias("batch"),
        "docs",
        "new_distinct",
        F.sum("new_distinct").over(w).cast("long").alias("cum_distinct"),
        F.round(
            F.col("new_distinct").cast("double") / F.col("docs"), 6
        ).alias("marginal_new_frac"),
        F.round(
            F.sum("new_distinct").over(w).cast("double")
            / F.sum("docs").over(w),
            6,
        ).alias("cum_unique_frac"),
    ).orderBy("batch")


_X441_ORACLE = """
WITH v AS (
  SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
        + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
        + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
        + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
        + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) AS x,
         doc_id
  FROM (SELECT md5(lower(text)) AS h, doc_id FROM documents)
),
u AS (
  SELECT CAST(x AS DOUBLE) / 4294967296.0 AS u,
         row_number() OVER (ORDER BY CAST(x AS DOUBLE) / 4294967296.0,
                            doc_id) AS i
  FROM v
),
n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM u),
terms AS (
  SELECT CAST(ROUND((2.0 * u.i - 1) * LN(u.u)
              + (2.0 * (n.nn - u.i) + 1) * LN(1.0 - u.u), 10)
         AS DECIMAL(28,10)) AS term,
         GREATEST(CAST(u.i AS DOUBLE) / n.nn - u.u,
                  u.u - (CAST(u.i AS DOUBLE) - 1) / n.nn) AS ks_term
  FROM u CROSS JOIN n
)
SELECT n.nn AS n,
       ROUND(-CAST(n.nn AS DOUBLE)
             - CAST(SUM(t.term) AS DOUBLE) / n.nn, 4) AS ad_stat,
       ROUND(MAX(t.ks_term), 6) AS ks_d,
       ROUND(SQRT(CAST(n.nn AS DOUBLE)) * MAX(t.ks_term), 4)
         AS ks_scaled,
       (-CAST(n.nn AS DOUBLE) - CAST(SUM(t.term) AS DOUBLE) / n.nn)
         > 2.492 AS ad_reject_5pct,
       SQRT(CAST(n.nn AS DOUBLE)) * MAX(t.ks_term) > 1.358
         AS ks_reject_5pct
FROM terms t CROSS JOIN n GROUP BY n.nn
"""


@register(
    "x441_fingerprint_uniformity",
    _X441_ORACLE,
    doc="hash-uniformity audit: Anderson-Darling and Kolmogorov-"
        "Smirnov one-sample tests that the 32-bit prefix of the "
        "content md5, scaled to u in [0,1), is uniform -- the "
        "statistical guarantee every hash-partitioned operation in "
        "this repo leans on (x01's dedup groupBy, x118's salting, "
        "x316's rendezvous sharding all assume it; x108 measures "
        "REALIZED key skew, this tests the hash function itself, "
        "tail-sensitive where x108's Gini is not -- AD weights the "
        "tails by 1/(F(1-F))). Global ranks come from scale.py's "
        "two-pass prefix-sum row-number, NEVER a SinglePartition "
        "window (x90's gate); the portable hex decode is strpos "
        "position math on the DuckDB side (x312's recipe) and "
        "conv() on Spark's. AD terms round 10 into DECIMAL pre-sum; "
        "KS is a pure max (selection, not accumulation -- no order "
        "sensitivity). Rejection flags at asymptotic 5% criticals "
        "(AD 2.492, scaled KS 1.358)",
)
def x441_fingerprint_uniformity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...scale import prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        (
            F.conv(
                F.substring(F.md5(F.lower("text")), 1, 8), 16, 10
            ).cast("long")
            / F.lit(4294967296.0)
        ).alias("u"),
        "doc_id",
        F.lit(1).alias("one"),
    )
    ranked = prefix_sum(
        base, [F.col("u"), F.col("doc_id")], "one", out_col="i"
    )
    n = ranked.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    terms = ranked.crossJoin(F.broadcast(n)).select(
        F.round(
            (2.0 * F.col("i") - 1) * F.log("u")
            + (2.0 * (F.col("nn") - F.col("i")) + 1)
            * F.log(F.lit(1.0) - F.col("u")),
            10,
        )
        .cast("decimal(28,10)")
        .alias("term"),
        F.greatest(
            F.col("i").cast("double") / F.col("nn") - F.col("u"),
            F.col("u") - (F.col("i").cast("double") - 1) / F.col("nn"),
        ).alias("ks_term"),
        "nn",
    )
    ad = -F.col("nn").cast("double") - F.col("s").cast(
        "double"
    ) / F.col("nn")
    ks_scaled = F.sqrt(F.col("nn").cast("double")) * F.col("mx")
    return (
        terms.groupBy("nn")
        .agg(
            F.sum("term").alias("s"),
            F.max("ks_term").alias("mx"),
        )
        .select(
            F.col("nn").alias("n"),
            F.round(ad, 4).alias("ad_stat"),
            F.round(F.col("mx"), 6).alias("ks_d"),
            F.round(ks_scaled, 4).alias("ks_scaled"),
            (ad > 2.492).alias("ad_reject_5pct"),
            (ks_scaled > 1.358).alias("ks_reject_5pct"),
        )
    )


from ...ops.text import LANG_STOPWORDS as _LS

_STOP_EN_INF = ", ".join(f"'{w}'" for w in _LS["en"])

_X442_ORACLE = """
WITH d AS (
  SELECT doc_id %% 5 AS fold,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(FLOOR(ROUND(CAST(len(list_filter(string_split(lower(text),
                ' '), t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4) * 10000 + 0.5)
           AS BIGINT) AS sa,
         CAST(FLOOR(ROUND(CAST(len(list_distinct(string_split(lower(text),
                ' '))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4) * 10000 + 0.5)
           AS BIGINT) AS sb
  FROM documents
),
ranked AS (
  SELECT fold, scorer, s,
         CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(2 * (SUM(count(*)) OVER (PARTITION BY fold, scorer
                                       ORDER BY s) - count(*))
              + count(*) + 1 AS BIGINT) AS midrank2
  FROM (
    SELECT fold, y, 'a' AS scorer, sa AS s FROM d
    UNION ALL
    SELECT fold, y, 'b' AS scorer, sb AS s FROM d
  ) GROUP BY fold, scorer, s
),
auc AS (
  SELECT fold, scorer,
         CAST(SUM(pos) AS BIGINT) AS n1,
         CAST(SUM(n - pos) AS BIGINT) AS n0,
         CAST(SUM(pos * midrank2) AS BIGINT) AS r2
  FROM ranked GROUP BY 1, 2
),
a AS (
  SELECT fold, scorer,
         (CAST(r2 AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2)
           / (CAST(n1 AS DOUBLE) * n0) AS auc
  FROM auc
),
p AS (
  SELECT aa.fold, aa.auc AS auc_a, bb.auc AS auc_b,
         ROUND(aa.auc - bb.auc, 10) AS diff
  FROM (SELECT * FROM a WHERE scorer = 'a') aa
  JOIN (SELECT * FROM a WHERE scorer = 'b') bb USING (fold)
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(diff, 10) AS DECIMAL(28,10))) AS DOUBLE)
           AS sd1,
         CAST(SUM(CAST(ROUND(diff * diff, 12) AS DECIMAL(28,12)))
           AS DOUBLE) AS sd2
  FROM p
),
t AS (
  SELECT k, sd1 / k AS mean_diff,
         SQRT((sd2 - sd1 * sd1 / k) / (k - 1)) AS sd
  FROM m
)
SELECT p.fold,
       ROUND(p.auc_a, 6) AS auc_a,
       ROUND(p.auc_b, 6) AS auc_b,
       ROUND(p.diff, 6) AS diff,
       ROUND(t.mean_diff / (t.sd / SQRT(CAST(t.k AS DOUBLE))), 4)
         AS t_stat,
       ABS(t.mean_diff / (t.sd / SQRT(CAST(t.k AS DOUBLE)))) > 2.776445
         AS reject_5pct
FROM p CROSS JOIN t ORDER BY p.fold
""" % _STOP_EN_INF


@register(
    "x442_kfold_paired_ttest",
    _X442_ORACLE,
    doc="k-fold paired scorer comparison: per deterministic fold "
        "(doc_id mod 5), the tie-corrected Mann-Whitney AUC of two "
        "en-detectors (stop-ratio vs type-token ratio), then the "
        "paired t over the 5 fold-wise AUC differences (df=4) -- the "
        "MODEL-COMPARISON inference x409 (one scorer's fold "
        "stability) and x349 (one global AUC) stop short of: "
        "'scorer A beats B' needs the fold pairing to cancel "
        "fold-difficulty variance, the standard Dietterich setup. "
        "Exactness: AUC from integer midranks x2 (2*cum_below+n+1 "
        "stays integral through ties), fold diffs round-10 into "
        "DECIMAL for mean/sd; reject at |t| > t_{0.975,4}. Scale: "
        "ONE corpus pass to the (fold, scorer, score) domain (the "
        "scorer axis is a x2 stack), midranks ride bounded "
        "score-domain windows, t is 5-row algebra",
)
def x442_kfold_paired_ttest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from ...ops import text

    docs = load_table(spark, sf_dir, "documents")
    toks = _toks("text")
    sa = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    sb = F.floor(
        F.round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks),
            4,
        )
        * 10000
        + F.lit(0.5)
    ).cast("long")
    d = docs.select(
        (F.col("doc_id") % 5).alias("fold"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        sa.alias("sa"),
        sb.alias("sb"),
    )
    stacked = d.select(
        "fold", "y", F.lit("a").alias("scorer"), F.col("sa").alias("s")
    ).unionByName(
        d.select(
            "fold",
            "y",
            F.lit("b").alias("scorer"),
            F.col("sb").alias("s"),
        )
    )
    dom = stacked.groupBy("fold", "scorer", "s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = (
        Window.partitionBy("fold", "scorer")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = dom.select(
        "fold",
        "scorer",
        "n",
        "pos",
        (
            2 * (F.sum("n").over(w) - F.col("n")) + F.col("n") + 1
        )
        .cast("long")
        .alias("midrank2"),
    )
    auc = ranked.groupBy("fold", "scorer").agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum(F.col("n") - F.col("pos")).cast("long").alias("n0"),
        F.sum(F.col("pos") * F.col("midrank2"))
        .cast("long")
        .alias("r2"),
    )
    a = auc.select(
        "fold",
        "scorer",
        (
            (
                F.col("r2").cast("double") / 2
                - F.col("n1").cast("double") * (F.col("n1") + 1) / 2
            )
            / (F.col("n1").cast("double") * F.col("n0"))
        ).alias("auc"),
    )
    pa = a.filter(F.col("scorer") == "a").select(
        "fold", F.col("auc").alias("auc_a")
    )
    pb = a.filter(F.col("scorer") == "b").select(
        "fold", F.col("auc").alias("auc_b")
    )
    p = pa.join(pb, "fold").select(
        "fold",
        "auc_a",
        "auc_b",
        F.round(F.col("auc_a") - F.col("auc_b"), 10).alias("diff"),
    ).localCheckpoint(eager=False)
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.round("diff", 10).cast("decimal(28,10)"))
        .cast("double")
        .alias("sd1"),
        F.sum(
            F.round(F.col("diff") * F.col("diff"), 12).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sd2"),
    )
    t = m.select(
        "k",
        (F.col("sd1") / F.col("k")).alias("mean_diff"),
        F.sqrt(
            (F.col("sd2") - F.col("sd1") * F.col("sd1") / F.col("k"))
            / (F.col("k") - 1)
        ).alias("sd"),
    )
    tstat = F.col("mean_diff") / (
        F.col("sd") / F.sqrt(F.col("k").cast("double"))
    )
    return (
        p.crossJoin(F.broadcast(t))
        .select(
            "fold",
            F.round("auc_a", 6).alias("auc_a"),
            F.round("auc_b", 6).alias("auc_b"),
            F.round("diff", 6).alias("diff"),
            F.round(tstat, 4).alias("t_stat"),
            (F.abs(tstat) > 2.776445).alias("reject_5pct"),
        )
        .orderBy("fold")
    )


_X443_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS yc,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           AS BIGINT) AS x
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(yc) AS BIGINT) AS sy,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(yc * yc) AS BIGINT) AS syy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(yc * x) AS BIGINT) AS sxy
  FROM u
),
s AS (
  SELECT n,
         CAST(sy AS DOUBLE) / 100 / n AS my,
         CAST(sx AS DOUBLE) / n AS mx,
         (CAST(syy AS DOUBLE) / 10000
          - CAST(sy AS DOUBLE) / 100 * sy / 100 / n) / (n - 1) AS vy,
         (CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS vx,
         (CAST(sxy AS DOUBLE) / 100
          - CAST(sy AS DOUBLE) / 100 * sx / n) / (n - 1) AS cxy
  FROM m
),
r AS (
  SELECT n, my / mx AS ratio,
         SQRT((vy - 2 * (my / mx) * cxy + (my / mx) * (my / mx) * vx)
              / n) / mx AS se_delta,
         SQRT(vy / n) / mx AS se_naive
  FROM s
)
SELECT n AS n_users,
       ROUND(ratio, 6) AS ratio,
       ROUND(se_delta, 6) AS se_delta,
       ROUND(se_naive, 6) AS se_naive,
       ROUND(ratio - 1.959964 * se_delta, 6) AS ci_lo,
       ROUND(ratio + 1.959964 * se_delta, 6) AS ci_hi
FROM r
"""


@register(
    "x443_ratio_delta_ci",
    _X443_ORACLE,
    doc="delta-method confidence interval for a RATIO metric "
        "(purchase cents per click, user as the iid unit): "
        "var(Y-bar/X-bar) ~= (vy - 2R cxy + R^2 vx) / (n mx^2) -- "
        "the analytic CI every per-session/per-click KPI needs "
        "because the naive se (treating the denominator as fixed) "
        "is also emitted and is visibly WRONG when X and Y "
        "covary, the exact trap x320's jackknife brute-forces and "
        "this solves in closed form. All five moments are exact "
        "integer sums off ONE user groupBy; the delta expression is "
        "fixed-order double algebra. Scale: one groupBy + 1-row "
        "algebra -- nothing else",
)
def x443_ratio_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("yc"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("long")
        .alias("x"),
    )
    m = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yc").cast("long").alias("sy"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("yc") * F.col("yc")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("yc") * F.col("x")).cast("long").alias("sxy"),
    )
    my = F.col("sy").cast("double") / 100 / F.col("n")
    mx = F.col("sx").cast("double") / F.col("n")
    vy = (
        F.col("syy").cast("double") / 10000
        - F.col("sy").cast("double") / 100 * F.col("sy") / 100 / F.col("n")
    ) / (F.col("n") - 1)
    vx = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    ) / (F.col("n") - 1)
    cxy = (
        F.col("sxy").cast("double") / 100
        - F.col("sy").cast("double") / 100 * F.col("sx") / F.col("n")
    ) / (F.col("n") - 1)
    s = m.select(
        "n",
        my.alias("my"),
        mx.alias("mx"),
        vy.alias("vy"),
        vx.alias("vx"),
        cxy.alias("cxy"),
    )
    ratio = F.col("my") / F.col("mx")
    se_delta = (
        F.sqrt(
            (
                F.col("vy")
                - 2 * ratio * F.col("cxy")
                + ratio * ratio * F.col("vx")
            )
            / F.col("n")
        )
        / F.col("mx")
    )
    se_naive = F.sqrt(F.col("vy") / F.col("n")) / F.col("mx")
    return s.select(
        F.col("n").alias("n_users"),
        F.round(ratio, 6).alias("ratio"),
        F.round(se_delta, 6).alias("se_delta"),
        F.round(se_naive, 6).alias("se_naive"),
        F.round(ratio - 1.959964 * se_delta, 6).alias("ci_lo"),
        F.round(ratio + 1.959964 * se_delta, 6).alias("ci_hi"),
    )


_X444_ORACLE = """
WITH e AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events
),
s AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(vc) AS BIGINT) AS sv,
         CAST(SUM(vc * vc) AS BIGINT) AS sv2
  FROM e GROUP BY 1
),
p AS (
  SELECT t1.n AS n1, t0.n AS n0,
         CAST(t1.sv AS DOUBLE) / t1.n / 100 AS m1,
         CAST(t0.sv AS DOUBLE) / t0.n / 100 AS m0,
         (CAST(t1.sv2 AS DOUBLE) - CAST(t1.sv AS DOUBLE) * t1.sv / t1.n)
           / (t1.n - 1) / 10000 AS v1,
         (CAST(t0.sv2 AS DOUBLE) - CAST(t0.sv AS DOUBLE) * t0.sv / t0.n)
           / (t0.n - 1) / 10000 AS v0
  FROM (SELECT * FROM s WHERE t = 1) t1
  CROSS JOIN (SELECT * FROM s WHERE t = 0) t0
),
g AS (
  SELECT n1, n0, m1, m0,
         (m1 - m0) / SQRT(((n1 - 1) * v1 + (n0 - 1) * v0)
                          / (n1 + n0 - 2)) AS d,
         1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0) AS j
  FROM p
)
SELECT n1, n0,
       ROUND(m1 - m0, 6) AS mean_diff,
       ROUND(d, 6) AS cohens_d,
       ROUND(d * j, 6) AS hedges_g,
       ROUND(SQRT((CAST(n1 + n0 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * n0)
                  + (d * j) * (d * j) / (2.0 * (n1 + n0))) * j, 6)
         AS se_g,
       ROUND(d * j - 1.959964
             * SQRT((CAST(n1 + n0 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * n0)
                    + (d * j) * (d * j) / (2.0 * (n1 + n0))) * j, 6)
         AS ci_lo,
       ROUND(d * j + 1.959964
             * SQRT((CAST(n1 + n0 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * n0)
                    + (d * j) * (d * j) / (2.0 * (n1 + n0))) * j, 6)
         AS ci_hi
FROM g
"""


@register(
    "x444_hedges_g",
    _X444_ORACLE,
    doc="standardized effect size with small-sample correction: "
        "Cohen's d (pooled-SD mean difference), Hedges' g = J*d with "
        "J = 1 - 3/(4N-9), its approximate se and 95%% CI -- the "
        "MAGNITUDE report a significance test omits (x286's Welch t "
        "says 'nonzero', x400's Cliff's delta ranks without units; g "
        "is what meta-analyses like x432 consume as input when "
        "strata report on different scales). Exactness: both arms' "
        "moments are exact cent-integer sums off one (arm) groupBy; "
        "d, J, se are one fixed-order double expression each. "
        "Scale: one pass, 2-row aggregate domain",
)
def x444_hedges_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    s = e.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vc").cast("long").alias("sv"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("sv2"),
    )
    t1 = s.filter(F.col("t") == 1).select(
        F.col("n").alias("n1"),
        F.col("sv").alias("sv1"),
        F.col("sv2").alias("sv21"),
    )
    t0 = s.filter(F.col("t") == 0).select(
        F.col("n").alias("n0"),
        F.col("sv").alias("sv0"),
        F.col("sv2").alias("sv20"),
    )
    m1 = F.col("sv1").cast("double") / F.col("n1") / 100
    m0 = F.col("sv0").cast("double") / F.col("n0") / 100
    v1 = (
        (
            F.col("sv21").cast("double")
            - F.col("sv1").cast("double") * F.col("sv1") / F.col("n1")
        )
        / (F.col("n1") - 1)
        / 10000
    )
    v0 = (
        (
            F.col("sv20").cast("double")
            - F.col("sv0").cast("double") * F.col("sv0") / F.col("n0")
        )
        / (F.col("n0") - 1)
        / 10000
    )
    p = t1.crossJoin(F.broadcast(t0)).select(
        "n1",
        "n0",
        m1.alias("m1"),
        m0.alias("m0"),
        v1.alias("v1"),
        v0.alias("v0"),
    )
    d = (F.col("m1") - F.col("m0")) / F.sqrt(
        ((F.col("n1") - 1) * F.col("v1") + (F.col("n0") - 1) * F.col("v0"))
        / (F.col("n1") + F.col("n0") - 2)
    )
    j = F.lit(1.0) - 3.0 / (4.0 * (F.col("n1") + F.col("n0")) - 9.0)
    g = d * j
    se = (
        F.sqrt(
            (F.col("n1") + F.col("n0")).cast("double")
            / (F.col("n1").cast("double") * F.col("n0"))
            + g * g / (2.0 * (F.col("n1") + F.col("n0")))
        )
        * j
    )
    return p.select(
        "n1",
        "n0",
        F.round(F.col("m1") - F.col("m0"), 6).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(g, 6).alias("hedges_g"),
        F.round(se, 6).alias("se_g"),
        F.round(g - 1.959964 * se, 6).alias("ci_lo"),
        F.round(g + 1.959964 * se, 6).alias("ci_hi"),
    )


_X445_ORACLE = """
WITH e AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events WHERE event_type IN ('click', 'error')
),
dom AS (
  SELECT vc, grp, CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
),
tot AS (
  SELECT vc,
         CAST(SUM(n) AS BIGINT) AS n_all
  FROM dom GROUP BY 1
),
comb AS (
  SELECT vc,
         CAST(2 * (SUM(n_all) OVER (ORDER BY vc) - n_all) + n_all + 1
           AS BIGINT) AS a2  -- 2x combined midrank
  FROM tot
),
within AS (
  SELECT vc, grp, n,
         CAST(2 * (SUM(n) OVER (PARTITION BY grp ORDER BY vc) - n)
              + n + 1 AS BIGINT) AS b2  -- 2x within-group midrank
  FROM dom
),
sizes AS (
  SELECT grp, CAST(SUM(n) AS BIGINT) AS ng FROM dom GROUP BY 1
),
means AS (
  SELECT w.grp,
         CAST(SUM(w.n * c.a2) AS BIGINT) AS sa2,
         max(s.ng) AS ng
  FROM within w JOIN comb c USING (vc) JOIN sizes s ON s.grp = w.grp
  GROUP BY 1
),
m AS (
  SELECT grp, ng, CAST(sa2 AS DOUBLE) / (2.0 * ng) AS mbar FROM means
),
vparts AS (
  SELECT w.grp,
         CAST(SUM(CAST(ROUND(w.n * ((c.a2 - w.b2) / 2.0
                 - m.mbar + (m.ng + 1) / 2.0)
               * ((c.a2 - w.b2) / 2.0 - m.mbar + (m.ng + 1) / 2.0),
               8) AS DECIMAL(28,8))) AS DOUBLE)
           / (max(m.ng) - 1) AS s2,
         max(m.ng) AS ng, max(m.mbar) AS mbar
  FROM within w JOIN comb c USING (vc) JOIN m ON m.grp = w.grp
  GROUP BY 1
),
fin AS (
  SELECT g1.ng AS n_click, g0.ng AS n_error,
         (g1.mbar - (g1.ng + 1) / 2.0) / g0.ng AS p_hat,
         CAST(g1.ng AS DOUBLE) * g0.ng * (g1.mbar - g0.mbar)
           / ((g1.ng + g0.ng)
              * SQRT(g1.ng * g1.s2 + g0.ng * g0.s2)) AS w,
         (g1.ng * g1.s2 + g0.ng * g0.s2)
           * (g1.ng * g1.s2 + g0.ng * g0.s2)
           / ((g1.ng * g1.s2) * (g1.ng * g1.s2) / (g1.ng - 1)
              + (g0.ng * g0.s2) * (g0.ng * g0.s2) / (g0.ng - 1)) AS df
  FROM (SELECT * FROM vparts WHERE grp = 1) g1
  CROSS JOIN (SELECT * FROM vparts WHERE grp = 0) g0
)
SELECT n_click, n_error,
       ROUND(p_hat, 6) AS p_hat,
       ROUND(w, 4) AS w_stat,
       ROUND(df, 2) AS df,
       ABS(w) > 1.959964 AS reject_5pct_normal
FROM fin
"""


@register(
    "x445_brunner_munzel",
    _X445_ORACLE,
    doc="Brunner-Munzel rank test for P(click value > error value) "
        "!= 1/2 -- the robust two-sample TEST completing the trio: "
        "x286's Welch assumes normal-ish means, x400's Cliff's delta "
        "is the effect size with no inference, BM tests the "
        "stochastic-superiority hypothesis WITHOUT equal-variance or "
        "shape assumptions (the recommended replacement for "
        "Mann-Whitney under heteroscedasticity). Everything derives "
        "from the bounded cent-value domain: combined and "
        "within-group midranks as x2-scaled INTEGERS (2*cum+n+1) off "
        "one (value, group) groupBy, variance terms round-8 into "
        "DECIMAL, Satterthwaite df emitted, reject at the normal "
        "approximation (|W| > z_{0.975}; exact small-sample BM needs "
        "a permutation engine). Scale: one pass to the value domain; "
        "windows ride it; no row-level ranking anywhere",
)
def x445_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    e = ev.select(
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
            "grp"
        ),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    dom = e.groupBy("vc", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    tot = dom.groupBy("vc").agg(F.sum("n").cast("long").alias("n_all"))
    w_all = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    comb = tot.select(
        "vc",
        (
            2 * (F.sum("n_all").over(w_all) - F.col("n_all"))
            + F.col("n_all")
            + 1
        )
        .cast("long")
        .alias("a2"),
    )
    w_g = (
        Window.partitionBy("grp")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = dom.select(
        "vc",
        "grp",
        "n",
        (2 * (F.sum("n").over(w_g) - F.col("n")) + F.col("n") + 1)
        .cast("long")
        .alias("b2"),
    )
    sizes = dom.groupBy("grp").agg(F.sum("n").cast("long").alias("ng"))
    j = within.join(F.broadcast(comb), "vc").join(
        F.broadcast(sizes), "grp"
    )
    means = j.groupBy("grp").agg(
        (
            F.sum(F.col("n") * F.col("a2")).cast("double")
            / (F.lit(2.0) * F.max("ng"))
        ).alias("mbar"),
        F.max("ng").alias("ng"),
    )
    dev = (F.col("a2") - F.col("b2")) / F.lit(2.0) - F.col("mbar") + (
        F.col("ng") + 1
    ) / F.lit(2.0)
    vparts = (
        j.join(F.broadcast(means.select("grp", "mbar")), "grp")
        .select(
            "grp",
            "ng",
            "mbar",
            F.round(F.col("n") * dev * dev, 8)
            .cast("decimal(28,8)")
            .alias("term"),
        )
        .groupBy("grp")
        .agg(
            (
                F.sum("term").cast("double") / (F.max("ng") - 1)
            ).alias("s2"),
            F.max("ng").alias("ng"),
            F.max("mbar").alias("mbar"),
        )
    )
    g1 = vparts.filter(F.col("grp") == 1).select(
        F.col("ng").alias("n1"),
        F.col("s2").alias("s21"),
        F.col("mbar").alias("m1"),
    )
    g0 = vparts.filter(F.col("grp") == 0).select(
        F.col("ng").alias("n0"),
        F.col("s2").alias("s20"),
        F.col("mbar").alias("m0"),
    )
    wstat = (
        F.col("n1").cast("double")
        * F.col("n0")
        * (F.col("m1") - F.col("m0"))
        / (
            (F.col("n1") + F.col("n0"))
            * F.sqrt(
                F.col("n1") * F.col("s21") + F.col("n0") * F.col("s20")
            )
        )
    )
    num = F.col("n1") * F.col("s21") + F.col("n0") * F.col("s20")
    df = (
        num
        * num
        / (
            (F.col("n1") * F.col("s21"))
            * (F.col("n1") * F.col("s21"))
            / (F.col("n1") - 1)
            + (F.col("n0") * F.col("s20"))
            * (F.col("n0") * F.col("s20"))
            / (F.col("n0") - 1)
        )
    )
    return g1.crossJoin(F.broadcast(g0)).select(
        F.col("n1").alias("n_click"),
        F.col("n0").alias("n_error"),
        F.round(
            (F.col("m1") - (F.col("n1") + 1) / F.lit(2.0)) / F.col("n0"),
            6,
        ).alias("p_hat"),
        F.round(wstat, 4).alias("w_stat"),
        F.round(df, 2).alias("df"),
        (F.abs(wstat) > 1.959964).alias("reject_5pct_normal"),
    )


_X446_ORACLE = """
WITH ev AS (
  SELECT user_id,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events
),
arms AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n, CAST(SUM(vc) AS BIGINT) AS sv
  FROM ev GROUP BY 1
),
g AS (
  SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM arms) AS n,
         (SELECT n FROM arms WHERE t = 1) AS n1,
         (SELECT n FROM arms WHERE t = 0) AS n0,
         (SELECT CAST(sv AS DOUBLE) / n FROM arms WHERE t = 1) AS mu1,
         (SELECT CAST(sv AS DOUBLE) / n FROM arms WHERE t = 0) AS mu0
),
usr AS (
  SELECT user_id, max(t) AS t,
         CAST(count(*) AS BIGINT) AS nc,
         CAST(SUM(vc) AS BIGINT) AS svc
  FROM ev GROUP BY 1
),
parts AS (
  SELECT u.t,
         -- cluster score sum: x-tilde_c * sum of residuals in c,
         -- x-tilde = t - n1/n
         (CASE WHEN u.t = 1 THEN 1.0 - CAST(g.n1 AS DOUBLE) / g.n
               ELSE -CAST(g.n1 AS DOUBLE) / g.n END)
           * (u.svc - u.nc * (CASE WHEN u.t = 1 THEN g.mu1
                                   ELSE g.mu0 END)) AS sc
  FROM usr u CROSS JOIN g
),
agg AS (
  SELECT CAST(SUM(CAST(ROUND(sc * sc, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS meat,
         CAST(count(*) AS BIGINT) AS n_clusters
  FROM parts
),
resid AS (
  -- event-level residual variance for the NAIVE (iid) se
  SELECT CAST(SUM(CAST(ROUND(
           (e.vc - CASE WHEN e.t = 1 THEN g.mu1 ELSE g.mu0 END)
           * (e.vc - CASE WHEN e.t = 1 THEN g.mu1 ELSE g.mu0 END), 6)
           AS DECIMAL(38,6))) AS DOUBLE) AS sse
  FROM ev e CROSS JOIN g
),
fin AS (
  SELECT g.n, g.n1, g.n0, a.n_clusters,
         (g.mu1 - g.mu0) / 100 AS effect,
         -- bread: sum x-tilde^2 = n1*n0/n
         a.meat / ((CAST(g.n1 AS DOUBLE) * g.n0 / g.n)
                   * (CAST(g.n1 AS DOUBLE) * g.n0 / g.n)) / 10000
           AS var_cr0,
         r.sse / (g.n - 2) / (CAST(g.n1 AS DOUBLE) * g.n0 / g.n) / 10000
           AS var_naive
  FROM g CROSS JOIN agg a CROSS JOIN resid r
)
SELECT n AS n_events, n_clusters,
       ROUND(effect, 6) AS effect,
       ROUND(SQRT(var_naive), 6) AS se_naive,
       ROUND(SQRT(var_cr0), 6) AS se_cr0,
       ROUND(SQRT(var_cr0 * (CAST(n_clusters AS DOUBLE)
             / (n_clusters - 1)) * ((CAST(n AS DOUBLE) - 1) / (n - 2))),
             6) AS se_cr1,
       ROUND(SQRT(var_cr0) / SQRT(var_naive), 4) AS se_inflation
FROM fin
"""


@register(
    "x446_cluster_robust_se",
    _X446_ORACLE,
    doc="cluster-robust standard errors for the event-level treatment "
        "effect with USERS as clusters: treatment is assigned per "
        "user, so a user's events share shocks and the iid se is "
        "anticonservative -- the single most common false-positive "
        "generator in event-grain A/B readouts. Sandwich CR0 from "
        "per-cluster score sums (x-tilde_c * sum of residuals, "
        "closed form because the regressor is a two-level dummy: "
        "bread = n1*n0/n), CR1 small-sample scaling, and the naive "
        "se beside them so the INFLATION factor is the headline "
        "column (x443 handles ratio metrics, x320 jackknifes -- "
        "this is the regression-grain fix). Exactness: arm means "
        "from exact cent sums; squared score terms round-6 into "
        "DECIMAL(38,6). Scale: one event pass + one user groupBy + "
        "1-row algebra",
)
def x446_cluster_robust_se(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    ).localCheckpoint(eager=False)
    arms = ev.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vc").cast("long").alias("sv"),
    )
    a1 = arms.filter(F.col("t") == 1).select(
        F.col("n").alias("n1"),
        (F.col("sv").cast("double") / F.col("n")).alias("mu1"),
    )
    a0 = arms.filter(F.col("t") == 0).select(
        F.col("n").alias("n0"),
        (F.col("sv").cast("double") / F.col("n")).alias("mu0"),
    )
    g = (
        a1.crossJoin(F.broadcast(a0))
        .select(
            (F.col("n1") + F.col("n0")).alias("n"),
            "n1",
            "n0",
            "mu1",
            "mu0",
        )
    )
    usr = ev.groupBy("user_id").agg(
        F.max("t").alias("t"),
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum("vc").cast("long").alias("svc"),
    )
    xt = F.when(
        F.col("t") == 1,
        F.lit(1.0) - F.col("n1").cast("double") / F.col("n"),
    ).otherwise(-F.col("n1").cast("double") / F.col("n"))
    mu_c = F.when(F.col("t") == 1, F.col("mu1")).otherwise(F.col("mu0"))
    sc = xt * (F.col("svc") - F.col("nc") * mu_c)
    agg = (
        usr.crossJoin(F.broadcast(g))
        .select(
            F.round(sc * sc, 6).cast("decimal(38,6)").alias("term")
        )
        .agg(
            F.sum("term").cast("double").alias("meat"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
        )
    )
    mu_e = F.when(F.col("t") == 1, F.col("mu1")).otherwise(F.col("mu0"))
    resid = (
        ev.crossJoin(F.broadcast(g))
        .select(
            F.round(
                (F.col("vc") - mu_e) * (F.col("vc") - mu_e), 6
            )
            .cast("decimal(38,6)")
            .alias("term")
        )
        .agg(F.sum("term").cast("double").alias("sse"))
    )
    bread = F.col("n1").cast("double") * F.col("n0") / F.col("n")
    var_cr0 = F.col("meat") / (bread * bread) / 10000
    var_naive = F.col("sse") / (F.col("n") - 2) / bread / 10000
    cr1 = var_cr0 * (
        F.col("n_clusters").cast("double") / (F.col("n_clusters") - 1)
    ) * ((F.col("n").cast("double") - 1) / (F.col("n") - 2))
    return (
        g.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(resid))
        .select(
            F.col("n").alias("n_events"),
            "n_clusters",
            F.round((F.col("mu1") - F.col("mu0")) / 100, 6).alias(
                "effect"
            ),
            F.round(F.sqrt(var_naive), 6).alias("se_naive"),
            F.round(F.sqrt(var_cr0), 6).alias("se_cr0"),
            F.round(F.sqrt(cr1), 6).alias("se_cr1"),
            F.round(F.sqrt(var_cr0) / F.sqrt(var_naive), 4).alias(
                "se_inflation"
            ),
        )
    )


_X447_ORACLE = """
WITH tot AS (
  SELECT CAST(max(doc_id) + 1 AS BIGINT) AS nn FROM documents
),
tok AS (
  SELECT CAST(d.doc_id * 10 // t.nn AS BIGINT) AS b,
         unnest(list_transform(
           range(1, len(string_split(lower(d.text), ' ')) - 1),
           i -> array_to_string(
                  (string_split(lower(d.text), ' '))[i:i+2], ' ')
         )) AS w
  FROM documents d CROSS JOIN tot t
  WHERE len(string_split(lower(d.text), ' ')) >= 3
),
firstb AS (
  SELECT w, CAST(MIN(b) AS BIGINT) AS fb FROM tok GROUP BY 1
),
newv AS (
  SELECT fb AS b, CAST(count(*) AS BIGINT) AS new_types
  FROM firstb GROUP BY 1
),
cnt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS toks FROM tok GROUP BY 1
),
pts AS (
  SELECT c.b,
         CAST(SUM(c.toks) OVER (ORDER BY c.b) AS BIGINT) AS n_cum,
         CAST(SUM(COALESCE(v.new_types, 0)) OVER (ORDER BY c.b)
           AS BIGINT) AS v_cum
  FROM cnt c LEFT JOIN newv v ON v.b = c.b
),
lg AS (
  SELECT b, n_cum, v_cum,
         CAST(ROUND(LN(CAST(n_cum AS DOUBLE)), 12) AS DECIMAL(28,12))
           AS lx,
         CAST(ROUND(LN(CAST(v_cum AS DOUBLE)), 12) AS DECIMAL(28,12))
           AS ly,
         CAST(ROUND(LN(CAST(n_cum AS DOUBLE))
                    * LN(CAST(v_cum AS DOUBLE)), 12)
           AS DECIMAL(28,12)) AS lxy,
         CAST(ROUND(LN(CAST(n_cum AS DOUBLE))
                    * LN(CAST(n_cum AS DOUBLE)), 12)
           AS DECIMAL(28,12)) AS lxx,
         CAST(ROUND(LN(CAST(v_cum AS DOUBLE))
                    * LN(CAST(v_cum AS DOUBLE)), 12)
           AS DECIMAL(28,12)) AS lyy
  FROM pts
),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(lx) AS DOUBLE) AS sx, CAST(SUM(ly) AS DOUBLE) AS sy,
         CAST(SUM(lxy) AS DOUBLE) AS sxy,
         CAST(SUM(lxx) AS DOUBLE) AS sxx,
         CAST(SUM(lyy) AS DOUBLE) AS syy
  FROM lg
),
co AS (
  SELECT k,
         (sxy - sx * sy / k) / (sxx - sx * sx / k) AS beta,
         (sy - (sxy - sx * sy / k) / (sxx - sx * sx / k) * sx) / k
           AS alpha,
         (sxy - sx * sy / k) * (sxy - sx * sy / k)
           / ((sxx - sx * sx / k) * (syy - sy * sy / k)) AS r2
  FROM fit
)
SELECT p.b AS batch, p.n_cum AS n_tokens_cum, p.v_cum AS v_types_cum,
       ROUND(co.beta, 6) AS heaps_beta,
       ROUND(EXP(co.alpha), 4) AS heaps_k,
       ROUND(co.r2, 6) AS r_squared
FROM pts p CROSS JOIN co ORDER BY p.b
"""


@register(
    "x447_heaps_law_fit",
    _X447_ORACLE,
    doc="Heaps'-law scaling fit on the 3-token SHINGLE vocabulary: "
        "V(n) ~ K*n^beta by closed-form log-log OLS over the 10 "
        "cumulative arrival-ordered corpus prefixes (doc_id decile "
        "batches) -- x86 plots the growth CURVE, x326 estimates the "
        "asymptote; this fits the SCALING LAW that extrapolates how "
        "much new content 10x more of the source buys, and because "
        "distinct shingles ARE what x295's near-dup index stores, "
        "beta directly forecasts that index's storage growth. "
        "Shingles, not tokens: the synthetic corpus composes from "
        "only 31 distinct words (token-level V saturates in batch 0 "
        "-- measured, beta exactly 0), while the shingle space grows "
        "combinatorially like real vocabulary. Exactness: type "
        "counts by exact first-batch attribution (x440's MIN trick), "
        "log moments round-12 into DECIMAL pre-sum, OLS is "
        "fixed-order 1-row algebra. Scale: one shingle groupBy "
        "(map-side partial agg) + 10-point batch-domain algebra",
)
def x447_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg((F.max("doc_id") + 1).cast("long").alias("nn"))
    # bound token attribute + rebalanced scan (HOF-lambda CSE trap /
    # single-split parallelism -- see ops/dedup.py shingles()); the
    # exploded shingle table is checkpointed ONCE because both the
    # first-batch groupBy and the per-batch token count consume it
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
    tok = (
        t.crossJoin(F.broadcast(tot))
        .select(
            (F.col("doc_id") * 10 / F.col("nn")).cast("long").alias("b"),
            F.explode(shingles).alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    firstb = tok.groupBy("w").agg(F.min("b").cast("long").alias("fb"))
    newv = firstb.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    cnt = tok.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("toks")
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pts = (
        cnt.join(newv, "b", "left")
        .select(
            "b",
            F.sum("toks").over(w).cast("long").alias("n_cum"),
            F.sum(F.coalesce("new_types", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("v_cum"),
        )
        .localCheckpoint(eager=False)
    )
    lx = F.log(F.col("n_cum").cast("double"))
    ly = F.log(F.col("v_cum").cast("double"))
    lg = pts.select(
        F.round(lx, 12).cast("decimal(28,12)").alias("lx"),
        F.round(ly, 12).cast("decimal(28,12)").alias("ly"),
        F.round(lx * ly, 12).cast("decimal(28,12)").alias("lxy"),
        F.round(lx * lx, 12).cast("decimal(28,12)").alias("lxx"),
        F.round(ly * ly, 12).cast("decimal(28,12)").alias("lyy"),
    )
    fit = lg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum("lxy").cast("double").alias("sxy"),
        F.sum("lxx").cast("double").alias("sxx"),
        F.sum("lyy").cast("double").alias("syy"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k")
    )
    alpha = (F.col("sy") - beta * F.col("sx")) / F.col("k")
    r2 = (
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k"))
        * (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k"))
        / (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k"))
            * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("k"))
        )
    )
    co = fit.select(
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp(alpha), 4).alias("heaps_k"),
        F.round(r2, 6).alias("r_squared"),
    )
    return (
        pts.crossJoin(F.broadcast(co))
        .select(
            F.col("b").alias("batch"),
            F.col("n_cum").alias("n_tokens_cum"),
            F.col("v_cum").alias("v_types_cum"),
            "heaps_beta",
            "heaps_k",
            "r_squared",
        )
        .orderBy("batch")
    )


_X448_ORACLE = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), t0 AS MATERIALIZED (
  SELECT e.u AS a, e.v AS b, e2.v AS c
  FROM e0 e JOIN e0 e2 ON e.v = e2.u JOIN e0 e3
    ON e.u = e3.u AND e2.v = e3.v
), s0 AS MATERIALIZED (
  SELECT u, v, CAST(count(*) AS BIGINT) AS supp FROM (
    SELECT a AS u, b AS v FROM t0
    UNION ALL SELECT b AS u, c AS v FROM t0
    UNION ALL SELECT a AS u, c AS v FROM t0
  ) GROUP BY 1, 2
), e1 AS MATERIALIZED (
  SELECT e.u, e.v FROM e0 e JOIN s0 s ON s.u = e.u AND s.v = e.v
  WHERE s.supp >= 1
), t1 AS MATERIALIZED (
  SELECT e.u AS a, e.v AS b, e2.v AS c
  FROM e1 e JOIN e1 e2 ON e.v = e2.u JOIN e1 e3
    ON e.u = e3.u AND e2.v = e3.v
), s1 AS MATERIALIZED (
  SELECT u, v, CAST(count(*) AS BIGINT) AS supp FROM (
    SELECT a AS u, b AS v FROM t1
    UNION ALL SELECT b AS u, c AS v FROM t1
    UNION ALL SELECT a AS u, c AS v FROM t1
  ) GROUP BY 1, 2
), e2_ AS MATERIALIZED (
  SELECT e.u, e.v FROM e1 e JOIN s1 s ON s.u = e.u AND s.v = e.v
  WHERE s.supp >= 1
), t2 AS MATERIALIZED (
  SELECT e.u AS a, e.v AS b, e2.v AS c
  FROM e2_ e JOIN e2_ e2 ON e.v = e2.u JOIN e2_ e3
    ON e.u = e3.u AND e2.v = e3.v
), s2 AS MATERIALIZED (
  SELECT u, v, CAST(count(*) AS BIGINT) AS supp FROM (
    SELECT a AS u, b AS v FROM t2
    UNION ALL SELECT b AS u, c AS v FROM t2
    UNION ALL SELECT a AS u, c AS v FROM t2
  ) GROUP BY 1, 2
), e3_ AS MATERIALIZED (
  SELECT e.u, e.v FROM e2_ e JOIN s2 s ON s.u = e.u AND s.v = e.v
  WHERE s.supp >= 1
)
SELECT * FROM (
  SELECT 0 AS round,
         (SELECT CAST(count(*) AS BIGINT) FROM e0) AS edges_in,
         (SELECT CAST(count(*) AS BIGINT) FROM t0) AS triangles,
         (SELECT CAST(count(*) AS BIGINT) FROM e1) AS edges_kept
  UNION ALL
  SELECT 1,
         (SELECT CAST(count(*) AS BIGINT) FROM e1),
         (SELECT CAST(count(*) AS BIGINT) FROM t1),
         (SELECT CAST(count(*) AS BIGINT) FROM e2_)
  UNION ALL
  SELECT 2,
         (SELECT CAST(count(*) AS BIGINT) FROM e2_),
         (SELECT CAST(count(*) AS BIGINT) FROM t2),
         (SELECT CAST(count(*) AS BIGINT) FROM e3_)
) ORDER BY round
"""


@register(
    "x448_ktruss",
    _X448_ORACLE,
    doc="3-truss peeling on the co-purchase graph (x210's edges: part "
        "pairs sharing >= 2 orders, u < v): three unrolled rounds of "
        "'count each edge's triangle support, drop edges outside any "
        "triangle' -- at this graph's density the peel CONVERGES "
        "inside the window (round 1 == round 2, the maximal 3-truss; "
        "a 4-truss threshold empties it, measured) -- the COHESION filter between x210 (counts "
        "triangles) and x243 (k-core: degree-based, keeps hub-and-"
        "spoke noise a truss rejects because truss membership needs "
        "TRIANGLES, the structure dedup-cluster cores and community "
        "seeds actually live in). Fixed-depth iteration with "
        "localCheckpoint per round (x104's bounded-lineage "
        "contract); oracle is chained AS MATERIALIZED CTEs (the "
        "k-core re-inline defense). Per round: edges in, triangles "
        "found, edges kept. Scale: triangles from two self-joins of "
        "the u<v edge list (never node-grouped adjacency blowup); "
        "support via a x3 UNION of triangle projections + one "
        "groupBy",
)
def x448_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = graph.support2_edges(load_table(spark, sf_dir, "lineitem"))
    rows = []
    for rnd in range(3):
        e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
        e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
        tri = (
            e.join(e2, e["v"] == e2["b2"])
            .join(e3, (e["u"] == e3["a3"]) & (e2["c2"] == e3["c3"]))
            .select(
                F.col("u").alias("a"),
                F.col("v").alias("b"),
                F.col("c2").alias("c"),
            )
            .localCheckpoint()
        )
        supp = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(
                tri.select(F.col("b").alias("u"), F.col("c").alias("v"))
            )
            .unionAll(
                tri.select(F.col("a").alias("u"), F.col("c").alias("v"))
            )
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("supp"))
        )
        kept = (
            e.join(supp, ["u", "v"])
            .filter(F.col("supp") >= 1)
            .select("u", "v")
            .localCheckpoint()
        )
        rows.append(
            (
                rnd,
                e.count(),
                tri.count(),
                kept.count(),
            )
        )
        e = kept
    return spark.createDataFrame(
        rows,
        "round int, edges_in bigint, triangles bigint, edges_kept bigint",
    ).orderBy("round")


_X449_ORACLE = """
WITH w AS (
  SELECT source,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
           AS tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS wt FROM w),
q AS (
  SELECT w.source, w.tokens,
         CAST(10007 * w.tokens // t.wt AS BIGINT) AS base_quota,
         CAST(10007 * w.tokens - (10007 * w.tokens // t.wt) * t.wt
           AS BIGINT) AS rem_num,
         ROUND(10007.0 * w.tokens / t.wt, 6) AS exact_quota
  FROM w CROSS JOIN tot t
),
lo AS (
  SELECT CAST(10007 - SUM(base_quota) AS BIGINT) AS leftover FROM q
),
r AS (
  SELECT q.*,
         CAST(row_number() OVER (ORDER BY q.rem_num DESC, q.source)
           AS BIGINT) AS remainder_rank
  FROM q
)
SELECT r.source, r.tokens, r.exact_quota, r.base_quota,
       r.remainder_rank,
       CASE WHEN r.remainder_rank <= l.leftover THEN true
            ELSE false END AS got_extra,
       r.base_quota + CASE WHEN r.remainder_rank <= l.leftover
                           THEN 1 ELSE 0 END AS final_quota
FROM r CROSS JOIN lo l
ORDER BY r.source
"""


@register(
    "x449_hamilton_apportionment",
    _X449_ORACLE,
    doc="Hamilton (largest-remainder) apportionment of a 10007-unit "
        "sampling budget across the 20 sources, proportional to "
        "token mass: floor quotas, then the leftover units go to the "
        "largest remainders -- the INTEGER allocation step every "
        "fractional budget design in the registry stops short of "
        "(x33 computes per-lang budgets, x362 UniMax caps, x325 "
        "Neyman allocates variance-optimally -- all emit REALS; a "
        "sampler needs whole documents, and naive per-source "
        "rounding mis-totals the budget). FULLY integer-exact: base "
        "= B*w div W and remainder = B*w - base*W are BIGINT ops, so "
        "the remainder ranking has no float ties; quota property "
        "|final - exact| < 1 and sum(final) = B are pinned in the "
        "replay test. Scale: one source groupBy + 20-row domain "
        "window",
)
def x449_hamilton_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.sum(F.size(_toks("text"))).cast("long").alias("tokens")
    )
    tot = w.agg(F.sum("tokens").cast("long").alias("wt"))
    B = F.lit(10007)
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        (B * F.col("tokens") / F.col("wt")).cast("long").alias(
            "base_quota"
        ),
        (
            B * F.col("tokens")
            - (B * F.col("tokens") / F.col("wt")).cast("long")
            * F.col("wt")
        )
        .cast("long")
        .alias("rem_num"),
        F.round(
            F.lit(10007.0) * F.col("tokens") / F.col("wt"), 6
        ).alias("exact_quota"),
    ).localCheckpoint(eager=False)
    lo = q.agg(
        (F.lit(10007) - F.sum("base_quota")).cast("long").alias(
            "leftover"
        )
    )
    wr = Window.orderBy(F.desc("rem_num"), "source")
    r = q.select(
        "source",
        "tokens",
        "exact_quota",
        "base_quota",
        F.row_number().over(wr).cast("long").alias("remainder_rank"),
        "rem_num",
    )
    return (
        r.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "tokens",
            "exact_quota",
            "base_quota",
            "remainder_rank",
            (F.col("remainder_rank") <= F.col("leftover")).alias(
                "got_extra"
            ),
            (
                F.col("base_quota")
                + F.when(
                    F.col("remainder_rank") <= F.col("leftover"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("final_quota"),
        )
        .orderBy("source")
    )


_X450_ORACLE = """
WITH e AS (
  SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events
),
dom AS (
  SELECT vc, g, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2
),
tot AS (SELECT vc, CAST(SUM(n) AS BIGINT) AS n_all FROM dom GROUP BY 1),
comb AS (
  SELECT vc,
         CAST(2 * (SUM(n_all) OVER (ORDER BY vc) - n_all) + n_all + 1
           AS BIGINT) AS a2
  FROM tot
),
nn AS (SELECT CAST(SUM(n_all) AS BIGINT) AS n FROM tot),
ties AS (
  SELECT CAST(SUM(n_all * n_all * n_all - n_all) AS BIGINT) AS t3
  FROM tot
),
m AS (
  SELECT d.g, CAST(SUM(d.n) AS BIGINT) AS ng,
         CAST(SUM(d.n * c.a2) AS BIGINT) AS sa2
  FROM dom d JOIN comb c USING (vc) GROUP BY 1
),
mb AS (
  SELECT g, ng, CAST(sa2 AS DOUBLE) / (2.0 * ng) AS mbar FROM m
),
pairs AS (
  SELECT i.g AS group_a, j.g AS group_b,
         i.ng AS n_a, j.ng AS n_b,
         (i.mbar - j.mbar)
           / SQRT((CAST(n.n AS DOUBLE) * (n.n + 1) / 12.0
                   - CAST(t.t3 AS DOUBLE) / (12.0 * (n.n - 1)))
                  * (1.0 / i.ng + 1.0 / j.ng)) AS z
  FROM mb i JOIN mb j ON i.g < j.g
  CROSS JOIN nn n CROSS JOIN ties t
)
SELECT group_a, group_b, n_a, n_b,
       ROUND(z, 4) AS z_stat,
       ABS(z) > 2.807034 AS reject_bonferroni_5pct
FROM pairs ORDER BY group_a, group_b
"""


@register(
    "x450_dunn_posthoc",
    _X450_ORACLE,
    doc="Dunn's post-hoc test: after x363's Kruskal-Wallis says 'the "
        "five event types' value distributions are not all equal', "
        "Dunn says WHICH pairs differ -- pairwise z on mean combined "
        "midranks with the tie-corrected KW variance (N(N+1)/12 - "
        "sum(t^3-t)/(12(N-1))), Bonferroni-adjusted for the 10 "
        "pairs (|z| > z_{1-0.05/20} = 2.807) -- the multiple-"
        "comparisons discipline x399 applies to p-value LISTS, "
        "built into the test itself. Midranks are x2-scaled "
        "integers off the bounded cent-value domain (x445's trick), "
        "tie correction is an exact BIGINT sum, each z one "
        "fixed-order double expression. Scale: one pass to the "
        "(value, group) domain; the pair fan-out is 10 rows",
)
def x450_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    dom = e.groupBy("vc", "g").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    tot = dom.groupBy("vc").agg(F.sum("n").cast("long").alias("n_all"))
    w_all = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    comb = tot.select(
        "vc",
        (
            2 * (F.sum("n_all").over(w_all) - F.col("n_all"))
            + F.col("n_all")
            + 1
        )
        .cast("long")
        .alias("a2"),
    )
    nn = tot.agg(F.sum("n_all").cast("long").alias("n"))
    ties = tot.agg(
        F.sum(
            F.col("n_all") * F.col("n_all") * F.col("n_all")
            - F.col("n_all")
        )
        .cast("long")
        .alias("t3")
    )
    m = (
        dom.join(F.broadcast(comb), "vc")
        .groupBy("g")
        .agg(
            F.sum("n").cast("long").alias("ng"),
            F.sum(F.col("n") * F.col("a2")).cast("long").alias("sa2"),
        )
    )
    mb = m.select(
        "g",
        "ng",
        (F.col("sa2").cast("double") / (F.lit(2.0) * F.col("ng"))).alias(
            "mbar"
        ),
    )
    mi = mb.select(
        F.col("g").alias("group_a"),
        F.col("ng").alias("n_a"),
        F.col("mbar").alias("mbar_a"),
    )
    mj = mb.select(
        F.col("g").alias("group_b"),
        F.col("ng").alias("n_b"),
        F.col("mbar").alias("mbar_b"),
    )
    z = (F.col("mbar_a") - F.col("mbar_b")) / F.sqrt(
        (
            F.col("n").cast("double") * (F.col("n") + 1) / 12.0
            - F.col("t3").cast("double") / (12.0 * (F.col("n") - 1))
        )
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return (
        mi.join(mj, F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            F.round(z, 4).alias("z_stat"),
            (F.abs(z) > 2.807034).alias("reject_bonferroni_5pct"),
        )
        .orderBy("group_a", "group_b")
    )


_X452_ORACLE = """
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, day, y,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
           AS BIGINT) AS i,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS k
  FROM d
),
lagd AS (
  SELECT event_type, day, y, i, k,
         LAG(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7
  FROM idx
),
terms AS (
  SELECT event_type,
         CASE WHEN i > k - 6 THEN 1 ELSE 0 END AS is_test,
         CASE WHEN y7 IS NOT NULL THEN ABS(y - y7) END AS ae,
         CASE WHEN y7 IS NOT NULL THEN
           CAST(ROUND(2.0 * ABS(y - y7) / (ABS(y) + ABS(y7)), 10)
             AS DECIMAL(28,10)) END AS sm
  FROM lagd
),
agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN is_test = 0 THEN CASE WHEN ae IS NOT NULL
                   THEN 1 ELSE 0 END ELSE 0 END) AS BIGINT)
           AS n_train_naive,
         CAST(SUM(CASE WHEN is_test = 0 AND ae IS NOT NULL
                   THEN ae ELSE 0 END) AS BIGINT) AS sae_train,
         CAST(SUM(CASE WHEN is_test = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_test,
         CAST(SUM(CASE WHEN is_test = 1 THEN ae ELSE 0 END) AS BIGINT)
           AS sae_test,
         CAST(SUM(CASE WHEN is_test = 1 THEN sm END) AS DOUBLE)
           AS ssm_test
  FROM terms GROUP BY 1
)
SELECT event_type, n_train_naive, n_test,
       ROUND(CAST(sae_test AS DOUBLE) / n_test, 4) AS mae_test,
       ROUND((CAST(sae_test AS DOUBLE) / n_test)
             / (CAST(sae_train AS DOUBLE) / n_train_naive), 6) AS mase,
       ROUND(ssm_test / n_test, 6) AS smape
FROM agg ORDER BY event_type
"""


@register(
    "x452_mase_backtest",
    _X452_ORACLE,
    doc="seasonal-naive forecast backtest with MASE: per event type, "
        "hold out the LAST 6 days, forecast each day as the actual 7 "
        "days earlier, and score MAE / sMAPE / MASE (test MAE scaled "
        "by the TRAIN seasonal-naive MAE -- Hyndman's scale-free "
        "metric, comparable ACROSS series where x207's WMAPE is "
        "not; MASE > 1 means 'worse than the naive you could have "
        "shipped', the go/no-go line every forecast deploy needs). "
        "Exactness: daily counts are exact BIGINTs, absolute errors "
        "are integer sums, sMAPE terms round-10 into DECIMAL; day "
        "index via a per-type window over the bounded day domain. "
        "Scale: one (type, day) groupBy, then day-domain windows",
)
def x452_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts").cast("timestamp")))
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    wk = Window.partitionBy("event_type")
    lagd = d.select(
        "event_type",
        "y",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(wk).cast("long").alias("k"),
        F.lag("y", 7).over(w).alias("y7"),
    )
    ae = F.when(
        F.col("y7").isNotNull(), F.abs(F.col("y") - F.col("y7"))
    )
    sm = F.when(
        F.col("y7").isNotNull(),
        F.round(
            F.lit(2.0)
            * F.abs(F.col("y") - F.col("y7"))
            / (F.abs(F.col("y")) + F.abs(F.col("y7"))),
            10,
        ).cast("decimal(28,10)"),
    )
    terms = lagd.select(
        "event_type",
        F.when(F.col("i") > F.col("k") - 6, 1).otherwise(0).alias(
            "is_test"
        ),
        ae.alias("ae"),
        sm.alias("sm"),
    )
    agg = terms.groupBy("event_type").agg(
        F.sum(
            F.when(
                (F.col("is_test") == 0) & F.col("ae").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_train_naive"),
        F.sum(
            F.when(
                (F.col("is_test") == 0) & F.col("ae").isNotNull(),
                F.col("ae"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("sae_train"),
        F.sum(F.col("is_test")).cast("long").alias("n_test"),
        F.sum(
            F.when(F.col("is_test") == 1, F.col("ae")).otherwise(0)
        )
        .cast("long")
        .alias("sae_test"),
        F.sum(F.when(F.col("is_test") == 1, F.col("sm")))
        .cast("double")
        .alias("ssm_test"),
    )
    return agg.select(
        "event_type",
        "n_train_naive",
        "n_test",
        F.round(
            F.col("sae_test").cast("double") / F.col("n_test"), 4
        ).alias("mae_test"),
        F.round(
            (F.col("sae_test").cast("double") / F.col("n_test"))
            / (
                F.col("sae_train").cast("double")
                / F.col("n_train_naive")
            ),
            6,
        ).alias("mase"),
        F.round(F.col("ssm_test") / F.col("n_test"), 6).alias("smape"),
    ).orderBy("event_type")


_X453_ORACLE = """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
idx AS (
  SELECT day, y,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
  FROM d
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM idx
),
cum AS (
  SELECT day, i,
         CAST(SUM(y) OVER (ORDER BY i) AS BIGINT) AS cs
  FROM idx
),
cand AS (
  SELECT c.day, c.i AS n_left, t.k - c.i AS n_right,
         CAST(c.cs AS DOUBLE) / c.i AS mean_l,
         CAST(t.sy - c.cs AS DOUBLE) / (t.k - c.i) AS mean_r,
         -- SSB for a 2-segment split
         c.i * (CAST(c.cs AS DOUBLE) / c.i - CAST(t.sy AS DOUBLE) / t.k)
             * (CAST(c.cs AS DOUBLE) / c.i - CAST(t.sy AS DOUBLE) / t.k)
         + (t.k - c.i)
             * (CAST(t.sy - c.cs AS DOUBLE) / (t.k - c.i)
                - CAST(t.sy AS DOUBLE) / t.k)
             * (CAST(t.sy - c.cs AS DOUBLE) / (t.k - c.i)
                - CAST(t.sy AS DOUBLE) / t.k) AS ssb,
         CAST(t.syy AS DOUBLE)
           - CAST(t.sy AS DOUBLE) * t.sy / t.k AS sst,
         t.k
  FROM cum c CROSS JOIN tot t
  WHERE c.i < t.k
),
f AS (
  SELECT day, n_left, n_right, mean_l, mean_r,
         ROUND(ssb / ((sst - ssb) / (k - 2)), 6) AS f_stat
  FROM cand
),
best AS (SELECT MAX(f_stat) AS mf FROM f)
SELECT f.day AS split_after_day, f.n_left, f.n_right,
       ROUND(f.mean_l, 4) AS mean_left,
       ROUND(f.mean_r, 4) AS mean_right,
       ROUND(f.f_stat, 4) AS f_stat
FROM f CROSS JOIN best b
WHERE f.f_stat = b.mf
ORDER BY f.day LIMIT 1
"""


@register(
    "x453_binary_segmentation",
    _X453_ORACLE,
    doc="binary-segmentation changepoint LOCALIZATION of the daily "
        "event-count series: evaluate every candidate split, pick "
        "the one maximizing the 2-segment F statistic "
        "(SSB/(SSW/(k-2))), emit the split day with both segment "
        "means -- x289's CUSUM DETECTS 'something drifted', this "
        "answers WHEN and BY HOW MUCH, the first recursion of the "
        "standard binary-segmentation tree and the triage step "
        "between a drift alarm and a root-cause window. Exactness: "
        "all moments exact BIGINTs, per-split SSB/F in fixed-order "
        "doubles rounded to 6 BEFORE the argmax so the tie-broken "
        "winner (min day) is engine-identical. Scale: one day "
        "groupBy; every split evaluated from ONE cumulative-sum "
        "window over the bounded day domain -- O(days), not "
        "O(days^2)",
)
def x453_binary_segmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts").cast("timestamp")))
        .alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = Window.orderBy("day")
    idx = d.select(
        "day", "y", F.row_number().over(w).cast("long").alias("i")
    )
    tot = idx.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    wc = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = idx.select(
        "day", "i", F.sum("y").over(wc).cast("long").alias("cs")
    )
    mean_l = F.col("cs").cast("double") / F.col("i")
    mean_r = (F.col("sy") - F.col("cs")).cast("double") / (
        F.col("k") - F.col("i")
    )
    gmean = F.col("sy").cast("double") / F.col("k")
    ssb = F.col("i") * (mean_l - gmean) * (mean_l - gmean) + (
        F.col("k") - F.col("i")
    ) * (mean_r - gmean) * (mean_r - gmean)
    sst = F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy") / F.col("k")
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("i") < F.col("k"))
        .select(
            "day",
            F.col("i").alias("n_left"),
            (F.col("k") - F.col("i")).alias("n_right"),
            mean_l.alias("mean_l"),
            mean_r.alias("mean_r"),
            F.round(
                ssb / ((sst - ssb) / (F.col("k") - 2)), 6
            ).alias("f_stat"),
        )
        .localCheckpoint(eager=False)
    )
    best = cand.agg(F.max("f_stat").alias("mf"))
    return (
        cand.crossJoin(F.broadcast(best))
        .filter(F.col("f_stat") == F.col("mf"))
        .select(
            F.col("day").alias("split_after_day"),
            "n_left",
            "n_right",
            F.round("mean_l", 4).alias("mean_left"),
            F.round("mean_r", 4).alias("mean_right"),
            F.round("f_stat", 4).alias("f_stat"),
        )
        .orderBy("split_after_day")
        .limit(1)
    )


_X454_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           AS BIGINT)
         + 2 * CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0
           END) AS BIGINT)
         + 4 * CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
           END) AS BIGINT) AS mask,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS conv
  FROM events GROUP BY 1
),
bym AS (
  SELECT mask, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS c
  FROM u GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nu FROM bym),
subsets AS (SELECT unnest(range(0, 8)) AS s),
v AS (
  -- coalition worth: conversions among users whose exposure set is
  -- contained in S, as a rate over ALL users
  SELECT s.s,
         CAST(COALESCE(SUM(CASE WHEN (b.mask & ~CAST(s.s AS BIGINT))
                = 0 THEN b.c END), 0) AS DOUBLE) / t.nu AS val
  FROM subsets s CROSS JOIN tot t LEFT JOIN bym b ON TRUE
  GROUP BY s.s, t.nu
),
chan AS (
  SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4))
    AS c(channel, bit)
),
phi AS (
  SELECT c.channel,
         SUM(CASE
               -- |S|!(3-|S|-1)!/3! weights for S not containing i:
               -- |S|=0 -> 2/6, |S|=1 -> 1/6, |S|=2 -> 2/6
               WHEN (v1.s & c.bit) = 0 THEN
                 (CASE bit_count(CAST(v1.s AS BIGINT))
                    WHEN 0 THEN 2.0 WHEN 1 THEN 1.0 ELSE 2.0 END / 6.0)
                 * (v2.val - v1.val)
             END) AS shapley
  FROM chan c
  JOIN v v1 ON (v1.s & c.bit) = 0
  JOIN v v2 ON v2.s = v1.s + c.bit
  GROUP BY 1
),
full_v AS (SELECT val FROM v WHERE s = 7),
base_v AS (SELECT val FROM v WHERE s = 0)
SELECT p.channel,
       ROUND(p.shapley, 6) AS shapley_credit,
       ROUND(p.shapley / NULLIF(f.val - b.val, 0), 6) AS credit_share
FROM phi p CROSS JOIN full_v f CROSS JOIN base_v b
ORDER BY p.channel
"""


@register(
    "x454_shapley_attribution",
    _X454_ORACLE,
    doc="exact Shapley-value conversion attribution over the three "
        "touch channels (view/click/signup): coalition worth v(S) = "
        "share of users converting whose exposure set fits inside S, "
        "credit phi_i = sum over S of |S|!(2-|S|)!/3! * (v(S+i) - "
        "v(S)) -- the GAME-THEORETIC credit x366's linear/first/"
        "last heuristics approximate, exactly enumerable here "
        "because 3 channels = 8 coalitions (the reason industry "
        "Shapley attribution caps channel count). Efficiency axiom "
        "pinned in the replay test: credits sum to v(full) - "
        "v(empty), and credit_share normalizes by it. Exactness: "
        "per-user exposure bitmask + conversion flag off ONE user "
        "groupBy, worths from exact subset-sum counts over the "
        "8-row mask domain, Shapley weights as rational literals. "
        "Scale: one user groupBy; everything after is 8x8 domain "
        "algebra",
)
def x454_shapley_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            )
            + 2
            * F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            + 4
            * F.max(
                F.when(F.col("event_type") == "signup", 1).otherwise(0)
            )
        )
        .cast("long")
        .alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("conv"),
    )
    bym = u.groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("c"),
    ).localCheckpoint(eager=False)
    tot = bym.agg(F.sum("n").cast("long").alias("nu"))
    subsets = spark.range(0, 8).select(F.col("id").alias("s"))
    v = (
        F.broadcast(subsets)
        .crossJoin(F.broadcast(tot))
        .join(
            bym,
            (F.col("mask").bitwiseAND(F.bitwise_not(F.col("s").cast("long"))) == 0),
            "left",
        )
        .groupBy("s", "nu")
        .agg(
            (
                F.coalesce(F.sum("c"), F.lit(0)).cast("double")
                / F.col("nu")
            ).alias("val")
        )
        .select("s", "val")
        .localCheckpoint(eager=False)
    )
    chan = spark.createDataFrame(
        [("view", 1), ("click", 2), ("signup", 4)],
        "channel string, bit long",
    )
    v1 = v.select(F.col("s").alias("s1"), F.col("val").alias("val1"))
    v2 = v.select(F.col("s").alias("s2"), F.col("val").alias("val2"))
    weight = (
        F.when(F.bit_count(F.col("s1")) == 0, F.lit(2.0))
        .when(F.bit_count(F.col("s1")) == 1, F.lit(1.0))
        .otherwise(F.lit(2.0))
        / 6.0
    )
    phi = (
        F.broadcast(chan)
        .join(v1, F.col("s1").bitwiseAND(F.col("bit")) == 0)
        .join(v2, F.col("s2") == F.col("s1") + F.col("bit"))
        .groupBy("channel")
        .agg(
            F.sum(weight * (F.col("val2") - F.col("val1"))).alias(
                "shapley"
            )
        )
    )
    full_v = v.filter(F.col("s") == 7).select(
        F.col("val").alias("vf")
    )
    base_v = v.filter(F.col("s") == 0).select(
        F.col("val").alias("vb")
    )
    return (
        phi.crossJoin(F.broadcast(full_v))
        .crossJoin(F.broadcast(base_v))
        .select(
            "channel",
            F.round("shapley", 6).alias("shapley_credit"),
            F.round(
                F.col("shapley")
                / F.nullif(F.col("vf") - F.col("vb"), F.lit(0.0)),
                6,
            ).alias("credit_share"),
        )
        .orderBy("channel")
    )


_X451_ORACLE = """
WITH e AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS grp,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events WHERE event_type IN ('click', 'error')
),
dom AS (
  SELECT grp, vc, CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
),
cum AS (
  SELECT grp, vc, n,
         CAST(SUM(n) OVER (PARTITION BY grp ORDER BY vc) AS BIGINT)
           AS cn,
         CAST(SUM(n * vc) OVER (PARTITION BY grp ORDER BY vc)
           AS BIGINT) AS csv,
         CAST(SUM(n * vc * vc) OVER (PARTITION BY grp ORDER BY vc)
           AS BIGINT) AS csv2
  FROM dom
),
sz AS (
  SELECT grp, CAST(SUM(n) AS BIGINT) AS ng,
         CAST(SUM(n * vc) AS BIGINT) AS sv,
         CAST(SUM(n * vc * vc) AS BIGINT) AS sv2,
         CAST(SUM(n) // 5 AS BIGINT) AS g
  FROM dom GROUP BY 1
),
-- lower cut: first value whose cumulative count reaches g
locut AS (
  SELECT c.grp,
         MIN(c.vc) AS vl,
         arg_min(c.cn - c.n, c.vc) AS below_n,
         arg_min(c.csv - c.n * c.vc, c.vc) AS below_sv,
         arg_min(c.csv2 - c.n * c.vc * c.vc, c.vc) AS below_sv2
  FROM cum c JOIN sz s ON s.grp = c.grp
  WHERE c.cn >= s.g + 1
  GROUP BY 1
),
-- upper cut: first value (from the top) whose count-from-top reaches g
hicut AS (
  SELECT c.grp,
         MAX(c.vc) AS vu,
         arg_max(s.ng - c.cn, c.vc) AS above_n,
         arg_max(s.sv - c.csv, c.vc) AS above_sv,
         arg_max(s.sv2 - c.csv2, c.vc) AS above_sv2
  FROM cum c JOIN sz s ON s.grp = c.grp
  WHERE s.ng - (c.cn - c.n) >= s.g + 1
  GROUP BY 1
),
parts AS (
  SELECT s.grp, s.ng, s.g, s.ng - 2 * s.g AS h,
         -- sums of the g smallest / largest (partial value at the cut)
         lo.below_sv + (s.g - lo.below_n) * lo.vl AS s_low,
         lo.below_sv2 + (s.g - lo.below_n) * lo.vl * lo.vl AS s_low2,
         hi.above_sv + (s.g - hi.above_n) * hi.vu AS s_high,
         hi.above_sv2 + (s.g - hi.above_n) * hi.vu * hi.vu AS s_high2,
         s.sv, s.sv2, lo.vl, hi.vu
  FROM sz s JOIN locut lo ON lo.grp = s.grp
  JOIN hicut hi ON hi.grp = s.grp
),
stats AS (
  SELECT grp, ng, g, h,
         CAST(sv - s_low - s_high AS DOUBLE) / h / 100 AS tmean,
         -- winsorized moments: trimmed tails replaced by cut values
         ((CAST(sv2 - s_low2 - s_high2
                + g * (vl * vl + vu * vu) AS DOUBLE)
           - CAST(sv - s_low - s_high + g * (vl + vu) AS DOUBLE)
             * (sv - s_low - s_high + g * (vl + vu)) / ng)
          / (ng - 1)) / 10000 AS s2w
  FROM parts
),
fin AS (
  SELECT g1.ng AS n_click, g0.ng AS n_error,
         g1.h AS h_click, g0.h AS h_error,
         g1.tmean AS tmean_click, g0.tmean AS tmean_error,
         g1.s2w * (g1.ng - 1) / (CAST(g1.h AS DOUBLE) * (g1.h - 1))
           AS d1,
         g0.s2w * (g0.ng - 1) / (CAST(g0.h AS DOUBLE) * (g0.h - 1))
           AS d0
  FROM (SELECT * FROM stats WHERE grp = 1) g1
  CROSS JOIN (SELECT * FROM stats WHERE grp = 0) g0
)
SELECT n_click, n_error, h_click, h_error,
       ROUND(tmean_click, 6) AS tmean_click,
       ROUND(tmean_error, 6) AS tmean_error,
       ROUND((tmean_click - tmean_error) / SQRT(d1 + d0), 4)
         AS yuen_t,
       ROUND((d1 + d0) * (d1 + d0)
             / (d1 * d1 / (h_click - 1) + d0 * d0 / (h_error - 1)), 2)
         AS df
FROM fin
"""


@register(
    "x451_yuen_trimmed_t",
    _X451_ORACLE,
    doc="Yuen's 20%%-trimmed-mean t-test (click vs error values): "
        "trimmed means compared with WINSORIZED variances, "
        "Satterthwaite df -- the robust location test x286's Welch "
        "is not (heavy tails wreck mean tests; x445's BM answers a "
        "different question, stochastic ordering, while Yuen still "
        "talks in the metric's units), and the inferential "
        "completion of x116's winsorized descriptives. The order "
        "statistics come from CUMULATIVE COUNTS on the bounded cent "
        "domain -- sums of the g smallest/largest with a partial "
        "term at the cut value, arg_min/arg_max picking the cut row "
        "-- so everything through the winsorized second moment is "
        "INTEGER-exact with zero row-level sorting. Scale: one "
        "(group, value) groupBy + value-domain windows + 2-row "
        "algebra",
)
def x451_yuen_trimmed_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    e = ev.select(
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
            "grp"
        ),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    dom = e.groupBy("grp", "vc").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    w = (
        Window.partitionBy("grp")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dom.select(
        "grp",
        "vc",
        "n",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum(F.col("n") * F.col("vc")).over(w).cast("long").alias(
            "csv"
        ),
        F.sum(F.col("n") * F.col("vc") * F.col("vc"))
        .over(w)
        .cast("long")
        .alias("csv2"),
    )
    sz = dom.groupBy("grp").agg(
        F.sum("n").cast("long").alias("ng"),
        F.sum(F.col("n") * F.col("vc")).cast("long").alias("sv"),
        F.sum(F.col("n") * F.col("vc") * F.col("vc"))
        .cast("long")
        .alias("sv2"),
        (F.sum("n") / 5).cast("long").alias("g"),
    )
    cj = cum.join(F.broadcast(sz), "grp")
    locut = cj.filter(F.col("cn") >= F.col("g") + 1).groupBy("grp").agg(
        F.min("vc").alias("vl"),
        F.min_by(F.col("cn") - F.col("n"), F.col("vc")).alias(
            "below_n"
        ),
        F.min_by(
            F.col("csv") - F.col("n") * F.col("vc"), F.col("vc")
        ).alias("below_sv"),
        F.min_by(
            F.col("csv2") - F.col("n") * F.col("vc") * F.col("vc"),
            F.col("vc"),
        ).alias("below_sv2"),
    )
    hicut = cj.filter(
        F.col("ng") - (F.col("cn") - F.col("n")) >= F.col("g") + 1
    ).groupBy("grp").agg(
        F.max("vc").alias("vu"),
        F.max_by(F.col("ng") - F.col("cn"), F.col("vc")).alias(
            "above_n"
        ),
        F.max_by(F.col("sv") - F.col("csv"), F.col("vc")).alias(
            "above_sv"
        ),
        F.max_by(F.col("sv2") - F.col("csv2"), F.col("vc")).alias(
            "above_sv2"
        ),
    )
    parts = (
        sz.join(locut, "grp")
        .join(hicut, "grp")
        .select(
            "grp",
            "ng",
            "g",
            (F.col("ng") - 2 * F.col("g")).alias("h"),
            (
                F.col("below_sv")
                + (F.col("g") - F.col("below_n")) * F.col("vl")
            ).alias("s_low"),
            (
                F.col("below_sv2")
                + (F.col("g") - F.col("below_n"))
                * F.col("vl")
                * F.col("vl")
            ).alias("s_low2"),
            (
                F.col("above_sv")
                + (F.col("g") - F.col("above_n")) * F.col("vu")
            ).alias("s_high"),
            (
                F.col("above_sv2")
                + (F.col("g") - F.col("above_n"))
                * F.col("vu")
                * F.col("vu")
            ).alias("s_high2"),
            "sv",
            "sv2",
            "vl",
            "vu",
        )
    )
    wsum = (
        F.col("sv")
        - F.col("s_low")
        - F.col("s_high")
        + F.col("g") * (F.col("vl") + F.col("vu"))
    )
    wsum2 = (
        F.col("sv2")
        - F.col("s_low2")
        - F.col("s_high2")
        + F.col("g")
        * (F.col("vl") * F.col("vl") + F.col("vu") * F.col("vu"))
    )
    stats = parts.select(
        "grp",
        "ng",
        "h",
        (
            (F.col("sv") - F.col("s_low") - F.col("s_high")).cast(
                "double"
            )
            / F.col("h")
            / 100
        ).alias("tmean"),
        (
            (
                wsum2.cast("double")
                - wsum.cast("double") * wsum / F.col("ng")
            )
            / (F.col("ng") - 1)
            / 10000
        ).alias("s2w"),
    )
    g1 = stats.filter(F.col("grp") == 1).select(
        F.col("ng").alias("n_click"),
        F.col("h").alias("h_click"),
        F.col("tmean").alias("tmean_click"),
        (
            F.col("s2w")
            * (F.col("ng") - 1)
            / (F.col("h").cast("double") * (F.col("h") - 1))
        ).alias("d1"),
    )
    g0 = stats.filter(F.col("grp") == 0).select(
        F.col("ng").alias("n_error"),
        F.col("h").alias("h_error"),
        F.col("tmean").alias("tmean_error"),
        (
            F.col("s2w")
            * (F.col("ng") - 1)
            / (F.col("h").cast("double") * (F.col("h") - 1))
        ).alias("d0"),
    )
    t = (F.col("tmean_click") - F.col("tmean_error")) / F.sqrt(
        F.col("d1") + F.col("d0")
    )
    df = (
        (F.col("d1") + F.col("d0"))
        * (F.col("d1") + F.col("d0"))
        / (
            F.col("d1") * F.col("d1") / (F.col("h_click") - 1)
            + F.col("d0") * F.col("d0") / (F.col("h_error") - 1)
        )
    )
    return g1.crossJoin(F.broadcast(g0)).select(
        "n_click",
        "n_error",
        "h_click",
        "h_error",
        F.round("tmean_click", 6).alias("tmean_click"),
        F.round("tmean_error", 6).alias("tmean_error"),
        F.round(t, 4).alias("yuen_t"),
        F.round(df, 2).alias("df"),
    )


_X455_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY 1
),
mn AS (SELECT CAST(MIN(d) AS BIGINT) AS dmin FROM deg),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         max(m.dmin) AS dmin,
         CAST(SUM(CAST(ROUND(LN(CAST(d.d AS DOUBLE)
                / (m.dmin - 0.5)), 12) AS DECIMAL(28,12))) AS DOUBLE)
           AS slog
  FROM deg d CROSS JOIN mn m
)
SELECT n_nodes, dmin,
       ROUND(1.0 + n_nodes / slog, 4) AS alpha_mle,
       ROUND((1.0 + n_nodes / slog - 1.0) / SQRT(CAST(n_nodes
             AS DOUBLE)), 6) AS alpha_se
FROM fit
"""


@register(
    "x455_powerlaw_alpha",
    _X455_ORACLE,
    doc="discrete power-law exponent of the co-purchase degree "
        "distribution by the Clauset-Shalizi-Newman continuous-"
        "approximation MLE: alpha = 1 + n/sum(ln(d/(dmin-0.5))), se "
        "= (alpha-1)/sqrt(n) -- x361 says WHO connects to whom "
        "(assortativity), x100 fits Zipf to token ranks by "
        "regression; this is the likelihood-grade tail exponent of "
        "the GRAPH, the number that predicts whether x104's "
        "PageRank mass and x243's core sizes are hub-dominated "
        "(alpha < 2.5) or dispersed. Exactness: degrees are exact "
        "BIGINTs off the u<v edge list, ln terms round-12 into "
        "DECIMAL pre-sum, the estimator is 1-row algebra. Scale: "
        "the x210 edge construction + one degree groupBy",
)
def x455_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = graph.support2_edges(load_table(spark, sf_dir, "lineitem"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    mn = deg.agg(F.min("d").cast("long").alias("dmin"))
    fit = deg.crossJoin(F.broadcast(mn)).select(
        F.round(
            F.log(
                F.col("d").cast("double") / (F.col("dmin") - 0.5)
            ),
            12,
        )
        .cast("decimal(28,12)")
        .alias("term"),
        "dmin",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("dmin").alias("dmin"),
        F.sum("term").cast("double").alias("slog"),
    )
    alpha = F.lit(1.0) + F.col("n_nodes") / F.col("slog")
    return fit.select(
        "n_nodes",
        "dmin",
        F.round(alpha, 4).alias("alpha_mle"),
        F.round(
            (alpha - 1.0) / F.sqrt(F.col("n_nodes").cast("double")), 6
        ).alias("alpha_se"),
    )


_X456_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
),
th AS (
  SELECT * FROM (VALUES (15), (30), (60), (120)) AS t(gap_min)
),
counts AS (
  SELECT t.gap_min,
         CAST(SUM(CASE WHEN g.gap_us IS NULL THEN 1
                       WHEN g.gap_us > CAST(t.gap_min AS BIGINT) * 60000000 THEN 1
                       ELSE 0 END) AS BIGINT) AS n_sessions,
         CAST(SUM(CASE WHEN g.gap_us IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_gaps,
         CAST(count(*) AS BIGINT) AS n_events
  FROM g CROSS JOIN th t
  GROUP BY 1
)
SELECT gap_min, n_sessions,
       ROUND(CAST(n_events AS DOUBLE) / n_sessions, 4)
         AS mean_session_events,
       ROUND(CAST(n_sessions - (n_events - n_gaps) AS DOUBLE)
             / n_gaps, 6) AS split_rate
FROM counts ORDER BY gap_min
"""


@register(
    "x456_session_gap_sensitivity",
    _X456_ORACLE,
    doc="sessionization sensitivity curve: session count, mean "
        "events/session, and gap-split rate at inactivity thresholds "
        "{15, 30, 60, 120} minutes -- x21 sessionizes at ONE "
        "threshold; every analytics team tunes that constant, and "
        "this is the tuning table (where the curve elbows is where "
        "the behavioral gap distribution separates within-session "
        "pauses from returns; x161's gap histogram shows the raw "
        "distribution, this shows the DECISION's consequence). One "
        "user-ordered LAG pass computes every gap once; the x4 "
        "threshold fan-out rides the tiny gap rows, not the corpus; "
        "sessions = users + gaps-exceeding-threshold (exact integer "
        "identity, pinned in the replay test). Scale: the canonical "
        "single user-key shuffle reused by every threshold",
)
def x456_session_gap_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
            - F.lag(F.expr("unix_micros(CAST(ts AS TIMESTAMP))")).over(
                w
            )
        ).alias("gap_us")
    )
    th = spark.createDataFrame(
        [(15,), (30,), (60,), (120,)], "gap_min int"
    )
    counts = (
        g.crossJoin(F.broadcast(th))
        .groupBy("gap_min")
        .agg(
            F.sum(
                F.when(F.col("gap_us").isNull(), 1)
                .when(
                    F.col("gap_us")
                    > F.col("gap_min").cast("long") * 60000000,
                    1,
                )
                .otherwise(0)
            )
            .cast("long")
            .alias("n_sessions"),
            F.sum(
                F.when(F.col("gap_us").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_gaps"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    return counts.select(
        "gap_min",
        "n_sessions",
        F.round(
            F.col("n_events").cast("double") / F.col("n_sessions"), 4
        ).alias("mean_session_events"),
        F.round(
            (
                F.col("n_sessions")
                - (F.col("n_events") - F.col("n_gaps"))
            ).cast("double")
            / F.col("n_gaps"),
            6,
        ).alias("split_rate"),
    ).orderBy("gap_min")


_X457_ORACLE = """
WITH g AS (
  SELECT epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
gaps AS (SELECT CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL
         AND gap > 0),
dom AS (
  SELECT gap, CAST(count(*) AS BIGINT) AS n FROM gaps GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(n * gap) AS BIGINT) AS sg
  FROM dom
),
cdf AS (
  SELECT d.gap, d.n,
         CAST(SUM(d.n) OVER (ORDER BY d.gap) AS BIGINT) AS cn,
         t.nn, t.sg
  FROM dom d CROSS JOIN tot t
),
ks AS (
  SELECT nn,
         CAST(sg AS DOUBLE) / nn AS mean_gap,
         MAX(GREATEST(
           CAST(cn AS DOUBLE) / nn
             - (1.0 - EXP(-CAST(gap AS DOUBLE) * nn / sg)),
           (1.0 - EXP(-CAST(gap AS DOUBLE) * nn / sg))
             - (CAST(cn AS DOUBLE) - n) / nn
         )) AS d_stat
  FROM cdf GROUP BY nn, sg
)
SELECT nn AS n_gaps,
       ROUND(mean_gap / 1000000.0, 4) AS mean_gap_sec,
       ROUND(d_stat, 6) AS ks_d,
       ROUND(SQRT(CAST(nn AS DOUBLE)) * d_stat, 4) AS ks_scaled,
       SQRT(CAST(nn AS DOUBLE)) * d_stat > 1.094 AS reject_lilliefors_5pct
FROM ks
"""


@register(
    "x457_exponential_gap_test",
    _X457_ORACLE,
    doc="Poissonity test of each user's event stream: KS distance "
        "between the inter-event gap distribution and the "
        "exponential with the SAME mean (rate fitted from the data "
        "-- so the Lilliefors-corrected critical value 1.094/sqrt(n) "
        "applies, not the vanilla KS one; the distinction x224's "
        "two-sample KS never faces). Rejecting exponentiality means "
        "the stream is bursty or scheduled, which decides whether "
        "x77's anomaly thresholds and x414's overdispersion "
        "corrections are needed at all -- the model-check upstream "
        "of both. The KS sup runs over the bounded distinct-gap "
        "domain (both CDF step sides), a pure max -- no "
        "order-sensitive accumulation; the only float inputs are "
        "exp() of exact-integer ratios. Scale: one LAG pass + one "
        "gap groupBy; the sup rides the gap domain",
)
def x457_exponential_gap_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
            - F.lag(F.expr("unix_micros(CAST(ts AS TIMESTAMP))")).over(
                w
            )
        ).alias("gap")
    ).filter(F.col("gap").isNotNull() & (F.col("gap") > 0))
    dom = g.groupBy("gap").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = dom.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("n") * F.col("gap")).cast("long").alias("sg"),
    )
    wc = Window.orderBy("gap").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = dom.select(
        "gap", "n", F.sum("n").over(wc).cast("long").alias("cn")
    ).crossJoin(F.broadcast(tot))
    fexp = F.lit(1.0) - F.exp(
        -F.col("gap").cast("double") * F.col("nn") / F.col("sg")
    )
    ks = cdf.groupBy("nn", "sg").agg(
        F.max(
            F.greatest(
                F.col("cn").cast("double") / F.col("nn") - fexp,
                fexp - (F.col("cn").cast("double") - F.col("n")) / F.col("nn"),
            )
        ).alias("d_stat")
    )
    return ks.select(
        F.col("nn").alias("n_gaps"),
        F.round(
            F.col("sg").cast("double") / F.col("nn") / 1000000.0, 4
        ).alias("mean_gap_sec"),
        F.round("d_stat", 6).alias("ks_d"),
        F.round(
            F.sqrt(F.col("nn").cast("double")) * F.col("d_stat"), 4
        ).alias("ks_scaled"),
        (
            F.sqrt(F.col("nn").cast("double")) * F.col("d_stat")
            > 1.094
        ).alias("reject_lilliefors_5pct"),
    )


_X458_ORACLE = """
WITH c AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
t AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS nl FROM c GROUP BY 1
),
terms AS (
  SELECT c.lang,
         CAST(ROUND((CAST(c.n AS DOUBLE) / t.nl)
                    * LN(CAST(c.n AS DOUBLE) / t.nl), 12)
           AS DECIMAL(28,12)) AS plogp,
         CAST(c.n AS BIGINT) AS n, t.nl
  FROM c JOIN t USING (lang)
),
agg AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS d0,
         CAST(SUM(plogp) AS DOUBLE) AS sh_neg,
         CAST(SUM(n * (n - 1)) AS BIGINT) AS scc1,
         max(nl) AS nl
  FROM terms GROUP BY 1
)
SELECT lang, d0 AS hill_d0,
       ROUND(EXP(-sh_neg), 4) AS hill_d1,
       ROUND(1.0 / (CAST(scc1 AS DOUBLE) / (CAST(nl AS DOUBLE)
             * (nl - 1))), 4) AS hill_d2,
       ROUND(EXP(-sh_neg) / d0, 6) AS evenness
FROM agg ORDER BY lang
"""


@register(
    "x458_hill_diversity",
    _X458_ORACLE,
    doc="Hill-number diversity profile of each language's SOURCE mix: "
        "D0 = richness (sources present), D1 = exp(Shannon) = "
        "effective source count weighting all sources by share, D2 = "
        "inverse Simpson = effective count weighting DOMINANT "
        "sources -- the unified 'effective number' scale ecology "
        "settled on, where x38 reports raw shares, x117 an entropy "
        "in nats and x183 an HHI in [0,1]: D1/D2 are in SOURCES, "
        "directly comparable to D0, and evenness = D1/D0 is the "
        "mix-balance headline. D2's unbiased form uses n(n-1)/"
        "(N(N-1)) (exact integers); Shannon terms round-12 into "
        "DECIMAL. Scale: one (lang, source) groupBy + lang rollup",
)
def x458_hill_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
    p = F.col("n").cast("double") / F.col("nl")
    terms = c.join(F.broadcast(t), "lang").select(
        "lang",
        F.round(p * F.log(p), 12).cast("decimal(28,12)").alias("plogp"),
        "n",
        "nl",
    )
    agg = terms.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("d0"),
        F.sum("plogp").cast("double").alias("sh_neg"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("scc1"),
        F.max("nl").alias("nl"),
    )
    return agg.select(
        "lang",
        F.col("d0").alias("hill_d0"),
        F.round(F.exp(-F.col("sh_neg")), 4).alias("hill_d1"),
        F.round(
            F.lit(1.0)
            / (
                F.col("scc1").cast("double")
                / (F.col("nl").cast("double") * (F.col("nl") - 1))
            ),
            4,
        ).alias("hill_d2"),
        F.round(F.exp(-F.col("sh_neg")) / F.col("d0"), 6).alias(
            "evenness"
        ),
    ).orderBy("lang")


_X459_ORACLE = """
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(FLOOR(ROUND(CAST(len(list_filter(string_split(lower(text),
                ' '), t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4) * 10000 + 0.5)
           AS BIGINT) AS s
  FROM documents
),
dom AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT)
    AS pos
  FROM d GROUP BY 1
),
ranked AS (
  SELECT s, n, pos,
         CAST(2 * (SUM(n) OVER (ORDER BY s) - n) + n + 1 AS BIGINT)
           AS midrank2
  FROM dom
),
auc AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n1,
         CAST(SUM(n - pos) AS BIGINT) AS n0,
         (CAST(SUM(pos * midrank2) AS DOUBLE) / 2
          - CAST(SUM(pos) AS DOUBLE) * (SUM(pos) + 1) / 2)
           / (CAST(SUM(pos) AS DOUBLE) * SUM(n - pos)) AS a
  FROM ranked
),
se AS (
  SELECT n1, n0, a,
         SQRT((a * (1 - a)
               + (n1 - 1) * (a / (2 - a) - a * a)
               + (n0 - 1) * (2 * a * a / (1 + a) - a * a))
              / (CAST(n1 AS DOUBLE) * n0)) AS se_hm
  FROM auc
)
SELECT n1 AS n_pos, n0 AS n_neg,
       ROUND(a, 6) AS auc,
       ROUND(se_hm, 6) AS se_hanley_mcneil,
       ROUND(GREATEST(0.0, a - 1.959964 * se_hm), 6) AS ci_lo,
       ROUND(LEAST(1.0, a + 1.959964 * se_hm), 6) AS ci_hi,
       a - 1.959964 * se_hm > 0.5 AS better_than_chance_5pct
FROM se
""" % _STOP_EN_INF


@register(
    "x459_auc_confidence",
    _X459_ORACLE,
    doc="Hanley-McNeil confidence interval for the stop-ratio "
        "en-detector's AUC: the closed-form se every AUC report "
        "should carry and x349 (point estimate) / x409 (fold spread) "
        "do not -- se^2 = (A(1-A) + (n1-1)(Q1-A^2) + "
        "(n0-1)(Q2-A^2))/(n1*n0) with Q1 = A/(2-A), Q2 = "
        "2A^2/(1+A), the exponential-model approximation that is "
        "the field's standard sample-size formula; the "
        "better-than-chance flag is the CI-versus-0.5 decision. "
        "Tie-corrected AUC from x2-scaled integer midranks (x442's "
        "trick); the CI clamps to [0,1]. Scale: one corpus pass to "
        "the bounded score domain + domain windows",
)
def x459_auc_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ...ops import text

    docs = load_table(spark, sf_dir, "documents")
    s_ = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    d = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        s_.alias("s"),
    )
    dom = d.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = dom.select(
        "n",
        "pos",
        (2 * (F.sum("n").over(w) - F.col("n")) + F.col("n") + 1)
        .cast("long")
        .alias("midrank2"),
    )
    auc = ranked.agg(
        F.sum("pos").cast("long").alias("n1"),
        F.sum(F.col("n") - F.col("pos")).cast("long").alias("n0"),
        F.sum(F.col("pos") * F.col("midrank2"))
        .cast("long")
        .alias("r2"),
    ).select(
        "n1",
        "n0",
        (
            (
                F.col("r2").cast("double") / 2
                - F.col("n1").cast("double") * (F.col("n1") + 1) / 2
            )
            / (F.col("n1").cast("double") * F.col("n0"))
        ).alias("a"),
    )
    a = F.col("a")
    se = F.sqrt(
        (
            a * (1 - a)
            + (F.col("n1") - 1) * (a / (2 - a) - a * a)
            + (F.col("n0") - 1) * (2 * a * a / (1 + a) - a * a)
        )
        / (F.col("n1").cast("double") * F.col("n0"))
    )
    return auc.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(a, 6).alias("auc"),
        F.round(se, 6).alias("se_hanley_mcneil"),
        F.round(F.greatest(F.lit(0.0), a - 1.959964 * se), 6).alias(
            "ci_lo"
        ),
        F.round(F.least(F.lit(1.0), a + 1.959964 * se), 6).alias(
            "ci_hi"
        ),
        (a - 1.959964 * se > 0.5).alias("better_than_chance_5pct"),
    )


_X460_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(MAX(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS t,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS conv
  FROM events GROUP BY 1
),
arms AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT)
    AS x
  FROM u GROUP BY 1
),
w AS (
  -- Wilson score bounds per arm (z = 1.959964)
  SELECT t, n, x,
         CAST(x AS DOUBLE) / n AS p,
         (CAST(x AS DOUBLE) / n + 1.959964 * 1.959964 / (2 * n)
          - 1.959964 * SQRT((CAST(x AS DOUBLE) / n)
              * (1 - CAST(x AS DOUBLE) / n) / n
              + 1.959964 * 1.959964 / (4.0 * n * n)))
           / (1 + 1.959964 * 1.959964 / n) AS lo,
         (CAST(x AS DOUBLE) / n + 1.959964 * 1.959964 / (2 * n)
          + 1.959964 * SQRT((CAST(x AS DOUBLE) / n)
              * (1 - CAST(x AS DOUBLE) / n) / n
              + 1.959964 * 1.959964 / (4.0 * n * n)))
           / (1 + 1.959964 * 1.959964 / n) AS hi
  FROM arms
),
fin AS (
  SELECT w1.n AS n_treat, w1.x AS x_treat, w0.n AS n_ctrl,
         w0.x AS x_ctrl,
         w1.p - w0.p AS diff,
         (w1.p - w0.p)
           - SQRT((w1.p - w1.lo) * (w1.p - w1.lo)
                  + (w0.hi - w0.p) * (w0.hi - w0.p)) AS lo,
         (w1.p - w0.p)
           + SQRT((w1.hi - w1.p) * (w1.hi - w1.p)
                  + (w0.p - w0.lo) * (w0.p - w0.lo)) AS hi
  FROM (SELECT * FROM w WHERE t = 1) w1
  CROSS JOIN (SELECT * FROM w WHERE t = 0) w0
)
SELECT n_treat, x_treat, n_ctrl, x_ctrl,
       ROUND(diff, 6) AS diff,
       ROUND(lo, 6) AS ci_lo,
       ROUND(hi, 6) AS ci_hi,
       lo > 0 OR hi < 0 AS significant_5pct
FROM fin
"""


@register(
    "x460_newcombe_diff_ci",
    _X460_ORACLE,
    doc="Newcombe hybrid-score confidence interval for the "
        "conversion-rate DIFFERENCE between arms: each arm gets its "
        "Wilson score interval (x323's per-proportion form) and the "
        "difference CI combines the inner/outer Wilson distances in "
        "quadrature -- Newcombe's method 10, the recommended "
        "replacement for the Wald difference CI that collapses to "
        "zero width at 0%% or 100%% conversion (exactly where "
        "funnel metrics live; x303's uplift carries a Wald-style "
        "se). Exactness: per-arm counts exact, the interval is one "
        "fixed-order double expression per arm + quadrature. "
        "Scale: one user groupBy, 2-row algebra",
)
def x460_newcombe_diff_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("t"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("conv"),
    )
    arms = u.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("x"),
    )
    z = F.lit(1.959964)
    p = F.col("x").cast("double") / F.col("n")
    half = z * F.sqrt(
        p * (1 - p) / F.col("n")
        + z * z / (F.lit(4.0) * F.col("n") * F.col("n"))
    )
    center = p + z * z / (2 * F.col("n"))
    denom = 1 + z * z / F.col("n")
    w = arms.select(
        "t",
        "n",
        "x",
        p.alias("p"),
        ((center - half) / denom).alias("lo"),
        ((center + half) / denom).alias("hi"),
    )
    w1 = w.filter(F.col("t") == 1).select(
        F.col("n").alias("n_treat"),
        F.col("x").alias("x_treat"),
        F.col("p").alias("p1"),
        F.col("lo").alias("lo1"),
        F.col("hi").alias("hi1"),
    )
    w0 = w.filter(F.col("t") == 0).select(
        F.col("n").alias("n_ctrl"),
        F.col("x").alias("x_ctrl"),
        F.col("p").alias("p0"),
        F.col("lo").alias("lo0"),
        F.col("hi").alias("hi0"),
    )
    diff = F.col("p1") - F.col("p0")
    lo = diff - F.sqrt(
        (F.col("p1") - F.col("lo1")) * (F.col("p1") - F.col("lo1"))
        + (F.col("hi0") - F.col("p0")) * (F.col("hi0") - F.col("p0"))
    )
    hi = diff + F.sqrt(
        (F.col("hi1") - F.col("p1")) * (F.col("hi1") - F.col("p1"))
        + (F.col("p0") - F.col("lo0")) * (F.col("p0") - F.col("lo0"))
    )
    return w1.crossJoin(F.broadcast(w0)).select(
        "n_treat",
        "x_treat",
        "n_ctrl",
        "x_ctrl",
        F.round(diff, 6).alias("diff"),
        F.round(lo, 6).alias("ci_lo"),
        F.round(hi, 6).alias("ci_hi"),
        ((lo > 0) | (hi < 0)).alias("significant_5pct"),
    )


_X461_ORACLE = """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS y
  FROM events GROUP BY 1
),
idx AS (
  SELECT day, x, y,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
  FROM d
),
lags AS (SELECT unnest(range(-7, 8)) AS lag),
pairs AS (
  -- pair (x at day i, y at day i+lag)
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN idx a ON TRUE
  JOIN idx b ON b.i = a.i + l.lag
),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY 1
),
r AS (
  SELECT lag, k,
         ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / k)
           / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / k)
                  * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy
                     / k)), 6) AS ccf
  FROM m
),
best AS (
  SELECT MIN(CAST(1000000 * (1.0 - ABS(ccf)) AS BIGINT) * 100
             + (lag + 50)) AS enc
  FROM r
)
SELECT r.lag, r.k AS n_pairs, r.ccf,
       CAST(b.enc % 100 - 50 AS BIGINT) AS best_lag
FROM r CROSS JOIN best b ORDER BY r.lag
"""


@register(
    "x461_ccf_lag",
    _X461_ORACLE,
    doc="cross-correlation lead-lag finder between the daily click "
        "and purchase series: Pearson r at every lag in [-7, +7] "
        "(positive lag = clicks LEAD purchases) with the max-|ccf| "
        "lag emitted on every row -- x290 autocorrelates ONE series "
        "with itself, x110 measures per-pair conversion latency "
        "at event grain; this is the SERIES-level causality-"
        "direction screen (does marketing activity lead revenue, "
        "and by how many days?). Exactness: per-lag moments from "
        "exact BIGINT sums over day-index pairs; the argmax encodes "
        "(1-|ccf|, lag) into one integer so ties break toward the "
        "smallest lag identically in both engines. Scale: one day "
        "groupBy; the lag fan-out joins a 15-row VALUES against the "
        "bounded day domain",
)
def x461_ccf_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts").cast("timestamp")))
        .alias("day")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    w = Window.orderBy("day")
    idx = d.select(
        "x", "y", F.row_number().over(w).cast("long").alias("i")
    ).localCheckpoint(eager=False)
    lags = spark.range(-7, 8).select(F.col("id").alias("lag"))
    a = idx.select(F.col("x"), F.col("i").alias("ia"))
    b = idx.select(F.col("y"), F.col("i").alias("ib"))
    pairs = (
        F.broadcast(lags)
        .join(a, F.lit(True))
        .join(b, F.col("ib") == F.col("ia") + F.col("lag"))
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    ccf = F.round(
        (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("k"))
        / F.sqrt(
            (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx") / F.col("k")
            )
            * (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("k")
            )
        ),
        6,
    )
    r = m.select("lag", F.col("k").alias("n_pairs"), ccf.alias("ccf")
                 ).localCheckpoint(eager=False)
    best = r.agg(
        F.min(
            (F.lit(1000000) * (F.lit(1.0) - F.abs(F.col("ccf"))))
            .cast("long")
            * 100
            + (F.col("lag") + 50)
        ).alias("enc")
    )
    return (
        r.crossJoin(F.broadcast(best))
        .select(
            "lag",
            "n_pairs",
            "ccf",
            (F.col("enc") % 100 - 50).cast("long").alias("best_lag"),
        )
        .orderBy("lag")
    )


_X462_ORACLE = """
WITH lagsv AS (SELECT unnest(range(1, 9)) AS d),
pairs AS (
  SELECT doc.lang, l.d,
         CAST(len(list_filter(
           range(1, len(string_split(lower(doc.text), ' ')) - l.d + 1),
           i -> (string_split(lower(doc.text), ' '))[i]
                = (string_split(lower(doc.text), ' '))[i + l.d]
         )) AS BIGINT) AS matches,
         CAST(GREATEST(len(string_split(lower(doc.text), ' ')) - l.d,
                       0) AS BIGINT) AS n_pairs
  FROM documents doc CROSS JOIN lagsv l
),
agg AS (
  SELECT lang, d,
         CAST(SUM(matches) AS BIGINT) AS m,
         CAST(SUM(n_pairs) AS BIGINT) AS np
  FROM pairs GROUP BY 1, 2
),
base AS (
  -- unigram collision baseline: Simpson D per lang (x437's moment)
  SELECT lang,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS scc1,
         CAST(SUM(c) AS BIGINT) AS n
  FROM (
    SELECT lang, w, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
          FROM documents) GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT a.lang, a.d AS distance, a.np AS n_pairs,
       ROUND(CAST(a.m AS DOUBLE) / a.np, 6) AS p_match,
       ROUND((CAST(a.m AS DOUBLE) / a.np)
             / (CAST(b.scc1 AS DOUBLE)
                / (CAST(b.n AS DOUBLE) * (b.n - 1))), 4)
         AS lift_over_unigram
FROM agg a JOIN base b USING (lang)
ORDER BY a.lang, a.d
"""


@register(
    "x462_repetition_decay",
    _X462_ORACLE,
    doc="short-range repetition decay profile: per language and "
        "distance d in 1..8, the probability that tokens i and i+d "
        "are IDENTICAL, normalized by the unigram collision baseline "
        "(x437's Simpson D) -- lift >> 1 at small d is the "
        "stutter/boilerplate signature that survives x31's "
        "whole-doc repetition ratios (which cannot say AT WHAT "
        "RANGE text repeats), and the profile's decay rate is the "
        "'effective context' of the corpus's redundancy. Exactness: "
        "matches and pair counts are exact BIGINTs from a row-local "
        "HOF over each doc's token array (the x427 position-array "
        "lesson: no explode, no self-join -- the x8 distance "
        "fan-out rides the doc rows); baseline from the x437 "
        "spectrum moments. Scale: one doc pass + one token groupBy",
)
def x462_repetition_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lags = spark.range(1, 9).select(F.col("id").cast("int").alias("d"))
    # bound token attribute: the lag-match filter indexes the array
    # per position and the 8-lag crossJoin replays it 8x, so an inlined
    # split() re-tokenizes 8n times per doc (HOF-lambda CSE trap -- see
    # ops/dedup.py shingles())
    t = docs.select("lang", _toks("text").alias("__toks"))
    toks = F.col("__toks")
    pairs = t.crossJoin(F.broadcast(lags)).select(
        "lang",
        "d",
        F.size(
            F.filter(
                F.sequence(
                    F.lit(1), F.size(toks) - F.col("d"), F.lit(1)
                ),
                lambda i: F.element_at(toks, i)
                == F.element_at(toks, i + F.col("d")),
            )
        )
        .cast("long")
        .alias("matches"),
        F.greatest(F.size(toks) - F.col("d"), F.lit(0))
        .cast("long")
        .alias("n_pairs"),
    )
    agg = pairs.groupBy("lang", "d").agg(
        F.sum("matches").cast("long").alias("m"),
        F.sum("n_pairs").cast("long").alias("np"),
    )
    tok = t.select("lang", F.explode(toks).alias("w"))
    base = (
        tok.groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("lang")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1))
            .cast("long")
            .alias("scc1"),
            F.sum("c").cast("long").alias("n"),
        )
    )
    simpson = F.col("scc1").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    return (
        agg.join(F.broadcast(base), "lang")
        .select(
            "lang",
            F.col("d").alias("distance"),
            F.col("np").alias("n_pairs"),
            F.round(
                F.col("m").cast("double") / F.col("np"), 6
            ).alias("p_match"),
            F.round(
                (F.col("m").cast("double") / F.col("np")) / simpson, 4
            ).alias("lift_over_unigram"),
        )
        .orderBy("lang", "distance")
    )


_X463_ORACLE = """
WITH e AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events
),
dom AS (
  SELECT vc, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM dom),
-- count from the top: tail order statistics live at high values
cum AS (
  SELECT vc, n,
         CAST(SUM(n) OVER (ORDER BY vc DESC) AS BIGINT) AS cn_top
  FROM dom
),
k AS (SELECT CAST(nn // 10 AS BIGINT) AS kk, nn FROM tot),
-- the k-th largest value: threshold of the top decile
thr AS (
  SELECT MAX(c.vc) AS vk
  FROM cum c CROSS JOIN k
  WHERE c.cn_top >= k.kk + 1
),
tail AS (
  SELECT CAST(SUM(CASE WHEN c.vc > t.vk THEN c.n ELSE 0 END)
           AS BIGINT) AS n_above,
         CAST(SUM(CASE WHEN c.vc > t.vk THEN
             CAST(ROUND(c.n * LN(CAST(c.vc AS DOUBLE) / t.vk), 12)
               AS DECIMAL(28,12)) END) AS DOUBLE) AS slog,
         max(t.vk) AS vk
  FROM cum c CROSS JOIN thr t
)
SELECT k.nn AS n, k.kk AS k_tail, tail.vk AS threshold_cents,
       tail.n_above,
       ROUND(tail.slog / tail.n_above, 6) AS hill_gamma,
       ROUND(tail.n_above / tail.slog, 4) AS tail_alpha
FROM tail CROSS JOIN k
"""


@register(
    "x463_hill_tail_index",
    _X463_ORACLE,
    doc="Hill estimator of the value distribution's tail index: "
        "gamma = mean ln(x/x_k) over the observations ABOVE the "
        "top-decile threshold x_k (the k-th largest), alpha = "
        "1/gamma -- the extreme-value-theory answer to 'how heavy "
        "is the revenue tail' that x116's winsorized spread and "
        "x201's skyline cannot give: alpha < 2 means infinite "
        "variance and every mean-based KPI (x125, x303) is "
        "sample-unstable. The threshold order statistic comes from "
        "a TOP-down cumulative count over the bounded cent domain "
        "(x451's trick reversed, zero row sorting); ln terms round "
        "12 into DECIMAL weighted by exact tie counts. Scale: one "
        "value groupBy + domain window + 1-row algebra",
)
def x463_hill_tail_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    dom = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("vc")
    ).groupBy("vc").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = dom.agg(F.sum("n").cast("long").alias("nn"))
    w = Window.orderBy(F.desc("vc")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dom.select(
        "vc", "n", F.sum("n").over(w).cast("long").alias("cn_top")
    ).localCheckpoint(eager=False)
    k = tot.select(
        (F.col("nn") / 10).cast("long").alias("kk"), "nn"
    )
    thr = (
        cum.crossJoin(F.broadcast(k))
        .filter(F.col("cn_top") >= F.col("kk") + 1)
        .agg(F.max("vc").alias("vk"))
    )
    tail = (
        cum.crossJoin(F.broadcast(thr))
        .agg(
            F.sum(
                F.when(F.col("vc") > F.col("vk"), F.col("n")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_above"),
            F.sum(
                F.when(
                    F.col("vc") > F.col("vk"),
                    F.round(
                        F.col("n")
                        * F.log(
                            F.col("vc").cast("double") / F.col("vk")
                        ),
                        12,
                    ).cast("decimal(28,12)"),
                )
            )
            .cast("double")
            .alias("slog"),
            F.max("vk").alias("vk"),
        )
    )
    return tail.crossJoin(F.broadcast(k)).select(
        F.col("nn").alias("n"),
        F.col("kk").alias("k_tail"),
        F.col("vk").alias("threshold_cents"),
        "n_above",
        F.round(F.col("slog") / F.col("n_above"), 6).alias(
            "hill_gamma"
        ),
        F.round(F.col("n_above") / F.col("slog"), 4).alias(
            "tail_alpha"
        ),
    )


def _x464_oracle() -> str:
    from ...ops.text import lang_id_oracle_sql

    pred = lang_id_oracle_sql()
    return f"""
WITH pred AS ({pred}),
j AS (
  SELECT d.lang AS true_lang, p.pred_lang
  FROM documents d JOIN pred p USING (doc_id)
),
t AS (
  SELECT true_lang, CAST(count(*) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END)
           AS BIGINT) AS correct
  FROM j GROUP BY 1
),
p AS (
  SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_pred
  FROM j GROUP BY 1
),
m AS (
  SELECT t.true_lang, t.n_true, t.correct,
         COALESCE(p.n_pred, 0) AS n_pred,
         CASE WHEN COALESCE(p.n_pred, 0) > 0
              THEN CAST(t.correct AS DOUBLE) / p.n_pred END AS prec,
         CAST(t.correct AS DOUBLE) / t.n_true AS rec
  FROM t LEFT JOIN p ON p.pred_lang = t.true_lang
),
f AS (
  SELECT true_lang, n_true, correct, n_pred,
         prec, rec,
         CASE WHEN prec IS NOT NULL AND prec + rec > 0
              THEN 2 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
  FROM m
),
macro AS (
  SELECT CAST(SUM(CAST(ROUND(f1, 10) AS DECIMAL(28,10))) AS DOUBLE)
           / count(*) AS macro_f1
  FROM f
)
SELECT f.true_lang, f.n_true, f.n_pred, f.correct,
       ROUND(f.prec, 6) AS precision_,
       ROUND(f.rec, 6) AS recall_,
       ROUND(f.f1, 6) AS f1,
       ROUND(mac.macro_f1, 6) AS macro_f1
FROM f CROSS JOIN macro mac
ORDER BY f.true_lang
"""


@register(
    "x464_langid_confusion",
    _x464_oracle(),
    doc="evaluation of the repo's OWN stopword-vote language "
        "classifier (x12 runs it; nothing scores it): per true "
        "language the precision/recall/F1 against the corpus labels "
        "plus macro-F1 -- the model card x365's fairness audit and "
        "x119's ensemble assume exists, and the number that says "
        "whether lang-conditioned curation gates (x381, x33) are "
        "built on a classifier that actually works per language. "
        "Oracle reuses ops/text.lang_id_oracle_sql's exact CASE "
        "ladder (same tie-break order). Exactness: confusion counts "
        "are exact BIGINTs; F1 terms round-10 into DECIMAL for the "
        "macro average. Scale: one classify pass + two lang-domain "
        "groupBys",
)
def x464_langid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...ops import text

    docs = load_table(spark, sf_dir, "documents")
    pred = text.lang_id(docs, "doc_id", "text").select(
        "doc_id", "pred_lang"
    )
    j = docs.select("doc_id", F.col("lang").alias("true_lang")).join(
        pred, "doc_id"
    )
    t = j.groupBy("true_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(
            F.when(F.col("true_lang") == F.col("pred_lang"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("correct"),
    )
    p = j.groupBy(F.col("pred_lang").alias("true_lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    m = t.join(p, "true_lang", "left").select(
        "true_lang",
        "n_true",
        "correct",
        F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
        F.when(
            F.coalesce("n_pred", F.lit(0)) > 0,
            F.col("correct").cast("double") / F.col("n_pred"),
        ).alias("prec"),
        (F.col("correct").cast("double") / F.col("n_true")).alias(
            "rec"
        ),
    )
    f1 = F.when(
        F.col("prec").isNotNull() & (F.col("prec") + F.col("rec") > 0),
        2 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec")),
    ).otherwise(F.lit(0.0))
    f = m.withColumn("f1", f1).localCheckpoint(eager=False)
    macro = f.agg(
        (
            F.sum(F.round("f1", 10).cast("decimal(28,10)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("macro_f1")
    )
    return (
        f.crossJoin(F.broadcast(macro))
        .select(
            "true_lang",
            "n_true",
            "n_pred",
            "correct",
            F.round("prec", 6).alias("precision_"),
            F.round("rec", 6).alias("recall_"),
            F.round("f1", 6).alias("f1"),
            F.round("macro_f1", 6).alias("macro_f1"),
        )
        .orderBy("true_lang")
    )


_X465_ORACLE = """
WITH c AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
        FROM documents)
  GROUP BY 1, 2
),
t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nt FROM c GROUP BY 1),
p AS (
  SELECT c.source, c.w, CAST(c.n AS DOUBLE) / t.nt AS p
  FROM c JOIN t USING (source)
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, a.w,
         a.p AS pa, b.p AS pb
  FROM p a JOIN p b ON a.w = b.w AND a.source < b.source
),
-- one-sided tokens (present in A, absent in B) contribute
-- 0.5*p*ln2 each: their total equals 0.5*ln2*(1 - shared mass),
-- recoverable from the SAME equi-join -- no outer join needed
js AS (
  SELECT src_a, src_b,
         CAST(SUM(CAST(ROUND(
           0.5 * pa * LN(pa / ((pa + pb) / 2))
           + 0.5 * pb * LN(pb / ((pa + pb) / 2)), 12)
           AS DECIMAL(28,12))) AS DOUBLE)
         + 0.5 * LN(2)
           * (1.0 - CAST(SUM(CAST(ROUND(pa, 12) AS DECIMAL(28,12)))
                    AS DOUBLE))
         + 0.5 * LN(2)
           * (1.0 - CAST(SUM(CAST(ROUND(pb, 12) AS DECIMAL(28,12)))
                    AS DOUBLE)) AS js
  FROM pairs GROUP BY 1, 2
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(ROUND(js, 10) AS DECIMAL(28,10))) AS DOUBLE)
           / count(*) AS mean_js
  FROM js
)
SELECT j.src_a, j.src_b,
       ROUND(j.js, 6) AS js_divergence,
       ROUND(SQRT(j.js), 6) AS js_distance,
       ROUND(m.mean_js, 6) AS corpus_mean_js
FROM js j CROSS JOIN m
ORDER BY j.js DESC, j.src_a, j.src_b
LIMIT 10
"""


@register(
    "x465_source_js_pairs",
    _X465_ORACLE,
    doc="pairwise Jensen-Shannon divergence between source unigram "
        "distributions, top-10 most-divergent pairs plus the corpus "
        "mean -- x128 measures each source against the GLOBAL mix "
        "(which hides two sources that deviate oppositely), x342 "
        "compares language models across langs; the source-PAIR "
        "matrix is the dedup/mixing planner's view: maximally "
        "divergent pairs are where cross-source near-dup rates "
        "(x70) should be lowest and mixing weights (x46) matter "
        "most. One-sided tokens (in A, absent from B) each contribute "
        "0.5*p*ln2, and their TOTAL is 0.5*ln2*(1 - shared mass) -- "
        "recovered from the same equi-join's p-sums, so no outer "
        "join and no epsilon hacks; all sums round-12 into DECIMAL. "
        "Scale: one token groupBy, then the pair join rides the "
        "(source x vocab) table -- 20 x 31 rows",
)
def x465_source_js_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "source", F.explode(_toks("text")).alias("w")
    ).groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("source").agg(F.sum("n").cast("long").alias("nt"))
    p = c.join(F.broadcast(t), "source").select(
        "source", "w", (F.col("n").cast("double") / F.col("nt")).alias("p")
    ).localCheckpoint(eager=False)
    a = p.select(
        F.col("source").alias("src_a"),
        "w",
        F.col("p").alias("pa"),
    )
    b = p.select(
        F.col("source").alias("src_b"),
        F.col("w").alias("wb"),
        F.col("p").alias("pb"),
    )
    mix = (F.col("pa") + F.col("pb")) / 2
    term = F.round(
        F.lit(0.5) * F.col("pa") * F.log(F.col("pa") / mix)
        + F.lit(0.5) * F.col("pb") * F.log(F.col("pb") / mix),
        12,
    ).cast("decimal(28,12)")
    ln2 = 0.6931471805599453
    js = (
        a.join(
            b,
            (F.col("w") == F.col("wb"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(
            (
                F.sum(term).cast("double")
                + F.lit(0.5)
                * ln2
                * (
                    F.lit(1.0)
                    - F.sum(
                        F.round("pa", 12).cast("decimal(28,12)")
                    ).cast("double")
                )
                + F.lit(0.5)
                * ln2
                * (
                    F.lit(1.0)
                    - F.sum(
                        F.round("pb", 12).cast("decimal(28,12)")
                    ).cast("double")
                )
            ).alias("js")
        )
        .localCheckpoint(eager=False)
    )
    m = js.agg(
        (
            F.sum(F.round("js", 10).cast("decimal(28,10)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mean_js")
    )
    return (
        js.crossJoin(F.broadcast(m))
        .select(
            "src_a",
            "src_b",
            F.round("js", 6).alias("js_divergence"),
            F.round(F.sqrt("js"), 6).alias("js_distance"),
            F.round("mean_js", 6).alias("corpus_mean_js"),
        )
        .orderBy(F.desc("js_divergence"), "src_a", "src_b")
        .limit(10)
    )


def _x466_sig_cols_sql() -> str:
    return ", ".join(
        f"list_min(list_transform(sh, s -> substr(md5('{salt}:' || s), "
        f"{off}, 8))) AS s{4 * salt + i}"
        for salt in (0, 1)
        for i, off in enumerate((1, 9, 17, 25))
    )


_X466_ORACLE = f"""
WITH d AS (
  SELECT doc_id, doc_id // 50 AS blk,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - 1),
           i -> array_to_string(
                  (string_split(lower(text), ' '))[i:i+2], ' ')
         )) AS sh
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 3
),
g AS (
  SELECT doc_id, blk, sh, {_x466_sig_cols_sql()} FROM d
),
pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh)
                  - len(list_intersect(a.sh, b.sh))), 6) AS jac,
         (CASE WHEN a.s0 = b.s0 THEN 1 ELSE 0 END
          + CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END
          + CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END
          + CASE WHEN a.s3 = b.s3 THEN 1 ELSE 0 END
          + CASE WHEN a.s4 = b.s4 THEN 1 ELSE 0 END
          + CASE WHEN a.s5 = b.s5 THEN 1 ELSE 0 END
          + CASE WHEN a.s6 = b.s6 THEN 1 ELSE 0 END
          + CASE WHEN a.s7 = b.s7 THEN 1 ELSE 0 END) / 8.0 AS est
  FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id
),
binned AS (
  SELECT LEAST(CAST(FLOOR(jac * 10) AS BIGINT), 9) AS bin,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(ROUND(est, 6) AS DECIMAL(28,6))) AS DOUBLE)
           / count(*) AS mean_est,
         CAST(SUM(CAST(ROUND(jac, 6) AS DECIMAL(28,6))) AS DOUBLE)
           / count(*) AS mean_exact,
         CAST(SUM(CAST(ROUND(ABS(est - jac), 8) AS DECIMAL(28,8)))
           AS DOUBLE) / count(*) AS mae
  FROM pairs GROUP BY 1
)
SELECT bin, ROUND(bin / 10.0, 1) AS bin_lo, n_pairs,
       ROUND(mean_est, 6) AS mean_est,
       ROUND(mean_exact, 6) AS mean_exact,
       ROUND(mean_est - mean_exact, 6) AS bias,
       ROUND(mae, 6) AS mae
FROM binned ORDER BY bin
"""


@register(
    "x466_minhash_calibration",
    _X466_ORACLE,
    doc="MinHash estimator calibration curve: over block-local doc "
        "pairs (doc_id//50 blocks -- LINEAR pair count with bounded "
        "block size, covering the FULL jaccard range where banded "
        "candidates only sample the top), the 8-component md5 "
        "minhash match fraction vs exact shingle Jaccard, binned by "
        "exact-jaccard decile: per bin the estimator's bias and MAE "
        "-- the report that says how much to trust x40/x408's "
        "signatures BETWEEN the thresholds (theory: E[est] = J, sd "
        "= sqrt(J(1-J)/8) ~ 0.17 at J=0.5 -- 8 components are a "
        "BLOCKING filter, not a measurement, which is exactly why "
        "x03/x376 verify with exact Jaccard; this entry quantifies "
        "it on the corpus instead of citing it). Same md5-slice "
        "signature math as det_band_keys/x295 (the one definition). "
        "Exactness: per-pair est/jac round before DECIMAL bin "
        "accumulation. Scale: block-equi self-join, never all-pairs",
)
def x466_minhash_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...ops.dedup import shingle_arrays

    docs = load_table(spark, sf_dir, "documents")
    arrs = shingle_arrays(docs, "doc_id", "text")

    def _sliced_hash(salt: int, off: int):
        return lambda s: F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), s)), off, 8
        )

    sigs = F.array(
        *[
            F.array_min(F.transform(F.col("sh"), _sliced_hash(salt, off)))
            for salt in (0, 1)
            for off in (1, 9, 17, 25)
        ]
    )
    g = arrs.select(
        F.col("doc").alias("doc_id"),
        (F.col("doc") / 50).cast("long").alias("blk"),
        "sh",
        sigs.alias("sigs"),
    ).localCheckpoint(eager=False)
    b = g.select(
        F.col("doc_id").alias("idb"),
        F.col("blk").alias("blkb"),
        F.col("sh").alias("shb"),
        F.col("sigs").alias("sigsb"),
    )
    inter = F.size(F.array_intersect("sh", "shb"))
    jac = F.round(
        inter.cast("double")
        / (F.size("sh") + F.size("shb") - inter),
        6,
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(
                    "sigs", "sigsb", lambda x, y: x == y
                ),
                lambda m: m,
            )
        )
        / F.lit(8.0)
    )
    pairs = g.join(
        b,
        (F.col("blk") == F.col("blkb"))
        & (F.col("doc_id") < F.col("idb")),
    ).select(jac.alias("jac"), est.alias("est"))
    binned = pairs.groupBy(
        F.least(F.floor(F.col("jac") * 10).cast("long"), F.lit(9)).alias(
            "bin"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            F.sum(F.round("est", 6).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mean_est"),
        (
            F.sum(F.round("jac", 6).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mean_exact"),
        (
            F.sum(
                F.round(F.abs(F.col("est") - F.col("jac")), 8).cast(
                    "decimal(28,8)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("mae"),
    )
    return binned.select(
        "bin",
        F.round(F.col("bin") / 10.0, 1).alias("bin_lo"),
        "n_pairs",
        F.round("mean_est", 6).alias("mean_est"),
        F.round("mean_exact", 6).alias("mean_exact"),
        F.round(F.col("mean_est") - F.col("mean_exact"), 6).alias(
            "bias"
        ),
        F.round("mae", 6).alias("mae"),
    ).orderBy("bin")


_X467_ORACLE = """
WITH e AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events
),
s AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(vc) AS BIGINT) AS sv,
         CAST(SUM(vc * vc) AS BIGINT) AS sv2
  FROM e GROUP BY 1
),
p AS (
  SELECT t1.n AS n1, t0.n AS n0,
         CAST(t1.sv AS DOUBLE) / t1.n / 100 AS m1,
         CAST(t0.sv AS DOUBLE) / t0.n / 100 AS m0,
         (CAST(t1.sv2 AS DOUBLE) - CAST(t1.sv AS DOUBLE) * t1.sv / t1.n)
           / (t1.n - 1) / 10000 AS v1,
         (CAST(t0.sv2 AS DOUBLE) - CAST(t0.sv AS DOUBLE) * t0.sv / t0.n)
           / (t0.n - 1) / 10000 AS v0
  FROM (SELECT * FROM s WHERE t = 1) t1
  CROSS JOIN (SELECT * FROM s WHERE t = 0) t0
),
g AS (
  SELECT n1, n0, m1 - m0 AS d,
         SQRT(v1 / n1 + v0 / n0) AS se,
         0.05 * SQRT(((n1 - 1) * v1 + (n0 - 1) * v0)
                     / (n1 + n0 - 2)) AS margin
  FROM p
)
SELECT n1, n0,
       ROUND(d, 6) AS diff,
       ROUND(se, 6) AS se,
       ROUND(margin, 6) AS margin,
       ROUND((d + margin) / se, 4) AS t_lower,
       ROUND((margin - d) / se, 4) AS t_upper,
       (d + margin) / se > 1.644854 AND (margin - d) / se > 1.644854
         AS equivalent_5pct
FROM g
"""


@register(
    "x467_tost_equivalence",
    _X467_ORACLE,
    doc="TOST equivalence test (two one-sided tests) for the arm "
        "difference in event value: is the treatment PROVABLY within "
        "+-0.05 pooled-sd of control? -- the deploy-safety question "
        "every difference test in the registry (x286, x444, x445) "
        "gets BACKWARD: failing to reject 'no difference' is not "
        "evidence of equivalence; TOST rejects 'difference exceeds "
        "the margin' from both sides (t_lower = (d+m)/se and "
        "t_upper = (m-d)/se both > z_{0.95}), the FDA/regression-"
        "gate standard. Exactness: the same exact cent-integer "
        "moments as x444, margin from the pooled sd, fixed-order "
        "doubles. Scale: one (arm) groupBy, 2-row algebra",
)
def x467_tost_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    s = e.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vc").cast("long").alias("sv"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("sv2"),
    )
    t1 = s.filter(F.col("t") == 1).select(
        F.col("n").alias("n1"),
        F.col("sv").alias("sv1"),
        F.col("sv2").alias("sv21"),
    )
    t0 = s.filter(F.col("t") == 0).select(
        F.col("n").alias("n0"),
        F.col("sv").alias("sv0"),
        F.col("sv2").alias("sv20"),
    )
    m1 = F.col("sv1").cast("double") / F.col("n1") / 100
    m0 = F.col("sv0").cast("double") / F.col("n0") / 100
    v1 = (
        (
            F.col("sv21").cast("double")
            - F.col("sv1").cast("double") * F.col("sv1") / F.col("n1")
        )
        / (F.col("n1") - 1)
        / 10000
    )
    v0 = (
        (
            F.col("sv20").cast("double")
            - F.col("sv0").cast("double") * F.col("sv0") / F.col("n0")
        )
        / (F.col("n0") - 1)
        / 10000
    )
    g = t1.crossJoin(F.broadcast(t0)).select(
        "n1",
        "n0",
        (m1 - m0).alias("d"),
        F.sqrt(v1 / F.col("n1") + v0 / F.col("n0")).alias("se"),
        (
            F.lit(0.05)
            * F.sqrt(
                ((F.col("n1") - 1) * v1 + (F.col("n0") - 1) * v0)
                / (F.col("n1") + F.col("n0") - 2)
            )
        ).alias("margin"),
    )
    tl = (F.col("d") + F.col("margin")) / F.col("se")
    tu = (F.col("margin") - F.col("d")) / F.col("se")
    return g.select(
        "n1",
        "n0",
        F.round("d", 6).alias("diff"),
        F.round("se", 6).alias("se"),
        F.round("margin", 6).alias("margin"),
        F.round(tl, 4).alias("t_lower"),
        F.round(tu, 4).alias("t_upper"),
        ((tl > 1.644854) & (tu > 1.644854)).alias("equivalent_5pct"),
    )


_X468_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS truth,
         -- deterministic md5 'coins': keep-truth with prob 3/4, else
         -- answer 'yes' with prob 1/2 (classic Warner-style RR)
         CASE WHEN (strpos('0123456789abcdef',
                substr(md5('keep:' || CAST(user_id AS VARCHAR)), 1, 1))
                - 1) < 12 THEN 1 ELSE 0 END AS keep,
         CASE WHEN (strpos('0123456789abcdef',
                substr(md5('coin:' || CAST(user_id AS VARCHAR)), 1, 1))
                - 1) < 8 THEN 1 ELSE 0 END AS coin
  FROM events GROUP BY 1
),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(truth) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN keep = 1 THEN truth ELSE coin END)
           AS BIGINT) AS n_yes
  FROM u
)
SELECT n, n_true,
       ROUND(CAST(n_true AS DOUBLE) / n, 6) AS true_rate,
       n_yes,
       ROUND(CAST(n_yes AS DOUBLE) / n, 6) AS observed_rate,
       -- E[obs] = 0.75*p + 0.25*0.5  =>  p-hat = (obs - 0.125)/0.75
       ROUND((CAST(n_yes AS DOUBLE) / n - 0.125) / 0.75, 6)
         AS debiased_rate,
       ROUND(SQRT((CAST(n_yes AS DOUBLE) / n)
                  * (1 - CAST(n_yes AS DOUBLE) / n) / n) / 0.75, 6)
         AS debiased_se,
       ROUND(ABS((CAST(n_yes AS DOUBLE) / n - 0.125) / 0.75
                 - CAST(n_true AS DOUBLE) / n), 6) AS realized_error
FROM obs
"""


@register(
    "x468_randomized_response",
    _X468_ORACLE,
    doc="randomized-response (local differential privacy) round trip "
        "on the purchase flag: each user keeps their true answer "
        "with probability 3/4 (md5 'keep' coin) else answers a fair "
        "md5 'coin' -- the Warner mechanism, epsilon = ln(((3/4) + "
        "(1/4)(1/2)) / ((1/4)(1/2))) = ln 7 -- then the aggregate "
        "debiases p-hat = (obs - 1/8)/(3/4), with its se and, "
        "because the truth is in hand, the REALIZED error: the "
        "mechanism, the estimator, and the report card in one row "
        "(the x428 pattern applied to privacy). The k-anonymity "
        "family (x172/x246/x430) protects records at rest; RR is "
        "the COLLECTION-time leg, and the deterministic md5 coins "
        "make an inherently randomized mechanism replayable in both "
        "engines (the repo's determinism contract doing real work). "
        "Scale: one user groupBy + 1-row algebra",
)
def x468_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hexpos = lambda prefix: (  # noqa: E731 -- tiny local expr builder
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix), F.col("user_id").cast("string")
                    )
                ),
                1,
                1,
            ),
        )
        - 1
    )
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("truth"),
    ).select(
        "truth",
        F.when(hexpos("keep:") < 12, 1).otherwise(0).alias("keep"),
        F.when(hexpos("coin:") < 8, 1).otherwise(0).alias("coin"),
    )
    obs = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("truth").cast("long").alias("n_true"),
        F.sum(
            F.when(F.col("keep") == 1, F.col("truth")).otherwise(
                F.col("coin")
            )
        )
        .cast("long")
        .alias("n_yes"),
    )
    obs_rate = F.col("n_yes").cast("double") / F.col("n")
    deb = (obs_rate - 0.125) / 0.75
    return obs.select(
        "n",
        "n_true",
        F.round(F.col("n_true").cast("double") / F.col("n"), 6).alias(
            "true_rate"
        ),
        "n_yes",
        F.round(obs_rate, 6).alias("observed_rate"),
        F.round(deb, 6).alias("debiased_rate"),
        F.round(
            F.sqrt(obs_rate * (1 - obs_rate) / F.col("n")) / 0.75, 6
        ).alias("debiased_se"),
        F.round(
            F.abs(deb - F.col("n_true").cast("double") / F.col("n")), 6
        ).alias("realized_error"),
    )


_X469_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
flat AS (SELECT CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS sg,
         CAST(SUM(CAST(gap AS DECIMAL(38,0))
                  * CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS sg2
  FROM flat
),
-- consecutive gap pairs within a user (memory coefficient)
pairsrc AS (
  SELECT user_id, gap,
         LAG(gap) OVER (PARTITION BY user_id ORDER BY rn) AS prev_gap
  FROM (
    SELECT g2.user_id, CAST(g2.gap AS BIGINT) AS gap,
           row_number() OVER (PARTITION BY g2.user_id
                              ORDER BY g2.ord) AS rn
    FROM (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
             ts AS ord
      FROM events
    ) g2 WHERE g2.gap IS NOT NULL
  )
),
pm AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(SUM(CAST(prev_gap AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(prev_gap AS DECIMAL(38,0))
                  * CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(prev_gap AS DECIMAL(38,0))
                  * CAST(prev_gap AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(gap AS DECIMAL(38,0))
                  * CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM pairsrc WHERE prev_gap IS NOT NULL
)
SELECT m.n AS n_gaps, pm.k AS n_pairs,
       ROUND((SQRT((m.sg2 - m.sg * m.sg / m.n) / (m.n - 1))
              - m.sg / m.n)
             / (SQRT((m.sg2 - m.sg * m.sg / m.n) / (m.n - 1))
                + m.sg / m.n), 6) AS burstiness_b,
       ROUND((pm.sxy - pm.sx * pm.sy / pm.k)
             / SQRT((pm.sxx - pm.sx * pm.sx / pm.k)
                    * (pm.syy - pm.sy * pm.sy / pm.k)), 6)
         AS memory_m
FROM m CROSS JOIN pm
"""


@register(
    "x469_burstiness_memory",
    _X469_ORACLE,
    doc="Goh-Barabasi burstiness/memory plane of the event stream: "
        "B = (sigma - mu)/(sigma + mu) of inter-event gaps (B = -1 "
        "periodic, 0 Poisson, -> 1 bursty) and M = Pearson r of "
        "consecutive same-user gaps -- the TWO-NUMBER summary that "
        "classifies the process x457's KS only accepts/rejects "
        "(human activity lives at B > 0, M ~ 0; schedulers at "
        "B < 0): together they say WHICH non-Poisson world the "
        "stream is in, deciding between x212's burst windows and "
        "x288's seasonal model. Exactness: gap moments accumulate "
        "in DECIMAL(38,0) (microsecond gaps square past int64 -- "
        "the one place the registry needs 128-bit integer sums), "
        "pair moments likewise; both statistics are 1-row algebra. "
        "Scale: two LAG passes over the same user-key shuffle",
)
def x469_burstiness_memory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    g = ev.select(
        "user_id",
        "ts",
        "event_id",
        (us - F.lag(us).over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = g.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("gap")).cast("double").alias("sg"),
        F.sum(dec("gap") * dec("gap")).cast("double").alias("sg2"),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = g.select(
        "user_id",
        "gap",
        F.lag("gap").over(w2).alias("prev_gap"),
    ).filter(F.col("prev_gap").isNotNull())
    pm = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(dec("prev_gap")).cast("double").alias("sx"),
        F.sum(dec("gap")).cast("double").alias("sy"),
        F.sum(dec("prev_gap") * dec("gap")).cast("double").alias("sxy"),
        F.sum(dec("prev_gap") * dec("prev_gap"))
        .cast("double")
        .alias("sxx"),
        F.sum(dec("gap") * dec("gap")).cast("double").alias("syy"),
    )
    sigma = F.sqrt(
        (F.col("sg2") - F.col("sg") * F.col("sg") / F.col("n"))
        / (F.col("n") - 1)
    )
    mu = F.col("sg") / F.col("n")
    mem = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k"))
        * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("k"))
    )
    return m.crossJoin(F.broadcast(pm)).select(
        F.col("n").alias("n_gaps"),
        F.col("k").alias("n_pairs"),
        F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness_b"),
        F.round(mem, 6).alias("memory_m"),
    )


_X470_ORACLE = """
WITH h AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
           string_split(lower(text), ' '))), ' ')) AS hh, doc_id
  FROM documents
),
grp AS (
  SELECT hh, list_sort(list(doc_id)) AS ids
  FROM h GROUP BY 1 HAVING count(*) > 1
),
lags AS (
  SELECT unnest(list_transform(
           range(2, len(ids) + 1), i -> ids[i] - ids[i - 1]
         )) AS lag
  FROM grp
),
b AS (
  SELECT CASE WHEN lag <= 10 THEN 1
              WHEN lag <= 100 THEN 2
              WHEN lag <= 1000 THEN 3
              ELSE 4 END AS bucket,
         lag
  FROM lags
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_lags,
         CAST(SUM(lag) AS BIGINT) AS s_lag
  FROM b
)
SELECT bucket,
       CASE bucket WHEN 1 THEN '<=10' WHEN 2 THEN '11-100'
            WHEN 3 THEN '101-1000' ELSE '>1000' END AS lag_range,
       CAST(count(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(count(*) AS DOUBLE) / max(t.n_lags), 6) AS share,
       CAST(MIN(lag) AS BIGINT) AS min_lag,
       CAST(MAX(lag) AS BIGINT) AS max_lag,
       ROUND(CAST(max(t.s_lag) AS DOUBLE) / max(t.n_lags), 4)
         AS corpus_mean_lag
FROM b CROSS JOIN tot t
GROUP BY bucket ORDER BY bucket
"""


@register(
    "x470_duplicate_lag",
    _X470_ORACLE,
    doc="duplicate re-occurrence lag distribution: for every shared "
        "content FINGERPRINT (x02/x428's sorted-distinct-token md5 "
        "-- byte-exact text dups are absent below sf0.1, the "
        "fingerprint grain has groups at every SF), the doc_id gaps "
        "between CONSECUTIVE "
        "occurrences, bucketed by decade -- the TEMPORAL structure "
        "of duplication that x01 (who survives), x60 (how much per "
        "source) and x440 (marginal yield) never expose: near lags "
        "are crawler re-fetches the ingest buffer could have "
        "suppressed (x143's watermark window), far lags are mirrors "
        "that only the persistent index (x295) catches -- the "
        "histogram is the empirical basis for sizing BOTH horizons. "
        "Exactness: per-group consecutive diffs from one sorted "
        "collect_list fold (groups are duplicate-sized, bounded); "
        "integer lags, exact counts. Scale: one hash-groupBy (x01's "
        "shape) + a duplicate-rows-only explode",
)
def x470_duplicate_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grp = (
        docs.select(
            F.md5(
                F.array_join(
                    F.array_sort(F.array_distinct(_toks("text"))),
                    " ",
                )
            ).alias("hh"),
            "doc_id",
        )
        .groupBy("hh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    lags = grp.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("ids")),
                lambda i: F.element_at("ids", i)
                - F.element_at("ids", i - 1),
            )
        ).alias("lag")
    )
    b = lags.select(
        F.when(F.col("lag") <= 10, 1)
        .when(F.col("lag") <= 100, 2)
        .when(F.col("lag") <= 1000, 3)
        .otherwise(4)
        .alias("bucket"),
        "lag",
    ).localCheckpoint(eager=False)
    tot = b.agg(
        F.count(F.lit(1)).cast("long").alias("n_lags"),
        F.sum("lag").cast("long").alias("s_lag"),
    )
    label = (
        F.when(F.col("bucket") == 1, "<=10")
        .when(F.col("bucket") == 2, "11-100")
        .when(F.col("bucket") == 3, "101-1000")
        .otherwise(">1000")
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("n_lags"), 6
            ).alias("share"),
            F.min("lag").cast("long").alias("min_lag"),
            F.max("lag").cast("long").alias("max_lag"),
            F.round(
                F.max("s_lag").cast("double") / F.max("n_lags"), 4
            ).alias("corpus_mean_lag"),
        )
        .select(
            "bucket",
            label.alias("lag_range"),
            "n_pairs",
            "share",
            "min_lag",
            "max_lag",
            "corpus_mean_lag",
        )
        .orderBy("bucket")
    )


_X471_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY 1
),
ks AS (SELECT unnest([1, 2, 4, 8]) AS k),
club AS (
  SELECT k.k, CAST(count(*) AS BIGINT) AS n_k
  FROM ks k JOIN deg d ON d.d > k.k
  GROUP BY 1
),
edges_in AS (
  SELECT k.k, CAST(count(*) AS BIGINT) AS e_k
  FROM ks k
  JOIN e ON TRUE
  JOIN deg du ON du.node = e.u AND du.d > k.k
  JOIN deg dv ON dv.node = e.v AND dv.d > k.k
  GROUP BY 1
)
SELECT c.k, c.n_k AS club_nodes,
       COALESCE(ei.e_k, 0) AS club_edges,
       ROUND(CAST(2 * COALESCE(ei.e_k, 0) AS DOUBLE)
             / (CAST(c.n_k AS DOUBLE) * (c.n_k - 1)), 6)
         AS rich_club_phi
FROM club c LEFT JOIN edges_in ei ON ei.k = c.k
WHERE c.n_k >= 2
ORDER BY c.k
"""


@register(
    "x471_rich_club",
    _X471_ORACLE,
    doc="rich-club coefficient of the co-purchase graph: for degree "
        "thresholds k in {1, 2, 4, 8}, phi(k) = realized edge "
        "density among nodes of degree > k -- rising phi(k) means "
        "hubs preferentially interconnect, the structural fact that "
        "decides whether x423's hub-removal test is fragile (a "
        "wired-together elite) or robust, and that x455's tail "
        "exponent and x361's assortativity each only hint at. "
        "Exactness: degrees and club edge counts are exact BIGINTs; "
        "phi is one division. Scale: the x210 edge list + two "
        "degree-broadcast semijoins per threshold (x4 VALUES "
        "fan-out); clubs with < 2 nodes are dropped (phi undefined)",
)
def x471_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = graph.support2_edges(load_table(spark, sf_dir, "lineitem"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    ks = spark.createDataFrame([(1,), (2,), (4,), (8,)], "k long")
    club = (
        F.broadcast(ks)
        .join(deg, deg["d"] > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("club_nodes"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ej = e.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    edges_in = (
        F.broadcast(ks)
        .join(ej, (ej["du"] > F.col("k")) & (ej["dv"] > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("club_edges"))
    )
    return (
        club.join(edges_in, "k", "left")
        .filter(F.col("club_nodes") >= 2)
        .select(
            "k",
            "club_nodes",
            F.coalesce("club_edges", F.lit(0)).alias("club_edges"),
            F.round(
                (
                    2 * F.coalesce("club_edges", F.lit(0)).cast(
                        "double"
                    )
                )
                / (
                    F.col("club_nodes").cast("double")
                    * (F.col("club_nodes") - 1)
                ),
                6,
            ).alias("rich_club_phi"),
        )
        .orderBy("k")
    )
