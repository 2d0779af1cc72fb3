"""Extension entries x544/x546+ (round-8 wave): time-series structure
diagnostics that extend the x503-x512 battery -- the ORDINAL-pattern
complexity lens (permutation entropy: distribution-free, outlier-
immune, where x512's Hurst is moment-based), and the AR-order
identification panel (Yule-Walker AR(2) + partial autocorrelations
via Durbin-Levinson) that turns x510's raw ACF into the
'which lags matter DIRECTLY' answer model selection needs.

Engine-exactness recipes follow the proven registry contracts
(SURVEY.md section 5.3): daily revenue quantizes to exact integer
cents; pattern counts are exact integers; ACFs reuse x510's
n-scaled integer centering identity and round BEFORE any derived
algebra so both engines run the identical double expression;
calendar equi-joins pair lagged days (gap days drop pairs, stated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from .. import register
from .diagnostics import _daily_revenue


_X544_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
tri AS (
  SELECT a.y AS y0, b.y AS y1, c.y AS y2
  FROM daily a
  JOIN daily b ON b.day = a.day + 1
  JOIN daily c ON c.day = a.day + 2
),
pat AS (
  SELECT CASE
    WHEN y0 <= y1 AND y1 <= y2 THEN '012'
    WHEN y0 <= y1 AND y1 > y2 AND y0 <= y2 THEN '021'
    WHEN y0 <= y1 AND y1 > y2 AND y0 > y2 THEN '201'
    WHEN y0 > y1 AND y0 <= y2 THEN '102'
    WHEN y0 > y1 AND y0 > y2 AND y1 <= y2 THEN '120'
    ELSE '210' END AS p
  FROM tri
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN p = '012' THEN 1 ELSE 0 END) AS BIGINT) AS c012,
    CAST(SUM(CASE WHEN p = '021' THEN 1 ELSE 0 END) AS BIGINT) AS c021,
    CAST(SUM(CASE WHEN p = '102' THEN 1 ELSE 0 END) AS BIGINT) AS c102,
    CAST(SUM(CASE WHEN p = '120' THEN 1 ELSE 0 END) AS BIGINT) AS c120,
    CAST(SUM(CASE WHEN p = '201' THEN 1 ELSE 0 END) AS BIGINT) AS c201,
    CAST(SUM(CASE WHEN p = '210' THEN 1 ELSE 0 END) AS BIGINT) AS c210
  FROM pat
)
SELECT n AS n_triples, c012, c021, c102, c120, c201, c210,
  ROUND(-(
    (CASE WHEN c012 = 0 THEN 0.0 ELSE (CAST(c012 AS DOUBLE) / n)
          * ln(CAST(c012 AS DOUBLE) / n) END)
    + (CASE WHEN c021 = 0 THEN 0.0 ELSE (CAST(c021 AS DOUBLE) / n)
            * ln(CAST(c021 AS DOUBLE) / n) END)
    + (CASE WHEN c102 = 0 THEN 0.0 ELSE (CAST(c102 AS DOUBLE) / n)
            * ln(CAST(c102 AS DOUBLE) / n) END)
    + (CASE WHEN c120 = 0 THEN 0.0 ELSE (CAST(c120 AS DOUBLE) / n)
            * ln(CAST(c120 AS DOUBLE) / n) END)
    + (CASE WHEN c201 = 0 THEN 0.0 ELSE (CAST(c201 AS DOUBLE) / n)
            * ln(CAST(c201 AS DOUBLE) / n) END)
    + (CASE WHEN c210 = 0 THEN 0.0 ELSE (CAST(c210 AS DOUBLE) / n)
            * ln(CAST(c210 AS DOUBLE) / n) END)
  ) / ln(6.0), 6) AS norm_perm_entropy
FROM c
"""


@register(
    "x544_permutation_entropy",
    _X544_ORACLE,
    doc="Bandt-Pompe permutation entropy (order 3) of daily revenue: "
        "classify every consecutive-calendar day triple by the "
        "ordinal pattern of its values (ties broken by time index, "
        "the BP convention: (y_i,i) keys give a total order, so "
        "exactly one of the 6 patterns holds) and report the "
        "normalized Shannon entropy of the pattern distribution -- "
        "1.0 = patterns equiprobable (complex/noisy), low = a few "
        "motifs dominate (deterministic structure); the ordinal, "
        "outlier-immune complexity lens beside x488's turning-point "
        "count (one pattern statistic), x512's moment-based Hurst "
        "and x510's linear-only ACF. Exactness: pattern counts are "
        "exact integers off integer-cent comparisons; the 6-term "
        "entropy sum is one fixed-order double expression with "
        "explicit 0*ln(0)=0 guards, round 6. Scale: one day-grain "
        "aggregate + two calendar equi-joins (gap days drop "
        "triples, stated), then a 1-row fold",
)
def x544_permutation_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    a = daily.select(F.col("day").alias("d0"), F.col("y").alias("y0"))
    b = daily.select(F.col("day").alias("d1"), F.col("y").alias("y1"))
    c = daily.select(F.col("day").alias("d2"), F.col("y").alias("y2"))
    tri = a.join(b, F.col("d1") == F.date_add("d0", 1)).join(
        c, F.col("d2") == F.date_add("d0", 2)
    )
    y0, y1, y2 = F.col("y0"), F.col("y1"), F.col("y2")
    pat = tri.select(
        F.when((y0 <= y1) & (y1 <= y2), "012")
        .when((y0 <= y1) & (y1 > y2) & (y0 <= y2), "021")
        .when((y0 <= y1) & (y1 > y2) & (y0 > y2), "201")
        .when((y0 > y1) & (y0 <= y2), "102")
        .when((y0 > y1) & (y0 > y2) & (y1 <= y2), "120")
        .otherwise("210")
        .alias("p")
    )
    cnt = lambda s: (  # noqa: E731
        F.sum(F.when(F.col("p") == s, 1).otherwise(0))
        .cast("long")
        .alias("c" + s)
    )
    cdf = pat.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cnt("012"),
        cnt("021"),
        cnt("102"),
        cnt("120"),
        cnt("201"),
        cnt("210"),
    )
    nd = F.col("n").cast("double")

    def term(s: str):
        cd = F.col("c" + s).cast("double")
        return F.when(F.col("c" + s) == 0, F.lit(0.0)).otherwise(
            (cd / nd) * F.log(cd / nd)
        )

    ent = -(
        term("012")
        + term("021")
        + term("102")
        + term("120")
        + term("201")
        + term("210")
    ) / F.log(F.lit(6.0))
    return cdf.select(
        F.col("n").alias("n_triples"),
        "c012",
        "c021",
        "c102",
        "c120",
        "c201",
        "c210",
        F.round(ent, 6).alias("norm_perm_entropy"),
    )


_X546_ORACLE = """
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
  SELECT d.day, CAST(t.n AS HUGEINT) * d.y - t.s AS cv
  FROM daily d, tot t
),
den AS (SELECT CAST(SUM(cv * cv) AS HUGEINT) AS d2 FROM c),
lags AS (SELECT * FROM (VALUES (1), (2), (3)) AS l(lag)),
num AS (
  SELECT l.lag, CAST(SUM(a.cv * b.cv) AS HUGEINT) AS nk
  FROM lags l
  JOIN c a ON TRUE
  JOIN c b ON b.day = a.day + CAST(l.lag AS INTEGER)
  GROUP BY 1
),
r AS (
  SELECT
    MAX(CASE WHEN lag = 1 THEN ROUND(CAST(nk AS DOUBLE)
         / CAST(den.d2 AS DOUBLE), 10) END) AS r1,
    MAX(CASE WHEN lag = 2 THEN ROUND(CAST(nk AS DOUBLE)
         / CAST(den.d2 AS DOUBLE), 10) END) AS r2,
    MAX(CASE WHEN lag = 3 THEN ROUND(CAST(nk AS DOUBLE)
         / CAST(den.d2 AS DOUBLE), 10) END) AS r3
  FROM num, den
),
dl AS (
  SELECT r1, r2, r3,
         r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
  FROM r
)
SELECT ROUND(r1, 6) AS acf1, ROUND(r2, 6) AS acf2,
       ROUND(r3, 6) AS acf3,
       ROUND(r1, 6) AS pacf1,
       ROUND((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS pacf2,
       ROUND((r3 - phi1 * r2 - phi2 * r1)
             / (1.0 - phi1 * r1 - phi2 * r2), 6) AS pacf3,
       ROUND(phi1, 6) AS ar2_phi1,
       ROUND(phi2, 6) AS ar2_phi2,
       ROUND(1.0 - phi1 * r1 - phi2 * r2, 6)
         AS ar2_innovation_ratio
FROM dl
"""


@register(
    "x546_yule_walker_pacf",
    _X546_ORACLE,
    doc="Yule-Walker AR(2) fit + partial autocorrelations (lags 1-3) "
        "of daily revenue via the Durbin-Levinson recursion: pacf2 "
        "= (r2-r1^2)/(1-r1^2), AR(2) coefficients phi1 = "
        "r1(1-r2)/(1-r1^2), phi2 = pacf2, pacf3 from the stage-2 "
        "coefficients, plus the innovation-variance ratio 1 - "
        "phi1*r1 - phi2*r2 (share of variance the AR(2) does NOT "
        "explain) -- the ORDER-identification panel that turns "
        "x510's raw ACF into 'which lags matter DIRECTLY' (an "
        "AR(1) has r2 = r1^2 exactly; pacf2 is the excess), the "
        "model-selection companion x484 (DW), x510 (whiteness) "
        "and x511 (VR) stop short of. Exactness: autocovariances "
        "reuse x510's n-scaled integer-centering identity (exact "
        "HUGEINT/DECIMAL sums, n^2 cancels in r_k); each r_k "
        "rounds 10 BEFORE the recursion so both engines run the "
        "identical fixed-order double algebra; calendar equi-join "
        "lag pairing (gap days drop pairs, stated). Precondition "
        "(stated, like x547's DECIMAL38 bound): pacf3's "
        "denominator is the AR(2) innovation ratio 1 - phi1*r1 - "
        "phi2*r2, emitted alongside and replay-asserted in (0,1] "
        "-- a series the AR(2) fits PERFECTLY (ratio = 0) has no "
        "defined lag-3 partial; both engines would emit the same "
        "non-finite sentinel. Scale: one day-grain aggregate, 3 "
        "day-domain equi-joins, constant algebra",
)
def x546_yule_walker_pacf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
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
    ).localCheckpoint(eager=False)
    den = c.agg(
        F.sum(F.col("cv") * F.col("cv"))
        .cast("decimal(38,0)")
        .alias("d2")
    )
    lags = spark.createDataFrame([(k,) for k in (1, 2, 3)], "lag int")
    a = c.select(F.col("day").alias("da"), F.col("cv").alias("ca"))
    b = c.select(F.col("day").alias("db"), F.col("cv").alias("cb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("ca") * F.col("cb"))
            .cast("decimal(38,0)")
            .alias("nk")
        )
    )
    acf = F.round(
        F.col("nk").cast("double") / F.col("d2").cast("double"), 10
    )
    r = (
        num.crossJoin(F.broadcast(den))
        .select("lag", acf.alias("acf"))
        .agg(
            F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("r1"),
            F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("r2"),
            F.max(F.when(F.col("lag") == 3, F.col("acf"))).alias("r3"),
        )
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    return r.select(
        F.round(r1, 6).alias("acf1"),
        F.round(r2, 6).alias("acf2"),
        F.round(r3, 6).alias("acf3"),
        F.round(r1, 6).alias("pacf1"),
        F.round((r2 - r1 * r1) / (1.0 - r1 * r1), 6).alias("pacf2"),
        F.round(
            (r3 - phi1 * r2 - phi2 * r1)
            / (1.0 - phi1 * r1 - phi2 * r2),
            6,
        ).alias("pacf3"),
        F.round(phi1, 6).alias("ar2_phi1"),
        F.round(phi2, 6).alias("ar2_phi2"),
        F.round(1.0 - phi1 * r1 - phi2 * r2, 6).alias(
            "ar2_innovation_ratio"
        ),
    )


_X549_ORACLE = """
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
  SELECT d.day, CAST(t.n AS HUGEINT) * d.y - t.s AS cv
  FROM daily d, tot t
),
g0 AS (SELECT CAST(SUM(cv * cv) AS HUGEINT) AS n0 FROM c),
lags AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5)) AS l(lag)),
num AS (
  SELECT l.lag, CAST(SUM(a.cv * b.cv) AS HUGEINT) AS nk
  FROM lags l
  JOIN c a ON TRUE
  JOIN c b ON b.day = a.day + CAST(l.lag AS INTEGER)
  GROUP BY 1
),
v AS (
  SELECT t.n,
         CAST(g0.n0 AS DOUBLE)
           / (CAST(t.n AS DOUBLE) * t.n * t.n) AS gamma0,
         (CAST(g0.n0 AS DOUBLE)
          + 2.0 * SUM((1.0 - CAST(num.lag AS DOUBLE) / 6.0)
                      * CAST(num.nk AS DOUBLE)))
           / (CAST(t.n AS DOUBLE) * t.n * t.n) AS lrv_raw
  FROM num, g0, tot t
  GROUP BY t.n, g0.n0
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(gamma0, 2) AS gamma0_cents2,
       ROUND(sqrt(gamma0 / n), 2) AS se_iid_cents,
       ROUND(sqrt(GREATEST(lrv_raw, 0.0) / n), 2) AS se_nw_cents,
       ROUND(sqrt(GREATEST(lrv_raw, 0.0) / gamma0), 6)
         AS nw_iid_se_ratio
FROM v
"""


@register(
    "x549_newey_west",
    _X549_ORACLE,
    doc="Newey-West HAC standard error of the daily-revenue mean "
        "(Bartlett kernel, 5 lags): lrv = gamma0 + 2*sum (1-k/6)*"
        "gamma_k, se = sqrt(lrv/n) beside the iid se and their "
        "ratio -- the uncertainty CORRECTION x510 motivates (if "
        "Ljung-Box rejects whiteness, the iid se on any daily-"
        "mean KPI is wrong by exactly this ratio; >1 means "
        "positive autocorrelation silently shrinks error bars). "
        "Exactness: autocovariance numerators reuse x510's "
        "n-scaled integer-centering identity (exact HUGEINT/"
        "DECIMAL sums); Bartlett weights are exact rationals "
        "applied in one fixed-order double expression; the "
        "kernel guarantees lrv >= 0 on gap-free spans -- calendar "
        "gaps could in principle break that, so both engines "
        "clamp with GREATEST(lrv, 0) (stated). Scale: one "
        "day-grain aggregate, 5 day-domain equi-joins, constant "
        "algebra",
)
def x549_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    g0 = c.agg(
        F.sum(F.col("cv") * F.col("cv"))
        .cast("decimal(38,0)")
        .alias("n0"),
        F.first("n").alias("n"),
    )
    lags = spark.createDataFrame(
        [(k,) for k in range(1, 6)], "lag int"
    )
    a = c.select(F.col("day").alias("da"), F.col("cv").alias("ca"))
    b = c.select(F.col("day").alias("db"), F.col("cv").alias("cb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("ca") * F.col("cb"))
            .cast("decimal(38,0)")
            .alias("nk")
        )
    )
    v = num.crossJoin(F.broadcast(g0)).agg(
        F.first("n").alias("n"),
        F.first("n0").alias("n0"),
        F.sum(
            (1.0 - F.col("lag").cast("double") / 6.0)
            * F.col("nk").cast("double")
        ).alias("wsum"),
    )
    nd = F.col("n").cast("double")
    n3 = nd * F.col("n") * F.col("n")
    gamma0 = F.col("n0").cast("double") / n3
    lrv = (F.col("n0").cast("double") + 2.0 * F.col("wsum")) / n3
    lrv_c = F.greatest(lrv, F.lit(0.0))
    return v.select(
        F.col("n").alias("n_days"),
        F.round(gamma0, 2).alias("gamma0_cents2"),
        F.round(F.sqrt(gamma0 / nd), 2).alias("se_iid_cents"),
        F.round(F.sqrt(lrv_c / nd), 2).alias("se_nw_cents"),
        F.round(F.sqrt(lrv_c / gamma0), 6).alias("nw_iid_se_ratio"),
    )


_X550_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
p AS (
  SELECT CAST(a.y AS HUGEINT) AS x,
         CAST(b.y AS HUGEINT) - a.y AS d
  FROM daily a JOIN daily b ON b.day = a.day + 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(d) AS HUGEINT) AS sd,
         CAST(SUM(x * d) AS HUGEINT) AS sxd,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(d * d) AS HUGEINT) AS sdd
  FROM p
),
s AS (
  SELECT m,
         CAST(m * sxx - sx * sx AS DOUBLE) AS cxx,
         CAST(m * sxd - sx * sd AS DOUBLE) AS cxd,
         CAST(m * sdd - sd * sd AS DOUBLE) AS cdd,
         CAST(sx AS DOUBLE) AS sxf, CAST(sd AS DOUBLE) AS sdf
  FROM m
),
f AS (
  SELECT m, cxd / cxx AS beta,
         (sdf - (cxd / cxx) * sxf) / m AS alpha,
         ((cdd - cxd * cxd / cxx) / m) / (m - 2) AS s2,
         cxx / CAST(m AS DOUBLE) AS sxx_c
  FROM s
)
SELECT CAST(m AS BIGINT) AS n_pairs,
       ROUND(alpha, 4) AS alpha_cents,
       ROUND(beta, 8) AS beta,
       ROUND(beta / sqrt(s2 / sxx_c), 4) AS df_t,
       CAST(CASE WHEN beta / sqrt(s2 / sxx_c) < -2.86
            THEN 1 ELSE 0 END AS BIGINT) AS reject_unit_root_5pct
FROM f
"""


@register(
    "x550_dickey_fuller",
    _X550_ORACLE,
    doc="Dickey-Fuller unit-root test on daily revenue: OLS of the "
        "one-day change on the lagged level (with intercept), "
        "t-statistic on the level coefficient against the pinned "
        "5% DF critical value -2.86 (constant-only case, large n) "
        "-- the STATIONARITY gate of the time-series battery: "
        "x510/x511/x484 all presume a stable mean; a unit root "
        "(t > -2.86) says shocks are permanent and every ACF-"
        "based diagnostic above is measuring drift, not "
        "dependence. Exactness: lag pairs from the calendar "
        "equi-join (gaps drop pairs, stated); all six OLS moments "
        "are exact HUGEINT/DECIMAL sums; centered second moments "
        "via the m-scaled identity m*S_ab - S_a*S_b stay exact "
        "until ONE fixed-order double assembly of beta/se/t. "
        "Scale: one day-grain aggregate, one day-domain "
        "equi-join, constant algebra",
)
def x550_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    p = a.join(b, F.col("db") == F.date_add("da", 1)).select(
        dec(F.col("ya")).alias("x"),
        dec(F.col("yb") - F.col("ya")).alias("d"),
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("d").cast("decimal(38,0)").alias("sd"),
        F.sum(F.col("x") * F.col("d")).cast("decimal(38,0)").alias("sxd"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("d") * F.col("d")).cast("decimal(38,0)").alias("sdd"),
    )
    md = F.col("m").cast("decimal(38,0)")
    cxx = (md * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cxd = (md * F.col("sxd") - F.col("sx") * F.col("sd")).cast("double")
    cdd = (md * F.col("sdd") - F.col("sd") * F.col("sd")).cast("double")
    mf = F.col("m").cast("double")
    beta = cxd / cxx
    alpha = (F.col("sd").cast("double") - beta * F.col("sx").cast("double")) / mf
    s2 = ((cdd - cxd * cxd / cxx) / mf) / (mf - 2.0)
    sxx_c = cxx / mf
    t = beta / F.sqrt(s2 / sxx_c)
    return m.select(
        F.col("m").alias("n_pairs"),
        F.round(alpha, 4).alias("alpha_cents"),
        F.round(beta, 8).alias("beta"),
        F.round(t, 4).alias("df_t"),
        F.when(t < -2.86, 1).otherwise(0).cast("long").alias(
            "reject_unit_root_5pct"
        ),
    )


_X551_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
p AS (
  SELECT CAST(b.y AS HUGEINT) AS y, CAST(a.y AS HUGEINT) AS yl,
         CAST(b.c AS HUGEINT) AS c, CAST(a.c AS HUGEINT) AS cl
  FROM daily a JOIN daily b ON b.day = a.day + 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(yl) AS HUGEINT) AS syl,
         CAST(SUM(c) AS HUGEINT) AS sc,
         CAST(SUM(cl) AS HUGEINT) AS scl,
         CAST(SUM(yl * yl) AS HUGEINT) AS sylyl,
         CAST(SUM(cl * cl) AS HUGEINT) AS sclcl,
         CAST(SUM(yl * cl) AS HUGEINT) AS sylcl,
         CAST(SUM(yl * y) AS HUGEINT) AS syly,
         CAST(SUM(cl * y) AS HUGEINT) AS scly,
         CAST(SUM(y * y) AS HUGEINT) AS syy,
         CAST(SUM(c * c) AS HUGEINT) AS scc,
         CAST(SUM(yl * c) AS HUGEINT) AS sylc,
         CAST(SUM(cl * c) AS HUGEINT) AS sclc
  FROM p
),
s AS (
  SELECT m,
         CAST(m * sylyl - syl * syl AS DOUBLE) AS s11,
         CAST(m * sclcl - scl * scl AS DOUBLE) AS s22,
         CAST(m * sylcl - syl * scl AS DOUBLE) AS s12,
         CAST(m * syly - syl * sy AS DOUBLE) AS s1y,
         CAST(m * scly - scl * sy AS DOUBLE) AS s2y,
         CAST(m * syy - sy * sy AS DOUBLE) AS syy_c,
         CAST(m * sylc - syl * sc AS DOUBLE) AS s1c,
         CAST(m * sclc - scl * sc AS DOUBLE) AS s2c,
         CAST(m * scc - sc * sc AS DOUBLE) AS scc_c
  FROM m
),
f AS (
  SELECT m,
         (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1y,
         (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2y,
         (s2c * s11 - s1c * s12) / (s22 * s11 - s12 * s12) AS b2c,
         (s1c * s22 - s2c * s12) / (s22 * s11 - s12 * s12) AS b1c,
         s11, s22, s12, s1y, s2y, syy_c, s1c, s2c, scc_c
  FROM s
),
r AS (
  SELECT m, b2y, b1c,
         (syy_c - b1y * s1y - b2y * s2y) AS rssu_y,
         (syy_c - s1y * s1y / s11) AS rssr_y,
         (scc_c - b2c * s2c - b1c * s1c) AS rssu_c,
         (scc_c - s2c * s2c / s22) AS rssr_c
  FROM f
)
SELECT CAST(m AS BIGINT) AS n_pairs,
       ROUND(b2y, 8) AS beta_orders_to_revenue,
       ROUND((rssr_y - rssu_y) / (rssu_y / (m - 3)), 4)
         AS f_orders_to_revenue,
       ROUND(b1c, 8) AS beta_revenue_to_orders,
       ROUND((rssr_c - rssu_c) / (rssu_c / (m - 3)), 4)
         AS f_revenue_to_orders
FROM r
"""


@register(
    "x551_granger_causality",
    _X551_ORACLE,
    doc="Bivariate lag-1 Granger causality between daily order COUNT "
        "and daily REVENUE: does yesterday's count predict today's "
        "revenue beyond yesterday's revenue (and the reverse), "
        "each an F test of the unrestricted AR-X regression "
        "against the restricted AR(1) -- the directional lead-lag "
        "question x147's contemporaneous correlation and x510's "
        "univariate ACF cannot pose; both directions emitted "
        "because 'count leads revenue' and 'revenue leads count' "
        "are different business facts. Exactness: both daily "
        "series are exact integers (cents / counts) from ONE "
        "day-grain aggregate; all 13 cross/auto moments are exact "
        "HUGEINT/DECIMAL sums over calendar lag-1 pairs (gaps "
        "drop pairs, stated); centered moments via the m-scaled "
        "identity; the 2-predictor normal equations solve by "
        "Cramer's rule in ONE fixed-order double expression per "
        "direction. Scale: one day-grain aggregate, one "
        "day-domain equi-join, constant algebra",
)
def x551_granger_causality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("y"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    a = daily.select(
        F.col("day").alias("da"),
        F.col("y").alias("yl_raw"),
        F.col("c").alias("cl_raw"),
    )
    b = daily.select(
        F.col("day").alias("db"),
        F.col("y").alias("y_raw"),
        F.col("c").alias("c_raw"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    p = a.join(b, F.col("db") == F.date_add("da", 1)).select(
        dec(F.col("y_raw")).alias("y"),
        dec(F.col("yl_raw")).alias("yl"),
        dec(F.col("c_raw")).alias("c"),
        dec(F.col("cl_raw")).alias("cl"),
    )
    sm = lambda e, n: F.sum(e).cast("decimal(38,0)").alias(n)  # noqa: E731
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        sm(F.col("y"), "sy"),
        sm(F.col("yl"), "syl"),
        sm(F.col("c"), "sc"),
        sm(F.col("cl"), "scl"),
        sm(F.col("yl") * F.col("yl"), "sylyl"),
        sm(F.col("cl") * F.col("cl"), "sclcl"),
        sm(F.col("yl") * F.col("cl"), "sylcl"),
        sm(F.col("yl") * F.col("y"), "syly"),
        sm(F.col("cl") * F.col("y"), "scly"),
        sm(F.col("y") * F.col("y"), "syy"),
        sm(F.col("c") * F.col("c"), "scc"),
        sm(F.col("yl") * F.col("c"), "sylc"),
        sm(F.col("cl") * F.col("c"), "sclc"),
    )
    md = F.col("m").cast("decimal(38,0)")
    cc = lambda sab, sa, sb: (  # noqa: E731
        md * F.col(sab) - F.col(sa) * F.col(sb)
    ).cast("double")
    s11 = cc("sylyl", "syl", "syl")
    s22 = cc("sclcl", "scl", "scl")
    s12 = cc("sylcl", "syl", "scl")
    s1y = cc("syly", "syl", "sy")
    s2y = cc("scly", "scl", "sy")
    syy = cc("syy", "sy", "sy")
    s1c = cc("sylc", "syl", "sc")
    s2c = cc("sclc", "scl", "sc")
    scc = cc("scc", "sc", "sc")
    det = s11 * s22 - s12 * s12
    b1y = (s1y * s22 - s2y * s12) / det
    b2y = (s2y * s11 - s1y * s12) / det
    det2 = s22 * s11 - s12 * s12
    b2c = (s2c * s11 - s1c * s12) / det2
    b1c = (s1c * s22 - s2c * s12) / det2
    rssu_y = syy - b1y * s1y - b2y * s2y
    rssr_y = syy - s1y * s1y / s11
    rssu_c = scc - b2c * s2c - b1c * s1c
    rssr_c = scc - s2c * s2c / s22
    mf = F.col("m").cast("double")
    return m.select(
        F.col("m").alias("n_pairs"),
        F.round(b2y, 8).alias("beta_orders_to_revenue"),
        F.round(
            (rssr_y - rssu_y) / (rssu_y / (mf - 3.0)), 4
        ).alias("f_orders_to_revenue"),
        F.round(b1c, 8).alias("beta_revenue_to_orders"),
        F.round(
            (rssr_c - rssu_c) / (rssu_c / (mf - 3.0)), 4
        ).alias("f_revenue_to_orders"),
    )


_X554_ORACLE = """
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
  SELECT d.day, CAST(t.n AS HUGEINT) * d.y - t.s AS cv
  FROM daily d, tot t
),
den AS (SELECT CAST(SUM(cv * cv) AS HUGEINT) AS d2 FROM c),
adj AS (
  SELECT CAST(count(*) AS BIGINT) AS np,
         CAST(SUM(a.cv * b.cv) AS HUGEINT) AS cross_sum,
         CAST(SUM((a.cv - b.cv) * (a.cv - b.cv)) AS HUGEINT) AS diff2
  FROM c a JOIN c b ON b.day = a.day + 1
)
SELECT t.n AS n_days, adj.np AS n_adj_pairs,
       ROUND((CAST(t.n AS DOUBLE) / (2.0 * adj.np))
             * (2.0 * CAST(adj.cross_sum AS DOUBLE))
             / CAST(den.d2 AS DOUBLE), 6) AS moran_i,
       ROUND((CAST(t.n - 1 AS DOUBLE) / (2.0 * (2.0 * adj.np)))
             * (2.0 * CAST(adj.diff2 AS DOUBLE))
             / CAST(den.d2 AS DOUBLE), 6) AS geary_c,
       ROUND(-1.0 / (CAST(t.n AS DOUBLE) - 1.0), 6) AS e_moran
FROM tot t, adj, den
"""


@register(
    "x554_moran_geary",
    _X554_ORACLE,
    doc="Moran's I and Geary's C on daily revenue with lag-1 calendar "
        "adjacency weights (symmetric: W counts both directions of "
        "each consecutive-day pair): I measures GLOBAL covariance "
        "structure (sensitive to regime levels), C the LOCAL "
        "squared-difference structure (sensitive to day-to-day "
        "volatility) -- the spatial-statistics pair whose "
        "divergence (high I with C near 1) distinguishes smooth "
        "trends from jagged persistence in a way x484's single DW "
        "(algebraically close to C) cannot; E[I] = -1/(n-1) "
        "emitted as the null reference. Exactness: both "
        "numerators and the denominator are exact HUGEINT sums of "
        "x510's n-scaled integer centerings (the n^2 scale "
        "cancels in each ratio); three double divisions at the "
        "end. Scale: one day-grain aggregate, one day-domain "
        "equi-join, constant algebra",
)
def x554_moran_geary(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    a = c.select(F.col("day").alias("da"), F.col("cv").alias("ca"), "n")
    b = c.select(F.col("day").alias("db"), F.col("cv").alias("cb"))
    adj = a.join(b, F.col("db") == F.date_add("da", 1)).agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(F.col("ca") * F.col("cb"))
        .cast("decimal(38,0)")
        .alias("cross_sum"),
        F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
        .cast("decimal(38,0)")
        .alias("diff2"),
        F.first("n").alias("n"),
    )
    j = adj.crossJoin(F.broadcast(den))
    nd = F.col("n").cast("double")
    npd = F.col("np").cast("double")
    d2d = F.col("d2").cast("double")
    return j.select(
        F.col("n").alias("n_days"),
        F.col("np").alias("n_adj_pairs"),
        F.round(
            (nd / (2.0 * npd))
            * (2.0 * F.col("cross_sum").cast("double"))
            / d2d,
            6,
        ).alias("moran_i"),
        F.round(
            ((nd - 1.0) / (2.0 * (2.0 * npd)))
            * (2.0 * F.col("diff2").cast("double"))
            / d2d,
            6,
        ).alias("geary_c"),
        F.round(-1.0 / (nd - 1.0), 6).alias("e_moran"),
    )


_X555_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
sd AS (
  SELECT CAST(floor(0.2 * sqrt(
           (count(*) * CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE)
            - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
           / (CAST(count(*) AS DOUBLE) * (count(*) - 1.0))))
         AS BIGINT) AS r
  FROM daily
),
tri AS (
  SELECT a.day, a.y AS y0, b.y AS y1, c.y AS y2
  FROM daily a
  JOIN daily b ON b.day = a.day + 1
  JOIN daily c ON c.day = a.day + 2
),
pairs AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_cmp,
    CAST(SUM(CASE WHEN abs(t1.y0 - t2.y0) <= sd.r
                   AND abs(t1.y1 - t2.y1) <= sd.r
             THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
    CAST(SUM(CASE WHEN abs(t1.y0 - t2.y0) <= sd.r
                   AND abs(t1.y1 - t2.y1) <= sd.r
                   AND abs(t1.y2 - t2.y2) <= sd.r
             THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
  FROM tri t1 JOIN tri t2 ON t1.day <> t2.day, sd
),
base AS (SELECT CAST(count(*) AS BIGINT) AS n_templates FROM tri)
SELECT base.n_templates, sd.r AS r_cents,
       pairs.b_cnt, pairs.a_cnt,
       ROUND(-ln(CAST(pairs.a_cnt AS DOUBLE)
                 / CAST(pairs.b_cnt AS DOUBLE)), 6) AS sample_entropy
FROM base, sd, pairs
"""


@register(
    "x555_sample_entropy",
    _X555_ORACLE,
    doc="Sample entropy (m=2, r = floor(0.2*sd) cents, Chebyshev "
        "distance) of daily revenue: -ln(A/B) where B counts "
        "template pairs matching on 2 consecutive days and A on 3 "
        "-- the REGULARITY measure (low = patterns repeat, "
        "high = unpredictable) that, unlike x544's single-triple "
        "ordinal histogram, asks whether entire VALUE-level "
        "motifs recur anywhere in the series; self-matches "
        "excluded per Richman-Moorman. Exactness: templates "
        "require 3 consecutive calendar days (gaps drop "
        "templates, stated); the tolerance floors to an exact "
        "integer so every comparison is integer-exact; A/B are "
        "exact BIGINT counts; one ln at the end. Scale: the "
        "template pair table is CALENDAR-bounded (~2000^2 ~ 4M "
        "comparisons, constant in SF -- one broadcast join, "
        "x542's bounded-spine discipline), never row pairs",
)
def x555_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sd = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("y"))).cast("decimal(38,0)").alias("s1"),
        F.sum(dec(F.col("y")) * F.col("y"))
        .cast("decimal(38,0)")
        .alias("s2"),
    ).select(
        F.floor(
            0.2
            * F.sqrt(
                (
                    F.col("n") * F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                )
                / (F.col("n").cast("double") * (F.col("n") - 1.0))
            )
        )
        .cast("long")
        .alias("r")
    )
    a = daily.select(F.col("day").alias("d0"), F.col("y").alias("y0"))
    b = daily.select(F.col("day").alias("d1"), F.col("y").alias("y1"))
    cc = daily.select(F.col("day").alias("d2"), F.col("y").alias("y2"))
    tri = (
        a.join(b, F.col("d1") == F.date_add("d0", 1))
        .join(cc, F.col("d2") == F.date_add("d0", 2))
        .select("d0", "y0", "y1", "y2")
        .localCheckpoint(eager=False)
    )
    t2 = tri.select(
        F.col("d0").alias("e0"),
        F.col("y0").alias("z0"),
        F.col("y1").alias("z1"),
        F.col("y2").alias("z2"),
    )
    pairs = (
        tri.join(F.broadcast(t2), F.col("d0") != F.col("e0"))
        .crossJoin(F.broadcast(sd))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cmp"),
            F.sum(
                F.when(
                    (F.abs(F.col("y0") - F.col("z0")) <= F.col("r"))
                    & (F.abs(F.col("y1") - F.col("z1")) <= F.col("r")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("b_cnt"),
            F.sum(
                F.when(
                    (F.abs(F.col("y0") - F.col("z0")) <= F.col("r"))
                    & (F.abs(F.col("y1") - F.col("z1")) <= F.col("r"))
                    & (F.abs(F.col("y2") - F.col("z2")) <= F.col("r")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("a_cnt"),
        )
    )
    base = tri.agg(F.count(F.lit(1)).cast("long").alias("n_templates"))
    return (
        base.crossJoin(F.broadcast(sd))
        .crossJoin(F.broadcast(pairs))
        .select(
            "n_templates",
            F.col("r").alias("r_cents"),
            "b_cnt",
            "a_cnt",
            F.round(
                -F.log(
                    F.col("a_cnt").cast("double")
                    / F.col("b_cnt").cast("double")
                ),
                6,
            ).alias("sample_entropy"),
        )
    )


_X556_ORACLE = """
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
  SELECT d.day, d.y,
         abs(CAST(t.n AS HUGEINT) * d.y - t.s) AS ac
  FROM daily d, tot t
),
agg AS (
  SELECT CAST(MAX(ac) AS HUGEINT) AS maxc,
         CAST(SUM(ac * ac) AS HUGEINT) AS d2
  FROM c
),
pick AS (
  SELECT MIN(c.day) AS outlier_day, MIN(c.y) AS outlier_y
  FROM c, agg WHERE c.ac = agg.maxc
),
g AS (
  SELECT t.n,
         (CAST(agg.maxc AS DOUBLE) / t.n)
           / sqrt(CAST(agg.d2 AS DOUBLE)
                  / (CAST(t.n AS DOUBLE) * t.n * (t.n - 1.0))) AS gg
  FROM tot t, agg
)
SELECT g.n AS n_days,
       ROUND(g.gg, 4) AS grubbs_g,
       pick.outlier_day, pick.outlier_y AS outlier_y_cents,
       ROUND(2.0 * CAST(g.n AS DOUBLE)
             * (exp(-g.gg * g.gg / 2.0) / 2.5066282746310002)
             * (1.0 / (0.226 + 0.64 * g.gg
                       + sqrt(g.gg * g.gg * 0.4096 + 5.0216))),
             8) AS p_bound_bonferroni
FROM g, pick
"""


@register(
    "x556_grubbs_outlier",
    _X556_ORACLE,
    doc="Grubbs max-studentized-deviation outlier test on daily "
        "revenue: G = max|y - mean|/sd, the flagged day (ties "
        "broken by earliest date, deterministic on both engines "
        "because the deviation is an exact integer), and a "
        "Bonferroni normal-tail p bound 2n*phi-tail(G) -- the "
        "single-most-anomalous-DAY question x124's MAD rule "
        "(many outliers, robust center) and x501's EWMA (drift "
        "alarms) do not answer; the tail uses the Pollak-type "
        "rational bound phi(x)/(0.226+0.64x+sqrt(0.4096x^2+"
        "5.0216)) with every constant pinned so both engines "
        "evaluate the identical expression (an upper BOUND, "
        "stated, not the exact t-based critical value). "
        "Exactness: deviations are exact integers via x510's "
        "n-scaled centering (max and argmax engine-exact); G "
        "assembles in one fixed-order double expression. Scale: "
        "one day-grain aggregate, two 1-row folds",
)
def x556_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        "y",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s")
        ).cast("decimal(38,0)").alias("ac"),
        "n",
    ).localCheckpoint(eager=False)
    agg = c.agg(
        F.max("ac").cast("decimal(38,0)").alias("maxc"),
        F.sum(F.col("ac") * F.col("ac"))
        .cast("decimal(38,0)")
        .alias("d2"),
        F.first("n").alias("n"),
    )
    pick = c.crossJoin(F.broadcast(agg.select("maxc"))).filter(
        F.col("ac") == F.col("maxc")
    ).agg(
        F.min("day").alias("outlier_day"),
        F.min("y").alias("outlier_y"),
    )
    nd = F.col("n").cast("double")
    gg = (F.col("maxc").cast("double") / F.col("n")) / F.sqrt(
        F.col("d2").cast("double") / (nd * F.col("n") * (F.col("n") - 1.0))
    )
    g = agg.select(F.col("n"), gg.alias("gg"))
    return g.crossJoin(F.broadcast(pick)).select(
        F.col("n").alias("n_days"),
        F.round("gg", 4).alias("grubbs_g"),
        "outlier_day",
        F.col("outlier_y").alias("outlier_y_cents"),
        F.round(
            2.0
            * nd
            * (F.exp(-F.col("gg") * F.col("gg") / 2.0)
               / 2.5066282746310002)
            * (
                1.0
                / (
                    0.226
                    + 0.64 * F.col("gg")
                    + F.sqrt(
                        F.col("gg") * F.col("gg") * 0.4096 + 5.0216
                    )
                )
            ),
            8,
        ).alias("p_bound_bonferroni"),
    )


def _q12(q):
    # left-associated 12-fold product: bit-identical on both
    # engines where pow(x, 12) is not guaranteed to be
    return q * q * q * q * q * q * q * q * q * q * q * q


_X558_ORACLE = """
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
         CAST(round((CAST(cc AS DOUBLE) * CAST(cc AS DOUBLE)
                     + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                    / 1e40, 8) AS DECIMAL(38,8)) AS pd
  FROM pw
),
tp AS (SELECT CAST(SUM(pd) AS DECIMAL(38,8)) AS t FROM pwr),
shares AS (
  SELECT p, ROUND(CAST(pd AS DOUBLE) / CAST(tp.t AS DOUBLE), 10)
           AS sh
  FROM pwr, tp
),
ent AS (
  SELECT
    CAST(SUM(CAST(round(
      CASE WHEN sh <= 0.0 THEN 0.0 ELSE -sh * ln(sh) END, 12)
      AS DECIMAL(38,12))) AS DOUBLE) AS h,
    CAST(SUM(CAST(round(
      CASE WHEN sh <= 0.0 THEN -700.0 ELSE ln(sh) END, 12)
      AS DECIMAL(38,12))) AS DOUBLE) AS lsum,
    CAST(SUM(CAST(round(sh, 12) AS DECIMAL(38,12))) AS DOUBLE)
      AS ssum,
    MAX(sh) AS g
  FROM shares
),
peak AS (
  SELECT MIN(s.p) AS peak_period
  FROM shares s, ent e WHERE s.sh = e.g
)
SELECT CAST(13 AS BIGINT) AS n_periods,
       pk.peak_period,
       ROUND(e.g, 6) AS fisher_g,
       ROUND(13.0 * ((1.0-e.g)*(1.0-e.g)*(1.0-e.g)*(1.0-e.g)
              *(1.0-e.g)*(1.0-e.g)*(1.0-e.g)*(1.0-e.g)
              *(1.0-e.g)*(1.0-e.g)*(1.0-e.g)*(1.0-e.g)), 8)
         AS fisher_p_bound,
       ROUND(e.h / ln(13.0), 6) AS spectral_entropy_norm,
       ROUND(exp(e.lsum / 13.0) / (e.ssum / 13.0), 6)
         AS spectral_flatness
FROM ent e, peak pk
"""


@register(
    "x558_spectral_summary",
    _X558_ORACLE,
    doc="Spectral summary of x530's 13-period revenue periodogram: "
        "Fisher's g (max power share) with the exact-null upper "
        "bound m(1-g)^(m-1) for 'is the peak REAL periodicity or "
        "noise', the normalized spectral entropy (1.0 = white, "
        "low = concentrated), and spectral flatness (geometric/"
        "arithmetic mean of shares) -- the DECISION layer x530's "
        "raw share table leaves to the reader: g answers "
        "significance, entropy/flatness answer how much of the "
        "spectrum one cycle owns. Exactness: shares reuse x530's "
        "quantized-projection recipe verbatim (exact integer "
        "projections, powers round-8 DECIMAL), normalize round-10, "
        "and every cross-period sum rounds 12 into DECIMAL first "
        "(order-proof); the peak period is the MIN period "
        "attaining the exact max share. Scale: identical to x530 "
        "-- one day-grain aggregate, x13 fan-out, 13-row algebra",
)
def x558_spectral_summary(
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
    c = daily.crossJoin(F.broadcast(anchor)).crossJoin(
        F.broadcast(tot)
    ).select(
        F.datediff("day", F.col("d0")).cast("long").alias("t"),
        (F.col("n").cast("decimal(38,0)") * F.col("y") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("cv"),
    )
    per = spark.createDataFrame([(p,) for p in range(2, 15)], "p int")
    tau = F.lit(6.283185307179586)
    ph = c.crossJoin(F.broadcast(per)).select(
        "p",
        "cv",
        F.floor(
            F.cos(tau * (F.col("t") % F.col("p")) / F.col("p"))
            * 10000000000.0
        ).cast("long").alias("qc"),
        F.floor(
            F.sin(tau * (F.col("t") % F.col("p")) / F.col("p"))
            * 10000000000.0
        ).cast("long").alias("qs"),
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
        F.round(
            (
                F.col("cc").cast("double") * F.col("cc").cast("double")
                + F.col("ss").cast("double") * F.col("ss").cast("double")
            )
            / 1e40,
            8,
        ).cast("decimal(38,8)").alias("pd"),
    )
    tp = pwr.agg(F.sum("pd").cast("decimal(38,8)").alias("t"))
    shares = pwr.crossJoin(F.broadcast(tp)).select(
        "p",
        F.round(
            F.col("pd").cast("double") / F.col("t").cast("double"), 10
        ).alias("sh"),
    ).localCheckpoint(eager=False)
    ent = shares.agg(
        F.sum(
            F.round(
                F.when(F.col("sh") <= 0.0, F.lit(0.0)).otherwise(
                    -F.col("sh") * F.log(F.col("sh"))
                ),
                12,
            ).cast("decimal(38,12)")
        ).cast("double").alias("h"),
        F.sum(
            F.round(
                F.when(F.col("sh") <= 0.0, F.lit(-700.0)).otherwise(
                    F.log(F.col("sh"))
                ),
                12,
            ).cast("decimal(38,12)")
        ).cast("double").alias("lsum"),
        F.sum(F.round(F.col("sh"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("ssum"),
        F.max("sh").alias("g"),
    )
    peak = shares.crossJoin(F.broadcast(ent.select("g"))).filter(
        F.col("sh") == F.col("g")
    ).agg(F.min("p").alias("peak_period"))
    return ent.crossJoin(F.broadcast(peak)).select(
        F.lit(13).cast("long").alias("n_periods"),
        "peak_period",
        F.round(F.col("g"), 6).alias("fisher_g"),
        F.round(13.0 * _q12(1.0 - F.col("g")), 8).alias(
            "fisher_p_bound"
        ),
        F.round(F.col("h") / F.log(F.lit(13.0)), 6).alias(
            "spectral_entropy_norm"
        ),
        F.round(
            F.exp(F.col("lsum") / 13.0) / (F.col("ssum") / 13.0), 6
        ).alias("spectral_flatness"),
    )


_X566_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
d AS (
  SELECT a.day,
         (CAST(b.y AS HUGEINT) - a.y) * (CAST(b.y AS HUGEINT) - a.y)
           // 100000000 AS q
  FROM daily a JOIN daily b ON b.day = a.day + 1
),
p AS (
  SELECT a.q AS x, b.q AS z
  FROM d a JOIN d b ON b.day = a.day + 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(z) AS HUGEINT) AS sz,
         CAST(SUM(x * z) AS HUGEINT) AS sxz,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(z * z) AS HUGEINT) AS szz
  FROM p
),
c AS (
  SELECT m,
         CAST(m * sxx - sx * sx AS DOUBLE) AS cxx,
         CAST(m * sxz - sx * sz AS DOUBLE) AS cxz,
         CAST(m * szz - sz * sz AS DOUBLE) AS czz
  FROM m
)
SELECT CAST(m AS BIGINT) AS n_pairs,
       ROUND(cxz / cxx, 8) AS arch_slope,
       ROUND(cxz * cxz / (cxx * czz), 6) AS r2,
       ROUND(CAST(m AS DOUBLE) * cxz * cxz / (cxx * czz), 4)
         AS arch_lm
FROM c
"""


@register(
    "x566_arch_lm",
    _X566_ORACLE,
    doc="Engle's ARCH LM test (1 lag) on daily revenue changes: "
        "regress today's SQUARED change on yesterday's, LM = m*R^2 "
        "~ chi2(1) under no-ARCH -- volatility CLUSTERING (calm "
        "and wild days bunch) is invisible to every level "
        "diagnostic in the battery (x510 whiteness, x550 unit "
        "root, x529's Breusch-Pagan tests variance against a "
        "COVARIATE, not against its own past); a significant LM "
        "says risk forecasting needs conditional variance. "
        "Exactness: changes are exact integer cents off calendar "
        "lag pairs; squared changes quantize by integer floor "
        "division d^2 div 1e8 (nonnegative, so Spark div and "
        "DuckDB // agree; the 1e4-cent grid is part of the "
        "statistic, stated -- it keeps fourth-moment sums ~2e27 "
        "at sf100, inside DECIMAL38, where raw d^4 would overflow "
        "at sf10); five exact moments, m-scaled centered "
        "identities, one fixed-order double assembly. Scale: one "
        "day-grain aggregate, two day-domain equi-joins",
)
def x566_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    d = a.join(b, F.col("db") == F.date_add("da", 1)).select(
        F.col("da").alias("day"),
        F.expr(
            "((CAST(yb AS DECIMAL(38,0)) - ya)"
            " * (CAST(yb AS DECIMAL(38,0)) - ya)) div 100000000"
        ).cast("decimal(38,0)").alias("q"),
    ).localCheckpoint(eager=False)
    da = d.select(F.col("day").alias("pa"), F.col("q").alias("x"))
    db = d.select(F.col("day").alias("pb"), F.col("q").alias("z"))
    p = da.join(db, F.col("pb") == F.date_add("pa", 1))
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("z").cast("decimal(38,0)").alias("sz"),
        F.sum(F.col("x") * F.col("z")).cast("decimal(38,0)").alias("sxz"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("z") * F.col("z")).cast("decimal(38,0)").alias("szz"),
    )
    md = F.col("m").cast("decimal(38,0)")
    cxx = (md * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cxz = (md * F.col("sxz") - F.col("sx") * F.col("sz")).cast("double")
    czz = (md * F.col("szz") - F.col("sz") * F.col("sz")).cast("double")
    return m.select(
        F.col("m").alias("n_pairs"),
        F.round(cxz / cxx, 8).alias("arch_slope"),
        F.round(cxz * cxz / (cxx * czz), 6).alias("r2"),
        F.round(
            F.col("m").cast("double") * cxz * cxz / (cxx * czz), 4
        ).alias("arch_lm"),
    )


_X567_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
dom AS (
  SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM daily GROUP BY 1
),
cum AS (
  SELECT y, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below
  FROM dom
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
thr AS (
  SELECT MIN(c.y) AS thr
  FROM cum c, tot t
  WHERE c.below < (19 * t.n + 19) // 20
    AND (19 * t.n + 19) // 20 <= c.below + c.cnt
),
ind AS (
  SELECT d.day,
         CASE WHEN d.y > thr.thr THEN 1 ELSE 0 END AS i
  FROM daily d, thr
),
tr AS (
  SELECT
    CAST(SUM(CASE WHEN a.i = 0 AND b.i = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n00,
    CAST(SUM(CASE WHEN a.i = 0 AND b.i = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS n01,
    CAST(SUM(CASE WHEN a.i = 1 AND b.i = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n10,
    CAST(SUM(CASE WHEN a.i = 1 AND b.i = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS n11
  FROM ind a JOIN ind b ON b.day = a.day + 1
),
lr AS (
  SELECT n00, n01, n10, n11,
         CAST(n00 + n01 + n10 + n11 AS DOUBLE) AS m,
         CAST(n01 + n11 AS DOUBLE)
           / CAST(n00 + n01 + n10 + n11 AS DOUBLE) AS pi,
         CASE WHEN n00 + n01 = 0 THEN 0.0
              ELSE CAST(n01 AS DOUBLE) / (n00 + n01) END AS pi0,
         CASE WHEN n10 + n11 = 0 THEN 0.0
              ELSE CAST(n11 AS DOUBLE) / (n10 + n11) END AS pi1
  FROM tr
),
f AS (
  SELECT n00, n01, n10, n11, m, pi, pi0, pi1,
    -2.0 * ((n00 + n10) * (CASE WHEN pi >= 1.0 THEN 0.0
                                ELSE ln(1.0 - pi) END)
            + (n01 + n11) * (CASE WHEN pi <= 0.0 THEN 0.0
                                  ELSE ln(pi) END))
    + 2.0 * ((CASE WHEN n00 = 0 OR pi0 >= 1.0 THEN 0.0
                   ELSE n00 * ln(1.0 - pi0) END)
             + (CASE WHEN n01 = 0 OR pi0 <= 0.0 THEN 0.0
                     ELSE n01 * ln(pi0) END)
             + (CASE WHEN n10 = 0 OR pi1 >= 1.0 THEN 0.0
                     ELSE n10 * ln(1.0 - pi1) END)
             + (CASE WHEN n11 = 0 OR pi1 <= 0.0 THEN 0.0
                     ELSE n11 * ln(pi1) END)) AS lr_ind,
    -2.0 * ((n01 + n11) * ln(0.05) + (n00 + n10) * ln(0.95)
            - (n01 + n11) * (CASE WHEN pi <= 0.0 THEN 0.0
                                  ELSE ln(pi) END)
            - (n00 + n10) * (CASE WHEN pi >= 1.0 THEN 0.0
                                  ELSE ln(1.0 - pi) END)) AS lr_uc
  FROM lr
)
SELECT n00, n01, n10, n11,
       ROUND(pi, 6) AS viol_rate,
       ROUND(pi1 - pi0, 6) AS cluster_gap,
       ROUND(lr_uc, 4) AS lr_unconditional,
       ROUND(lr_ind, 4) AS lr_independence,
       ROUND(lr_uc + lr_ind, 4) AS lr_conditional_coverage
FROM f
"""


@register(
    "x567_christoffersen",
    _X567_ORACLE,
    doc="Christoffersen's conditional-coverage decomposition of "
        "exceedance quality: violations = days above the exact "
        "in-sample 95th-percentile daily revenue; LR_uc (Kupiec, "
        "rate = 5%?) + LR_ind (violations INDEPENDENT, via the "
        "2-state Markov likelihood ratio on transition counts "
        "n00/n01/n10/n11) = LR_cc ~ chi2(2) -- the CLUSTERING "
        "test x491's Kupiec cannot do: a threshold can hit 5% "
        "exactly yet fire five days in a row (pi1 >> pi0, the "
        "emitted cluster_gap), which for capacity planning is a "
        "different failure than scattered misses. Exactness: the "
        "threshold is the exact ceil(0.95 n)-th order statistic "
        "over the distinct daily-value domain; transition counts "
        "are exact integers off one calendar equi-join; all three "
        "LRs are fixed-order double expressions with explicit "
        "0*ln(0) guards. Scale: one day-grain aggregate, bounded "
        "day-domain windows + one equi-join",
)
def x567_christoffersen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders).localCheckpoint(eager=False)
    dom = daily.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "y",
        "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0))
        .cast("long")
        .alias("below"),
    )
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = F.expr("(19 * n + 19) div 20")
    thr = cum.crossJoin(F.broadcast(tot)).filter(
        (F.col("below") < rk) & (rk <= F.col("below") + F.col("cnt"))
    ).agg(F.min("y").alias("thr"))
    ind = daily.crossJoin(F.broadcast(thr)).select(
        "day",
        F.when(F.col("y") > F.col("thr"), 1).otherwise(0).alias("i"),
    )
    a = ind.select(F.col("day").alias("da"), F.col("i").alias("ia"))
    b = ind.select(F.col("day").alias("db"), F.col("i").alias("ib"))
    tr = a.join(b, F.col("db") == F.date_add("da", 1)).agg(
        F.sum(F.when((F.col("ia") == 0) & (F.col("ib") == 0), 1)
              .otherwise(0)).cast("long").alias("n00"),
        F.sum(F.when((F.col("ia") == 0) & (F.col("ib") == 1), 1)
              .otherwise(0)).cast("long").alias("n01"),
        F.sum(F.when((F.col("ia") == 1) & (F.col("ib") == 0), 1)
              .otherwise(0)).cast("long").alias("n10"),
        F.sum(F.when((F.col("ia") == 1) & (F.col("ib") == 1), 1)
              .otherwise(0)).cast("long").alias("n11"),
    )
    n00, n01 = F.col("n00"), F.col("n01")
    n10, n11 = F.col("n10"), F.col("n11")
    m = (n00 + n01 + n10 + n11).cast("double")
    pi = (n01 + n11).cast("double") / m
    pi0 = F.when(n00 + n01 == 0, F.lit(0.0)).otherwise(
        n01.cast("double") / (n00 + n01)
    )
    pi1 = F.when(n10 + n11 == 0, F.lit(0.0)).otherwise(
        n11.cast("double") / (n10 + n11)
    )
    ln = F.log
    l1mpi = F.when(pi >= 1.0, F.lit(0.0)).otherwise(ln(1.0 - pi))
    lpi = F.when(pi <= 0.0, F.lit(0.0)).otherwise(ln(pi))
    lr_ind = -2.0 * (
        (n00 + n10) * l1mpi + (n01 + n11) * lpi
    ) + 2.0 * (
        F.when((n00 == 0) | (pi0 >= 1.0), F.lit(0.0)).otherwise(
            n00 * ln(1.0 - pi0)
        )
        + F.when((n01 == 0) | (pi0 <= 0.0), F.lit(0.0)).otherwise(
            n01 * ln(pi0)
        )
        + F.when((n10 == 0) | (pi1 >= 1.0), F.lit(0.0)).otherwise(
            n10 * ln(1.0 - pi1)
        )
        + F.when((n11 == 0) | (pi1 <= 0.0), F.lit(0.0)).otherwise(
            n11 * ln(pi1)
        )
    )
    lr_uc = -2.0 * (
        (n01 + n11) * F.log(F.lit(0.05))
        + (n00 + n10) * F.log(F.lit(0.95))
        - (n01 + n11) * lpi
        - (n00 + n10) * l1mpi
    )
    return tr.select(
        "n00",
        "n01",
        "n10",
        "n11",
        F.round(pi, 6).alias("viol_rate"),
        F.round(pi1 - pi0, 6).alias("cluster_gap"),
        F.round(lr_uc, 4).alias("lr_unconditional"),
        F.round(lr_ind, 4).alias("lr_independence"),
        F.round(lr_uc + lr_ind, 4).alias("lr_conditional_coverage"),
    )


_X568_ORACLE = """
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
  SELECT d.day, CAST(t.n AS HUGEINT) * d.y - t.s AS cv
  FROM daily d, tot t
),
ps AS (
  SELECT day,
         CAST(SUM(cv) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS HUGEINT) AS st
  FROM c
),
ss AS (SELECT CAST(SUM(st * st) AS HUGEINT) AS s2 FROM ps),
g0 AS (SELECT CAST(SUM(cv * cv) AS HUGEINT) AS n0 FROM c),
lags AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5)) AS l(lag)),
num AS (
  SELECT l.lag, CAST(SUM(a.cv * b.cv) AS HUGEINT) AS nk
  FROM lags l
  JOIN c a ON TRUE
  JOIN c b ON b.day = a.day + CAST(l.lag AS INTEGER)
  GROUP BY 1
),
lrv AS (
  SELECT t.n,
         GREATEST((CAST(g0.n0 AS DOUBLE)
                   + 2.0 * SUM((1.0 - CAST(num.lag AS DOUBLE) / 6.0)
                               * CAST(num.nk AS DOUBLE)))
                  / (CAST(t.n AS DOUBLE) * t.n * t.n), 1e-12) AS v
  FROM num, g0, tot t
  GROUP BY t.n, g0.n0
)
SELECT CAST(l.n AS BIGINT) AS n_days,
       ROUND(CAST(ss.s2 AS DOUBLE)
             / (CAST(l.n AS DOUBLE) * l.n * l.n * l.n) / l.v, 6)
         AS kpss_level,
       CAST(CASE WHEN CAST(ss.s2 AS DOUBLE)
             / (CAST(l.n AS DOUBLE) * l.n * l.n * l.n) / l.v > 0.463
            THEN 1 ELSE 0 END AS BIGINT)
         AS reject_level_stationarity_5pct
FROM lrv l, ss
"""


@register(
    "x568_kpss_test",
    _X568_ORACLE,
    doc="KPSS level-stationarity test on daily revenue: eta = "
        "(1/n^2) sum S_t^2 / lrv with S_t the cumulative demeaned "
        "partial sums (calendar order) and lrv the Bartlett-5 "
        "long-run variance (x549's kernel), against the pinned 5% "
        "critical value 0.463 -- the CONVERSE gate to x550's "
        "Dickey-Fuller: DF's null is a unit root, KPSS's null is "
        "stationarity, and the 2x2 of their verdicts (both "
        "reject/both accept/split) is the standard diagnosis "
        "table for trend vs difference stationarity. Exactness: "
        "partial sums of the n-scaled integer centerings are "
        "exact (sum cv = 0 makes S_n = 0, a replay-checked "
        "invariant); sum S_t^2 is an exact HUGEINT (~4e37 at "
        "sf100 -- the DECIMAL38 bound, priced and stated); "
        "autocovariances reuse x549 verbatim; one double "
        "assembly. Scale: one day-grain aggregate, a bounded "
        "day-domain ordered window (~2400 rows, constant in SF), "
        "5 equi-joins",
)
def x568_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ps = c.select(
        F.sum("cv").over(wp).cast("decimal(38,0)").alias("st")
    )
    ss = ps.agg(
        F.sum(F.col("st") * F.col("st"))
        .cast("decimal(38,0)")
        .alias("s2")
    )
    g0 = c.agg(
        F.sum(F.col("cv") * F.col("cv"))
        .cast("decimal(38,0)")
        .alias("n0"),
        F.first("n").alias("n"),
    )
    lags = spark.createDataFrame([(k,) for k in range(1, 6)], "lag int")
    a = c.select(F.col("day").alias("da"), F.col("cv").alias("ca"))
    b = c.select(F.col("day").alias("db"), F.col("cv").alias("cb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("ca") * F.col("cb"))
            .cast("decimal(38,0)")
            .alias("nk")
        )
    )
    lrv = num.crossJoin(F.broadcast(g0)).agg(
        F.first("n").alias("n"),
        F.greatest(
            (
                F.first("n0").cast("double")
                + 2.0
                * F.sum(
                    (1.0 - F.col("lag").cast("double") / 6.0)
                    * F.col("nk").cast("double")
                )
            )
            / (
                F.first("n").cast("double")
                * F.first("n")
                * F.first("n")
            ),
            # tiny POSITIVE floor (not 0): eta divides by v, and a
            # calendar-gap-degenerate series driving the Bartlett lrv
            # to exactly 0 must yield a huge finite eta (declared
            # behavior), not an incidental Inf/NULL divergence
            F.lit(1e-12),
        ).alias("v"),
    )
    j = lrv.crossJoin(F.broadcast(ss))
    nd = F.col("n").cast("double")
    eta = (
        F.col("s2").cast("double")
        / (nd * F.col("n") * F.col("n") * F.col("n"))
        / F.col("v")
    )
    return j.select(
        F.col("n").alias("n_days"),
        F.round(eta, 6).alias("kpss_level"),
        F.when(eta > 0.463, 1).otherwise(0).cast("long").alias(
            "reject_level_stationarity_5pct"
        ),
    )


_X571_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
dom AS (
  SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM daily GROUP BY 1
),
mr AS (
  SELECT y,
         2 * COALESCE(SUM(cnt) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS mr2
  FROM dom
),
r AS (
  SELECT d.day, m.mr2 FROM daily d JOIN mr m ON m.y = d.y
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
num AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(b.mr2 - a.mr2 AS HUGEINT)
                  * (b.mr2 - a.mr2)) AS HUGEINT) AS num4
  FROM r a JOIN r b ON b.day = a.day + 1
),
den AS (
  SELECT CAST(SUM(CAST(r.mr2 - (t.n + 1) AS HUGEINT)
                  * (r.mr2 - (t.n + 1))) AS HUGEINT) AS den4
  FROM r, tot t
)
SELECT t.n AS n_days, num.n_pairs,
       ROUND(CAST(num.num4 AS DOUBLE) / CAST(den.den4 AS DOUBLE), 6)
         AS rvn,
       ROUND((CAST(num.num4 AS DOUBLE) / CAST(den.den4 AS DOUBLE)
              - 2.0)
             / sqrt(4.0 * (t.n - 2.0)
                    * (5.0 * CAST(t.n AS DOUBLE) * t.n
                       - 2.0 * t.n - 9.0)
                    / (5.0 * CAST(t.n AS DOUBLE) * (t.n + 1.0)
                       * (t.n - 1.0) * (t.n - 1.0))), 4)
         AS bartels_z
FROM num, den, tot t
"""


@register(
    "x571_bartels_rvn",
    _X571_ORACLE,
    doc="Bartels' rank von Neumann ratio test of randomness on daily "
        "revenue: RVN = sum (r_{t+1}-r_t)^2 / sum (r_t - rbar)^2 "
        "over the day-span MIDRANKS -- the rank (outlier-immune) "
        "twin of x484's Durbin-Watson: RVN < 2 = positive serial "
        "dependence in the ORDERING of days, RVN > 2 = "
        "alternation, robust to the revenue tail that leverages "
        "DW; z against the exact-moment null variance 4(n-2)"
        "(5n^2-2n-9)/(5n(n+1)(n-1)^2). Exactness: midranks over "
        "the distinct-value domain are exact half-integers (mr2 "
        "= 2*below + cnt + 1, mean exactly n+1 in 2-scale), so "
        "numerator and denominator are exact HUGEINT sums with "
        "the scale cancelling; calendar gaps drop adjacent pairs "
        "(stated) and ties make the null variance approximate "
        "(stated). Scale: one day-grain aggregate, bounded "
        "value-domain window, one day-domain equi-join",
)
def x571_bartels_rvn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders).localCheckpoint(eager=False)
    dom = daily.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    mr = dom.select(
        "y",
        (
            2 * F.coalesce(F.sum("cnt").over(wb), F.lit(0))
            + F.col("cnt")
            + 1
        ).cast("long").alias("mr2"),
    )
    r = daily.join(mr, "y").select("day", "mr2").localCheckpoint(
        eager=False
    )
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = r.select(F.col("day").alias("da"), F.col("mr2").alias("ma"))
    b = r.select(F.col("day").alias("db"), F.col("mr2").alias("mb"))
    num = a.join(b, F.col("db") == F.date_add("da", 1)).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            (F.col("mb") - F.col("ma")).cast("decimal(38,0)")
            * (F.col("mb") - F.col("ma"))
        ).cast("decimal(38,0)").alias("num4"),
    )
    den = r.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.col("mr2") - (F.col("n") + 1)).cast("decimal(38,0)")
            * (F.col("mr2") - (F.col("n") + 1))
        ).cast("decimal(38,0)").alias("den4"),
        F.first("n").alias("n"),
    )
    j = num.crossJoin(F.broadcast(den))
    nd = F.col("n").cast("double")
    rvn = F.col("num4").cast("double") / F.col("den4").cast("double")
    var = (
        4.0
        * (F.col("n") - 2.0)
        * (5.0 * nd * F.col("n") - 2.0 * F.col("n") - 9.0)
        / (
            5.0
            * nd
            * (F.col("n") + 1.0)
            * (F.col("n") - 1.0)
            * (F.col("n") - 1.0)
        )
    )
    return j.select(
        F.col("n").alias("n_days"),
        "n_pairs",
        F.round(rvn, 6).alias("rvn"),
        F.round((rvn - 2.0) / F.sqrt(var), 4).alias("bartels_z"),
    )


_X572_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
seq AS (
  SELECT day, y,
         row_number() OVER (ORDER BY day) AS k,
         MAX(y) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max,
         MIN(y) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_min
  FROM daily
),
rec AS (
  SELECT
    CAST(SUM(CASE WHEN prev_max IS NULL OR y > prev_max
             THEN 1 ELSE 0 END) AS BIGINT) AS rec_up,
    CAST(SUM(CASE WHEN prev_min IS NULL OR y < prev_min
             THEN 1 ELSE 0 END) AS BIGINT) AS rec_dn,
    CAST(count(*) AS BIGINT) AS n
  FROM seq
),
h AS (
  SELECT
    CAST(SUM(CAST(round(1.0 / k, 14) AS DECIMAL(38,14)))
         AS DOUBLE) AS hn,
    CAST(SUM(CAST(round(1.0 / (CAST(k AS DOUBLE) * k), 14)
                  AS DECIMAL(38,14))) AS DOUBLE) AS h2n
  FROM seq
)
SELECT rec.n AS n_days, rec.rec_up, rec.rec_dn,
       ROUND(h.hn, 6) AS e_records,
       ROUND((rec.rec_up - h.hn) / sqrt(h.hn - h.h2n), 4)
         AS z_up,
       ROUND((rec.rec_dn - h.hn) / sqrt(h.hn - h.h2n), 4)
         AS z_dn
FROM rec, h
"""


@register(
    "x572_record_counts",
    _X572_ORACLE,
    doc="Renyi record-count test on daily revenue: the number of "
        "days setting a new running MAXIMUM (and minimum), tested "
        "against the exact iid null E = H_n, Var = H_n - H_n^(2) "
        "(record indicators are INDEPENDENT with P(record at k) = "
        "1/k -- Renyi's theorem, no distributional assumption at "
        "all) -- growth leaves too MANY upper records, mean "
        "reversion too few, and the up/down asymmetry is a trend "
        "read that x538's Cox-Stuart gets from paired signs and "
        "x540's Gumbel fit from block maxima; here it costs two "
        "prefix extremes. Exactness: records compare exact "
        "integer cents against strict prefix extremes (ties are "
        "NOT records, stated); harmonic sums accumulate round-14 "
        "DECIMAL terms over the day-index domain (order-proof); "
        "one double assembly. Scale: one day-grain aggregate, "
        "bounded day-domain ordered windows (~2400 rows, "
        "constant in SF)",
)
def x572_record_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wr = Window.orderBy("day")
    seq = daily.select(
        "y",
        F.row_number().over(wr).cast("long").alias("k"),
        F.max("y").over(wp).alias("prev_max"),
        F.min("y").over(wp).alias("prev_min"),
    ).localCheckpoint(eager=False)
    rec = seq.agg(
        F.sum(
            F.when(
                F.col("prev_max").isNull()
                | (F.col("y") > F.col("prev_max")),
                1,
            ).otherwise(0)
        ).cast("long").alias("rec_up"),
        F.sum(
            F.when(
                F.col("prev_min").isNull()
                | (F.col("y") < F.col("prev_min")),
                1,
            ).otherwise(0)
        ).cast("long").alias("rec_dn"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    h = seq.agg(
        F.sum(
            F.round(F.lit(1.0) / F.col("k"), 14).cast("decimal(38,14)")
        ).cast("double").alias("hn"),
        F.sum(
            F.round(
                F.lit(1.0) / (F.col("k").cast("double") * F.col("k")),
                14,
            ).cast("decimal(38,14)")
        ).cast("double").alias("h2n"),
    )
    j = rec.crossJoin(F.broadcast(h))
    sd = F.sqrt(F.col("hn") - F.col("h2n"))
    return j.select(
        F.col("n").alias("n_days"),
        "rec_up",
        "rec_dn",
        F.round(F.col("hn"), 6).alias("e_records"),
        F.round((F.col("rec_up") - F.col("hn")) / sd, 4).alias("z_up"),
        F.round((F.col("rec_dn") - F.col("hn")) / sd, 4).alias("z_dn"),
    )


_X573_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
dom AS (
  SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM daily GROUP BY 1
),
mr AS (
  SELECT y,
         2 * COALESCE(SUM(cnt) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS mr2
  FROM dom
),
seq AS (
  SELECT d.day,
         row_number() OVER (ORDER BY d.day) AS t,
         SUM(m.mr2) OVER (ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w2
  FROM daily d JOIN mr m ON m.y = d.y
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
u AS (
  SELECT s.day, s.t,
         CAST(s.w2 - s.t * (s.t + 1) - s.t * (t2.n - s.t)
              AS HUGEINT) AS ut
  FROM seq s, tot t2 WHERE s.t < t2.n
),
mx AS (SELECT CAST(MAX(abs(ut)) AS HUGEINT) AS k FROM u),
pick AS (
  SELECT MIN(u.day) AS change_day, MIN(u.t) AS change_t
  FROM u, mx WHERE abs(u.ut) = mx.k
)
SELECT t.n AS n_days,
       CAST(mx.k AS BIGINT) AS pettitt_k,
       p.change_day, CAST(p.change_t AS BIGINT) AS change_t,
       ROUND(2.0 * exp(-6.0 * CAST(mx.k AS DOUBLE) * CAST(mx.k AS
               DOUBLE)
             / (CAST(t.n AS DOUBLE) * t.n * t.n
                + CAST(t.n AS DOUBLE) * t.n)), 8) AS p_approx
FROM tot t, mx, pick p
"""


@register(
    "x573_pettitt_test",
    _X573_ORACLE,
    doc="Pettitt rank change-point test on daily revenue: K = "
        "max_t |U_t| with U_t the sign-sum between the first t "
        "days and the rest, located via the EXACT identity U_t = "
        "2(W_t - t(t+1)/2) - t(n-t) where W_t is the prefix sum "
        "of pooled MIDRANKS in calendar order -- O(n) total where "
        "the naive double sum is O(n^2); the distribution-FREE "
        "change-point twin of x453's variance-based binary "
        "segmentation (outlier days move x453's F, not Pettitt's "
        "ranks; agreement between the two flagged days is the "
        "robust confirmation), with the standard approximate "
        "p = 2 exp(-6K^2/(n^3+n^2)). Exactness: midranks are "
        "exact half-integers so 2-scale prefix sums make every "
        "U_t an exact integer; the argmax compares exact "
        "integers (earliest day on ties); ties make the p "
        "approximation conservative (stated). Scale: one "
        "day-grain aggregate, bounded value-domain + day-domain "
        "windows (~2400 rows, constant in SF)",
)
def x573_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders).localCheckpoint(eager=False)
    dom = daily.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    mr = dom.select(
        "y",
        (
            2 * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        ).cast("long").alias("mr2"),
    )
    wd = Window.orderBy("day")
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seq = daily.join(mr, "y").select(
        "day",
        F.row_number().over(wd).cast("long").alias("t"),
        F.sum("mr2").over(wp).cast("long").alias("w2"),
    )
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    u = seq.crossJoin(F.broadcast(tot)).filter(
        F.col("t") < F.col("n")
    ).select(
        "day",
        "t",
        (
            F.col("w2").cast("decimal(38,0)")
            - F.col("t").cast("decimal(38,0)") * (F.col("t") + 1)
            - F.col("t").cast("decimal(38,0)") * (F.col("n") - F.col("t"))
        ).cast("decimal(38,0)").alias("ut"),
        "n",
    ).localCheckpoint(eager=False)
    mx = u.agg(
        F.max(F.abs(F.col("ut"))).cast("decimal(38,0)").alias("k"),
        F.first("n").alias("n"),
    )
    pick = u.crossJoin(F.broadcast(mx.select("k"))).filter(
        F.abs(F.col("ut")) == F.col("k")
    ).agg(
        F.min("day").alias("change_day"),
        F.min("t").cast("long").alias("change_t"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    return mx.crossJoin(F.broadcast(pick)).select(
        F.col("n").alias("n_days"),
        F.col("k").cast("long").alias("pettitt_k"),
        "change_day",
        "change_t",
        F.round(
            2.0
            * F.exp(
                -6.0 * kd * kd
                / (nd * F.col("n") * F.col("n") + nd * F.col("n"))
            ),
            8,
        ).alias("p_approx"),
    )


_X576_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         isodow(CAST(o_orderdate AS DATE)) - 1 AS wd,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
),
s AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END)
              AS HUGEINT) AS s_stat
  FROM daily a JOIN daily b
    ON b.wd = a.wd AND b.day > a.day
),
grp AS (
  SELECT wd, CAST(count(*) AS BIGINT) AS n_w
  FROM daily GROUP BY 1
),
ties AS (
  SELECT wd, y, CAST(count(*) AS BIGINT) AS t
  FROM daily GROUP BY 1, 2
),
v AS (
  SELECT CAST(SUM(n_w * (n_w - 1) * (2 * n_w + 5)) AS HUGEINT) AS a
  FROM grp
),
tv AS (
  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS HUGEINT) AS b
  FROM ties
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
f AS (
  SELECT t.n, s.s_stat,
         CAST(v.a - tv.b AS HUGEINT) AS var18,
         CAST(v.a - tv.b AS DOUBLE) / 18.0 AS var_s
  FROM s, v, tv, tot t
)
SELECT n AS n_days,
       CAST(s_stat AS BIGINT) AS s_stat,
       CAST(var18 AS BIGINT) AS var18,
       ROUND(CASE WHEN s_stat > 0
                  THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                  WHEN s_stat < 0
                  THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                  ELSE 0.0 END, 4) AS smk_z
FROM f
"""


@register(
    "x576_seasonal_mann_kendall",
    _X576_ORACLE,
    doc="Seasonal Mann-Kendall trend test on daily revenue with "
        "weekday strata (Hirsch-Slack): S = sum over SAME-WEEKDAY "
        "day pairs of sgn(later - earlier), tie-corrected variance "
        "summed across the 7 strata, continuity-corrected z -- the "
        "trend test that cannot be fooled by the weekly CYCLE "
        "x384's all-pairs S conflates with trend (a flat series "
        "with strong weekday seasonality biases plain MK; "
        "stratifying compares Mondays only with Mondays), the "
        "seasonal-data standard in environmental statistics. "
        "Exactness: S and the 18-scaled variance are exact "
        "integers (x384's discipline per stratum, summed); one "
        "double sqrt at the end. Scale: the pair join is "
        "stratified day-domain x day-domain (~7 * C(350,2), "
        "bounded by the calendar, constant in SF)",
)
def x576_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders).select(
        "day", F.expr("weekday(day)").cast("long").alias("wd"), "y"
    ).localCheckpoint(eager=False)
    a = daily.select(
        F.col("wd").alias("wa"), F.col("day").alias("da"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        F.col("wd").alias("wb"), F.col("day").alias("db"),
        F.col("y").alias("yb"),
    )
    s = a.join(
        b, (F.col("wb") == F.col("wa")) & (F.col("db") > F.col("da"))
    ).agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
        ).cast("decimal(38,0)").alias("s_stat")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    grp = daily.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("n_w")
    )
    va = grp.agg(
        F.sum(
            dec(F.col("n_w")) * (F.col("n_w") - 1) * (2 * F.col("n_w") + 5)
        ).cast("decimal(38,0)").alias("a")
    )
    ties = daily.groupBy("wd", "y").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    tv = ties.agg(
        F.sum(
            dec(F.col("t")) * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).cast("decimal(38,0)").alias("b")
    )
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    f = (
        s.crossJoin(F.broadcast(va))
        .crossJoin(F.broadcast(tv))
        .crossJoin(F.broadcast(tot))
    )
    var18 = (F.col("a") - F.col("b")).cast("decimal(38,0)")
    var_s = var18.cast("double") / 18.0
    sd = F.col("s_stat").cast("double")
    return f.select(
        F.col("n").alias("n_days"),
        F.col("s_stat").cast("long").alias("s_stat"),
        var18.cast("long").alias("var18"),
        F.round(
            F.when(F.col("s_stat") > 0, (sd - 1.0) / F.sqrt(var_s))
            .when(F.col("s_stat") < 0, (sd + 1.0) / F.sqrt(var_s))
            .otherwise(F.lit(0.0)),
            4,
        ).alias("smk_z"),
    )


_X579_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
seq AS (
  SELECT y, row_number() OVER (ORDER BY day) AS k,
         MAX(y) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max,
         MIN(y) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_min
  FROM daily
),
rec AS (
  SELECT
    CAST(SUM(CASE WHEN prev_max IS NOT NULL AND y > prev_max
             THEN 1 ELSE 0 END) AS BIGINT) AS u,
    CAST(SUM(CASE WHEN prev_min IS NOT NULL AND y < prev_min
             THEN 1 ELSE 0 END) AS BIGINT) AS l,
    CAST(count(*) AS BIGINT) AS n
  FROM seq
),
h AS (
  SELECT
    CAST(SUM(CAST(round(2.0 / CAST(k AS DOUBLE), 14)
                  AS DECIMAL(38,14))) AS DOUBLE) AS vd,
    CAST(SUM(CAST(round((2.0 / CAST(k AS DOUBLE))
                        * (1.0 - 2.0 / CAST(k AS DOUBLE)), 14)
                  AS DECIMAL(38,14))) AS DOUBLE) AS vs
  FROM seq WHERE k >= 2
)
SELECT rec.n AS n_days, rec.u AS rec_up, rec.l AS rec_dn,
       CAST(rec.u - rec.l AS BIGINT) AS d_stat,
       CAST(rec.u + rec.l AS BIGINT) AS s_stat,
       ROUND(CAST(rec.u - rec.l AS DOUBLE) / sqrt(h.vd), 4) AS z_d,
       ROUND((CAST(rec.u + rec.l AS DOUBLE) - h.vd) / sqrt(h.vs), 4)
         AS z_s
FROM rec, h
"""


@register(
    "x579_foster_stuart",
    _X579_ORACLE,
    doc="Foster-Stuart records test on daily revenue: D = (upper "
        "records) - (lower records) from t >= 2, tested against "
        "the exact iid null E[D] = 0, Var(D) = sum 2/t (record "
        "indicators at distinct t are independent and mutually "
        "exclusive within a t, so E[D_t^2] = E[U_t + L_t] = 2/t "
        "-- Foster & Stuart 1954), plus the dispersion companion "
        "S = U + L with E[S] = sum 2/t, Var(S) = sum (2/t)(1 - "
        "2/t): z_d reads TREND (too many upper / too few lower "
        "records), z_s reads SCALE CHANGE (growing variance sets "
        "records in BOTH directions) -- the up-minus-down "
        "difference statistic x572's per-direction Renyi z's "
        "deliberately stop short of (they test each tail against "
        "H_n; D tests the asymmetry with its own null variance). "
        "Exactness: records compare exact integer cents against "
        "strict prefix extremes (ties are NOT records, stated, "
        "and the first observation is no record -- t starts at "
        "2); the null-variance harmonic sums accumulate round-14 "
        "DECIMAL terms over the day-index domain (order-proof); "
        "one double assembly per z. Scale: one day-grain "
        "aggregate, bounded day-domain ordered windows (~2400 "
        "rows, constant in SF)",
)
def x579_foster_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wr = Window.orderBy("day")
    seq = daily.select(
        "y",
        F.row_number().over(wr).cast("long").alias("k"),
        F.max("y").over(wp).alias("prev_max"),
        F.min("y").over(wp).alias("prev_min"),
    ).localCheckpoint(eager=False)
    rec = seq.agg(
        F.sum(
            F.when(
                F.col("prev_max").isNotNull()
                & (F.col("y") > F.col("prev_max")),
                1,
            ).otherwise(0)
        ).cast("long").alias("u"),
        F.sum(
            F.when(
                F.col("prev_min").isNotNull()
                & (F.col("y") < F.col("prev_min")),
                1,
            ).otherwise(0)
        ).cast("long").alias("l"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    kd = F.col("k").cast("double")
    h = seq.filter(F.col("k") >= 2).agg(
        F.sum(
            F.round(F.lit(2.0) / kd, 14).cast("decimal(38,14)")
        ).cast("double").alias("vd"),
        F.sum(
            F.round(
                (F.lit(2.0) / kd) * (F.lit(1.0) - F.lit(2.0) / kd), 14
            ).cast("decimal(38,14)")
        ).cast("double").alias("vs"),
    )
    j = rec.crossJoin(F.broadcast(h))
    d = (F.col("u") - F.col("l")).cast("double")
    s = (F.col("u") + F.col("l")).cast("double")
    return j.select(
        F.col("n").alias("n_days"),
        F.col("u").alias("rec_up"),
        F.col("l").alias("rec_dn"),
        (F.col("u") - F.col("l")).cast("long").alias("d_stat"),
        (F.col("u") + F.col("l")).cast("long").alias("s_stat"),
        F.round(d / F.sqrt(F.col("vd")), 4).alias("z_d"),
        F.round((s - F.col("vd")) / F.sqrt(F.col("vs")), 4).alias(
            "z_s"
        ),
    )


_X583_ORACLE = """
WITH weekly AS MATERIALIZED (
  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
           AS wk,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS yl
  FROM orders GROUP BY 1
),
series AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY wk) AS t,
         yl, CAST(yl AS DOUBLE) AS y
  FROM weekly
),
nn AS (SELECT CASE WHEN count(*) >= 105 THEN CAST(count(*) AS BIGINT)
              ELSE CAST(error('x583_holt_winters_weekly requires >= 105 present weeks')
                        AS BIGINT) END AS n FROM series),
m1 AS (SELECT CAST(SUM(yl) AS BIGINT) AS s1 FROM series WHERE t <= 52),
m2 AS (SELECT CAST(SUM(yl) AS BIGINT) AS s2 FROM series
       WHERE t > 52 AND t <= 104),
init AS MATERIALIZED (
  SELECT 52 AS t,
         CAST(m1.s1 AS DOUBLE) / 52.0 AS l,
         (CAST(m2.s2 AS DOUBLE) / 52.0
          - CAST(m1.s1 AS DOUBLE) / 52.0) / 52.0 AS b,
         CAST(0.0 AS DOUBLE) AS sh,
         (SELECT list(y - CAST(m1.s1 AS DOUBLE) / 52.0 ORDER BY t)
          FROM series WHERE t <= 52) AS s
  FROM m1, m2
),
rec AS (
  WITH RECURSIVE walk(t, l, b, sh, s) AS (
    SELECT t, l, b, sh, s FROM init
    UNION ALL
    SELECT w.t + 1,
           0.5 * (sr.y - w.s[1]) + 0.5 * (w.l + w.b),
           0.5 * ((0.5 * (sr.y - w.s[1]) + 0.5 * (w.l + w.b)) - w.l)
             + 0.5 * w.b,
           w.sh + (sr.y - (w.l + w.b + w.s[1]))
                * (sr.y - (w.l + w.b + w.s[1])),
           w.s[2:52] || [0.5 * (sr.y
                    - (0.5 * (sr.y - w.s[1]) + 0.5 * (w.l + w.b)))
                    + 0.5 * w.s[1]]
    FROM walk w
    JOIN series sr ON sr.t = w.t + 1
  )
  SELECT * FROM walk
),
naive AS (
  SELECT CAST(SUM(CAST(a.yl - b.yl AS HUGEINT)
                  * CAST(a.yl - b.yl AS HUGEINT)) AS HUGEINT) AS sn
  FROM series a JOIN series b ON a.t = b.t + 52
)
SELECT nn.n AS n_weeks,
       ROUND(r.sh / 10000.0, 4) AS sse_hw_dollars2,
       ROUND(CAST(nv.sn AS DOUBLE) / 10000.0, 4)
         AS sse_snaive_dollars2,
       ROUND(1.0 - r.sh / CAST(nv.sn AS DOUBLE), 6)
         AS skill_vs_seasonal_naive,
       ROUND(r.l / 100.0, 4) AS final_level_dollars,
       ROUND(r.b / 100.0, 4) AS final_trend_dollars
FROM rec r, nn, naive nv WHERE r.t = nn.n
"""


@register(
    "x583_holt_winters_weekly",
    _X583_ORACLE,
    doc="Holt-Winters ADDITIVE seasonal smoothing (period 52) "
        "one-step-ahead backtest on weekly revenue with DYADIC "
        "weights (alpha = beta = gamma = 0.5, every smoothing "
        "multiply an exact power-of-two scale): level l' = "
        "0.5(y - s_t) + 0.5(l + b), trend b' = 0.5(l' - l) + "
        "0.5b, seasonal s' = 0.5(y - l') + 0.5 s_t carried as a "
        "rotating 52-slot queue, scored as SSE of forecast "
        "errors (l + b + s_t) vs the SEASONAL-naive y_{t-52} "
        "carry-forward -- the seasonality-aware forecaster "
        "x485's Holt (level+trend only) cannot be; initialized "
        "classically (l = mean of year 1, b = (year-2 mean - "
        "year-1 mean)/52, s_i = y_i - l over year 1). Weekly "
        "grain keeps the sequential oracle recursion bounded at "
        "~340 steps (a 2400-step daily recursion is pathological "
        "in DuckDB, measured round-8). Determinism: inputs are "
        "exact integer cents (init means divide exact BIGINT "
        "sums); the recurrence evaluates in ONE explicit "
        "sequential order on both engines (Spark: in-row "
        "aggregate fold over the sorted bounded week series with "
        "the 52-slot queue as an array field; DuckDB: linear "
        "recursive CTE carrying a LIST, slice [2:52] INCLUSIVE "
        "pairing Spark's slice(s,2,51)) with identical "
        "expression trees, so every intermediate double is "
        "bit-identical; the seasonal-naive SSE is an exact "
        "integer t = t'+52 equi-join sum. Precondition (stated): "
        "needs >= 105 present weeks (gap weeks drop, the series "
        "indexes by presence order). Scale: the fold rides the "
        "calendar-bounded week series; corpus-sized work is one "
        "week-grain aggregate",
)
def x583_holt_winters_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("wk")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("yl")
    )
    ser = weekly.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("wk", "yl"))),
            lambda s: s["yl"],
        ).alias("yls")
    ).select(
        "yls",
        F.transform(F.col("yls"), lambda v: v.cast("double")).alias(
            "ys"
        ),
    )
    ys, yls = F.col("ys"), F.col("yls")
    s1 = F.aggregate(
        F.slice(yls, 1, 52),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    s2 = F.aggregate(
        F.slice(yls, 53, 52),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    l0 = s1.cast("double") / F.lit(52.0)
    b0 = (s2.cast("double") / F.lit(52.0) - s1.cast("double")
          / F.lit(52.0)) / F.lit(52.0)
    init = F.struct(
        l0.alias("l"),
        b0.alias("b"),
        F.lit(0.0).alias("sh"),
        F.transform(F.slice(ys, 1, 52), lambda v: v - l0).alias("s"),
    )

    def step(acc, y):
        sidx = F.element_at(acc["s"], 1)
        lnew = (
            F.lit(0.5) * (y - sidx)
            + F.lit(0.5) * (acc["l"] + acc["b"])
        )
        return F.struct(
            lnew.alias("l"),
            (F.lit(0.5) * (lnew - acc["l"]) + F.lit(0.5) * acc["b"])
            .alias("b"),
            (
                acc["sh"]
                + (y - (acc["l"] + acc["b"] + sidx))
                * (y - (acc["l"] + acc["b"] + sidx))
            ).alias("sh"),
            F.concat(
                F.slice(acc["s"], 2, 51),
                F.array(
                    F.lit(0.5) * (y - lnew) + F.lit(0.5) * sidx
                ),
            ).alias("s"),
        )

    # Loud, cross-engine-identical precondition: a series shorter than
    # 105 present weeks cannot seed the dyadic init (52+52) plus one
    # step -- the oracle's nn CTE raises via error() on the same bound,
    # so both engines fail instead of one throwing an opaque slice
    # error while the other silently returns zero rows.
    folded = ser.select(
        F.when(
            F.assert_true(
                F.size(ys) >= 105,
                F.concat(
                    F.lit(
                        "x583_holt_winters_weekly requires >= 105 "
                        "present weeks; got "
                    ),
                    F.size(ys).cast("string"),
                ),
            ).isNull(),
            F.size(ys).cast("long"),
        ).alias("n_weeks"),
        F.aggregate(
            F.slice(ys, 53, F.size(ys) - 52), init, step
        ).alias("st"),
        F.aggregate(
            F.zip_with(
                F.slice(yls, 53, F.size(yls) - 52),
                F.slice(yls, 1, F.size(yls) - 52),
                # widen BEFORE the square: weekly cents diffs pass
                # 2^31.5 at sf0.1 already, the square overflows long
                lambda a, b: (a - b).cast("decimal(38,0)")
                * (a - b).cast("decimal(38,0)"),
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda a, v: (a + v).cast("decimal(38,0)"),
        ).alias("sn"),
    )
    return folded.select(
        "n_weeks",
        F.round(F.col("st.sh") / F.lit(10000.0), 4).alias(
            "sse_hw_dollars2"
        ),
        F.round(
            F.col("sn").cast("double") / F.lit(10000.0), 4
        ).alias("sse_snaive_dollars2"),
        F.round(
            F.lit(1.0) - F.col("st.sh") / F.col("sn").cast("double"),
            6,
        ).alias("skill_vs_seasonal_naive"),
        F.round(F.col("st.l") / F.lit(100.0), 4).alias(
            "final_level_dollars"
        ),
        F.round(F.col("st.b") / F.lit(100.0), 4).alias(
            "final_trend_dollars"
        ),
    )
