"""Extension entries x542+ (round-8 wave): two-sample and
ordered-group comparison statistics the x430-x541 inference/
diagnostics waves still lacked -- the robust SHIFT ESTIMATE
(Hodges-Lehmann) where x286/x444 give means, the DOSE-RESPONSE
trend test (Cochran-Armitage) where x148's chi-square is omnibus,
and the DISTRIBUTION-LEVEL two-sample test (energy distance) that
sees shape differences a location test (x445) or a variance test
cannot.

Engine-exactness recipes follow the proven registry contracts
(SURVEY.md section 5.3): payloads quantize to integer cents before
any cross-row sum; sums accumulate in DECIMAL(38,0)/HUGEINT;
divisions happen in DOUBLE with fixed operand order; ROUND guards
every emitted float.  Pairwise statistics NEVER materialize row
pairs against corpus cardinality: Hodges-Lehmann pairs ride the
bounded calendar domain, energy-distance pair sums collapse to
prefix-sum identities over the distinct-value domain (the x492/
x541 dominance-credit discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...scale import global_row_number
from .. import register
from .diagnostics import _daily_revenue


_X542_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
wk AS (SELECT day, y FROM daily WHERE dayofweek(day) IN (0, 6)),
wd AS (SELECT day, y FROM daily WHERE dayofweek(day) NOT IN (0, 6)),
diffs AS (
  SELECT CAST(a.y AS HUGEINT) - b.y AS d
  FROM wk a CROSS JOIN wd b
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST((SELECT count(*) FROM wk) AS BIGINT) AS nw,
         CAST((SELECT count(*) FROM wd) AS BIGINT) AS nd,
         CAST((SELECT SUM(y) FROM wk) AS HUGEINT) AS sw,
         CAST((SELECT SUM(y) FROM wd) AS HUGEINT) AS sd
  FROM diffs
),
rk AS (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM diffs),
hl AS (
  SELECT AVG(CAST(rk.d AS DOUBLE)) AS hl_cents
  FROM rk, m
  WHERE rk.rn = (m.m + 1) // 2 OR rk.rn = (m.m + 2) // 2
)
SELECT m.nw AS n_weekend, m.nd AS n_weekday, m.m AS n_pairs,
       ROUND(hl.hl_cents, 1) AS hl_shift_cents,
       ROUND(CAST(m.sw AS DOUBLE) / m.nw
             - CAST(m.sd AS DOUBLE) / m.nd, 4) AS mean_shift_cents
FROM m, hl
"""


@register(
    "x542_hodges_lehmann",
    _X542_ORACLE,
    doc="Hodges-Lehmann shift estimate of the weekend-vs-weekday "
        "daily-revenue effect: the median of ALL weekend-minus-"
        "weekday pairwise differences -- the robust effect SIZE "
        "whose significance twin is the rank-sum family (x445 "
        "Brunner-Munzel decides 'is there a shift', HL says HOW "
        "BIG in revenue units, immune to the heavy right tail "
        "that drags the mean difference reported beside it). "
        "Exactness: daily revenue is exact integer cents, so "
        "every pairwise difference is an exact integer; the "
        "median picks the ((m+1) div 2)-th and ((m+2) div 2)-th "
        "order STATISTICS of the multiset (value-deterministic "
        "regardless of tie order) and averages them -- a .5-exact "
        "double. Scale: the pair table is CALENDAR-bounded "
        "(~686 weekend x ~1713 weekday days, constant in SF, "
        "never user/row pairs); the weekend side broadcasts, and "
        "ranking uses scale.global_row_number's two-pass prefix "
        "rank -- no SinglePartition sort",
)
def x542_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    is_wk = F.dayofweek("day").isin(1, 7)
    wk = daily.filter(is_wk).select(
        F.col("day").alias("wk_day"), F.col("y").alias("wk_y")
    )
    wd = daily.filter(~is_wk).select(
        F.col("day").alias("wd_day"), F.col("y").alias("wd_y")
    )
    diffs = wd.crossJoin(F.broadcast(wk)).select(
        (F.col("wk_y") - F.col("wd_y")).cast("long").alias("d"),
        "wk_day",
        "wd_day",
    )
    rk = global_row_number(diffs, ["d", "wk_day", "wd_day"], "rn")
    m = diffs.agg(
        F.count(F.lit(1)).cast("long").alias("m")
    ).crossJoin(
        F.broadcast(
            wk.agg(
                F.count(F.lit(1)).cast("long").alias("nw"),
                F.sum(F.col("wk_y").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias("sw"),
            )
        )
    ).crossJoin(
        F.broadcast(
            wd.agg(
                F.count(F.lit(1)).cast("long").alias("nd"),
                F.sum(F.col("wd_y").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias("sd"),
            )
        )
    )
    hl = (
        rk.crossJoin(F.broadcast(m.select("m")))
        .filter(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("(m + 2) div 2"))
        )
        .agg(F.avg(F.col("d").cast("double")).alias("hl_cents"))
    )
    return m.crossJoin(F.broadcast(hl)).select(
        F.col("nw").alias("n_weekend"),
        F.col("nd").alias("n_weekday"),
        F.col("m").alias("n_pairs"),
        F.round("hl_cents", 1).alias("hl_shift_cents"),
        F.round(
            F.col("sw").cast("double") / F.col("nw")
            - F.col("sd").cast("double") / F.col("nd"),
            4,
        ).alias("mean_shift_cents"),
    )


_X543_ORACLE = """
WITH b AS (
  SELECT CAST(round(l_discount * 100.0, 0) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_i,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS r_i
  FROM lineitem GROUP BY 1
),
t AS (
  SELECT CAST(SUM(n_i) AS HUGEINT) AS n,
         CAST(SUM(r_i) AS HUGEINT) AS r,
         CAST(SUM(s * n_i) AS HUGEINT) AS sn,
         CAST(SUM(s * r_i) AS HUGEINT) AS sr,
         CAST(SUM(s * s * n_i) AS HUGEINT) AS ssn
  FROM b
)
SELECT CAST(n AS BIGINT) AS n_items,
       CAST(r AS BIGINT) AS n_returns,
       ROUND(CAST(r AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pbar,
       ROUND(CAST(n * sr - r * sn AS DOUBLE)
             / CAST(n * ssn - sn * sn AS DOUBLE), 8)
         AS trend_slope_per_band,
       ROUND(CAST(n * sr - r * sn AS DOUBLE)
             / sqrt(CAST(r * (n - r) AS DOUBLE)
                    * CAST(n * ssn - sn * sn AS DOUBLE)
                    / CAST(n AS DOUBLE)), 4) AS ca_z
FROM t
"""


@register(
    "x543_cochran_armitage",
    _X543_ORACLE,
    doc="Cochran-Armitage trend test: does the return RATE rise "
        "monotonically with the discount band (scores 0-10)? The "
        "dose-response member of the categorical suite -- x148's "
        "chi-square treats bands as unordered and spends 10 df on "
        "any pattern; CA spends 1 df on the LINEAR trend and so "
        "sees an ordered drift chi-square dilutes away; the "
        "weighted-least-squares slope of rate on band is emitted "
        "beside z as the effect size. Exactness: every moment "
        "(N, R, sum s*n, sum s*r, sum s^2*n) is an exact integer "
        "from ONE band-grain aggregate; numerator N*sr - R*sn and "
        "variance core R(N-R)(N*ssn - sn^2)/N (~3e32 at sf10, "
        "inside DECIMAL(38)) stay integer-exact until the final "
        "double division/sqrt. Scale: one corpus groupBy to the "
        "11-row band domain, then constant algebra",
)
def x543_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("s")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r_i"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    t = b.agg(
        F.sum(dec(F.col("n_i"))).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("r_i"))).cast("decimal(38,0)").alias("r"),
        F.sum(dec(F.col("s") * F.col("n_i")))
        .cast("decimal(38,0)")
        .alias("sn"),
        F.sum(dec(F.col("s") * F.col("r_i")))
        .cast("decimal(38,0)")
        .alias("sr"),
        F.sum(dec(F.col("s") * F.col("s") * F.col("n_i")))
        .cast("decimal(38,0)")
        .alias("ssn"),
    )
    num = (F.col("n") * F.col("sr") - F.col("r") * F.col("sn")).cast(
        "decimal(38,0)"
    )
    vcore = (F.col("n") * F.col("ssn") - F.col("sn") * F.col("sn")).cast(
        "decimal(38,0)"
    )
    rcore = (F.col("r") * (F.col("n") - F.col("r"))).cast("decimal(38,0)")
    return t.select(
        F.col("n").cast("long").alias("n_items"),
        F.col("r").cast("long").alias("n_returns"),
        F.round(
            F.col("r").cast("double") / F.col("n").cast("double"), 6
        ).alias("pbar"),
        F.round(num.cast("double") / vcore.cast("double"), 8).alias(
            "trend_slope_per_band"
        ),
        F.round(
            num.cast("double")
            / F.sqrt(
                rcore.cast("double")
                * vcore.cast("double")
                / F.col("n").cast("double")
            ),
            4,
        ).alias("ca_z"),
    )


_X545_ORACLE = """
WITH u AS (
  SELECT user_id % 2 AS arm,
         CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS spend
  FROM events GROUP BY user_id
),
dom AS (
  SELECT spend,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS cx,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS cy
  FROM u GROUP BY 1
),
cum AS (
  SELECT spend, cx, cy,
         COALESCE(SUM(cx) OVER w, 0) AS cxb,
         COALESCE(SUM(cy) OVER w, 0) AS cyb,
         COALESCE(SUM(CAST(spend AS HUGEINT) * cx) OVER w, 0) AS sxb,
         COALESCE(SUM(CAST(spend AS HUGEINT) * cy) OVER w, 0) AS syb
  FROM dom
  WINDOW w AS (ORDER BY spend
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
tot AS (
  SELECT CAST(SUM(cx) AS HUGEINT) AS nx,
         CAST(SUM(cy) AS HUGEINT) AS ny,
         CAST(SUM(CAST(spend AS HUGEINT) * cx) AS HUGEINT) AS sxt,
         CAST(SUM(CAST(spend AS HUGEINT) * cy) AS HUGEINT) AS syt
  FROM dom
),
sums AS (
  SELECT
    CAST(SUM(cy * (CAST(spend AS HUGEINT) * cxb - sxb
         + (sxt - sxb - CAST(spend AS HUGEINT) * (nx - cxb))))
      AS HUGEINT) AS sxy,
    CAST(SUM(cx * (CAST(spend AS HUGEINT) * cxb - sxb
         + (sxt - sxb - CAST(spend AS HUGEINT) * (nx - cxb))))
      AS HUGEINT) AS sxx,
    CAST(SUM(cy * (CAST(spend AS HUGEINT) * cyb - syb
         + (syt - syb - CAST(spend AS HUGEINT) * (ny - cyb))))
      AS HUGEINT) AS syy
  FROM cum, tot
)
SELECT CAST(t.nx AS BIGINT) AS n_treat,
       CAST(t.ny AS BIGINT) AS n_ctrl,
       ROUND(CAST(s.sxy AS DOUBLE)
             / (CAST(t.nx AS DOUBLE) * CAST(t.ny AS DOUBLE)), 4)
         AS mean_dist_xy,
       ROUND(CAST(s.sxx AS DOUBLE)
             / (CAST(t.nx AS DOUBLE) * CAST(t.nx AS DOUBLE)), 4)
         AS mean_dist_xx,
       ROUND(CAST(s.syy AS DOUBLE)
             / (CAST(t.ny AS DOUBLE) * CAST(t.ny AS DOUBLE)), 4)
         AS mean_dist_yy,
       ROUND(2.0 * (CAST(s.sxy AS DOUBLE)
                    / (CAST(t.nx AS DOUBLE) * CAST(t.ny AS DOUBLE)))
             - CAST(s.sxx AS DOUBLE)
               / (CAST(t.nx AS DOUBLE) * CAST(t.nx AS DOUBLE))
             - CAST(s.syy AS DOUBLE)
               / (CAST(t.ny AS DOUBLE) * CAST(t.ny AS DOUBLE)), 6)
         AS e_dist_cents,
       ROUND((CAST(t.nx AS DOUBLE) * CAST(t.ny AS DOUBLE)
              / (CAST(t.nx AS DOUBLE) + CAST(t.ny AS DOUBLE)))
             * (2.0 * (CAST(s.sxy AS DOUBLE)
                       / (CAST(t.nx AS DOUBLE) * CAST(t.ny AS DOUBLE)))
                - CAST(s.sxx AS DOUBLE)
                  / (CAST(t.nx AS DOUBLE) * CAST(t.nx AS DOUBLE))
                - CAST(s.syy AS DOUBLE)
                  / (CAST(t.ny AS DOUBLE) * CAST(t.ny AS DOUBLE))), 2)
         AS t_energy
FROM sums s, tot t
"""


@register(
    "x545_energy_distance",
    _X545_ORACLE,
    doc="Szekely-Rizzo energy distance between the user-parity arms "
        "on per-user total spend: E = 2*E|X-Y| - E|X-X'| - E|Y-Y'| "
        "with the test statistic T = nm/(n+m)*E -- the "
        "DISTRIBUTION-level two-sample test that is nonzero iff "
        "the two laws differ AT ALL (location, scale, OR shape), "
        "where x445 Brunner-Munzel sees stochastic dominance and "
        "a variance test sees spread; E=0 <=> equal distributions "
        "is the property neither has. Exactness: all three "
        "pairwise |difference| sums collapse to EXACT integer "
        "prefix-sum identities over the distinct-spend domain "
        "(sum_y |v-y| = v*C_below - S_below + S_above - v*C_above, "
        "strict windows so equal values contribute exactly 0); "
        "HUGEINT/DECIMAL(38,0) throughout, three double divisions "
        "at the end in fixed order. Scale: one user-grain "
        "aggregate, then spend-domain windows (x541's discipline) "
        "-- no user pair is ever materialized",
)
def x545_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("spend")
    ).select((F.col("user_id") % 2).alias("arm"), "spend")
    dom = u.groupBy("spend").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("cx"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("cy"),
    )
    wb = Window.orderBy("spend").rowsBetween(
        Window.unboundedPreceding, -1
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sp = dec(F.col("spend"))
    cum = dom.select(
        "spend",
        "cx",
        "cy",
        F.coalesce(F.sum("cx").over(wb), F.lit(0)).cast("long").alias(
            "cxb"
        ),
        F.coalesce(F.sum("cy").over(wb), F.lit(0)).cast("long").alias(
            "cyb"
        ),
        F.coalesce(F.sum(sp * F.col("cx")).over(wb), F.lit(0))
        .cast("decimal(38,0)")
        .alias("sxb"),
        F.coalesce(F.sum(sp * F.col("cy")).over(wb), F.lit(0))
        .cast("decimal(38,0)")
        .alias("syb"),
    )
    tot = dom.agg(
        F.sum("cx").cast("long").alias("nx"),
        F.sum("cy").cast("long").alias("ny"),
        F.sum(sp * F.col("cx")).cast("decimal(38,0)").alias("sxt"),
        F.sum(sp * F.col("cy")).cast("decimal(38,0)").alias("syt"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    fx = (
        sp * F.col("cxb")
        - F.col("sxb")
        + (F.col("sxt") - F.col("sxb") - sp * (F.col("nx") - F.col("cxb")))
    )
    fy = (
        sp * F.col("cyb")
        - F.col("syb")
        + (F.col("syt") - F.col("syb") - sp * (F.col("ny") - F.col("cyb")))
    )
    sums = j.agg(
        F.sum(dec(F.col("cy")) * fx).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec(F.col("cx")) * fx).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec(F.col("cy")) * fy).cast("decimal(38,0)").alias("syy"),
        F.first("nx").alias("nx"),
        F.first("ny").alias("ny"),
    )
    nxd = F.col("nx").cast("double")
    nyd = F.col("ny").cast("double")
    mxy = F.col("sxy").cast("double") / (nxd * nyd)
    mxx = F.col("sxx").cast("double") / (nxd * nxd)
    myy = F.col("syy").cast("double") / (nyd * nyd)
    e = 2.0 * mxy - mxx - myy
    return sums.select(
        F.col("nx").alias("n_treat"),
        F.col("ny").alias("n_ctrl"),
        F.round(mxy, 4).alias("mean_dist_xy"),
        F.round(mxx, 4).alias("mean_dist_xx"),
        F.round(myy, 4).alias("mean_dist_yy"),
        F.round(e, 6).alias("e_dist_cents"),
        F.round((nxd * nyd / (nxd + nyd)) * e, 2).alias("t_energy"),
    )


_X547_ORACLE = """
WITH cells AS (
  SELECT CAST(round(l_discount * 100.0, 0) AS BIGINT) AS s,
         CAST(round(l_quantity, 0) AS BIGINT) AS q,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
),
grp AS (
  SELECT s, CAST(SUM(cnt) AS HUGEINT) AS n_i FROM cells GROUP BY 1
),
val AS (
  SELECT q, CAST(SUM(cnt) AS HUGEINT) AS t_u FROM cells GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS HUGEINT) AS n FROM cells),
pairs AS (
  SELECT
    CAST(SUM(CASE WHEN a.q < b.q
             THEN CAST(a.cnt AS HUGEINT) * b.cnt ELSE 0 END)
      AS HUGEINT) AS wins,
    CAST(SUM(CASE WHEN a.q = b.q
             THEN CAST(a.cnt AS HUGEINT) * b.cnt ELSE 0 END)
      AS HUGEINT) AS ties
  FROM cells a JOIN cells b ON a.s < b.s
),
gm AS (
  SELECT CAST(SUM(n_i * n_i) AS HUGEINT) AS sn2,
         CAST(SUM(n_i * (n_i - 1)) AS HUGEINT) AS sg1,
         CAST(SUM(n_i * (n_i - 1) * (2 * n_i + 5)) AS HUGEINT) AS sg2,
         CAST(SUM(n_i * (n_i - 1) * (n_i - 2)) AS HUGEINT) AS sg3
  FROM grp
),
vm AS (
  SELECT CAST(SUM(t_u * (t_u - 1)) AS HUGEINT) AS st1,
         CAST(SUM(t_u * (t_u - 1) * (2 * t_u + 5)) AS HUGEINT) AS st2,
         CAST(SUM(t_u * (t_u - 1) * (t_u - 2)) AS HUGEINT) AS st3
  FROM val
),
v AS (
  SELECT
    CAST(t.n AS DOUBLE) AS nd,
    CAST(t.n * (t.n - 1) * (2 * t.n + 5) - gm.sg2 - vm.st2 AS DOUBLE)
      / 72.0
    + CAST(gm.sg3 AS DOUBLE) * CAST(vm.st3 AS DOUBLE)
      / (36.0 * CAST(t.n AS DOUBLE) * CAST(t.n - 1 AS DOUBLE)
         * CAST(t.n - 2 AS DOUBLE))
    + CAST(gm.sg1 AS DOUBLE) * CAST(vm.st1 AS DOUBLE)
      / (8.0 * CAST(t.n AS DOUBLE) * CAST(t.n - 1 AS DOUBLE))
      AS var_jt,
    CAST(4 * p.wins + 2 * p.ties - (t.n * t.n - gm.sn2) AS DOUBLE)
      AS num4,
    p.wins, p.ties, t.n, gm.sn2
  FROM pairs p, gm, vm, tot t
)
SELECT CAST(n AS BIGINT) AS n_items,
       CAST(wins AS BIGINT) AS wins,
       CAST(ties AS BIGINT) AS ties,
       ROUND(CAST(wins AS DOUBLE) + CAST(ties AS DOUBLE) / 2.0, 1)
         AS jt_stat,
       ROUND(CAST(n * n - sn2 AS DOUBLE) / 4.0, 2) AS e_jt,
       ROUND(num4 / (4.0 * sqrt(var_jt)), 4) AS jt_z
FROM v
"""


@register(
    "x547_jonckheere_terpstra",
    _X547_ORACLE,
    doc="Jonckheere-Terpstra ordered-alternative test: do quantities "
        "trend upward ACROSS the ordered discount bands? Sums the "
        "pairwise Mann-Whitney wins over every band pair i<j -- "
        "the k-group ordered test where x543 needs a binary "
        "outcome and x487's Page test needs a blocked design; "
        "tie-corrected null variance (the full three-term "
        "Terpstra form with group and pooled-value tie moments). "
        "Exactness: rows collapse to the bounded 11x50 "
        "(band, quantity) cell grid; wins/ties are exact HUGEINT "
        "cell-pair products over the <=550^2 grid (never row "
        "pairs, x513's discipline); the z numerator is the EXACT "
        "integer 4*JT - 4*E (computed before any double cast, so "
        "no catastrophic cancellation at sf100 where JT ~ N^2); "
        "variance terms convert factor-wise to double (the B "
        "term's product ~1e41 at sf10 exceeds DECIMAL38 as an "
        "integer, priced and stated). Scale: one corpus groupBy "
        "to 550 cells, a broadcast cell-grid join, constant "
        "algebra",
)
def x547_jonckheere_terpstra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("s"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("q"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cells = cells.localCheckpoint(eager=False)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    grp = cells.groupBy("s").agg(
        F.sum("cnt").cast("decimal(38,0)").alias("n_i")
    )
    val = cells.groupBy("q").agg(
        F.sum("cnt").cast("decimal(38,0)").alias("t_u")
    )
    tot = cells.agg(F.sum("cnt").cast("decimal(38,0)").alias("n"))
    a = cells.select(
        F.col("s").alias("sa"), F.col("q").alias("qa"),
        F.col("cnt").alias("ca"),
    )
    b = cells.select(
        F.col("s").alias("sb"), F.col("q").alias("qb"),
        F.col("cnt").alias("cb"),
    )
    pairs = a.join(F.broadcast(b), F.col("sa") < F.col("sb")).agg(
        F.sum(
            F.when(
                F.col("qa") < F.col("qb"),
                dec(F.col("ca")) * F.col("cb"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("wins"),
        F.sum(
            F.when(
                F.col("qa") == F.col("qb"),
                dec(F.col("ca")) * F.col("cb"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("ties"),
    )
    gm = grp.agg(
        F.sum(F.col("n_i") * F.col("n_i"))
        .cast("decimal(38,0)").alias("sn2"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1))
        .cast("decimal(38,0)").alias("sg1"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1) * (2 * F.col("n_i") + 5))
        .cast("decimal(38,0)").alias("sg2"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1) * (F.col("n_i") - 2))
        .cast("decimal(38,0)").alias("sg3"),
    )
    vm = val.agg(
        F.sum(F.col("t_u") * (F.col("t_u") - 1))
        .cast("decimal(38,0)").alias("st1"),
        F.sum(F.col("t_u") * (F.col("t_u") - 1) * (2 * F.col("t_u") + 5))
        .cast("decimal(38,0)").alias("st2"),
        F.sum(F.col("t_u") * (F.col("t_u") - 1) * (F.col("t_u") - 2))
        .cast("decimal(38,0)").alias("st3"),
    )
    j = (
        pairs.crossJoin(F.broadcast(gm))
        .crossJoin(F.broadcast(vm))
        .crossJoin(F.broadcast(tot))
    )
    nd = F.col("n").cast("double")
    var_jt = (
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("sg2")
            - F.col("st2")
        ).cast("double")
        / 72.0
        + F.col("sg3").cast("double")
        * F.col("st3").cast("double")
        / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
        + F.col("sg1").cast("double")
        * F.col("st1").cast("double")
        / (8.0 * nd * (nd - 1.0))
    )
    num4 = (
        4 * F.col("wins")
        + 2 * F.col("ties")
        - (F.col("n") * F.col("n") - F.col("sn2"))
    ).cast("decimal(38,0)")
    return j.select(
        F.col("n").cast("long").alias("n_items"),
        F.col("wins").cast("long").alias("wins"),
        F.col("ties").cast("long").alias("ties"),
        F.round(
            F.col("wins").cast("double")
            + F.col("ties").cast("double") / 2.0,
            1,
        ).alias("jt_stat"),
        F.round(
            (F.col("n") * F.col("n") - F.col("sn2")).cast("double")
            / 4.0,
            2,
        ).alias("e_jt"),
        F.round(
            num4.cast("double") / (4.0 * F.sqrt(var_jt)), 4
        ).alias("jt_z"),
    )


_X548_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
wk AS (
  SELECT date_trunc('week', day) AS week, isodow(day) - 1 AS wd, y
  FROM daily
),
full_weeks AS (
  SELECT week FROM wk GROUP BY 1 HAVING count(*) = 7
),
blk AS (
  SELECT w.week, w.wd, w.y FROM wk w
  JOIN full_weeks f ON f.week = w.week
),
rnk AS (
  SELECT week, wd, y,
         2 * rank() OVER (PARTITION BY week ORDER BY y)
           + count(*) OVER (PARTITION BY week, y) - 1 AS r2
  FROM blk
),
rng AS (
  SELECT week, MAX(y) - MIN(y) AS rg FROM blk GROUP BY 1
),
qrk AS (
  SELECT week,
         2 * rank() OVER (ORDER BY rg)
           + count(*) OVER (PARTITION BY rg) - 1 AS q2
  FROM rng
),
s4 AS (
  SELECT r.week, r.wd,
         CAST(q.q2 * (r.r2 - 8) AS BIGINT) AS s4
  FROM rnk r JOIN qrk q ON q.week = r.week
),
ab AS (
  SELECT CAST(count(DISTINCT week) AS BIGINT) AS nb,
         CAST(SUM(CAST(s4 AS HUGEINT) * s4) AS HUGEINT) AS a16
  FROM s4
),
sj AS (
  SELECT wd, CAST(SUM(s4) AS BIGINT) AS s4_j FROM s4 GROUP BY 1
),
bsum AS (
  SELECT CAST(SUM(CAST(s4_j AS HUGEINT) * s4_j) AS HUGEINT) AS b16n
  FROM sj
)
SELECT sj.wd AS weekday_mon0,
       sj.s4_j AS s4_j,
       CAST(ab.nb AS BIGINT) AS n_blocks,
       ROUND(CAST(ab.nb - 1 AS DOUBLE) * CAST(bsum.b16n AS DOUBLE)
             / (CAST(ab.nb AS DOUBLE) * CAST(ab.a16 AS DOUBLE)
                - CAST(bsum.b16n AS DOUBLE)), 4) AS quade_f
FROM sj, ab, bsum
ORDER BY sj.wd
"""


@register(
    "x548_quade_test",
    _X548_ORACLE,
    doc="Quade test for weekday effects on daily revenue with weeks "
        "as blocks: within-week ranks weighted by the rank of each "
        "week's RANGE -- the blocked-design test that, unlike "
        "x476's Friedman (equal block weights), lets high-"
        "variation weeks count more (more sensitive when effects "
        "scale with block level, exactly how revenue behaves); "
        "complete 7-day weeks only (stated). Exactness: ties use "
        "average ranks computed EXACTLY in half-units (r2 = "
        "2*rank + ties - 1), block-range ranks likewise, so every "
        "S_ij is an exact quarter-integer carried as the integer "
        "S4 = 4*S_ij; A and B assemble from exact BIGINT sums "
        "(calendar-bounded magnitudes, ~2e13), one double "
        "division for F. Scale: one day-grain aggregate; windows "
        "ride the 7-row week partitions and the ~350-row week "
        "domain",
)
def x548_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    wk = daily.select(
        F.date_trunc("week", F.col("day")).cast("date").alias("week"),
        F.expr("weekday(day)").cast("long").alias("wd"),
        "y",
    )
    full_weeks = wk.groupBy("week").agg(
        F.count(F.lit(1)).alias("cnt")
    ).filter(F.col("cnt") == 7).select("week")
    blk = wk.join(F.broadcast(full_weeks), "week").localCheckpoint(
        eager=False
    )
    r2 = (
        2 * F.rank().over(Window.partitionBy("week").orderBy("y"))
        + F.count(F.lit(1)).over(Window.partitionBy("week", "y"))
        - 1
    )
    rnk = blk.select("week", "wd", r2.cast("long").alias("r2"))
    rng = blk.groupBy("week").agg(
        (F.max("y") - F.min("y")).cast("long").alias("rg")
    )
    q2 = (
        2 * F.rank().over(Window.orderBy("rg"))
        + F.count(F.lit(1)).over(Window.partitionBy("rg"))
        - 1
    )
    qrk = rng.select("week", q2.cast("long").alias("q2"))
    s4 = rnk.join(qrk, "week").select(
        "week",
        "wd",
        (F.col("q2") * (F.col("r2") - 8)).cast("long").alias("s4"),
    )
    ab = s4.agg(
        F.countDistinct("week").cast("long").alias("nb"),
        F.sum(F.col("s4").cast("decimal(38,0)") * F.col("s4"))
        .cast("decimal(38,0)")
        .alias("a16"),
    )
    sj = s4.groupBy("wd").agg(
        F.sum("s4").cast("long").alias("s4_j")
    )
    bsum = sj.agg(
        F.sum(F.col("s4_j").cast("decimal(38,0)") * F.col("s4_j"))
        .cast("decimal(38,0)")
        .alias("b16n")
    )
    out = sj.crossJoin(F.broadcast(ab)).crossJoin(F.broadcast(bsum))
    return out.select(
        F.col("wd").alias("weekday_mon0"),
        "s4_j",
        F.col("nb").alias("n_blocks"),
        F.round(
            (F.col("nb") - 1).cast("double")
            * F.col("b16n").cast("double")
            / (
                F.col("nb").cast("double") * F.col("a16").cast("double")
                - F.col("b16n").cast("double")
            ),
            4,
        ).alias("quade_f"),
    ).orderBy("weekday_mon0")


_X552_ORACLE = """
WITH li AS (
  SELECT CAST(round(l_discount * 100.0, 0) AS BIGINT) AS x,
         CAST(round(l_quantity, 0) AS BIGINT) AS m,
         CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS y
  FROM lineitem
),
mo AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(m) AS HUGEINT) AS sm,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(x * m) AS HUGEINT) AS sxm,
         CAST(SUM(m * m) AS HUGEINT) AS smm,
         CAST(SUM(x * y) AS HUGEINT) AS sxy,
         CAST(SUM(m * y) AS HUGEINT) AS smy,
         CAST(SUM(y * y) AS HUGEINT) AS syy
  FROM li
),
c AS (
  SELECT CAST(n AS DOUBLE) AS nd,
         CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
         CAST(n * sxm - sx * sm AS DOUBLE) AS cxm,
         CAST(n * smm - sm * sm AS DOUBLE) AS cmm,
         CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
         CAST(n * smy - sm * sy AS DOUBLE) AS cmy,
         CAST(n * syy - sy * sy AS DOUBLE) AS cyy
  FROM mo
),
f AS (
  SELECT nd, cxx, cxm, cmm, cxy, cmy, cyy,
         cxm / cxx AS a,
         (cmy * cxx - cxy * cxm) / (cmm * cxx - cxm * cxm) AS b,
         (cxy * cmm - cmy * cxm) / (cmm * cxx - cxm * cxm) AS b1,
         cmm * cxx - cxm * cxm AS det
  FROM c
),
se AS (
  SELECT nd, a, b,
         cxy / cxx AS total,
         ((cmm - cxm * cxm / cxx) / nd / (nd - 2.0)) / (cxx / nd)
           AS se_a2,
         (((cyy - b1 * cxy - b * cmy) / nd) / (nd - 3.0))
           * nd * cxx / det AS se_b2
  FROM f
)
SELECT CAST(nd AS BIGINT) AS n_items,
       ROUND(a, 8) AS a_x_to_m,
       ROUND(b, 8) AS b_m_to_y,
       ROUND(a * b, 8) AS indirect_ab,
       ROUND(a * b / sqrt(b * b * se_a2 + a * a * se_b2), 4)
         AS sobel_z,
       ROUND(a * b / total, 6) AS prop_mediated
FROM se
"""


@register(
    "x552_sobel_mediation",
    _X552_ORACLE,
    doc="Baron-Kenny mediation with the Sobel test on the discount->"
        "quantity->revenue path: a = OLS slope of quantity on "
        "discount band, b = slope of line revenue on quantity "
        "CONTROLLING discount, indirect effect a*b with Sobel z = "
        "ab/sqrt(b^2 se_a^2 + a^2 se_b^2) and the proportion "
        "mediated ab/c -- the MECHANISM decomposition ('does the "
        "discount move revenue THROUGH bigger baskets?') that "
        "x147's correlations and x543's trend test cannot "
        "separate. Exactness: all ten raw moments are exact "
        "HUGEINT/DECIMAL sums at line grain (y^2 sums ~6e21 at "
        "sf10, inside DECIMAL38 through sf100); centered moments "
        "via the n-scaled identity; both regressions and both "
        "standard errors assemble in ONE fixed-order double "
        "expression. Scale: one corpus aggregate, constant "
        "algebra -- no joins at all",
)
def x552_sobel_mediation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("x"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("m"),
        F.floor(F.col("l_extendedprice") * 100.0).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sm = lambda e, n: F.sum(e).cast("decimal(38,0)").alias(n)  # noqa: E731
    mo = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        sm(dec(F.col("x")), "sx"),
        sm(dec(F.col("m")), "sm"),
        sm(dec(F.col("y")), "sy"),
        sm(dec(F.col("x")) * F.col("x"), "sxx"),
        sm(dec(F.col("x")) * F.col("m"), "sxm"),
        sm(dec(F.col("m")) * F.col("m"), "smm"),
        sm(dec(F.col("x")) * F.col("y"), "sxy"),
        sm(dec(F.col("m")) * F.col("y"), "smy"),
        sm(dec(F.col("y")) * F.col("y"), "syy"),
    )
    ndc = F.col("n").cast("decimal(38,0)")
    cc = lambda sab, sa, sb: (  # noqa: E731
        ndc * F.col(sab) - F.col(sa) * F.col(sb)
    ).cast("double")
    nd = F.col("n").cast("double")
    cxx = cc("sxx", "sx", "sx")
    cxm = cc("sxm", "sx", "sm")
    cmm = cc("smm", "sm", "sm")
    cxy = cc("sxy", "sx", "sy")
    cmy = cc("smy", "sm", "sy")
    cyy = cc("syy", "sy", "sy")
    a = cxm / cxx
    det = cmm * cxx - cxm * cxm
    b = (cmy * cxx - cxy * cxm) / det
    b1 = (cxy * cmm - cmy * cxm) / det
    total = cxy / cxx
    se_a2 = ((cmm - cxm * cxm / cxx) / nd / (nd - 2.0)) / (cxx / nd)
    se_b2 = (((cyy - b1 * cxy - b * cmy) / nd) / (nd - 3.0)) * nd * cxx / det
    return mo.select(
        F.col("n").alias("n_items"),
        F.round(a, 8).alias("a_x_to_m"),
        F.round(b, 8).alias("b_m_to_y"),
        F.round(a * b, 8).alias("indirect_ab"),
        F.round(
            a * b / F.sqrt(b * b * se_a2 + a * a * se_b2), 4
        ).alias("sobel_z"),
        F.round(a * b / total, 6).alias("prop_mediated"),
    )


_X553_ORACLE = """
WITH b AS (
  SELECT CAST(round(l_discount * 100.0, 0) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS o_g
  FROM lineitem GROUP BY 1
),
t AS (
  SELECT CAST(SUM(n_g) AS HUGEINT) AS n,
         CAST(SUM(o_g) AS HUGEINT) AS r,
         CAST(SUM(s * n_g) AS HUGEINT) AS sn,
         CAST(SUM(s * o_g) AS HUGEINT) AS sr,
         CAST(SUM(s * s * n_g) AS HUGEINT) AS ssn
  FROM b
),
fit AS (
  SELECT CAST(n AS DOUBLE) AS nd,
         CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
         CAST(n * sr - r * sn AS DOUBLE)
           / CAST(n * ssn - sn * sn AS DOUBLE) AS slope,
         CAST(sn AS DOUBLE) / CAST(n AS DOUBLE) AS sbar
  FROM t
),
g AS (
  SELECT b.s, b.n_g, b.o_g,
         ROUND(LEAST(GREATEST(
                 fit.pbar + fit.slope * (b.s - fit.sbar),
                 1e-6), 1 - 1e-6), 10) AS p_hat
  FROM b, fit
),
contrib AS (
  SELECT s, n_g, o_g,
         ROUND(p_hat * n_g, 4) AS e_g,
         ROUND(
           (o_g - p_hat * n_g) * (o_g - p_hat * n_g)
             / (p_hat * n_g * (1.0 - p_hat)), 6) AS hl_term
  FROM g
)
SELECT s AS band, n_g, o_g AS observed, e_g AS expected,
       hl_term,
       ROUND(SUM(CAST(hl_term AS DECIMAL(38,6)))
               OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING), 4) AS hl_chi2
FROM contrib ORDER BY s
"""


@register(
    "x553_hosmer_lemeshow",
    _X553_ORACLE,
    doc="Hosmer-Lemeshow calibration test of x543's linear trend "
        "model: fit p_hat(band) = pbar + slope*(band - mean band) "
        "on the full corpus, then chi2 = sum (O_g - E_g)^2 / "
        "(E_g (1 - p_hat)) over the 11 discount bands (df = "
        "bands - 2) -- the GOODNESS-OF-FIT companion x543 lacks: "
        "CA says 'is there a trend', HL says 'does the LINEAR "
        "model actually fit each band', and a big HL with a big "
        "CA z means the dose-response is real but curved; x356's "
        "isotonic recalibration is the fix when this rejects. "
        "Exactness: the model is closed-form off exact integer "
        "moments; p_hat rounds 10 BEFORE expected counts so both "
        "engines aggregate identical doubles; per-band terms "
        "round 6 into DECIMAL before the cross-band sum "
        "(order-proof). Scale: one corpus groupBy to 11 bands, "
        "constant algebra",
)
def x553_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("s")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("o_g"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    t = b.agg(
        F.sum(dec(F.col("n_g"))).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("o_g"))).cast("decimal(38,0)").alias("r"),
        F.sum(dec(F.col("s") * F.col("n_g")))
        .cast("decimal(38,0)").alias("sn"),
        F.sum(dec(F.col("s") * F.col("o_g")))
        .cast("decimal(38,0)").alias("sr"),
        F.sum(dec(F.col("s") * F.col("s") * F.col("n_g")))
        .cast("decimal(38,0)").alias("ssn"),
    )
    nd = F.col("n").cast("double")
    fit = t.select(
        (F.col("r").cast("double") / nd).alias("pbar"),
        (
            (F.col("n") * F.col("sr") - F.col("r") * F.col("sn"))
            .cast("double")
            / (F.col("n") * F.col("ssn") - F.col("sn") * F.col("sn"))
            .cast("double")
        ).alias("slope"),
        (F.col("sn").cast("double") / nd).alias("sbar"),
    )
    g = b.crossJoin(F.broadcast(fit)).select(
        "s",
        "n_g",
        "o_g",
        # clamp into (1e-6, 1-1e-6) on BOTH engines: a fixture with a
        # steep fitted trend could push the linear-model p_hat out of
        # (0,1) and flip the E_g*(1-p_hat) denominator non-positive --
        # a defect the hash gate cannot see because both engines would
        # agree on the garbage
        F.round(
            F.least(
                F.greatest(
                    F.col("pbar")
                    + F.col("slope") * (F.col("s") - F.col("sbar")),
                    F.lit(1e-6),
                ),
                F.lit(1.0) - F.lit(1e-6),
            ),
            10,
        ).alias("p_hat"),
    )
    contrib = g.select(
        "s",
        "n_g",
        "o_g",
        F.round(F.col("p_hat") * F.col("n_g"), 4).alias("e_g"),
        F.round(
            (F.col("o_g") - F.col("p_hat") * F.col("n_g"))
            * (F.col("o_g") - F.col("p_hat") * F.col("n_g"))
            / (F.col("p_hat") * F.col("n_g") * (1.0 - F.col("p_hat"))),
            6,
        ).alias("hl_term"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return contrib.select(
        F.col("s").alias("band"),
        "n_g",
        F.col("o_g").alias("observed"),
        F.col("e_g").alias("expected"),
        "hl_term",
        F.round(
            F.sum(F.col("hl_term").cast("decimal(38,6)")).over(w)
            .cast("double"),
            4,
        ).alias("hl_chi2"),
    ).orderBy("band")


_X557_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS spend
  FROM orders GROUP BY 1
),
dom AS (
  SELECT spend, CAST(count(*) AS BIGINT) AS cnt,
         CAST(spend AS HUGEINT) * count(*) AS tv
  FROM cust GROUP BY 1
),
cum AS (
  SELECT spend, cnt, tv,
         CAST(COALESCE(SUM(cnt) OVER w, 0) AS HUGEINT) AS cnt_below,
         CAST(COALESCE(SUM(tv) OVER w, 0) AS HUGEINT) AS spend_below
  FROM dom
  WINDOW w AS (ORDER BY spend
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
tot AS (
  SELECT CAST(SUM(cnt) AS HUGEINT) AS n,
         CAST(SUM(tv) AS HUGEINT) AS total
  FROM dom
),
pietra AS (
  SELECT MAX((cnt_below + cnt) * t.total
             - (spend_below + tv) * t.n) AS pnum
  FROM cum, tot t
),
gini AS (
  SELECT SUM((2 * c.cnt_below + c.cnt - t.n) * c.tv) AS gnum
  FROM cum c, tot t
),
deciles AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),
                                  (9),(10)) AS d(k)),
pick AS (
  SELECT d.k,
         (d.k * t.n + 9) // 10 AS r_k,
         c.spend_below + (((d.k * t.n + 9) // 10) - c.cnt_below)
           * CAST(c.spend AS HUGEINT) AS cum_spend
  FROM deciles d, tot t
  JOIN cum c ON c.cnt_below < (d.k * t.n + 9) // 10
            AND (d.k * t.n + 9) // 10 <= c.cnt_below + c.cnt
)
SELECT p.k AS decile,
       CAST(p.r_k AS BIGINT) AS rank_cutoff,
       ROUND(CAST(p.cum_spend AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
         AS lorenz_share,
       ROUND(CAST(pt.pnum AS DOUBLE)
             / (CAST(t.n AS DOUBLE) * CAST(t.total AS DOUBLE)), 6)
         AS pietra_index,
       ROUND(CAST(g.gnum AS DOUBLE)
             / (CAST(t.n AS DOUBLE) * CAST(t.total AS DOUBLE)), 6)
         AS gini_index
FROM pick p, tot t, pietra pt, gini g
ORDER BY p.k
"""


@register(
    "x557_lorenz_pietra",
    _X557_ORACLE,
    doc="Empirical Lorenz curve of per-customer spend at the 10 "
        "decile rank cutoffs (cumulative spend share of the "
        "poorest ceil(k*n/10) customers) plus the Pietra index "
        "(max vertical gap between the diagonal and the curve = "
        "half the relative mean deviation) -- the WHERE of "
        "inequality that the scalar indices compress away (x108's "
        "Gini, x436's Theil and x506's Atkinson can all be equal "
        "while the curves cross; the decile shares show which "
        "tail drives it). Exactness: cumulative counts/spends are "
        "exact integers over the distinct-spend domain (x545's "
        "window discipline); the within-tie interpolation "
        "(r_k - cnt_below)*v is exact; the Pietra argmax "
        "maximizes the EXACT integer cnt*total - spend*n before "
        "any double division. Scale: one customer-grain "
        "aggregate, spend-domain windows, a 10-row VALUES spine",
)
def x557_lorenz_pietra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("spend")
    )
    dom = cust.groupBy("spend").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).select(
        "spend",
        "cnt",
        (F.col("spend").cast("decimal(38,0)") * F.col("cnt"))
        .cast("decimal(38,0)")
        .alias("tv"),
    )
    wb = Window.orderBy("spend").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = dom.select(
        "spend",
        "cnt",
        "tv",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0))
        .cast("decimal(38,0)")
        .alias("cnt_below"),
        F.coalesce(F.sum("tv").over(wb), F.lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("spend_below"),
    ).localCheckpoint(eager=False)
    tot = dom.agg(
        F.sum("cnt").cast("decimal(38,0)").alias("n"),
        F.sum("tv").cast("decimal(38,0)").alias("total"),
    )
    pietra = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            (F.col("cnt_below") + F.col("cnt")) * F.col("total")
            - (F.col("spend_below") + F.col("tv")) * F.col("n")
        ).alias("pnum")
    )
    # exact value-domain Gini off the same cum table: a value v with
    # multiplicity c and cnt_below b contributes v*c*(2b + c - n) to
    # the classic (2*rank - n - 1) numerator; P <= G <= 2P is pinned
    # by tests/test_cross_entry.py
    gini = cum.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (
                F.lit(2).cast("decimal(38,0)") * F.col("cnt_below")
                + F.col("cnt")
                - F.col("n")
            )
            * F.col("tv")
        ).cast("decimal(38,0)").alias("gnum")
    )
    deciles = spark.createDataFrame([(k,) for k in range(1, 11)], "k int")
    ck = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(deciles))
    r_k = F.expr("(k * n + 9) div 10").cast("decimal(38,0)")
    pick = ck.filter(
        (F.col("cnt_below") < r_k)
        & (r_k <= F.col("cnt_below") + F.col("cnt"))
    ).select(
        "k",
        r_k.cast("long").alias("rank_cutoff"),
        (
            F.col("spend_below")
            + (r_k - F.col("cnt_below")) * F.col("spend")
        ).cast("decimal(38,0)").alias("cum_spend"),
        "n",
        "total",
    )
    return (
        pick.crossJoin(F.broadcast(pietra))
        .crossJoin(F.broadcast(gini))
        .select(
            F.col("k").alias("decile"),
            "rank_cutoff",
            F.round(
                F.col("cum_spend").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("lorenz_share"),
            F.round(
                F.col("pnum").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("total").cast("double")
                ),
                6,
            ).alias("pietra_index"),
            F.round(
                F.col("gnum").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("total").cast("double")
                ),
                6,
            ).alias("gini_index"),
        )
        .orderBy("decile")
    )


_X560_ORACLE = """
WITH o AS (
  SELECT r.r_name AS region,
         CAST(floor(o.o_totalprice * 100.0) AS BIGINT) AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
),
g AS (
  SELECT region, CAST(count(*) AS BIGINT) AS n_g,
         CAST(SUM(y) AS HUGEINT) AS s1,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
  FROM o GROUP BY 1
),
msw AS (
  SELECT CAST(SUM(n_g) AS HUGEINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         SUM(CAST(round(
           CAST(n_g * s2 - s1 * s1 AS DOUBLE) / n_g / 10000.0, 4)
           AS DECIMAL(38,4))) AS ssw_d4
  FROM g
),
pairs AS (
  SELECT a.region AS region_a, b.region AS region_b,
         ROUND(CAST(a.s1 AS DOUBLE) / a.n_g
               - CAST(b.s1 AS DOUBLE) / b.n_g, 4) AS mean_diff,
         a.n_g AS na, b.n_g AS nb
  FROM g a JOIN g b ON a.region < b.region
)
SELECT p.region_a, p.region_b, p.mean_diff,
       ROUND(abs(p.mean_diff)
             / sqrt((CAST(m.ssw_d4 AS DOUBLE) * 10000.0
                     / (CAST(m.n AS DOUBLE) - m.k)) / 2.0
                    * (1.0 / p.na + 1.0 / p.nb)), 4) AS q_stat,
       CAST(CASE WHEN abs(p.mean_diff)
             / sqrt((CAST(m.ssw_d4 AS DOUBLE) * 10000.0
                     / (CAST(m.n AS DOUBLE) - m.k)) / 2.0
                    * (1.0 / p.na + 1.0 / p.nb)) > 3.858
            THEN 1 ELSE 0 END AS BIGINT) AS significant_5pct
FROM pairs p, msw m
ORDER BY p.region_a, p.region_b
"""


@register(
    "x560_tukey_hsd",
    _X560_ORACLE,
    doc="Tukey-Kramer HSD panel: all 10 pairwise region mean-order-"
        "value contrasts with the studentized-range statistic "
        "q = |mean_i - mean_j| / sqrt(MSW/2 (1/n_i + 1/n_j)) "
        "against the pinned q(0.05, k=5, df=inf) = 3.858 -- the "
        "WHICH-PAIRS answer x393's omnibus ANOVA F cannot give "
        "(F says 'some region differs', HSD says which, with the "
        "familywise error held at 5% where 10 naive t tests "
        "would inflate it). Exactness: per-region n/sum/sumsq "
        "are exact integer-cent moments off ONE star join "
        "(dims broadcast); each within-group SS term is the "
        "exact integer (n_g*s2 - s1^2)/n_g rounded 4 in 1e4-"
        "cents^2 units into DECIMAL before the 5-row sum "
        "(order-proof); means round 4 before differencing so "
        "both engines compare identical doubles. Scale: one "
        "corpus star join + 5-row algebra",
)
def x560_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    o = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("y"),
        )
    )
    g = o.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("y").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("s1"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("s2"),
    ).localCheckpoint(eager=False)
    msw = g.agg(
        F.sum("n_g").cast("decimal(38,0)").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.round(
                (F.col("n_g") * F.col("s2") - F.col("s1") * F.col("s1"))
                .cast("double")
                / F.col("n_g")
                / 10000.0,
                4,
            ).cast("decimal(38,4)")
        ).alias("ssw_d4"),
    )
    a = g.select(
        F.col("region").alias("region_a"),
        F.col("n_g").alias("na"),
        F.col("s1").alias("s1a"),
    )
    b = g.select(
        F.col("region").alias("region_b"),
        F.col("n_g").alias("nb"),
        F.col("s1").alias("s1b"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("region_a") < F.col("region_b")
    ).select(
        "region_a",
        "region_b",
        F.round(
            F.col("s1a").cast("double") / F.col("na")
            - F.col("s1b").cast("double") / F.col("nb"),
            4,
        ).alias("mean_diff"),
        "na",
        "nb",
    )
    j = pairs.crossJoin(F.broadcast(msw))
    mswd = (
        F.col("ssw_d4").cast("double")
        * 10000.0
        / (F.col("n").cast("double") - F.col("k"))
    )
    q = F.abs(F.col("mean_diff")) / F.sqrt(
        mswd / 2.0 * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return j.select(
        "region_a",
        "region_b",
        "mean_diff",
        F.round(q, 4).alias("q_stat"),
        F.when(q > 3.858, 1).otherwise(0).cast("long").alias(
            "significant_5pct"
        ),
    ).orderBy("region_a", "region_b")


_X561_ORACLE = """
WITH u AS (
  SELECT user_id % 2 AS arm,
         CAST(SUM(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS spend
  FROM events GROUP BY user_id
),
dom AS (
  SELECT spend,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS cx,
         CAST(count(*) AS BIGINT) AS ct
  FROM u GROUP BY 1
),
cum AS (
  SELECT spend, cx, ct,
         COALESCE(SUM(ct) OVER (ORDER BY spend
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below
  FROM dom
),
tot AS (
  SELECT CAST(SUM(cx) AS HUGEINT) AS n,
         CAST(SUM(ct) AS HUGEINT) AS nn
  FROM dom
),
rs AS (
  SELECT
    CAST(SUM(CAST(cx AS HUGEINT)
         * (2 * below + ct + 1) * (2 * below + ct + 1)) AS HUGEINT)
      AS s4,
    CAST(SUM(CAST(cx AS HUGEINT)
         * (2 * (t.nn + 1) - (2 * below + ct + 1))
         * (2 * (t.nn + 1) - (2 * below + ct + 1))) AS HUGEINT)
      AS a4
  FROM cum, tot t
),
z AS (
  SELECT CAST(t.n AS DOUBLE) AS nd,
         CAST(t.nn - t.n AS DOUBLE) AS md,
         CAST(t.nn AS DOUBLE) AS bign,
         CAST(rs.s4 AS DOUBLE) / 4.0 AS sr2,
         CAST(rs.a4 AS DOUBLE) / 4.0 AS ar2
  FROM rs, tot t
),
uv AS (
  SELECT nd, md, bign,
    (6.0 * sr2 - nd * (bign + 1.0) * (2.0 * bign + 1.0))
      / sqrt(md * nd * (bign + 1.0) * (2.0 * bign + 1.0)
             * (8.0 * bign + 11.0) / 5.0) AS u,
    (6.0 * ar2 - nd * (bign + 1.0) * (2.0 * bign + 1.0))
      / sqrt(md * nd * (bign + 1.0) * (2.0 * bign + 1.0)
             * (8.0 * bign + 11.0) / 5.0) AS v,
    2.0 * (bign * bign - 4.0)
      / ((2.0 * bign + 1.0) * (8.0 * bign + 11.0)) - 1.0 AS rho
  FROM z
)
SELECT CAST(nd AS BIGINT) AS n_treat,
       CAST(md AS BIGINT) AS n_ctrl,
       ROUND(u, 4) AS u_stat,
       ROUND(v, 4) AS v_stat,
       ROUND(rho, 6) AS rho,
       ROUND((u * u + v * v - 2.0 * rho * u * v)
             / (2.0 * (1.0 - rho * rho)), 4) AS cucconi_c
FROM uv
"""


@register(
    "x561_cucconi_test",
    _X561_ORACLE,
    doc="Cucconi joint location-scale test between the user-parity "
        "arms on per-user spend: U standardizes the sum of SQUARED "
        "pooled midranks of the treatment arm, V the squared "
        "ANTI-ranks, and C = (U^2 + V^2 - 2 rho UV) / (2(1-rho^2)) "
        "rejects when EITHER center or spread moved -- the omnibus "
        "two-sample lens between x445's location-only "
        "Brunner-Munzel and x545's fully general (but effect-"
        "unsigned) energy distance; U's sign reads location, V's "
        "reads scale. Exactness: midranks over the distinct-spend "
        "domain are exact half-integers (mr2 = 2*below + ct + 1), "
        "so both squared-rank sums are exact quarter-integer "
        "HUGEINT sums (~1e19 at sf100, inside DECIMAL38); U, V, "
        "rho assemble in one fixed-order double expression with "
        "the exact-moment null constants. Scale: one user-grain "
        "aggregate, spend-domain windows (x541's discipline)",
)
def x561_cucconi_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100.0, 0).cast("long"))
        .cast("long")
        .alias("spend")
    ).select((F.col("user_id") % 2).alias("arm"), "spend")
    dom = u.groupBy("spend").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("cx"),
        F.count(F.lit(1)).cast("long").alias("ct"),
    )
    wb = Window.orderBy("spend").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = dom.select(
        "spend",
        "cx",
        "ct",
        F.coalesce(F.sum("ct").over(wb), F.lit(0))
        .cast("long")
        .alias("below"),
    )
    tot = dom.agg(
        F.sum("cx").cast("decimal(38,0)").alias("n"),
        F.sum("ct").cast("decimal(38,0)").alias("nn"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = cum.crossJoin(F.broadcast(tot))
    mr2 = dec(2 * F.col("below") + F.col("ct") + 1)
    am2 = 2 * (F.col("nn") + 1) - mr2
    rs = j.agg(
        F.sum(dec(F.col("cx")) * mr2 * mr2)
        .cast("decimal(38,0)")
        .alias("s4"),
        F.sum(dec(F.col("cx")) * am2 * am2)
        .cast("decimal(38,0)")
        .alias("a4"),
        F.first("n").alias("n"),
        F.first("nn").alias("nn"),
    )
    nd = F.col("n").cast("double")
    bign = F.col("nn").cast("double")
    md = (F.col("nn") - F.col("n")).cast("double")
    sr2 = F.col("s4").cast("double") / 4.0
    ar2 = F.col("a4").cast("double") / 4.0
    den = F.sqrt(
        md * nd * (bign + 1.0) * (2.0 * bign + 1.0)
        * (8.0 * bign + 11.0) / 5.0
    )
    uu = (6.0 * sr2 - nd * (bign + 1.0) * (2.0 * bign + 1.0)) / den
    vv = (6.0 * ar2 - nd * (bign + 1.0) * (2.0 * bign + 1.0)) / den
    rho = (
        2.0 * (bign * bign - 4.0)
        / ((2.0 * bign + 1.0) * (8.0 * bign + 11.0))
        - 1.0
    )
    return rs.select(
        F.col("n").cast("long").alias("n_treat"),
        (F.col("nn") - F.col("n")).cast("long").alias("n_ctrl"),
        F.round(uu, 4).alias("u_stat"),
        F.round(vv, 4).alias("v_stat"),
        F.round(rho, 6).alias("rho"),
        F.round(
            (uu * uu + vv * vv - 2.0 * rho * uu * vv)
            / (2.0 * (1.0 - rho * rho)),
            4,
        ).alias("cucconi_c"),
    )


_X564_ORACLE = """
WITH b AS (
  SELECT CAST(round(l_discount * 100.0, 0) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_g,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS o_g
  FROM lineitem GROUP BY 1
),
t AS (
  SELECT CAST(SUM(n_g) AS HUGEINT) AS n,
         CAST(SUM(o_g) AS HUGEINT) AS r,
         CAST(SUM(s * n_g) AS HUGEINT) AS sn,
         CAST(SUM(s * o_g) AS HUGEINT) AS sr,
         CAST(SUM(s * s * n_g) AS HUGEINT) AS ssn
  FROM b
),
fit AS (
  SELECT CAST(n AS DOUBLE) AS nd,
         CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
         CAST(n * sr - r * sn AS DOUBLE)
           / CAST(n * ssn - sn * sn AS DOUBLE) AS slope,
         CAST(sn AS DOUBLE) / CAST(n AS DOUBLE) AS sbar
  FROM t
),
g AS (
  SELECT b.s, b.n_g, b.o_g,
         ROUND(LEAST(GREATEST(
                 fit.pbar + fit.slope * (b.s - fit.sbar),
                 1e-6), 1 - 1e-6), 10) AS p,
         fit.nd
  FROM b, fit
),
terms AS (
  SELECT nd,
    SUM(CAST(round((o_g - p * n_g) * (1.0 - 2.0 * p), 8)
             AS DECIMAL(38,8))) AS znum,
    SUM(CAST(round(n_g * (1.0 - 2.0 * p) * (1.0 - 2.0 * p)
                   * p * (1.0 - p), 8) AS DECIMAL(38,8))) AS zden,
    SUM(CAST(round(o_g * (1.0 - p) * (1.0 - p)
                   + (n_g - o_g) * p * p, 6)
             AS DECIMAL(38,6))) AS bsum
  FROM g GROUP BY nd
)
SELECT CAST(nd AS BIGINT) AS n_items,
       ROUND(CAST(bsum AS DOUBLE) / nd, 8) AS brier_score,
       ROUND(CAST(znum AS DOUBLE) / sqrt(CAST(zden AS DOUBLE)), 4)
         AS spiegelhalter_z
FROM terms
"""


@register(
    "x564_spiegelhalter_z",
    _X564_ORACLE,
    doc="Spiegelhalter's Z calibration test of x553's linear return-"
        "rate model: Z = sum (y - p)(1 - 2p) / sqrt(sum (1-2p)^2 "
        "p(1-p)), the UNGROUPED calibration test whose null is "
        "'the model's probabilities are exactly right' -- the "
        "per-item companion to x553's grouped HL chi2 (HL can "
        "miss miscalibration that cancels within a band; Z "
        "weights every item by how informative its p is), with "
        "the Brier score emitted beside it as the overall "
        "accuracy anchor. Exactness: p is constant per discount "
        "band, so the item sums collapse to exact band-grain "
        "expressions on integer O_g/n_g and the round-10 p; each "
        "band term rounds 8 (Brier terms 6) into DECIMAL before "
        "the 11-row sum (order-proof); one double division + "
        "sqrt at the end. Scale: one corpus groupBy to 11 bands, "
        "constant algebra",
)
def x564_spiegelhalter_z(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("s")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("o_g"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    t = b.agg(
        F.sum(dec(F.col("n_g"))).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("o_g"))).cast("decimal(38,0)").alias("r"),
        F.sum(dec(F.col("s") * F.col("n_g")))
        .cast("decimal(38,0)").alias("sn"),
        F.sum(dec(F.col("s") * F.col("o_g")))
        .cast("decimal(38,0)").alias("sr"),
        F.sum(dec(F.col("s") * F.col("s") * F.col("n_g")))
        .cast("decimal(38,0)").alias("ssn"),
    )
    nd = F.col("n").cast("double")
    fit = t.select(
        nd.alias("nd"),
        (F.col("r").cast("double") / nd).alias("pbar"),
        (
            (F.col("n") * F.col("sr") - F.col("r") * F.col("sn"))
            .cast("double")
            / (F.col("n") * F.col("ssn") - F.col("sn") * F.col("sn"))
            .cast("double")
        ).alias("slope"),
        (F.col("sn").cast("double") / nd).alias("sbar"),
    )
    g = b.crossJoin(F.broadcast(fit)).select(
        "n_g",
        "o_g",
        "nd",
        # same (1e-6, 1-1e-6) clamp as x553: keeps p(1-p) in the z
        # denominator strictly positive even if a fixture's fitted
        # trend escapes (0,1)
        F.round(
            F.least(
                F.greatest(
                    F.col("pbar")
                    + F.col("slope") * (F.col("s") - F.col("sbar")),
                    F.lit(1e-6),
                ),
                F.lit(1.0) - F.lit(1e-6),
            ),
            10,
        ).alias("p"),
    )
    p = F.col("p")
    terms = g.groupBy("nd").agg(
        F.sum(
            F.round(
                (F.col("o_g") - p * F.col("n_g")) * (1.0 - 2.0 * p), 8
            ).cast("decimal(38,8)")
        ).alias("znum"),
        F.sum(
            F.round(
                F.col("n_g") * (1.0 - 2.0 * p) * (1.0 - 2.0 * p)
                * p * (1.0 - p),
                8,
            ).cast("decimal(38,8)")
        ).alias("zden"),
        F.sum(
            F.round(
                F.col("o_g") * (1.0 - p) * (1.0 - p)
                + (F.col("n_g") - F.col("o_g")) * p * p,
                6,
            ).cast("decimal(38,6)")
        ).alias("bsum"),
    )
    return terms.select(
        F.col("nd").cast("long").alias("n_items"),
        F.round(F.col("bsum").cast("double") / F.col("nd"), 8).alias(
            "brier_score"
        ),
        F.round(
            F.col("znum").cast("double")
            / F.sqrt(F.col("zden").cast("double")),
            4,
        ).alias("spiegelhalter_z"),
    )


_X574_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y,
         CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6)
              THEN 1 ELSE 2 END AS grp
  FROM orders GROUP BY 1, 3
),
dom AS (
  SELECT y,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS f1,
         CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS f2,
         CAST(count(*) AS BIGINT) AS l
  FROM daily GROUP BY 1
),
cum AS (
  SELECT y, f1, f2, l,
         COALESCE(SUM(l) OVER w, 0) AS bb,
         COALESCE(SUM(f1) OVER w, 0) AS f1b,
         COALESCE(SUM(f2) OVER w, 0) AS f2b
  FROM dom
  WINDOW w AS (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
tot AS (
  SELECT CAST(SUM(f1) AS BIGINT) AS n1,
         CAST(SUM(f2) AS BIGINT) AS n2,
         CAST(SUM(l) AS BIGINT) AS n
  FROM dom
),
terms AS (
  SELECT
    SUM(CAST(round(
      CAST(c.l AS DOUBLE)
      * CAST(t.n * (4 * c.f1b + 2 * c.f1)
             - t.n1 * (4 * c.bb + 2 * c.l) AS DOUBLE)
      * CAST(t.n * (4 * c.f1b + 2 * c.f1)
             - t.n1 * (4 * c.bb + 2 * c.l) AS DOUBLE)
      / CAST(4 * t.n * (4 * c.bb + 2 * c.l)
             - (4 * c.bb + 2 * c.l) * (4 * c.bb + 2 * c.l)
             - 4 * t.n * c.l AS DOUBLE), 8) AS DECIMAL(38,8))) AS s1,
    SUM(CAST(round(
      CAST(c.l AS DOUBLE)
      * CAST(t.n * (4 * c.f2b + 2 * c.f2)
             - t.n2 * (4 * c.bb + 2 * c.l) AS DOUBLE)
      * CAST(t.n * (4 * c.f2b + 2 * c.f2)
             - t.n2 * (4 * c.bb + 2 * c.l) AS DOUBLE)
      / CAST(4 * t.n * (4 * c.bb + 2 * c.l)
             - (4 * c.bb + 2 * c.l) * (4 * c.bb + 2 * c.l)
             - 4 * t.n * c.l AS DOUBLE), 8) AS DECIMAL(38,8))) AS s2
  FROM cum c, tot t
),
idx AS (
  SELECT t, SUM(CAST(round(1.0 / t, 14) AS DECIMAL(38,14)))
              OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS ht
  FROM (SELECT row_number() OVER (ORDER BY day) AS t FROM daily)
),
hh AS (
  SELECT CAST(ht AS DOUBLE) AS h
  FROM idx, tot WHERE idx.t = tot.n - 1
),
g AS (
  SELECT CAST(SUM(CAST(round(
           (1.0 / j.t) * (hh.h - CAST(m.ht AS DOUBLE)), 14)
           AS DECIMAL(38,14))) AS DOUBLE) AS g
  FROM idx j
  JOIN tot ON j.t BETWEEN 2 AND tot.n - 1
  JOIN idx m ON m.t = tot.n - j.t
  CROSS JOIN hh
),
fin AS (
  SELECT t.n1, t.n2, t.n,
         CAST(t.n - 1 AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n)
           * (CAST(terms.s1 AS DOUBLE) / t.n1
              + CAST(terms.s2 AS DOUBLE) / t.n2) AS a2,
         hh.h AS h, g.g AS g,
         1.0 / t.n1 + 1.0 / t.n2 AS hcap
  FROM terms, tot t, hh, g
),
sig AS (
  SELECT n1, n2, n, a2,
    ((( (4.0*g - 6.0) * (2.0 - 1.0) + (10.0 - 6.0*g) * hcap )
       * CAST(n AS DOUBLE) * n * n
      + ( (2.0*g - 4.0) * 4.0 + 8.0 * h * 2.0
          + (2.0*g - 14.0*h - 4.0) * hcap - 8.0*h + 4.0*g - 6.0 )
        * CAST(n AS DOUBLE) * n
      + ( (6.0*h + 2.0*g - 2.0) * 4.0 + (4.0*h - 4.0*g + 6.0) * 2.0
          + (2.0*h - 6.0) * hcap + 4.0*h ) * CAST(n AS DOUBLE)
      + ( (2.0*h + 6.0) * 4.0 - 4.0*h * 2.0 ))
     / (CAST(n - 1 AS DOUBLE) * (n - 2.0) * (n - 3.0))) AS var_a2
  FROM fin
)
SELECT n1 AS n_weekend, n2 AS n_weekday,
       ROUND(a2, 6) AS ad2_a2,
       ROUND(sqrt(var_a2), 6) AS sigma_a2,
       ROUND((a2 - 1.0) / sqrt(var_a2), 4) AS ad2_t
FROM sig
"""


@register(
    "x574_anderson_darling_2s",
    _X574_ORACLE,
    doc="Scholz-Stephens two-sample Anderson-Darling test (tie-"
        "adjusted midrank version A2_akN, k=2) between weekend and "
        "weekday daily revenue, standardized to T = (A2 - 1)/sigma "
        "with the EXACT small-sample variance (the a,b,c,d cubic "
        "in N with harmonic h = H_{N-1} and the double-harmonic g "
        "folded to the O(N) identity g = sum_j (1/j)(H_{N-1} - "
        "H_{N-j})) -- the TAIL-weighted distribution test "
        "completing the trio on this fixture: x224's KS sees the "
        "largest ECDF gap, x490's CvM integrates it, AD up-weights "
        "the tails where revenue differences actually live; x542's "
        "Hodges-Lehmann gives the shift size this tests. "
        "Exactness: every A2 ingredient is an exact integer in "
        "4-scale (mid-counts 4M = 4F_below + 2f, 4b = 4B_below + "
        "2l; numerator N*4M - n_i*4b and denominator 4N*4b - "
        "(4b)^2 - 4Nl are exact, the 1/16s cancel); per-value "
        "terms round 8 into DECIMAL; harmonic prefixes accumulate "
        "round-14 DECIMAL terms over the bounded day-index "
        "domain. Scale: one day-grain aggregate, value-domain + "
        "index-domain windows (~2400 rows, constant in SF)",
)
def x574_anderson_darling_2s(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders).select(
        "day",
        "y",
        F.when(F.dayofweek("day").isin(1, 7), 1).otherwise(2).alias(
            "grp"
        ),
    ).localCheckpoint(eager=False)
    dom = daily.groupBy("y").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
        F.count(F.lit(1)).cast("long").alias("l"),
    )
    wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "y",
        "f1",
        "f2",
        "l",
        F.coalesce(F.sum("l").over(wv), F.lit(0))
        .cast("long")
        .alias("bb"),
        F.coalesce(F.sum("f1").over(wv), F.lit(0))
        .cast("long")
        .alias("f1b"),
        F.coalesce(F.sum("f2").over(wv), F.lit(0))
        .cast("long")
        .alias("f2b"),
    )
    tot = dom.agg(
        F.sum("f1").cast("long").alias("n1"),
        F.sum("f2").cast("long").alias("n2"),
        F.sum("l").cast("long").alias("n"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    b4 = (4 * F.col("bb") + 2 * F.col("l")).cast("double")
    den4 = (
        4 * F.col("n").cast("double") * b4
        - b4 * b4
        - 4 * F.col("n").cast("double") * F.col("l")
    )

    def s_term(fb, f, ni):
        m4 = (4 * F.col(fb) + 2 * F.col(f)).cast("double")
        num = F.col("n").cast("double") * m4 - F.col(ni).cast(
            "double"
        ) * b4
        return F.sum(
            F.round(
                F.col("l").cast("double") * num * num / den4, 8
            ).cast("decimal(38,8)")
        )

    terms = j.agg(
        s_term("f1b", "f1", "n1").alias("s1"),
        s_term("f2b", "f2", "n2").alias("s2"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.first("n").alias("n"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias(
            "t"
        )
    ).select(
        "t",
        F.sum(
            F.round(F.lit(1.0) / F.col("t"), 14).cast("decimal(38,14)")
        ).over(wt).alias("ht"),
    ).localCheckpoint(eager=False)
    hh = idx.crossJoin(F.broadcast(tot.select("n"))).filter(
        F.col("t") == F.col("n") - 1
    ).select(F.col("ht").cast("double").alias("h"))
    m = idx.select(
        F.col("t").alias("mt"), F.col("ht").alias("mht")
    )
    g = (
        idx.crossJoin(F.broadcast(tot.select("n")))
        .filter((F.col("t") >= 2) & (F.col("t") <= F.col("n") - 1))
        .join(m, F.col("mt") == F.col("n") - F.col("t"))
        .crossJoin(F.broadcast(hh))
        .agg(
            F.sum(
                F.round(
                    (F.lit(1.0) / F.col("t"))
                    * (F.col("h") - F.col("mht").cast("double")),
                    14,
                ).cast("decimal(38,14)")
            ).cast("double").alias("g")
        )
    )
    fin = terms.crossJoin(F.broadcast(hh)).crossJoin(F.broadcast(g))
    nd = F.col("n").cast("double")
    a2 = (
        (nd - 1.0)
        / (nd * F.col("n"))
        * (
            F.col("s1").cast("double") / F.col("n1")
            + F.col("s2").cast("double") / F.col("n2")
        )
    )
    hcap = 1.0 / F.col("n1") + 1.0 / F.col("n2")
    hv, gv = F.col("h"), F.col("g")
    var_a2 = (
        (
            ((4.0 * gv - 6.0) * (2.0 - 1.0) + (10.0 - 6.0 * gv) * hcap)
            * nd * F.col("n") * F.col("n")
            + (
                (2.0 * gv - 4.0) * 4.0
                + 8.0 * hv * 2.0
                + (2.0 * gv - 14.0 * hv - 4.0) * hcap
                - 8.0 * hv
                + 4.0 * gv
                - 6.0
            )
            * nd * F.col("n")
            + (
                (6.0 * hv + 2.0 * gv - 2.0) * 4.0
                + (4.0 * hv - 4.0 * gv + 6.0) * 2.0
                + (2.0 * hv - 6.0) * hcap
                + 4.0 * hv
            )
            * nd
            + ((2.0 * hv + 6.0) * 4.0 - 4.0 * hv * 2.0)
        )
        / ((nd - 1.0) * (nd - 2.0) * (nd - 3.0))
    )
    return fin.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.round(a2, 6).alias("ad2_a2"),
        F.round(F.sqrt(var_a2), 6).alias("sigma_a2"),
        F.round((a2 - 1.0) / F.sqrt(var_a2), 4).alias("ad2_t"),
    )


_X580_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS stratum,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS t,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem
),
strata AS (
  SELECT stratum,
         CAST(count(*) AS BIGINT) AS n_s,
         CAST(SUM(t) AS BIGINT) AS n1,
         CAST(count(*) - SUM(t) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
           AS sum1,
         CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
           AS sum0
  FROM base GROUP BY 1
),
pos AS (SELECT * FROM strata WHERE n1 > 0 AND n0 > 0),
tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM pos),
naive AS (
  SELECT ROUND(CAST(SUM(sum1) AS DOUBLE) / CAST(SUM(n1) AS DOUBLE)
               - CAST(SUM(sum0) AS DOUBLE) / CAST(SUM(n0) AS DOUBLE),
               6) AS ate_naive
  FROM pos
),
rows_ AS (
  SELECT p.stratum, p.n_s, p.n1, p.n0,
         ROUND(CAST(p.n1 AS DOUBLE) / CAST(p.n_s AS DOUBLE), 6)
           AS p_treat,
         ROUND(CAST(p.sum1 AS DOUBLE) / CAST(p.n1 AS DOUBLE), 4)
           AS mean_treated,
         ROUND(CAST(p.sum0 AS DOUBLE) / CAST(p.n0 AS DOUBLE), 4)
           AS mean_control,
         ROUND(CAST(p.sum1 AS DOUBLE) / CAST(p.n1 AS DOUBLE)
               - CAST(p.sum0 AS DOUBLE) / CAST(p.n0 AS DOUBLE), 4)
           AS ate_s,
         ROUND((CAST(p.n_s AS DOUBLE) / CAST(t.n AS DOUBLE))
               * (CAST(p.sum1 AS DOUBLE) / CAST(p.n1 AS DOUBLE)
                  - CAST(p.sum0 AS DOUBLE) / CAST(p.n0 AS DOUBLE)),
               10) AS contrib
  FROM pos p, tot t
)
SELECT stratum, n_s, n1, n0, p_treat, mean_treated, mean_control,
       ate_s,
       ROUND(CAST(SUM(CAST(contrib AS DECIMAL(38,10)))
               OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING) AS DOUBLE), 4)
         AS ate_stratified,
       nv.ate_naive
FROM rows_, naive nv
ORDER BY stratum
"""


@register(
    "x580_ipw_stratified_ate",
    _X580_ORACLE,
    doc="Propensity-STRATIFIED average treatment effect, closed "
        "form: treatment = promo-tier discount (>= 0.05), outcome "
        "= quantity, strata = return flag; within each positivity- "
        "satisfying stratum (n1 > 0 AND n0 > 0 -- off-support "
        "strata are EXCLUDED, the IPW positivity assumption made "
        "explicit) the stratum propensity is exactly n1/n_s, so "
        "the IPW estimator sum[T y / p - (1-T) y / (1-p)] / n "
        "collapses ALGEBRAICALLY to the stratified difference "
        "sum_s (n_s/n)(mean1_s - mean0_s) -- no iterative logistic "
        "fit, the estimand a causal-curation audit wants when "
        "comparing corpus slices that self-select into treatment; "
        "the unadjusted pooled difference rides beside it as "
        "ate_naive so the confounding correction is visible. "
        "Exactness: all counts/sums are exact integers; each "
        "stratum contribution rounds 10 into DECIMAL before the "
        "cross-strata window sum (order-proof); divisions in "
        "double. Scale: ONE corpus groupBy to |return flags| = 3 "
        "strata, constant algebra after",
)
def x580_ipw_stratified_ate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("stratum"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("t"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    strata = base.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("t").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("t")).cast("long").alias("n0"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sum1"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sum0"),
    )
    pos = strata.filter((F.col("n1") > 0) & (F.col("n0") > 0))
    tot = pos.agg(F.sum("n_s").cast("long").alias("n"))
    naive = pos.agg(
        F.round(
            F.sum("sum1").cast("double") / F.sum("n1").cast("double")
            - F.sum("sum0").cast("double")
            / F.sum("n0").cast("double"),
            6,
        ).alias("ate_naive")
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean1 = d("sum1") / d("n1")
    mean0 = d("sum0") / d("n0")
    rows = pos.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_s",
        "n1",
        "n0",
        F.round(d("n1") / d("n_s"), 6).alias("p_treat"),
        F.round(mean1, 4).alias("mean_treated"),
        F.round(mean0, 4).alias("mean_control"),
        F.round(mean1 - mean0, 4).alias("ate_s"),
        F.round(
            (d("n_s") / d("n")) * (mean1 - mean0), 10
        ).alias("contrib"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        rows.crossJoin(F.broadcast(naive))
        .select(
            "stratum",
            "n_s",
            "n1",
            "n0",
            "p_treat",
            "mean_treated",
            "mean_control",
            "ate_s",
            F.round(
                F.sum(F.col("contrib").cast("decimal(38,10)"))
                .over(w)
                .cast("double"),
                4,
            ).alias("ate_stratified"),
            "ate_naive",
        )
        .orderBy("stratum")
    )


_X581_ORACLE = """
WITH daily AS MATERIALIZED (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT CAST(abs(a.y - b.y) AS HUGEINT) AS dx,
         CAST(date_diff('day', a.day, b.day) AS HUGEINT) AS dy
  FROM daily a JOIN daily b ON b.day > a.day
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS m,
         CAST(SUM(dx) AS HUGEINT) AS sx,
         CAST(SUM(dy) AS HUGEINT) AS sy,
         CAST(SUM(dx * dx) AS HUGEINT) AS sxx,
         CAST(SUM(dy * dy) AS HUGEINT) AS syy,
         CAST(SUM(dx * dy) AS HUGEINT) AS sxy
  FROM pairs
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
r AS (
  SELECT CAST(m * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                * CAST(m * syy - sy * sy AS DOUBLE)) AS mr,
         CAST(m AS BIGINT) AS m
  FROM s
)
SELECT nn.n AS n_days, r.m AS m_pairs,
       ROUND(r.mr, 6) AS mantel_r,
       ROUND(r.mr * sqrt((CAST(r.m AS DOUBLE) - 2.0)
                         / (1.0 - r.mr * r.mr)), 4)
         AS mantel_t_naive
FROM nn, r
"""


@register(
    "x581_mantel_test",
    _X581_ORACLE,
    doc="Mantel matrix-correlation statistic between the day-domain "
        "revenue-distance matrix dx(i,j) = |rev_i - rev_j| (exact "
        "cents) and the temporal-distance matrix dy(i,j) = "
        "|day_i - day_j| (calendar days): Pearson r over the "
        "upper-triangle pair entries -- 'do days further apart in "
        "TIME differ more in REVENUE?', the matrix-level "
        "autocorrelation read that complements x554's "
        "neighbor-weighted Moran/Geary (they test adjacent-lag "
        "clustering; Mantel regresses the WHOLE distance "
        "structure). mantel_t_naive is the parametric t transform "
        "r sqrt((m-2)/(1-r^2)) emitted as a REFERENCE only -- the "
        "pair entries share days, so the honest test permutes "
        "rows/columns (iterative, out of scope; stated). "
        "Exactness: dx, dy and all five moment sums are exact "
        "integers in HUGEINT/DECIMAL38 (largest term m*sxx ~ 1e31 "
        "at sf1.0, inside int128/DECIMAL38); ONE double division "
        "+ sqrt at the end. Scale: the pair expansion is the "
        "CALENDAR-bounded day domain (~2400 days -> ~2.9M pairs, "
        "CONSTANT in SF -- the x542 bounded-broadcast contract), "
        "never a corpus-sized cross product; corpus-sized work is "
        "one day-grain aggregate",
)
def x581_mantel_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = _daily_revenue(orders)
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("db") > F.col("da"))
        .select(
            dec(F.abs(F.col("ya") - F.col("yb"))).alias("dx"),
            dec(F.datediff(F.col("db"), F.col("da"))).alias("dy"),
        )
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("dx").cast("decimal(38,0)").alias("sx"),
        F.sum("dy").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("dx") * F.col("dx"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("dy") * F.col("dy"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum(F.col("dx") * F.col("dy"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    mr = (
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        / F.sqrt(
            (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
            * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
            .cast("double")
        )
    )
    md = F.col("m").cast("double")
    return nn.crossJoin(F.broadcast(s)).select(
        F.col("n").alias("n_days"),
        F.col("m").cast("long").alias("m_pairs"),
        F.round(mr, 6).alias("mantel_r"),
        F.round(
            mr * F.sqrt((md - F.lit(2.0)) / (F.lit(1.0) - mr * mr)),
            4,
        ).alias("mantel_t_naive"),
    )


_X582_ORACLE = """
WITH marked AS (
  SELECT CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END
           AS is_long,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
  FROM documents
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN is_long = 1 AND is_en = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN is_long = 1 AND is_en = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN is_long = 0 AND is_en = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS cc,
    CAST(SUM(CASE WHEN is_long = 0 AND is_en = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM marked
),
orr AS (
  SELECT a, b, cc, d,
         (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
           / (CAST(b AS DOUBLE) * CAST(cc AS DOUBLE)) AS odds
  FROM c
)
SELECT a AS n11, b AS n10, cc AS n01, d AS n00,
       ROUND(odds, 6) AS odds_ratio,
       ROUND((odds - 1.0) / (odds + 1.0), 6) AS yule_q,
       ROUND((sqrt(odds) - 1.0) / (sqrt(odds) + 1.0), 6) AS yule_y,
       CAST(floor(cos(3.141592653589793 / (1.0 + sqrt(odds)))
                  * 100000000.0) AS BIGINT) AS r_tet_q8
FROM orr
"""


@register(
    "x582_tetrachoric",
    _X582_ORACLE,
    doc="Tetrachoric correlation (Edwards/Digby approximation "
        "r_tet = cos(pi / (1 + sqrt(OR)))) between two binary "
        "document traits (long-doc, n_chars >= 500, x is-English): the "
        "LATENT bivariate-normal correlation a 2x2 table implies "
        "-- the construct x480's Cramer's V and x486's MCC do NOT "
        "estimate (they measure raw table association; r_tet "
        "answers 'if both traits were thresholded continuous "
        "normals, how correlated are the LATENTS?'), with Yule's "
        "Q and Y beside it as the odds-ratio-native association "
        "ladder. Exactness: cell counts are exact integers; the "
        "odds ratio and sqrt are IEEE-deterministic; the one "
        "libm-sensitive call (cos) is emitted floor-QUANTIZED at "
        "1e8 (the x530 periodogram recipe) so a 1-ulp cross-"
        "engine cos difference cannot flip a rounded decimal. "
        "Precondition (stated): all four cells positive (holds on "
        "the fixture at every SF); a zero off-diagonal cell sends "
        "OR to 0/Inf where r_tet degenerates to +-1. Scale: one "
        "corpus scan -> four counts, constant algebra",
)
def x582_tetrachoric(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    marked = docs.select(
        F.when(F.col("n_chars") >= 500, 1).otherwise(0).alias(
            "is_long"
        ),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
    )
    c = marked.agg(
        F.sum(
            F.when(
                (F.col("is_long") == 1) & (F.col("is_en") == 1), 1
            ).otherwise(0)
        ).cast("long").alias("a"),
        F.sum(
            F.when(
                (F.col("is_long") == 1) & (F.col("is_en") == 0), 1
            ).otherwise(0)
        ).cast("long").alias("b"),
        F.sum(
            F.when(
                (F.col("is_long") == 0) & (F.col("is_en") == 1), 1
            ).otherwise(0)
        ).cast("long").alias("cc"),
        F.sum(
            F.when(
                (F.col("is_long") == 0) & (F.col("is_en") == 0), 1
            ).otherwise(0)
        ).cast("long").alias("d"),
    )
    odds = (
        F.col("a").cast("double") * F.col("d").cast("double")
    ) / (F.col("b").cast("double") * F.col("cc").cast("double"))
    return c.select(
        F.col("a").alias("n11"),
        F.col("b").alias("n10"),
        F.col("cc").alias("n01"),
        F.col("d").alias("n00"),
        F.round(odds, 6).alias("odds_ratio"),
        F.round((odds - 1.0) / (odds + 1.0), 6).alias("yule_q"),
        F.round(
            (F.sqrt(odds) - 1.0) / (F.sqrt(odds) + 1.0), 6
        ).alias("yule_y"),
        F.floor(
            F.cos(
                F.lit(3.141592653589793)
                / (F.lit(1.0) + F.sqrt(odds))
            )
            * F.lit(100000000.0)
        ).cast("long").alias("r_tet_q8"),
    )
