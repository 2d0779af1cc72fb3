"""Extension entries x332-x380: model/data evaluation, calibration,
graph measures, experimentation and importance sampling.

Split (round 7) from the former single-file queries/extensions.py
(31,988 lines) preserving registration order; see the package
__init__ for the import order that reproduces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...scale import rebalanced
from ...ops import dedup, graph, similarity, text
from ...ops.text import _toks
from .. import register
from .foundations import _STOP_EN
from .semantics import _word_cooccurrence_edges

_X332_ORACLE = """
WITH toks AS (
  SELECT list_filter(string_split(lower(text), ' '),
                     t -> regexp_matches(t, '^[a-z]+$')) AS ts
  FROM documents
),
bg AS (
  SELECT (p).a AS a, (p).b AS b FROM (
    SELECT unnest(list_transform(range(1, len(ts)),
                  i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p
    FROM toks
  )
),
cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        FROM bg GROUP BY 1, 2),
ca AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1),
cb AS (SELECT b, CAST(SUM(c_ab) AS BIGINT) AS c_b FROM cab GROUP BY 1),
nn AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM cab),
k AS (
  SELECT cab.a, cab.b, cab.c_ab, ca.c_a, cb.c_b, nn.n,
         cab.c_ab AS k11, ca.c_a - cab.c_ab AS k12,
         cb.c_b - cab.c_ab AS k21,
         nn.n - ca.c_a - cb.c_b + cab.c_ab AS k22
  FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN nn
  WHERE cab.c_ab >= 5
),
g AS (
  SELECT a, b, c_ab, c_a, c_b,
         ROUND(2 * (
           (CASE WHEN k11 > 0 THEN k11 * ln(CAST(k11 AS DOUBLE) * n
                / (CAST(c_a AS DOUBLE) * c_b)) ELSE 0 END)
         + (CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE) * n
                / (CAST(c_a AS DOUBLE) * (n - c_b))) ELSE 0 END)
         + (CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE) * n
                / (CAST(n - c_a AS DOUBLE) * c_b)) ELSE 0 END)
         + (CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE) * n
                / (CAST(n - c_a AS DOUBLE) * (n - c_b))) ELSE 0 END)
         ), 4) AS g2
  FROM k
)
SELECT a AS tok_a, b AS tok_b, c_ab, c_a, c_b, g2
FROM g ORDER BY g2 DESC, tok_a, tok_b LIMIT 20
"""


@register(
    "x332_loglik_collocations",
    _X332_ORACLE,
    doc="Dunning log-likelihood-ratio (G^2) collocations over adjacent "
        "token bigrams, top-20: the 2x2 contingency statistic that "
        "beats raw PMI (x178) on sparse counts -- the standard "
        "phrase-mining / tokenizer-merge ranking signal. All four "
        "contingency cells derive from exact BIGINT bigram counts and "
        "margins (margins are sums OVER the bigram table, one shuffle "
        "reused); G^2 is one fixed-shape IEEE expression per row "
        "(zero-cells contribute 0 by guard), rounded 4 before the "
        "ORDER BY so ranking never rides a ulp. Scale: one bigram "
        "groupBy (map-side partial) + two margin aggregates of "
        "vocab^2-bounded size; no joins touch the corpus twice",
)
def x332_loglik_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(_toks("text"), lambda t: t.rlike("^[a-z]+$"))
    bg = (
        docs.select(ts.alias("ts"))
        .select(
            F.explode(
                F.transform(
                    F.slice(F.col("ts"), 1, F.size("ts") - 1),
                    lambda x, i: F.struct(
                        x.alias("a"),
                        F.element_at(F.col("ts"), i + F.lit(2)).alias(
                            "b"
                        ),
                    ),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    cab = bg.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    )
    ca = cab.groupBy("a").agg(F.sum("c_ab").cast("long").alias("c_a"))
    cb = cab.groupBy("b").agg(F.sum("c_ab").cast("long").alias("c_b"))
    nn = cab.agg(F.sum("c_ab").cast("long").alias("n"))
    k = (
        cab.filter(F.col("c_ab") >= 5)
        .join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(nn))
        .withColumn("k11", F.col("c_ab"))
        .withColumn("k12", F.col("c_a") - F.col("c_ab"))
        .withColumn("k21", F.col("c_b") - F.col("c_ab"))
        .withColumn(
            "k22", F.col("n") - F.col("c_a") - F.col("c_b") + F.col("c_ab")
        )
    )

    def term(kc, row_d, col_d):
        return F.when(
            F.col(kc) > 0,
            F.col(kc)
            * F.log(
                F.col(kc).cast("double")
                * F.col("n")
                / (row_d.cast("double") * col_d)
            ),
        ).otherwise(F.lit(0.0))

    g2 = F.round(
        2
        * (
            term("k11", F.col("c_a"), F.col("c_b"))
            + term("k12", F.col("c_a"), F.col("n") - F.col("c_b"))
            + term("k21", F.col("n") - F.col("c_a"), F.col("c_b"))
            + term("k22", F.col("n") - F.col("c_a"), F.col("n") - F.col("c_b"))
        ),
        4,
    )
    return (
        k.select(
            F.col("a").alias("tok_a"),
            F.col("b").alias("tok_b"),
            "c_ab",
            "c_a",
            "c_b",
            g2.alias("g2"),
        )
        .orderBy(F.desc("g2"), "tok_a", "tok_b")
        .limit(20)
    )


_X333_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (SELECT vec_id, label, v,
             sqrt(list_dot_product(v, v)) AS nrm FROM e),
s AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
  FROM (SELECT * FROM n WHERE label < 5) a
  JOIN (SELECT * FROM n WHERE label >= 5) b ON true
),
r AS (
  SELECT a_id, b_id, sim,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY sim DESC, b_id) AS rn_a,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY sim DESC, a_id) AS rn_b
  FROM s
),
m4a AS (
  SELECT a_id, CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / 4
           AS m4a
  FROM r WHERE rn_a <= 4 GROUP BY 1
),
m4b AS (
  SELECT b_id, CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / 4
           AS m4b
  FROM r WHERE rn_b <= 4 GROUP BY 1
),
mut AS (
  SELECT ta.a_id, ta.b_id, ta.sim
  FROM (SELECT a_id, b_id, sim FROM r WHERE rn_a = 1) ta
  JOIN (SELECT a_id, b_id FROM r WHERE rn_b = 1) tb
    ON ta.a_id = tb.a_id AND ta.b_id = tb.b_id
)
SELECT mut.a_id, mut.b_id, mut.sim,
       ROUND(2 * mut.sim - m4a.m4a - m4b.m4b, 6) AS csls
FROM mut JOIN m4a ON mut.a_id = m4a.a_id
         JOIN m4b ON mut.b_id = m4b.b_id
ORDER BY mut.a_id
"""


@register(
    "x333_mnn_alignment",
    _X333_ORACLE,
    doc="mutual-nearest-neighbor alignment with CSLS margin scoring "
        "between the two embedding halves (label < 5 vs >= 5): a pair "
        "survives only if each side is the other's cosine top-1, "
        "scored 2*cos - mean(top-4 of a) - mean(top-4 of b) -- the "
        "bitext-mining / cross-lingual-alignment recipe (Artetxe & "
        "Schwenk) that kills hubness-driven false matches. "
        "Determinism: cosines ROUND 6 BEFORE ranking (id tie-breaks), "
        "so rank never rides a ulp; top-4 means sum round-6 DECIMALs. "
        "Correctness tier is the exact product with the query side "
        "broadcast (x07's contract) -- measured t ~ n^1.26 in the "
        "round-9 scale probe, the by-design quadratic oracle tier; "
        "the 100 TB tier is similarity.mnn_align_blocked (IMPLEMENTED "
        "and recall-gated in tests, 0.84 measured at 8 centroids / 4 "
        "probes): both sides blocked by one shared IVF quantizer "
        "trained on a bounded sample, the same MNN + CSLS windows run "
        "over the block-join candidate set, neither side ever "
        "collected. Spark-side sims come from similarity.pairwise_sims "
        "-- one BLAS matmul per Arrow batch (the x07 fast path; a "
        "JVM zip_with/aggregate fold measured ~7x slower at 1M x 64)",
)
def x333_mnn_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    a_side = emb.filter(F.col("label") < 5)
    b_side = emb.filter(F.col("label") >= 5)
    s = similarity.pairwise_sims(b_side, a_side, vec_col="embedding")
    wa = Window.partitionBy("a_id").orderBy(F.desc("sim"), "b_id")
    wb = Window.partitionBy("b_id").orderBy(F.desc("sim"), "a_id")
    r = s.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_b", F.row_number().over(wb)
    )
    m4a = (
        r.filter(F.col("rn_a") <= 4)
        .groupBy("a_id")
        .agg(
            (
                F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
                / 4
            ).alias("m4a")
        )
    )
    m4b = (
        r.filter(F.col("rn_b") <= 4)
        .groupBy("b_id")
        .agg(
            (
                F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
                / 4
            ).alias("m4b")
        )
    )
    ta = r.filter(F.col("rn_a") == 1).select("a_id", "b_id", "sim")
    tb = r.filter(F.col("rn_b") == 1).select("a_id", "b_id")
    mut = ta.join(tb, ["a_id", "b_id"])
    return (
        mut.join(m4a, "a_id")
        .join(m4b, "b_id")
        .select(
            "a_id",
            "b_id",
            "sim",
            F.round(
                2 * F.col("sim") - F.col("m4a") - F.col("m4b"), 6
            ).alias("csls"),
        )
        .orderBy("a_id")
    )


_X334_ORACLE = """
WITH ft AS (
  SELECT user_id, event_type, min(ts) AS t
  FROM events GROUP BY 1, 2
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_both,
       CAST(SUM(CASE WHEN a.t < b.t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_a_first,
       ROUND(SUM(CASE WHEN a.t < b.t THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS support_a_first
FROM ft a JOIN ft b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY type_a, type_b
"""


@register(
    "x334_precedence_matrix",
    _X334_ORACLE,
    doc="temporal precedence matrix over event types: for every type "
        "pair, among users who emit BOTH, how often does the "
        "first-ever a precede the first-ever b -- the "
        "sequential-pattern support that seeds funnel hypotheses "
        "(x330 then prices a specific chain) and orders curriculum "
        "stages. Unlike x96's adjacent transitions this measures "
        "global first-occurrence order, any gap. Scale: one "
        "(user,type) min-aggregate, then a self-join bounded by "
        "types-per-user (<=5 rows/user -> <=10 pairs), aggregated to "
        "a types^2 matrix; exact integer counts, one rounded "
        "division",
)
def x334_precedence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ft = events.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t")
    )
    a = ft.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("t").alias("ta"),
    )
    b = ft.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("t").alias("tb"),
    )
    return (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_both"),
            F.sum(
                F.when(F.col("ta") < F.col("tb"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_a_first"),
            F.round(
                F.sum(
                    F.when(F.col("ta") < F.col("tb"), 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("support_a_first"),
        )
        .orderBy("type_a", "type_b")
    )


_X335_STEM_CASE_DUCK = """CASE
  WHEN regexp_matches({t}, 'sses$') THEN substr({t}, 1, length({t}) - 2)
  WHEN regexp_matches({t}, '[a-z]ies$') THEN substr({t}, 1, length({t}) - 2)
  WHEN regexp_matches({t}, '[a-z]{{3,}}[^s]s$')
    THEN substr({t}, 1, length({t}) - 1)
  ELSE {t} END"""


_X335_SUFFIX_CASE_DUCK = """CASE
  WHEN regexp_matches({t}, '[a-z]{{3,}}ing$')
    THEN substr({t}, 1, length({t}) - 3)
  WHEN regexp_matches({t}, '[a-z]{{3,}}ed$')
    THEN substr({t}, 1, length({t}) - 2)
  ELSE {t} END"""


_X335_ORACLE = f"""
WITH tok AS (
  SELECT t FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
  ) WHERE regexp_matches(t, '^[a-z]+$')
),
s1 AS (SELECT t, {_X335_STEM_CASE_DUCK.format(t='t')} AS p FROM tok),
s2 AS (SELECT t, {_X335_SUFFIX_CASE_DUCK.format(t='p')} AS stem FROM s1)
SELECT CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT t) AS BIGINT) AS vocab_raw,
       CAST(count(DISTINCT stem) AS BIGINT) AS vocab_stem,
       CAST(SUM(CASE WHEN stem != t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       ROUND(1 - count(DISTINCT stem)
             / CAST(count(DISTINCT t) AS DOUBLE), 4) AS vocab_reduction
FROM s2
"""


@register(
    "x335_stem_profile",
    _X335_ORACLE,
    doc="suffix-strip stemming profile (Porter step-1 subset: sses->ss, "
        "ies->i, plural -s, -ing, -ed with length guards): how much "
        "vocabulary a cheap rule-based normalizer collapses before "
        "building indexes, dedup fingerprints, or tokenizer vocab -- "
        "the normalization-vs-recall dial x322 then compares tiers "
        "on. Both engines apply the SAME first-match-wins CASE "
        "ladder (pure substring arithmetic, no stemmer library); "
        "counts are exact. Scale: token explode into two hash "
        "count-distincts -- one pass, map-side partials",
)
def x335_stem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(_toks("text")).alias("t")
    ).filter(F.col("t").rlike("^[a-z]+$"))
    t = F.col("t")
    p = (
        F.when(t.rlike("sses$"), F.expr("substring(t, 1, length(t) - 2)"))
        .when(t.rlike("[a-z]ies$"), F.expr("substring(t, 1, length(t) - 2)"))
        .when(
            t.rlike("[a-z]{3,}[^s]s$"),
            F.expr("substring(t, 1, length(t) - 1)"),
        )
        .otherwise(t)
    )
    s1 = tok.select("t", p.alias("p"))
    pc = F.col("p")
    stem = (
        F.when(
            pc.rlike("[a-z]{3,}ing$"),
            F.expr("substring(p, 1, length(p) - 3)"),
        )
        .when(
            pc.rlike("[a-z]{3,}ed$"),
            F.expr("substring(p, 1, length(p) - 2)"),
        )
        .otherwise(pc)
    )
    s2 = s1.select("t", stem.alias("stem"))
    return s2.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("t").cast("long").alias("vocab_raw"),
        F.countDistinct("stem").cast("long").alias("vocab_stem"),
        F.sum(F.when(F.col("stem") != F.col("t"), 1).otherwise(0))
        .cast("long")
        .alias("n_changed"),
        F.round(
            1
            - F.countDistinct("stem")
            / F.countDistinct("t").cast("double"),
            4,
        ).alias("vocab_reduction"),
    )


_X336_ORACLE = """
WITH d AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
         substr(text, 1, 16) AS f_prefix,
         CAST(n_chars // 100 AS BIGINT) AS f_lenbkt,
         lang AS f_lang
  FROM documents
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
mm AS (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS m
       FROM (SELECT count(*) AS n FROM d GROUP BY fp)),
fields AS (
  SELECT 'prefix16' AS field,
         (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT)
          FROM (SELECT count(*) AS n FROM d GROUP BY f_prefix)) AS agree,
         (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT)
          FROM (SELECT count(*) AS n FROM d GROUP BY fp, f_prefix))
           AS agree_match
  UNION ALL
  SELECT 'len_bucket',
         (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT)
          FROM (SELECT count(*) AS n FROM d GROUP BY f_lenbkt)),
         (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT)
          FROM (SELECT count(*) AS n FROM d GROUP BY fp, f_lenbkt))
  UNION ALL
  SELECT 'lang',
         (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT)
          FROM (SELECT count(*) AS n FROM d GROUP BY f_lang)),
         (SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT)
          FROM (SELECT count(*) AS n FROM d GROUP BY fp, f_lang))
)
SELECT f.field, f.agree, f.agree_match, mm.m AS match_pairs,
       ROUND((f.agree_match + 1)
             / CAST(mm.m + 2 AS DOUBLE), 6) AS m_prob,
       ROUND((f.agree - f.agree_match + 1)
             / CAST(nn.n * (nn.n - 1) / 2 - mm.m + 2 AS DOUBLE), 6)
         AS u_prob,
       ROUND(ln(((f.agree_match + 1) / CAST(mm.m + 2 AS DOUBLE))
                / ((f.agree - f.agree_match + 1)
                   / CAST(nn.n * (nn.n - 1) / 2 - mm.m + 2
                          AS DOUBLE))), 6) AS agree_weight
FROM fields f CROSS JOIN nn CROSS JOIN mm
ORDER BY f.field
"""


@register(
    "x336_fellegi_sunter",
    _X336_ORACLE,
    doc="Fellegi-Sunter record-linkage weights for three comparison "
        "fields (raw 16-char prefix, n_chars//100 length bucket, "
        "lang): m = P(field agrees | match), u = P(agrees | "
        "non-match), agreement weight ln(m/u) -- the classical "
        "probabilistic-linkage scoring x331's blocking feeds into. "
        "Match truth is x02's normalized fingerprint. The scale "
        "trick is x331's: every pair probability comes from "
        "sum-of-C(group,2) combinatorics on group sizes (two "
        "hash-groupBys per field), NO pair materialization -- exact "
        "m/u over a 100 TB corpus in one aggregate pass per field; "
        "Laplace (+1/+2) smoothing keeps ln defined and "
        "deterministic everywhere",
)
def x336_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        fp.alias("fp"),
        F.substring("text", 1, 16).alias("f_prefix"),
        F.floor(F.col("n_chars") / 100).cast("long").alias("f_lenbkt"),
        F.col("lang").alias("f_lang"),
    ).localCheckpoint()
    pair_sum = lambda: F.sum(
        (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    ).cast("long")
    nn = d.count()
    mm = (
        d.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
        .agg(pair_sum().alias("m"))
    )

    def field_row(name, col):
        agree = (
            d.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
            .agg(pair_sum().alias("agree"))
        )
        am = (
            d.groupBy("fp", col).agg(F.count(F.lit(1)).alias("n"))
            .agg(pair_sum().alias("agree_match"))
        )
        return agree.crossJoin(F.broadcast(am)).select(
            F.lit(name).alias("field"), "agree", "agree_match"
        )

    fields = (
        field_row("prefix16", "f_prefix")
        .union(field_row("len_bucket", "f_lenbkt"))
        .union(field_row("lang", "f_lang"))
    )
    total_pairs = nn * (nn - 1) // 2
    joined = fields.crossJoin(F.broadcast(mm))
    m_prob = (F.col("agree_match") + 1) / (F.col("m") + 2).cast("double")
    u_prob = (F.col("agree") - F.col("agree_match") + 1) / (
        F.lit(total_pairs) - F.col("m") + 2
    ).cast("double")
    return joined.select(
        "field",
        "agree",
        "agree_match",
        F.col("m").alias("match_pairs"),
        F.round(m_prob, 6).alias("m_prob"),
        F.round(u_prob, 6).alias("u_prob"),
        F.round(F.log(m_prob / u_prob), 6).alias("agree_weight"),
    ).orderBy("field")


_X337_ORACLE = """
WITH toks AS (
  SELECT list_filter(string_split(lower(text), ' '),
                     t -> length(t) > 0) AS ts
  FROM documents
),
grams AS (
  SELECT 1 AS n, unnest(ts) AS g FROM toks
  UNION ALL
  SELECT 2, unnest(list_transform(range(1, len(ts)),
              i -> ts[i] || ' ' || ts[i + 1])) FROM toks
  UNION ALL
  SELECT 3, unnest(list_transform(range(1, len(ts) - 1),
              i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]))
  FROM toks
)
SELECT n, CAST(count(*) AS BIGINT) AS total_ngrams,
       CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
       ROUND(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 6)
         AS distinct_ratio
FROM grams GROUP BY n ORDER BY n
"""


@register(
    "x337_distinct_ngrams",
    _X337_ORACLE,
    doc="distinct-1/2/3 corpus diversity (Li et al.'s distinct-n): "
        "unique n-grams over total n-grams per n -- the standard "
        "degeneracy/mode-collapse readout for generated corpora, and "
        "the complement of x127's within-doc repetition ratio. One "
        "explode per n (in-array window expansion, no joins) into "
        "hash count-distincts with map-side partials; exact BIGINT "
        "counts, one rounded division per row",
)
def x337_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(_toks("text"), lambda t: F.length(t) > 0)
    base = docs.select(ts.alias("ts"))

    def grams(n):
        if n == 1:
            g = F.explode(F.col("ts"))
        else:
            g = F.explode(
                F.transform(
                    F.slice(F.col("ts"), 1, F.size("ts") - (n - 1)),
                    lambda x, i: F.concat_ws(
                        " ",
                        *[
                            x
                            if j == 0
                            else F.element_at(
                                F.col("ts"), i + F.lit(j + 1)
                            )
                            for j in range(n)
                        ],
                    ),
                )
            )
        return base.select(F.lit(n).alias("n"), g.alias("g"))

    allg = grams(1).union(grams(2)).union(grams(3))
    return (
        allg.groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_ngrams"),
            F.countDistinct("g").cast("long").alias("distinct_ngrams"),
            F.round(
                F.countDistinct("g") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("distinct_ratio"),
        )
        .orderBy("n")
    )


_X338_ORACLE = """
WITH o AS (
  SELECT c.c_nationkey AS cat,
         CAST(CAST(o.o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS sum_g,
         CAST(count(*) AS BIGINT) AS n_g
  FROM o
),
c AS (
  SELECT cat, CAST(SUM(cents) AS BIGINT) AS sum_c,
         CAST(count(*) AS BIGINT) AS n_c
  FROM o GROUP BY cat
)
SELECT c.cat AS nationkey, c.n_c AS n_orders,
       ROUND(c.sum_c / CAST(c.n_c AS DOUBLE) / 100, 4) AS raw_mean,
       ROUND((c.sum_c + 20 * (g.sum_g / CAST(g.n_g AS DOUBLE)))
             / (c.n_c + 20) / 100, 4) AS encoded_mean,
       ROUND(c.n_c / CAST(c.n_c + 20 AS DOUBLE), 6) AS shrink_weight
FROM c CROSS JOIN g ORDER BY c.cat
"""


@register(
    "x338_target_encoding",
    _X338_ORACLE,
    doc="smoothed (James-Stein-style) target encoding of customer "
        "nation against mean order value, smoothing m=20: enc = "
        "(sum_c + m*global_mean) / (n_c + m) -- the leakage-resistant "
        "categorical encoder every tabular-ML pipeline ships, with "
        "the shrinkage weight n/(n+m) made explicit so rare "
        "categories visibly pull to the prior. Exact cents BIGINTs "
        "everywhere; the only doubles are two final divisions in a "
        "fixed expression. Scale: one broadcast-dim join + one "
        "category aggregate + a 1-row global, all map-side "
        "partial-agg friendly",
)
def x338_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("cat"),
        (F.col("o_totalprice").cast("decimal(30,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    g = o.agg(
        F.sum("cents").cast("long").alias("sum_g"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    c = o.groupBy("cat").agg(
        F.sum("cents").cast("long").alias("sum_c"),
        F.count(F.lit(1)).cast("long").alias("n_c"),
    )
    gm = F.col("sum_g") / F.col("n_g").cast("double")
    return (
        c.crossJoin(F.broadcast(g))
        .select(
            F.col("cat").alias("nationkey"),
            F.col("n_c").alias("n_orders"),
            F.round(
                F.col("sum_c") / F.col("n_c").cast("double") / 100, 4
            ).alias("raw_mean"),
            F.round(
                (F.col("sum_c") + 20 * gm)
                / (F.col("n_c") + 20)
                / 100,
                4,
            ).alias("encoded_mean"),
            F.round(
                F.col("n_c") / (F.col("n_c") + 20).cast("double"), 6
            ).alias("shrink_weight"),
        )
        .orderBy("nationkey")
    )


_X339_ORACLE = """
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM((p_s - pos * 10000) * (p_s - pos * 10000)) AS BIGINT)
           AS sq
  FROM scored
),
bins AS (
  SELECT LEAST(p_s // 1000, 9) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS np,
         CAST(SUM(p_s) AS BIGINT) AS sp
  FROM scored GROUP BY 1
),
parts AS (
  SELECT SUM(CAST(ROUND(b.n * (sp / (b.n * 10000.0)
                               - CAST(np AS DOUBLE) / b.n)
                        * (sp / (b.n * 10000.0)
                           - CAST(np AS DOUBLE) / b.n)
                        / t.n_total, 12) AS DECIMAL(28,12))) AS rel,
         SUM(CAST(ROUND(b.n * (CAST(np AS DOUBLE) / b.n
                               - CAST(t.n_pos AS DOUBLE) / t.n_total)
                        * (CAST(np AS DOUBLE) / b.n
                           - CAST(t.n_pos AS DOUBLE) / t.n_total)
                        / t.n_total, 12) AS DECIMAL(28,12))) AS res
  FROM bins b CROSS JOIN tot t
)
SELECT t.n_total,
       ROUND(t.sq / (t.n_total * 100000000.0), 6) AS brier,
       ROUND(CAST(p.rel AS DOUBLE), 6) AS reliability,
       ROUND(CAST(p.res AS DOUBLE), 6) AS resolution,
       ROUND((CAST(t.n_pos AS DOUBLE) / t.n_total)
             * (1 - CAST(t.n_pos AS DOUBLE) / t.n_total), 6)
         AS uncertainty
FROM tot t CROSS JOIN parts p
""" % _STOP_EN


@register(
    "x339_brier_decomposition",
    _X339_ORACLE,
    doc="Brier score + Murphy decomposition (reliability - resolution "
        "+ uncertainty) for x315's stopword-ratio scorer against the "
        "lang label: the proper-scoring-rule companion to ECE -- "
        "reliability isolates miscalibration, resolution rewards "
        "discrimination, uncertainty is the label base rate's floor "
        "(binned decomposition; the within-bin variance term is "
        "deliberately not added back, so brier != rel - res + unc by "
        "exactly that variance). Determinism: scores are exact 1e4 "
        "BIGINTs (x315's contract), the exact Brier numerator is an "
        "integer sum of squares, per-bin terms round 12 into "
        "DECIMAL(28,12) before the 10-row sums. Scale: one corpus "
        "pass -> 10-bin aggregate + 1-row totals",
)
def x339_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(
            (F.col("p_s") - F.col("pos") * 10000)
            * (F.col("p_s") - F.col("pos") * 10000)
        )
        .cast("long")
        .alias("sq"),
    )
    bins = scored.groupBy(
        F.least(F.col("p_s") / F.lit(1000), F.lit(9))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("np"),
        F.sum("p_s").cast("long").alias("sp"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    pbar = F.col("sp") / (F.col("n") * F.lit(10000.0))
    obar_b = F.col("np").cast("double") / F.col("n")
    obar = F.col("n_pos").cast("double") / F.col("n_total")
    parts = j.agg(
        F.sum(
            F.round(
                F.col("n") * (pbar - obar_b) * (pbar - obar_b)
                / F.col("n_total"),
                12,
            ).cast("decimal(28,12)")
        ).alias("rel"),
        F.sum(
            F.round(
                F.col("n") * (obar_b - obar) * (obar_b - obar)
                / F.col("n_total"),
                12,
            ).cast("decimal(28,12)")
        ).alias("res"),
    )
    return tot.crossJoin(F.broadcast(parts)).select(
        "n_total",
        F.round(F.col("sq") / (F.col("n_total") * F.lit(1e8)), 6).alias(
            "brier"
        ),
        F.round(F.col("rel").cast("double"), 6).alias("reliability"),
        F.round(F.col("res").cast("double"), 6).alias("resolution"),
        F.round(obar * (1 - obar), 6).alias("uncertainty"),
    )


_X340_ORACLE = """
WITH flagged AS (
  SELECT value,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_e
  FROM events
),
per AS (
  SELECT value, CAST(SUM(is_e) AS BIGINT) AS ce,
         CAST(SUM(1 - is_e) AS BIGINT) AS ca
  FROM flagged GROUP BY value
),
tot AS (SELECT CAST(SUM(ce) AS BIGINT) AS ne,
               CAST(SUM(ca) AS BIGINT) AS na FROM per),
cum AS (
  SELECT value,
         SUM(ce) OVER (ORDER BY value) AS cume,
         SUM(ca) OVER (ORDER BY value) AS cuma,
         LEAD(value) OVER (ORDER BY value) AS nxt
  FROM per
)
SELECT t.ne AS n_expected, t.na AS n_actual,
       CAST((SELECT count(*) FROM per) AS BIGINT) AS n_distinct_values,
       ROUND(CAST(SUM(CAST(ROUND(ABS(cume / CAST(t.ne AS DOUBLE)
                                     - cuma / CAST(t.na AS DOUBLE))
                                 * (nxt - value), 12)
                           AS DECIMAL(28,12))) AS DOUBLE), 6) AS w1
FROM cum CROSS JOIN tot t
WHERE nxt IS NOT NULL
GROUP BY t.ne, t.na
"""


@register(
    "x340_wasserstein_drift",
    _X340_ORACLE,
    doc="Wasserstein-1 (earth-mover) distance between the event-value "
        "distributions of the two month halves: integral |CDF_e - "
        "CDF_a| dv computed EXACTLY as sum over distinct values of "
        "|cume/ne - cuma/na| * gap-to-next -- the metric-space drift "
        "number that complements x327's binned PSI (W1 sees HOW FAR "
        "mass moved, not just that bins changed; no binning choice, "
        "no smoothing constant). Determinism: cumulative counts are "
        "exact BIGINT window sums; per-gap terms round 12 into "
        "DECIMAL(28,12) before the order-free sum. Scale: one "
        "corpus aggregate to the DISTINCT-VALUE table (bounded by "
        "the 2-dp value domain, <=56001 rows, corpus-independent); "
        "the ordered window rides that aggregate under the "
        "x81/x292 bounded contract, plan-gated in test_plans.py",
)
def x340_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    per = (
        events.select(
            "value",
            F.when(
                F.col("ts")
                < F.expr("TIMESTAMP_NTZ '2024-01-16 00:00:00'"),
                1,
            )
            .otherwise(0)
            .alias("is_e"),
        )
        .groupBy("value")
        .agg(
            F.sum("is_e").cast("long").alias("ce"),
            F.sum(1 - F.col("is_e")).cast("long").alias("ca"),
        )
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "value",
        F.sum("ce").over(w).alias("cume"),
        F.sum("ca").over(w).alias("cuma"),
        F.lead("value").over(Window.orderBy("value")).alias("nxt"),
    )
    tot = per.agg(
        F.sum("ce").cast("long").alias("ne"),
        F.sum("ca").cast("long").alias("na"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_values"),
    )
    term = F.round(
        F.abs(
            F.col("cume") / F.col("ne").cast("double")
            - F.col("cuma") / F.col("na").cast("double")
        )
        * (F.col("nxt") - F.col("value")),
        12,
    ).cast("decimal(28,12)")
    return (
        cum.filter(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(tot))
        .groupBy("ne", "na", "n_distinct_values")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("w1"))
        .select(
            F.col("ne").alias("n_expected"),
            F.col("na").alias("n_actual"),
            "n_distinct_values",
            "w1",
        )
    )


_X341_ORACLE = """
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
md AS (SELECT vec_id, min(d2) AS mind FROM d GROUP BY 1),
asg AS (
  SELECT d.vec_id, min(d.cid) AS cid
  FROM d JOIN md ON d.vec_id = md.vec_id AND d.d2 = md.mind
  GROUP BY 1
),
comp AS (
  SELECT a.cid, (p).d AS dim,
         CAST(ROUND((p).x, 6) AS DECIMAL(18,6)) AS x
  FROM asg a JOIN e ON a.vec_id = e.vec_id,
       LATERAL (SELECT unnest(list_transform(range(1, len(e.v) + 1),
                    i -> struct_pack(d := i, x := e.v[i]))) AS p)
),
m AS (
  SELECT cid, dim,
         ROUND(CAST(SUM(x) AS DOUBLE) / count(*), 6) AS md_new
  FROM comp GROUP BY 1, 2
),
oldc AS (
  SELECT cid, (p).d AS dim, (p).x AS md_old
  FROM c, LATERAL (SELECT unnest(list_transform(range(1, len(cv) + 1),
                       i -> struct_pack(d := i, x := cv[i]))) AS p)
),
agg AS (
  SELECT m.cid,
         SUM(CAST(ROUND(m.md_new * m.md_new, 12) AS DECIMAL(28,12)))
           AS nrm2,
         SUM(CAST(ROUND((m.md_new - o.md_old) * (m.md_new - o.md_old),
                        12) AS DECIMAL(28,12))) AS shift2
  FROM m JOIN oldc o ON m.cid = o.cid AND m.dim = o.dim
  GROUP BY 1
),
sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned
       FROM asg GROUP BY 1)
SELECT s.cid, s.n_assigned,
       ROUND(sqrt(CAST(a.nrm2 AS DOUBLE)), 6) AS new_norm,
       ROUND(sqrt(CAST(a.shift2 AS DOUBLE)), 6) AS shift
FROM sz s JOIN agg a ON s.cid = a.cid ORDER BY s.cid
"""


@register(
    "x341_kmeans_step",
    _X341_ORACLE,
    doc="one deterministic Lloyd iteration of k-means (k=10, seeds = "
        "vectors 0..9): squared-distance assignment with round-6 "
        "distances and min-cid tie-break, then per-dimension centroid "
        "means -- reporting cluster sizes, new-centroid norms and "
        "seed->centroid shift. The iterative-ML-on-Spark pattern "
        "made engine-exact: distances via the |v|^2 - 2v.c + |c|^2 "
        "identity (same fold both engines), components round 6 into "
        "DECIMAL before per-dim means so the mean is order-free, "
        "norm/shift terms round 12 before dim sums. Scale: centroids "
        "broadcast (k rows); assignment is one map-side pass; the "
        "centroid update is a (k x dim)-bounded aggregate off a "
        "posexplode -- the same shuffle a real multi-iteration "
        "kmeans pays per step, with convergence read from 'shift'",
)
def x341_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        "v",
        F.round(
            dot(F.col("v"), F.col("v"))
            - 2 * dot(F.col("v"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
            6,
        ).alias("d2"),
    )
    asg = d.groupBy("vec_id").agg(
        F.min(F.struct("d2", "cid")).getField("cid").alias("cid")
    )
    comp = (
        asg.join(e, "vec_id")
        .select("cid", F.posexplode("v").alias("dim0", "x"))
        .select(
            "cid",
            (F.col("dim0") + 1).alias("dim"),
            F.round("x", 6).cast("decimal(18,6)").alias("x"),
        )
    )
    m = comp.groupBy("cid", "dim").agg(
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)), 6
        ).alias("md_new")
    )
    oldc = c.select(
        "cid", F.posexplode("cv").alias("dim0", "md_old")
    ).select("cid", (F.col("dim0") + 1).alias("dim"), "md_old")
    agg = (
        m.join(oldc, ["cid", "dim"])
        .groupBy("cid")
        .agg(
            F.sum(
                F.round(F.col("md_new") * F.col("md_new"), 12).cast(
                    "decimal(28,12)"
                )
            ).alias("nrm2"),
            F.sum(
                F.round(
                    (F.col("md_new") - F.col("md_old"))
                    * (F.col("md_new") - F.col("md_old")),
                    12,
                ).cast("decimal(28,12)")
            ).alias("shift2"),
        )
    )
    sz = asg.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned")
    )
    return (
        sz.join(agg, "cid")
        .select(
            "cid",
            "n_assigned",
            F.round(F.sqrt(F.col("nrm2").cast("double")), 6).alias(
                "new_norm"
            ),
            F.round(F.sqrt(F.col("shift2").cast("double")), 6).alias(
                "shift"
            ),
        )
        .orderBy("cid")
    )


_X342_ORACLE = """
WITH tok AS (
  SELECT source, t FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS t
    FROM documents
    WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
  ) WHERE length(t) > 0
),
cnt AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM cnt),
spine AS (
  SELECT s.source, w.t, s.n, vv.v,
         COALESCE(c.c, 0) + 1 AS num
  FROM ns s
  CROSS JOIN (SELECT DISTINCT t FROM cnt) w
  CROSS JOIN vv
  LEFT JOIN cnt c ON c.source = s.source AND c.t = w.t
),
ce AS (
  SELECT p.source AS s1, q.source AS s2,
         ROUND(CAST(SUM(CAST(ROUND(
             -(p.num / CAST(p.n + p.v AS DOUBLE))
             * ln(q.num / CAST(q.n + q.v AS DOUBLE)), 12)
           AS DECIMAL(28,12))) AS DOUBLE), 6) AS cross_entropy
  FROM spine p JOIN spine q ON p.t = q.t
  GROUP BY 1, 2
)
SELECT a.s1, a.s2, a.cross_entropy,
       ROUND(a.cross_entropy - b.cross_entropy, 6) AS kl
FROM ce a JOIN ce b ON a.s1 = b.s1 AND b.s2 = a.s1
ORDER BY a.s1, a.s2
"""


@register(
    "x342_lm_divergence",
    _X342_ORACLE,
    doc="unigram-LM cross-entropy and KL divergence matrix between "
        "five sources (Laplace-smoothed over the shared vocabulary): "
        "H(s1, s2) = -sum p(t|s1) ln p(t|s2), KL = H(s1,s2) - "
        "H(s1,s1) -- the source-similarity numbers that drive "
        "mixture design (x38/x46) and flag near-duplicate crawls at "
        "the DISTRIBUTION level where doc-level dedup (x01-x06) sees "
        "nothing. Determinism: smoothed probabilities are exact "
        "(c+1)/(n+V) integer ratios evaluated once in double; each "
        "vocab term rounds 12 into DECIMAL(28,12) before per-pair "
        "sums. Scale: token counts are one hash-groupBy; the spine "
        "is vocab x 5 sources and the pair join is vocab-keyed "
        "(sources^2 fan-out per token, never corpus-sized)",
)
def x342_lm_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    srcs = ["src0", "src1", "src2", "src3", "src4"]
    tok = (
        docs.filter(F.col("source").isin(srcs))
        .select("source", F.explode(_toks("text")).alias("t"))
        .filter(F.length("t") > 0)
    )
    cnt = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ns = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    vv = cnt.agg(F.countDistinct("t").cast("long").alias("v"))
    vocab = cnt.select("t").distinct()
    spine = (
        ns.crossJoin(vocab)
        .crossJoin(F.broadcast(vv))
        .join(cnt, ["source", "t"], "left")
        .select(
            "source",
            "t",
            "n",
            "v",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("num"),
        )
    )
    p = spine.select(
        F.col("source").alias("s1"),
        "t",
        (F.col("num") / (F.col("n") + F.col("v")).cast("double")).alias(
            "p1"
        ),
    )
    q = spine.select(
        F.col("source").alias("s2"),
        "t",
        (F.col("num") / (F.col("n") + F.col("v")).cast("double")).alias(
            "p2"
        ),
    )
    ce = (
        p.join(q, "t")
        .select(
            "s1",
            "s2",
            F.round(-F.col("p1") * F.log("p2"), 12)
            .cast("decimal(28,12)")
            .alias("term"),
        )
        .groupBy("s1", "s2")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("cross_entropy"))
    )
    self_ce = ce.filter(F.col("s1") == F.col("s2")).select(
        F.col("s1").alias("s1x"),
        F.col("cross_entropy").alias("h_self"),
    )
    return (
        ce.join(self_ce, ce.s1 == self_ce.s1x)
        .select(
            "s1",
            "s2",
            "cross_entropy",
            F.round(F.col("cross_entropy") - F.col("h_self"), 6).alias(
                "kl"
            ),
        )
        .orderBy("s1", "s2")
    )


_X343_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1
),
tr AS (
  SELECT d, cents,
         CASE WHEN count(*) OVER w = 7
              THEN ROUND(SUM(cents) OVER w / 7.0 / 100, 4)
              ELSE NULL END AS trend
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
resid AS (
  SELECT d, cents, trend,
         CAST(isodow(d) AS BIGINT) AS dow,
         ROUND(cents / 100.0 - trend, 4) AS detrended
  FROM tr
),
seas AS (
  SELECT dow,
         ROUND(CAST(SUM(CAST(ROUND(detrended, 4) AS DECIMAL(18,4)))
                    AS DOUBLE) / count(*), 4) AS seasonal
  FROM resid WHERE detrended IS NOT NULL GROUP BY 1
)
SELECT r.d AS day, ROUND(r.cents / 100.0, 2) AS revenue, r.dow,
       r.trend, s.seasonal,
       ROUND(r.cents / 100.0 - r.trend - s.seasonal, 4) AS residual
FROM resid r JOIN seas s ON r.dow = s.dow
WHERE r.trend IS NOT NULL
ORDER BY r.d
"""


@register(
    "x343_seasonal_decomposition",
    _X343_ORACLE,
    doc="additive seasonal decomposition of daily event revenue "
        "(classical decompose-lite): trend = 7-day centered moving "
        "average (full windows only), seasonal = per-ISO-weekday mean "
        "of the detrended series, residual = value - trend - "
        "seasonal -- x288's seasonality index extended to the full "
        "trend/seasonal/residual split anomaly pipelines subtract "
        "before alerting (x77/x289 fire on residuals, not raw). "
        "Determinism: daily cents are exact BIGINTs, the MA divides "
        "an exact 7-day sum once, detrended values round 4 into "
        "DECIMAL(18,4) before the per-dow mean. Scale: one corpus "
        "pass to the day-cardinality aggregate; all windows ride it "
        "under the x81/x292 bounded contract",
)
def x343_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.col("ts").cast("date").alias("d"),
            F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        )
        .groupBy("d")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.round(F.sum("cents").over(w) / 7.0 / 100, 4),
        ).alias("trend"),
    )
    resid = tr.select(
        "d",
        "cents",
        "trend",
        F.dayofweek("d").alias("dow_us"),
        F.round(F.col("cents") / 100.0 - F.col("trend"), 4).alias(
            "detrended"
        ),
    ).withColumn(
        # ISO weekday (Mon=1..Sun=7) from Spark's US dayofweek (Sun=1)
        "dow",
        F.when(F.col("dow_us") == 1, 7).otherwise(
            F.col("dow_us") - 1
        ).cast("long"),
    )
    seas = (
        resid.filter(F.col("detrended").isNotNull())
        .groupBy("dow")
        .agg(
            F.round(
                F.sum(
                    F.round("detrended", 4).cast("decimal(18,4)")
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("seasonal")
        )
    )
    return (
        resid.join(F.broadcast(seas), "dow")
        .filter(F.col("trend").isNotNull())
        .select(
            F.col("d").alias("day"),
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            "dow",
            "trend",
            "seasonal",
            F.round(
                F.col("cents") / 100.0 - F.col("trend") - F.col("seasonal"),
                4,
            ).alias("residual"),
        )
        .orderBy("day")
    )


_X344_ORACLE = """
WITH pos AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
np AS (SELECT CAST(max(p_partkey) AS BIGINT) AS n_parts FROM part),
users AS (SELECT DISTINCT u FROM pos),
cand AS (
  SELECT users.u, k.k,
         1 + CAST(concat('0x', substr(md5(concat(CAST(users.u AS VARCHAR),
               ':neg:', CAST(k.k AS VARCHAR))), 1, 8)) AS BIGINT)
             % np.n_parts AS p
  FROM users CROSS JOIN (SELECT unnest(range(0, 3)) AS k) k
  CROSS JOIN np
),
hit AS (
  SELECT c.u, c.k, c.p,
         CASE WHEN pos.u IS NULL THEN 0 ELSE 1 END AS is_pos
  FROM cand c LEFT JOIN pos ON c.u = pos.u AND c.p = pos.p
)
SELECT CAST((SELECT count(*) FROM users) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(SUM(is_pos) AS BIGINT) AS n_collisions,
       ROUND(SUM(is_pos) / CAST(count(*) AS DOUBLE), 6)
         AS collision_rate,
       CAST(SUM(1 - is_pos) AS BIGINT) AS n_negatives
FROM hit
"""


@register(
    "x344_negative_sampling",
    _X344_ORACLE,
    doc="deterministic uniform negative sampling for recommender / "
        "contrastive training: 3 candidate parts per purchasing "
        "customer drawn by md5(user:neg:k) modulo the part-id domain, "
        "anti-checked against the positive set -- reporting candidate "
        "count, positive-collision count/rate (the quantity that "
        "decides between reject-resample and loss masking), and the "
        "surviving negatives. No RNG state: candidates are a pure "
        "row-local hash function, so every retry/engine reproduces "
        "the same sample (x328's streaming-bootstrap property). "
        "Scale: candidate generation is map-side off the distinct-"
        "user table; the collision check is one (user, part) "
        "equi-join against the positives -- never a domain spine",
)
def x344_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    pos = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    np_ = part.agg(F.max("p_partkey").cast("long").alias("n_parts"))
    users = pos.select("u").distinct()
    cand = (
        users.select(
            "u", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k")
        )
        .crossJoin(F.broadcast(np_))
        .select(
            "u",
            "k",
            (
                1
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("u").cast("string"),
                                F.lit(":neg:"),
                                F.col("k").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n_parts")
            ).alias("p"),
        )
    )
    hit = cand.join(
        pos.withColumn("is_pos", F.lit(1)), ["u", "p"], "left"
    ).select("u", "k", F.coalesce("is_pos", F.lit(0)).alias("is_pos"))
    nu = users.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    return hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum("is_pos").cast("long").alias("n_collisions"),
        F.round(
            F.sum("is_pos") / F.count(F.lit(1)).cast("double"), 6
        ).alias("collision_rate"),
        F.sum(1 - F.col("is_pos")).cast("long").alias("n_negatives"),
    ).crossJoin(F.broadcast(nu)).select(
        "n_users",
        "n_candidates",
        "n_collisions",
        "collision_rate",
        "n_negatives",
    )


def _x345_oracle() -> str:
    ctes = [
        """ed AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""",
        "h0 AS MATERIALIZED (SELECT u, CAST(1.0 AS DOUBLE) AS h "
        "FROM (SELECT DISTINCT u FROM ed))",
    ]
    for t in range(1, 2 + 1):
        ctes.append(
            f"""ar{t} AS MATERIALIZED (
  SELECT ed.p, SUM(CAST(ROUND(h.h, 12) AS DECIMAL(28,12))) AS s
  FROM ed JOIN h{t - 1} h ON ed.u = h.u GROUP BY ed.p
)"""
        )
        ctes.append(
            f"""a{t} AS MATERIALIZED (
  SELECT p, ROUND(CAST(s AS DOUBLE) /
           CAST((SELECT SUM(s) FROM ar{t}) AS DOUBLE), 12) AS a
  FROM ar{t}
)"""
        )
        ctes.append(
            f"""hr{t} AS MATERIALIZED (
  SELECT ed.u, SUM(CAST(ROUND(a.a, 12) AS DECIMAL(28,12))) AS s
  FROM ed JOIN a{t} a ON ed.p = a.p GROUP BY ed.u
)"""
        )
        ctes.append(
            f"""h{t} AS MATERIALIZED (
  SELECT u, ROUND(CAST(s AS DOUBLE) /
           CAST((SELECT SUM(s) FROM hr{t}) AS DOUBLE), 12) AS h
  FROM hr{t}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT CAST(p AS BIGINT) AS part_id, ROUND(a, 8) AS authority
FROM a2
ORDER BY a DESC, p LIMIT 20"""
    )


@register(
    "x345_hits_authorities",
    _x345_oracle(),
    doc="HITS hubs-and-authorities over the customer-part purchase "
        "bipartite graph, 2 mutual-reinforcement iterations "
        "(Kleinberg; L1-normalized for cross-engine exactness instead "
        "of the classical L2 -- same ranking, documented): authority "
        "of a part = sum of its buyers' hub scores, hub of a customer "
        "= sum of bought parts' authorities -- the 'respected items "
        "vs discerning buyers' dual that PageRank (x104) collapses. "
        "Determinism: contributions round 12 into DECIMAL(28,12) "
        "before edge-sums; normalizers are DECIMAL sums divided once "
        "in double. Scale: the edge list is the only corpus-sized "
        "table (one distinct); each iteration is two edge-keyed "
        "equi-join aggregates -- node-sized state, x104's fixed-depth "
        "shape on a bipartite graph",
)
def x345_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ed = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint()
    )
    h = ed.select("u").distinct().select(
        "u", F.lit(1.0).cast("double").alias("h")
    )
    a = None
    for _ in range(2):
        # shuffle_hash, not sort-merge: the score tables are node-sized
        # (never broadcastable at scale), and hashing them per partition
        # skips sorting the edge side twice per iteration -- x104's
        # iteration-join posture applied to the bipartite graph
        ar = (
            ed.join(h.hint("shuffle_hash"), "u")
            .select(
                "p",
                F.round("h", 12).cast("decimal(28,12)").alias("c"),
            )
            .groupBy("p")
            .agg(F.sum("c").alias("s"))
        )
        atot = ar.agg(F.sum("s").alias("t"))
        a = ar.crossJoin(F.broadcast(atot)).select(
            "p",
            F.round(
                F.col("s").cast("double") / F.col("t").cast("double"),
                12,
            ).alias("a"),
        )
        hr = (
            ed.join(a.hint("shuffle_hash"), "p")
            .select(
                "u",
                F.round("a", 12).cast("decimal(28,12)").alias("c"),
            )
            .groupBy("u")
            .agg(F.sum("c").alias("s"))
        )
        htot = hr.agg(F.sum("s").alias("t"))
        h = hr.crossJoin(F.broadcast(htot)).select(
            "u",
            F.round(
                F.col("s").cast("double") / F.col("t").cast("double"),
                12,
            ).alias("h"),
        )
    return (
        a.select(
            F.col("p").cast("long").alias("part_id"),
            F.round("a", 8).alias("authority"),
        )
        .orderBy(F.desc("authority"), "part_id")
        .limit(20)
    )


_X346_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
              ':shuffle')), 1, 8)) AS BIGINT) % 32 AS shard,
         substr(md5(concat(CAST(doc_id AS VARCHAR), ':shuffle')), 9, 8)
           AS ord
  FROM documents
),
seq AS (
  SELECT source, shard,
         LAG(source) OVER (PARTITION BY shard ORDER BY ord, doc_id)
           AS prev_source
  FROM d
),
obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_adjacent,
         CAST(SUM(CASE WHEN source = prev_source THEN 1 ELSE 0 END)
              AS BIGINT) AS n_same
  FROM seq WHERE prev_source IS NOT NULL
),
mix AS (
  SELECT SUM(CAST(ROUND((cnt / CAST(tot AS DOUBLE))
                        * (cnt / CAST(tot AS DOUBLE)), 12)
                  AS DECIMAL(28,12))) AS expected
  FROM (SELECT count(*) AS cnt, SUM(count(*)) OVER () AS tot
        FROM d GROUP BY source)
)
SELECT o.n_adjacent, o.n_same,
       ROUND(o.n_same / CAST(o.n_adjacent AS DOUBLE), 6) AS same_frac,
       ROUND(CAST(m.expected AS DOUBLE), 6) AS expected_frac,
       ROUND((o.n_same / CAST(o.n_adjacent AS DOUBLE))
             / CAST(m.expected AS DOUBLE), 4) AS clumping_ratio
FROM obs o CROSS JOIN mix m
"""


@register(
    "x346_shuffle_mixing",
    _X346_ORACLE,
    doc="shuffle-quality audit for training-batch mixing: after "
        "x42's deterministic md5 shard shuffle, the fraction of "
        "adjacent same-source pairs within each shard vs the "
        "perfectly-mixed expectation sum(p_s^2) -- clumping_ratio "
        "~1.0 means the shuffle actually decorrelated sources "
        "(poorly mixed batches are a real LLM-training regression: "
        "consecutive same-crawl documents gradient-correlate). "
        "Adjacency comes from lag() windows PARTITIONED BY SHARD -- "
        "per-shard parallelism, shard count scales with the cluster, "
        "never a global order. Exact integer pair counts; expected "
        "fraction from round-12 DECIMAL share squares",
)
def x346_shuffle_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shuffle")))
    d = docs.select(
        "doc_id",
        "source",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 32).alias(
            "shard"
        ),
        F.substring(h, 9, 8).alias("ord"),
    )
    w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    seq = d.select(
        "source", F.lag("source").over(w).alias("prev_source")
    )
    obs = seq.filter(F.col("prev_source").isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_adjacent"),
        F.sum(
            F.when(F.col("source") == F.col("prev_source"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_same"),
    )
    shares = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    tot = shares.agg(F.sum("cnt").alias("tot"))
    mix = (
        shares.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("cnt") / F.col("tot").cast("double"))
                * (F.col("cnt") / F.col("tot").cast("double")),
                12,
            )
            .cast("decimal(28,12)")
            .alias("sq")
        )
        .agg(F.sum("sq").alias("expected"))
    )
    return obs.crossJoin(F.broadcast(mix)).select(
        "n_adjacent",
        "n_same",
        F.round(
            F.col("n_same") / F.col("n_adjacent").cast("double"), 6
        ).alias("same_frac"),
        F.round(F.col("expected").cast("double"), 6).alias(
            "expected_frac"
        ),
        F.round(
            (F.col("n_same") / F.col("n_adjacent").cast("double"))
            / F.col("expected").cast("double"),
            4,
        ).alias("clumping_ratio"),
    )


_X347_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN substr(md5(concat(CAST(event_id AS VARCHAR),
              ':tsplit')), 1, 4) < '4000' THEN 1 ELSE 0 END AS is_test
  FROM events
),
test_start AS (
  SELECT user_id, min(ts) AS t0
  FROM flagged WHERE is_test = 1 GROUP BY 1
),
train AS (
  SELECT f.user_id,
         CAST(count(*) AS BIGINT) AS n_train,
         CAST(SUM(CASE WHEN f.ts > t.t0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after
  FROM flagged f JOIN test_start t ON f.user_id = t.user_id
  WHERE f.is_test = 0
  GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN n_after > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_users_leaking,
       CAST(SUM(n_train) AS BIGINT) AS n_train_events,
       CAST(SUM(n_after) AS BIGINT) AS n_train_after_test,
       ROUND(SUM(n_after) / CAST(SUM(n_train) AS DOUBLE), 6)
         AS leak_fraction
FROM train
"""


@register(
    "x347_time_leakage",
    _X347_ORACLE,
    doc="temporal-leakage audit of a hash-random train/test split "
        "(x18's md5 split at 25%): per user, how much TRAINING data "
        "postdates the user's first test event -- the leakage a "
        "random split silently injects into any time-causal task "
        "(churn, next-event, conversion), which a time-based split "
        "eliminates by construction. Complements x146/x297 "
        "(feature/near-dup leakage) with the time axis. Exact "
        "integer counts off one user-key min-aggregate + one "
        "user-key join (same partitioning reused); the md5 "
        "threshold is x18's proven hex-prefix recipe",
)
def x347_time_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    flagged = events.select(
        "user_id",
        "ts",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"), F.lit(":tsplit")
                    )
                ),
                1,
                4,
            )
            < "4000",
            1,
        )
        .otherwise(0)
        .alias("is_test"),
    )
    test_start = (
        flagged.filter(F.col("is_test") == 1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    train = (
        flagged.filter(F.col("is_test") == 0)
        .join(test_start, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.sum(F.when(F.col("ts") > F.col("t0"), 1).otherwise(0))
            .cast("long")
            .alias("n_after"),
        )
    )
    return train.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("n_after") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_users_leaking"),
        F.sum("n_train").cast("long").alias("n_train_events"),
        F.sum("n_after").cast("long").alias("n_train_after_test"),
        F.round(
            F.sum("n_after") / F.sum("n_train").cast("double"), 6
        ).alias("leak_fraction"),
    )


_X348_ORACLE = """
WITH d AS (
  SELECT LEAST(CAST(n_chars // 200 AS BIGINT), 9) AS bkt,
         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
              ':sir')), 1, 8)) AS BIGINT) AS u
  FROM documents
),
cnt AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_b FROM d GROUP BY 1),
tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM cnt),
w AS (
  SELECT c.bkt, c.n_b, t.n,
         0.1 * t.n / c.n_b AS wt
  FROM cnt c CROSS JOIN tot t
),
mx AS (SELECT max(wt) AS mw FROM w),
thr AS (
  SELECT w.bkt, w.n_b, w.n,
         CAST(FLOOR((w.wt / mx.mw) * 4294967296) AS BIGINT) AS cut
  FROM w CROSS JOIN mx
),
acc AS (
  SELECT d.bkt, CAST(SUM(CASE WHEN d.u < thr.cut THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_after
  FROM d JOIN thr ON d.bkt = thr.bkt GROUP BY 1
),
at AS (SELECT CAST(SUM(n_after) AS BIGINT) AS na FROM acc)
SELECT t.bkt AS len_bucket, t.n_b AS n_before,
       ROUND(t.n_b / CAST(t.n AS DOUBLE), 6) AS share_before,
       a.n_after,
       ROUND(a.n_after / CAST(att.na AS DOUBLE), 6) AS share_after,
       ROUND(a.n_after / CAST(t.n_b AS DOUBLE), 6) AS accept_rate
FROM thr t JOIN acc a ON t.bkt = a.bkt CROSS JOIN at att
ORDER BY t.bkt
"""


@register(
    "x348_importance_resampling",
    _X348_ORACLE,
    doc="deterministic sampling-importance-resampling toward a UNIFORM "
        "length-bucket target: per-bucket weight w = target/actual, "
        "acceptance w/max(w) (the heaviest bucket keeps everything), "
        "accept iff the 32-bit md5(doc:sir) uniform clears "
        "floor(a*2^32) -- the distribution-matching resample curation "
        "pipelines use to fix length (or language/source) imbalance "
        "without up-weighting losses. Determinism: thresholds are "
        "exact BIGINTs from ratios of exact counts (the only doubles "
        "are w/max(w), identical both engines); accept decisions are "
        "integer comparisons. Scale: two corpus passes (count, "
        "accept-count) with a 10-row broadcast between -- no "
        "shuffle of the corpus itself",
)
def x348_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.least(F.floor(F.col("n_chars") / 200), F.lit(9))
        .cast("long")
        .alias("bkt"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":sir"))
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("u"),
    )
    cnt = d.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    tot = cnt.agg(F.sum("n_b").cast("long").alias("n"))
    w = cnt.crossJoin(F.broadcast(tot)).select(
        "bkt", "n_b", "n", (0.1 * F.col("n") / F.col("n_b")).alias("wt")
    )
    mx = w.agg(F.max("wt").alias("mw"))
    thr = w.crossJoin(F.broadcast(mx)).select(
        "bkt",
        "n_b",
        "n",
        F.floor((F.col("wt") / F.col("mw")) * F.lit(4294967296))
        .cast("long")
        .alias("cut"),
    )
    acc = (
        d.join(F.broadcast(thr.select("bkt", "cut")), "bkt")
        .groupBy("bkt")
        .agg(
            F.sum(F.when(F.col("u") < F.col("cut"), 1).otherwise(0))
            .cast("long")
            .alias("n_after")
        )
    )
    at = acc.agg(F.sum("n_after").cast("long").alias("na"))
    return (
        thr.join(acc, "bkt")
        .crossJoin(F.broadcast(at))
        .select(
            F.col("bkt").alias("len_bucket"),
            F.col("n_b").alias("n_before"),
            F.round(F.col("n_b") / F.col("n").cast("double"), 6).alias(
                "share_before"
            ),
            "n_after",
            F.round(
                F.col("n_after") / F.col("na").cast("double"), 6
            ).alias("share_after"),
            F.round(
                F.col("n_after") / F.col("n_b").cast("double"), 6
            ).alias("accept_rate"),
        )
        .orderBy("len_bucket")
    )


_X349_ORACLE = """
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
per AS (
  SELECT p_s, CAST(count(*) AS BIGINT) AS n_s,
         CAST(SUM(pos) AS BIGINT) AS pos_s
  FROM scored GROUP BY 1
),
cum AS (
  SELECT p_s, n_s, pos_s,
         SUM(n_s) OVER (ORDER BY p_s) - n_s AS cum_before
  FROM per
),
agg AS (
  SELECT CAST(SUM(pos_s) AS BIGINT) AS n_pos,
         CAST(SUM(n_s - pos_s) AS BIGINT) AS n_neg,
         CAST(SUM(pos_s * (2 * cum_before + n_s + 1)) AS BIGINT) AS r2
  FROM cum
)
SELECT n_pos, n_neg,
       ROUND((r2 - n_pos * (n_pos + 1))
             / (2.0 * n_pos * n_neg), 6) AS auc,
       ROUND((r2 - n_pos * (n_pos + 1))
             / (1.0 * n_pos * n_neg) - 1, 6) AS gini
FROM agg
""" % _STOP_EN


@register(
    "x349_auc_mann_whitney",
    _X349_ORACLE,
    doc="exact ROC AUC for x315's stopword-ratio scorer against the "
        "lang label via the Mann-Whitney rank-sum identity with "
        "MIDRANKS for ties (AUC = (R+ - n+(n+1)/2) / (n+ n-)) -- the "
        "threshold-free discrimination number completing the "
        "classifier-audit suite (x315 calibration, x339 Brier, x317 "
        "retrieval). Tie handling is exact: 2*midrank = 2*cum_before "
        "+ n_s + 1 keeps EVERYTHING integer until one final division "
        "(no float rank averaging). Scale: one corpus pass to the "
        "score-domain aggregate (<=10001 rows, bounded); the "
        "cumulative window rides it under the x340 plan-gated "
        "contract",
)
def x349_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per = scored.groupBy("p_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("pos").cast("long").alias("pos_s"),
    )
    w = Window.orderBy("p_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "p_s",
        "n_s",
        "pos_s",
        (F.sum("n_s").over(w) - F.col("n_s")).alias("cum_before"),
    )
    agg = cum.agg(
        F.sum("pos_s").cast("long").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("pos_s")).cast("long").alias("n_neg"),
        F.sum(
            F.col("pos_s")
            * (2 * F.col("cum_before") + F.col("n_s") + 1)
        )
        .cast("long")
        .alias("r2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
        F.round(
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (1.0 * F.col("n_pos") * F.col("n_neg"))
            - 1,
            6,
        ).alias("gini"),
    )


_X350_ORACLE = """
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
per AS (
  SELECT p_s, CAST(count(*) AS BIGINT) AS n_s,
         CAST(SUM(pos) AS BIGINT) AS pos_s
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(pos_s) AS BIGINT) AS n_pos,
         CAST(SUM(n_s - pos_s) AS BIGINT) AS n_neg
  FROM per
),
cum AS (
  SELECT p_s,
         CAST(SUM(pos_s) OVER (ORDER BY p_s DESC) AS BIGINT) AS tp,
         CAST(SUM(n_s) OVER (ORDER BY p_s DESC) AS BIGINT) AS pred_pos
  FROM per
),
m AS (
  SELECT c.p_s AS threshold, c.tp, c.pred_pos - c.tp AS fp,
         t.n_pos, t.n_neg,
         ROUND(c.tp / CAST(c.pred_pos AS DOUBLE), 6) AS precision_,
         ROUND(c.tp / CAST(t.n_pos AS DOUBLE), 6) AS recall_,
         ROUND(2.0 * c.tp / (c.pred_pos + t.n_pos), 8) AS f1,
         ROUND(c.tp / CAST(t.n_pos AS DOUBLE)
               - (c.pred_pos - c.tp) / CAST(t.n_neg AS DOUBLE), 8)
           AS youden
  FROM cum c CROSS JOIN tot t
),
bf AS (
  SELECT 'best_f1' AS metric, threshold, tp, fp, precision_, recall_,
         f1, youden
  FROM m QUALIFY row_number() OVER (ORDER BY f1 DESC, threshold) = 1
),
bj AS (
  SELECT 'best_youden' AS metric, threshold, tp, fp, precision_,
         recall_, f1, youden
  FROM m QUALIFY row_number() OVER (ORDER BY youden DESC, threshold) = 1
)
SELECT * FROM bf UNION ALL SELECT * FROM bj ORDER BY metric
""" % _STOP_EN


@register(
    "x350_threshold_sweep",
    _X350_ORACLE,
    doc="full operating-point sweep for x315's scorer: every distinct "
        "score is a candidate threshold (predict positive iff score "
        ">= t); suffix-cumulative TP/FP from ONE score-domain "
        "aggregate give precision/recall/F1 (exact 2TP/(P+n_pos) "
        "form) and Youden J at every point; report the best-F1 and "
        "best-Youden operating points (deterministic low-threshold "
        "tie-break on round-8 scores) -- how a quality filter's "
        "cutoff should actually be chosen, completing x315/x339/"
        "x349. Scale: the sweep costs ONE pass + windows over the "
        "<=10001-row bounded score aggregate -- no per-threshold "
        "re-scan, no model in the loop",
)
def x350_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per = scored.groupBy("p_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("pos").cast("long").alias("pos_s"),
    )
    tot = per.agg(
        F.sum("pos_s").cast("long").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("pos_s")).cast("long").alias("n_neg"),
    )
    wd = Window.orderBy(F.desc("p_s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "p_s",
        F.sum("pos_s").over(wd).cast("long").alias("tp"),
        F.sum("n_s").over(wd).cast("long").alias("pred_pos"),
    )
    m = cum.crossJoin(F.broadcast(tot)).select(
        F.col("p_s").alias("threshold"),
        "tp",
        (F.col("pred_pos") - F.col("tp")).alias("fp"),
        F.round(F.col("tp") / F.col("pred_pos").cast("double"), 6).alias(
            "precision_"
        ),
        F.round(F.col("tp") / F.col("n_pos").cast("double"), 6).alias(
            "recall_"
        ),
        F.round(
            2.0 * F.col("tp") / (F.col("pred_pos") + F.col("n_pos")), 8
        ).alias("f1"),
        F.round(
            F.col("tp") / F.col("n_pos").cast("double")
            - (F.col("pred_pos") - F.col("tp"))
            / F.col("n_neg").cast("double"),
            8,
        ).alias("youden"),
    )
    wf = Window.orderBy(F.desc("f1"), "threshold")
    wy = Window.orderBy(F.desc("youden"), "threshold")
    bf = (
        m.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select(F.lit("best_f1").alias("metric"), "*")
    )
    bj = (
        m.withColumn("rn", F.row_number().over(wy))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select(F.lit("best_youden").alias("metric"), "*")
    )
    return bf.union(bj).orderBy("metric")


_X351_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0
),
items AS (SELECT DISTINCT l_orderkey, l_partkey FROM li),
p AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
edges AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
br AS (SELECT p_partkey, p_brand FROM part),
lab AS (
  SELECT e.u, e.v, bu.p_brand AS cu, bv.p_brand AS cv
  FROM edges e
  JOIN br bu ON e.u = bu.p_partkey
  JOIN br bv ON e.v = bv.p_partkey
),
m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM lab),
perc AS (
  SELECT cu AS community,
         CAST(SUM(CASE WHEN cu = cv THEN 1 ELSE 0 END) AS BIGINT)
           AS a_in,
         CAST(count(*) AS BIGINT) AS d_c
  FROM lab GROUP BY 1
),
terms AS (
  SELECT p.community, p.a_in, p.d_c, t.m2,
         ROUND(p.a_in / CAST(t.m2 AS DOUBLE)
               - (p.d_c / CAST(t.m2 AS DOUBLE))
                 * (p.d_c / CAST(t.m2 AS DOUBLE)), 12) AS contrib
  FROM perc p CROSS JOIN m2 t
),
q AS (
  SELECT ROUND(CAST(SUM(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6)
    AS q_total
  FROM terms
)
SELECT t.community, t.a_in / 2 AS within_edges, t.d_c AS degree_sum,
       ROUND(t.contrib, 8) AS contribution, q.q_total
FROM terms t CROSS JOIN q
ORDER BY t.community
"""


@register(
    "x351_brand_modularity",
    _X351_ORACLE,
    doc="Newman modularity of the BRAND partition over the co-purchase "
        "subgraph (x302's partkey%4 slice): Q = sum_c [A_c/2m - "
        "(d_c/2m)^2] with communities = p_brand -- attribute "
        "assortativity: does brand structure the purchase graph, and "
        "which brand contributes what (the quality readout for any "
        "community assignment; here scoring a KNOWN attribute "
        "partition, the same formula scores x302's learned labels). "
        "Determinism: within-edge and degree counts are exact BIGINTs "
        "off the symmetric edge list; per-community terms round 12 "
        "into DECIMAL before the order-free Q sum. Scale: edge "
        "derivation is the bounded per-order HOF expansion; labeling "
        "is two broadcast-dim joins; everything after is "
        "community-cardinality arithmetic",
)
def x351_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    part = load_table(spark, sf_dir, "part")
    edges = graph.symmetric_copurchase_edges(li)
    br = part.select("p_partkey", "p_brand")
    lab = (
        edges.join(
            F.broadcast(br.withColumnRenamed("p_brand", "cu")),
            edges.u == F.col("p_partkey"),
        )
        .drop("p_partkey")
        .join(
            F.broadcast(br.withColumnRenamed("p_brand", "cv")),
            F.col("v") == F.col("p_partkey"),
        )
        .select("cu", "cv")
    )
    m2 = lab.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    perc = lab.groupBy(F.col("cu").alias("community")).agg(
        F.sum(F.when(F.col("cu") == F.col("cv"), 1).otherwise(0))
        .cast("long")
        .alias("a_in"),
        F.count(F.lit(1)).cast("long").alias("d_c"),
    )
    terms = perc.crossJoin(F.broadcast(m2)).select(
        "community",
        "a_in",
        "d_c",
        F.round(
            F.col("a_in") / F.col("m2").cast("double")
            - (F.col("d_c") / F.col("m2").cast("double"))
            * (F.col("d_c") / F.col("m2").cast("double")),
            12,
        ).alias("contrib"),
    )
    q = terms.agg(
        F.round(
            F.sum(F.col("contrib").cast("decimal(28,12)")).cast("double"),
            6,
        ).alias("q_total")
    )
    return (
        terms.crossJoin(F.broadcast(q))
        .select(
            "community",
            (F.col("a_in") / 2).cast("long").alias("within_edges"),
            F.col("d_c").alias("degree_sum"),
            F.round("contrib", 8).alias("contribution"),
            "q_total",
        )
        .orderBy("community")
    )


def _x352_oracle() -> str:
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
    seed_cte = (
        "seeds AS (SELECT u, CAST(0.2 AS DOUBLE) AS w FROM "
        "(SELECT u, count(*) AS dg FROM edges GROUP BY u "
        "ORDER BY dg DESC, u LIMIT 5))"
    )
    return graph.ppr_sql_over_edges(edge_ctes, seed_cte)


@register(
    "x352_ppr_related_terms",
    _x352_oracle(),
    doc="personalized PageRank on x324's word co-occurrence graph, "
        "teleporting to the 5 highest-degree tokens (weight 0.2 "
        "each): rank mass concentrates in the seeds' neighborhood, "
        "surfacing RELATED terms -- the random-walk-with-restart "
        "query-expansion primitive (vs x324's global importance). "
        "Exercises graph.personalized_pagerank: same node-sized "
        "state, shuffle_hash iteration joins, round-12 DECIMAL "
        "contributions as x104, with the teleport vector replacing "
        "the uniform 1/n term; the oracle replays through "
        "ppr_sql_over_edges, the seeded sibling of the proven "
        "pagerank CTE template. Seeds chosen deterministically "
        "(degree desc, token asc)",
)
def x352_ppr_related_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    edges = _word_cooccurrence_edges(docs).localCheckpoint(eager=False)
    seeds = (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.desc("dg"), "u")
        .limit(5)
        .select("u", F.lit(0.2).cast("double").alias("w"))
    )
    pr = graph.personalized_pagerank(edges, seeds)
    return (
        pr.join(seeds.select("u", F.lit(1).alias("s")),
                pr.node == F.col("u"), "left")
        .select(
            F.col("node").alias("token"),
            F.coalesce(F.col("s"), F.lit(0)).cast("int").alias("is_seed"),
            F.round("rank", 8).alias("rank"),
        )
        .orderBy(F.desc("rank"), "token")
        .limit(20)
    )


_X353_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS pts
  FROM events
),
f AS (
  SELECT user_id, ts,
         CASE WHEN pts IS NULL
                OR epoch_us(ts) - epoch_us(pts) >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM o
),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register(
    "x353_native_session_window",
    _X353_ORACLE,
    doc="Spark's native batch session_window(ts, '30 minutes') "
        "grouping, hash-pinned to the classic lag-gap sessionization "
        "(x21's shape: break when the gap >= 30 min, end = last event "
        "+ gap; session_window's [start, end) half-open boundary is "
        "exactly the >= break) -- the API-parity entry proving the "
        "built-in dynamic-gap operator computes the SAME sessions as "
        "the portable SQL formulation, batch side of the x48 "
        "streaming session window. One user-key shuffle either way; "
        "per-user window parallelism is the documented contract",
)
def x353_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


_X354_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS prev_max
  FROM events
),
lateness AS (
  SELECT CASE WHEN prev_max IS NULL THEN NULL
              ELSE epoch_us(prev_max) - epoch_us(ts) END AS late_us
  FROM seq
),
d AS (SELECT unnest([60, 300, 3600]) AS delay_seconds)
SELECT d.delay_seconds,
       CAST(count(l.late_us) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN l.late_us > CAST(d.delay_seconds AS BIGINT)
                          * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       ROUND(SUM(CASE WHEN l.late_us > CAST(d.delay_seconds AS BIGINT)
                           * 1000000 THEN 1 ELSE 0 END)
             / CAST(count(l.late_us) AS DOUBLE), 6) AS late_share
FROM d CROSS JOIN lateness l
WHERE l.late_us IS NOT NULL
GROUP BY d.delay_seconds ORDER BY d.delay_seconds
"""


@register(
    "x354_watermark_lateness",
    _X354_ORACLE,
    doc="watermark-delay planning audit: per user, an event is LATE "
        "for delay D if it arrives (event_id order) more than D "
        "behind the user's running max event-time -- the share of "
        "data a streaming watermark of 1m/5m/1h would actually drop "
        "(x27/x48's withWatermark configs chosen from measurement "
        "instead of folklore). Per-USER running max windows (per-key "
        "parallel, never a global order); lateness compared in exact "
        "epoch-microsecond arithmetic (the x305 dodge around "
        "boundary-counting date_diff); the 3-delay spine is a "
        "broadcast VALUES dim. Exact integer counts, one rounded "
        "division per row",
)
def x354_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    seq = events.select(
        "ts", F.max("ts").over(w).alias("prev_max")
    ).filter(F.col("prev_max").isNotNull())
    late_us = F.expr("timestampdiff(MICROSECOND, ts, prev_max)")
    lateness = seq.select(late_us.alias("late_us"))
    d = spark.createDataFrame(
        [(60,), (300,), (3600,)], "delay_seconds int"
    )
    return (
        lateness.crossJoin(F.broadcast(d))
        .groupBy("delay_seconds")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(
                    F.col("late_us")
                    > F.col("delay_seconds").cast("long") * 1000000,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_late"),
            F.round(
                F.sum(
                    F.when(
                        F.col("late_us")
                        > F.col("delay_seconds").cast("long") * 1000000,
                        1,
                    ).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("late_share"),
        )
        .select(
            F.col("delay_seconds").cast("int").alias("delay_seconds"),
            "n_events",
            "n_late",
            "late_share",
        )
        .orderBy("delay_seconds")
    )


_X355_ORACLE = """
WITH o AS (
  SELECT o.o_orderkey AS k, c.c_nationkey AS nat,
         CAST(CAST(o.o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT)
           AS cents,
         CASE WHEN substr(md5(concat(CAST(o.o_orderkey AS VARCHAR),
              ':conf')), 1, 4) < '8000' THEN 1 ELSE 0 END AS is_cal
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS sum_g,
         CAST(count(*) AS BIGINT) AS n_g
  FROM o WHERE is_cal = 1
),
enc AS (
  SELECT nat,
         (SUM(cents) + 20 * (g.sum_g / CAST(g.n_g AS DOUBLE)))
           / (count(*) + 20) AS enc100
  FROM o CROSS JOIN g WHERE is_cal = 1 GROUP BY nat, g.sum_g, g.n_g
),
resid AS (
  SELECT o.k,
         CAST(ROUND(ABS(o.cents - e.enc100), 4) AS DECIMAL(18,4)) AS r
  FROM o JOIN enc e ON o.nat = e.nat WHERE o.is_cal = 1
),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM resid),
kq AS (
  SELECT LEAST(CAST(CEIL(0.9 * (n_cal + 1)) AS BIGINT), n_cal) AS kk,
         n_cal
  FROM nc
),
qhat AS (
  SELECT r.r AS q, kq.kk, kq.n_cal
  FROM (SELECT r, row_number() OVER (ORDER BY r, k) AS rn FROM resid) r
  JOIN kq ON r.rn = kq.kk
),
test AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN CAST(ROUND(ABS(o.cents - e.enc100), 4)
                             AS DECIMAL(18,4)) <= q.q
                       THEN 1 ELSE 0 END) AS BIGINT) AS covered
  FROM o JOIN enc e ON o.nat = e.nat CROSS JOIN qhat q
  WHERE o.is_cal = 0
)
SELECT q.n_cal, t.n_test, q.kk AS k_order_stat,
       ROUND(CAST(q.q AS DOUBLE) / 100, 4) AS qhat_dollars,
       ROUND(t.covered / CAST(t.n_test AS DOUBLE), 6) AS coverage,
       0.9 AS target
FROM qhat q CROSS JOIN test t
"""


@register(
    "x355_conformal_interval",
    _X355_ORACLE,
    doc="split-conformal prediction interval around x338's "
        "nation-encoded order-value predictor: calibration = md5 50% "
        "split, qhat = the ceil(0.9*(n+1))-th smallest absolute "
        "residual (EXACT order statistic), guarantee checked as "
        "empirical coverage on the held-out half -- the "
        "distribution-free uncertainty wrapper that turns ANY point "
        "predictor into a calibrated interval (finite-sample "
        "coverage >= 0.9 by exchangeability, no model assumptions). "
        "Determinism: residuals round 4 into DECIMAL(18,4) so "
        "ordering and the <= qhat comparison are exact; the k-th "
        "statistic comes from scale.global_row_number (x169's "
        "two-pass rank, plan-safe at corpus scale -- never a "
        "SinglePartition sort); encoder sums are exact cents",
)
def x355_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ... import scale

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("c_nationkey").alias("nat"),
        (F.col("o_totalprice").cast("decimal(30,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"), F.lit(":conf")
                    )
                ),
                1,
                4,
            )
            < "8000",
            1,
        )
        .otherwise(0)
        .alias("is_cal"),
    )
    cal = o.filter(F.col("is_cal") == 1)
    g = cal.agg(
        F.sum("cents").cast("long").alias("sum_g"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    enc = (
        cal.groupBy("nat")
        .agg(
            F.sum("cents").cast("long").alias("sum_c"),
            F.count(F.lit(1)).cast("long").alias("n_c"),
        )
        .crossJoin(F.broadcast(g))
        .select(
            "nat",
            (
                (
                    F.col("sum_c")
                    + 20 * (F.col("sum_g") / F.col("n_g").cast("double"))
                )
                / (F.col("n_c") + 20)
            ).alias("enc100"),
        )
    )
    rexpr = F.round(F.abs(F.col("cents") - F.col("enc100")), 4).cast(
        "decimal(18,4)"
    )
    resid = cal.join(F.broadcast(enc), "nat").select(
        "k", rexpr.alias("r")
    )
    nc = resid.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    kq = nc.select(
        F.least(
            F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long"),
            F.col("n_cal"),
        ).alias("kk"),
        "n_cal",
    )
    ranked = scale.global_row_number(
        resid, [F.col("r"), F.col("k")], out_col="rn"
    )
    qhat = ranked.crossJoin(F.broadcast(kq)).filter(
        F.col("rn") == F.col("kk")
    ).select(F.col("r").alias("q"), "kk", "n_cal")
    test = (
        o.filter(F.col("is_cal") == 0)
        .join(F.broadcast(enc), "nat")
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(rexpr <= F.col("q"), 1).otherwise(0))
            .cast("long")
            .alias("covered"),
        )
    )
    return qhat.crossJoin(F.broadcast(test)).select(
        "n_cal",
        "n_test",
        F.col("kk").alias("k_order_stat"),
        F.round(F.col("q").cast("double") / 100, 4).alias("qhat_dollars"),
        F.round(
            F.col("covered") / F.col("n_test").cast("double"), 6
        ).alias("coverage"),
        F.lit(0.9).alias("target"),
    )


_X356_ORACLE = """
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 100 + 0.5) AS BIGINT) AS bin,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
         CAST(SUM(pos) AS BIGINT) AS pos_b
  FROM scored GROUP BY 1
),
cum AS (
  SELECT bin, n_b, pos_b,
         CAST(SUM(n_b) OVER (ORDER BY bin) AS BIGINT) AS cn,
         CAST(SUM(pos_b) OVER (ORDER BY bin) AS BIGINT) AS cp
  FROM per
),
pairs AS (
  SELECT j.bin AS bj, k.bin AS bk,
         (k.cp - j.cp + j.pos_b)
           / CAST(k.cn - j.cn + j.n_b AS DOUBLE) AS a
  FROM cum j JOIN cum k ON j.bin <= k.bin
),
sm AS (
  SELECT bj, bk,
         MIN(a) OVER (PARTITION BY bj ORDER BY bk DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS m
  FROM pairs
),
iso AS (SELECT bk AS bin, MAX(m) AS iso_raw FROM sm GROUP BY 1)
SELECT p.bin, p.n_b AS n, p.pos_b AS pos,
       ROUND(p.pos_b / CAST(p.n_b AS DOUBLE), 6) AS raw_rate,
       ROUND(i.iso_raw, 6) AS iso_rate
FROM per p JOIN iso i USING (bin)
ORDER BY p.bin
""" % _STOP_EN


@register(
    "x356_isotonic_calibration",
    _X356_ORACLE,
    doc="isotonic (PAV) recalibration of x315's stopword-ratio scorer "
        "against the lang label via the closed-form MINIMAX identity "
        "iso(i) = max_{j<=i} min_{k>=i} weighted-mean(y_j..y_k) -- "
        "the monotone fit PAV's sequential pooling converges to, "
        "restated as pure relational algebra (interval means from "
        "inclusive prefix sums, one suffix-min window per start bin, "
        "one max-groupBy): the standard score->probability mapping "
        "that FIXES the miscalibration x315 measures. Determinism: "
        "interval means are single IEEE divisions of exact BIGINT "
        "prefix-sum differences (engine-identical doubles), min/max "
        "compare those; rates round 6 only at output. Scale: one "
        "corpus pass to the <=101-row calibration-bin aggregate; the "
        "O(bins^2) pair frame (~5k rows) and its windows are "
        "aggregate-sized -- the corpus is never touched again, and "
        "the j<=k expansion is a broadcast nested-loop over the tiny "
        "frame, never a corpus join",
)
def x356_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    b = F.floor(
        text.stop_ratio_column("text") * 100 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        b.alias("bin"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("pos").cast("long").alias("pos_b"),
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "bin",
        "n_b",
        "pos_b",
        F.sum("n_b").over(w).cast("long").alias("cn"),
        F.sum("pos_b").over(w).cast("long").alias("cp"),
    )
    j = cum.select(
        F.col("bin").alias("bj"),
        F.col("n_b").alias("nj"),
        F.col("pos_b").alias("pj"),
        F.col("cn").alias("cnj"),
        F.col("cp").alias("cpj"),
    )
    k = cum.select(
        F.col("bin").alias("bk"),
        F.col("cn").alias("cnk"),
        F.col("cp").alias("cpk"),
    )
    pairs = j.join(F.broadcast(k), F.col("bj") <= F.col("bk")).select(
        "bj",
        "bk",
        (
            (F.col("cpk") - F.col("cpj") + F.col("pj"))
            / (F.col("cnk") - F.col("cnj") + F.col("nj")).cast("double")
        ).alias("a"),
    )
    wsm = Window.partitionBy("bj").orderBy(F.desc("bk")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sm = pairs.select("bj", "bk", F.min("a").over(wsm).alias("m"))
    iso = sm.groupBy(F.col("bk").alias("bin")).agg(
        F.max("m").alias("iso_raw")
    )
    return (
        per.join(iso, "bin")
        .select(
            "bin",
            F.col("n_b").alias("n"),
            F.col("pos_b").alias("pos"),
            F.round(
                F.col("pos_b") / F.col("n_b").cast("double"), 6
            ).alias("raw_rate"),
            F.round("iso_raw", 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


@register(
    "x357_kendall_tau",
    """WITH pn AS (
         SELECT n.n_name AS nation,
                CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents,
                CAST(count(*) AS BIGINT) AS n_orders
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1
       ),
       p AS (
         SELECT CASE WHEN (a.rev_cents - b.rev_cents)
                          * (a.n_orders - b.n_orders) > 0
                     THEN 1 ELSE 0 END AS conc,
                CASE WHEN (a.rev_cents - b.rev_cents)
                          * (a.n_orders - b.n_orders) < 0
                     THEN 1 ELSE 0 END AS disc,
                CASE WHEN a.rev_cents = b.rev_cents THEN 1 ELSE 0
                  END AS tx,
                CASE WHEN a.n_orders = b.n_orders THEN 1 ELSE 0
                  END AS ty
         FROM pn a JOIN pn b ON a.nation < b.nation
       ),
       s AS (
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(SUM(conc) AS BIGINT) AS concordant,
                CAST(SUM(disc) AS BIGINT) AS discordant,
                CAST(SUM(tx) AS BIGINT) AS ties_x,
                CAST(SUM(ty) AS BIGINT) AS ties_y
         FROM p
       )
       SELECT n_pairs, concordant, discordant, ties_x, ties_y,
              ROUND((concordant - discordant)
                    / sqrt((n_pairs - ties_x)
                           * CAST(n_pairs - ties_y AS DOUBLE)),
                    6) AS tau_b
       FROM s""",
    doc="Kendall tau-b rank correlation between two KPI orderings of "
        "the nations (total revenue vs order count) with exact tie "
        "corrections -- the ordinal-association member of the "
        "correlation suite (x147 Pearson measures linearity, x154 MI "
        "measures dependence, tau measures ORDERING agreement: do "
        "the two league tables actually rank markets the same way). "
        "Concordant/discordant/tie pair counts are exact BIGINTs off "
        "exact integer cents; the single sqrt+division happens once "
        "on identical integers. Scale: the corpus collapses to the "
        "nation-cardinality aggregate FIRST (one shuffle, broadcast "
        "dims); the O(n^2) pair scan is 300 rows of arithmetic over "
        "the 25-row frame -- rank-correlating any two metrics never "
        "touches the fact table twice",
)
def x357_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    pn = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("rev_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    a = pn.select(
        F.col("nation").alias("na"),
        F.col("rev_cents").alias("ra"),
        F.col("n_orders").alias("oa"),
    )
    bq = pn.select(
        F.col("nation").alias("nb"),
        F.col("rev_cents").alias("rb"),
        F.col("n_orders").alias("ob"),
    )
    p = a.join(F.broadcast(bq), F.col("na") < F.col("nb")).select(
        F.when(
            (F.col("ra") - F.col("rb")) * (F.col("oa") - F.col("ob"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            (F.col("ra") - F.col("rb")) * (F.col("oa") - F.col("ob"))
            < 0,
            1,
        )
        .otherwise(0)
        .alias("disc"),
        F.when(F.col("ra") == F.col("rb"), 1).otherwise(0).alias("tx"),
        F.when(F.col("oa") == F.col("ob"), 1).otherwise(0).alias("ty"),
    )
    s = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
        F.sum("tx").cast("long").alias("ties_x"),
        F.sum("ty").cast("long").alias("ties_y"),
    )
    return s.select(
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.round(
            (F.col("concordant") - F.col("discordant"))
            / F.sqrt(
                (F.col("n_pairs") - F.col("ties_x"))
                * (F.col("n_pairs") - F.col("ties_y")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


_X358_ORACLE = """
WITH u AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                          1, 4) < '8000'
              THEN 'treat' ELSE 'control' END AS arm,
         COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT) END),
                  0) AS x,
         COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT) END),
                  0) AS y
  FROM events GROUP BY 1
),
pool AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS sxy,
         CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS syy
  FROM u
),
th AS (
  SELECT n,
         CAST(sx AS DOUBLE) / n AS xbar_pool,
         ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sx AS DOUBLE)), 8) AS theta,
         ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sy AS DOUBLE))
               * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * CAST(sy AS DOUBLE))
               / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sx AS DOUBLE))
                  * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                     * CAST(sy AS DOUBLE))), 6) AS var_reduction
  FROM pool
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS users,
         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ax,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ay
  FROM u GROUP BY 1
)
SELECT a.arm, a.users,
       ROUND(CAST(a.ay AS DOUBLE) / a.users / 100, 4) AS mean_y,
       ROUND((CAST(a.ay AS DOUBLE) / a.users
              - t.theta * (CAST(a.ax AS DOUBLE) / a.users
                           - t.xbar_pool)) / 100, 4) AS adj_mean_y,
       t.theta, t.var_reduction
FROM arms a CROSS JOIN th t
ORDER BY a.arm
"""


@register(
    "x358_cuped_adjustment",
    _X358_ORACLE,
    doc="CUPED variance-reduced readout for x303's md5-bucket "
        "experiment: per-user PRE-period spend (days 1-15) is the "
        "covariate, experiment-period spend (days 16-30) the metric; "
        "theta = cov(X,Y)/var(X) from POOLED exact-integer moments, "
        "adjusted arm mean = ybar_a - theta*(xbar_a - xbar_pool), "
        "plus the achieved variance-reduction rho^2 -- the standard "
        "pre-experiment-data trick that shrinks experiment "
        "confidence intervals ~(1-rho^2)x at zero cost (Deng et al. "
        "2013 pattern, public). Determinism: all six moments "
        "accumulate as exact DECIMAL(38,0) integer cents (partition-"
        "order free), theta rounds 8 BEFORE use so both engines "
        "adjust with the identical scalar. Scale: one user-level "
        "aggregate over the corpus (same shuffle x303 already pays), "
        "then 1-row + arm-cardinality arithmetic -- the covariate "
        "costs NOTHING extra at 100 TB because it rides the same "
        "groupBy",
)
def x358_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    pre = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
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
        F.coalesce(F.sum(F.when(pre, cents)), F.lit(0))
        .cast("long")
        .alias("x"),
        F.coalesce(F.sum(F.when(~pre, cents)), F.lit(0))
        .cast("long")
        .alias("y"),
    ).withColumn("arm", arm)
    d38 = "decimal(38,0)"
    pool = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("sx"),
        F.sum(F.col("y").cast(d38)).cast(d38).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast(d38).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).cast(d38).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).cast(d38).alias("syy"),
    )
    nD = F.col("n")
    sxD = F.col("sx").cast("double")
    syD = F.col("sy").cast("double")
    cov = nD * F.col("sxy").cast("double") - sxD * syD
    varx = nD * F.col("sxx").cast("double") - sxD * sxD
    vary = nD * F.col("syy").cast("double") - syD * syD
    th = pool.select(
        "n",
        (sxD / nD).alias("xbar_pool"),
        F.round(cov / varx, 8).alias("theta"),
        F.round(cov * cov / (varx * vary), 6).alias("var_reduction"),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("users"),
        F.sum(F.col("x").cast(d38)).cast(d38).alias("ax"),
        F.sum(F.col("y").cast(d38)).cast(d38).alias("ay"),
    )
    ybar = F.col("ay").cast("double") / F.col("users")
    xbar = F.col("ax").cast("double") / F.col("users")
    return (
        arms.crossJoin(F.broadcast(th))
        .select(
            "arm",
            "users",
            F.round(ybar / 100, 4).alias("mean_y"),
            F.round(
                (ybar - F.col("theta") * (xbar - F.col("xbar_pool")))
                / 100,
                4,
            ).alias("adj_mean_y"),
            "theta",
            "var_reduction",
        )
        .orderBy("arm")
    )


# Support>=2 co-purchase edge list (x210's graph: parts co-ordered at
# least twice, oriented u < v), shared by x359/x360/x361 -- derived once
# per session+fixture and lazily localCheckpoint'ed (edge-sized, tiny
# next to lineitem), same contract as _shared_pair_counts.
_SUPPORT2_CACHE: dict[tuple, DataFrame] = {}


_SUPPORT2_CTE = """items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pr AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), e AS (SELECT u, v FROM pr),
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
        FROM sym GROUP BY 1)"""


def _support2_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    e = _SUPPORT2_CACHE.get(key)
    if e is None:
        e = graph.support2_edges(load_table(spark, sf_dir, "lineitem"))
        _SUPPORT2_CACHE[key] = e
    return e


def _sym_deg(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    sym = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    return sym, deg


_X359_ORACLE = (
    "WITH "
    + _SUPPORT2_CTE
    + """,
cand AS (
  SELECT node, deg FROM deg ORDER BY deg DESC, node LIMIT 30
),
adj AS (
  SELECT c.node AS cnode, s.v AS z
  FROM cand c JOIN sym s ON c.node = s.u
),
cp AS (
  SELECT a.cnode AS u, b.cnode AS v, a.z
  FROM adj a JOIN adj b ON a.z = b.z AND a.cnode < b.cnode
),
ne AS (
  SELECT cp.u, cp.v, cp.z FROM cp
  LEFT JOIN e ON cp.u = e.u AND cp.v = e.v
  WHERE e.u IS NULL
),
sc AS (
  SELECT ne.u, ne.v,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(SUM(CAST(ROUND(1.0 / ln(d.deg), 8)
                       AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS aa
  FROM ne JOIN deg d ON ne.z = d.node
  GROUP BY 1, 2
),
j AS (
  SELECT sc.u, sc.v, sc.common_neighbors,
         ROUND(CAST(sc.aa AS DOUBLE), 6) AS aa_score,
         ROUND(sc.common_neighbors
               / CAST(du.deg + dv.deg - sc.common_neighbors
                      AS DOUBLE), 6) AS jaccard
  FROM sc
  JOIN deg du ON sc.u = du.node
  JOIN deg dv ON sc.v = dv.node
)
SELECT u, v, common_neighbors, aa_score, jaccard
FROM j ORDER BY aa_score DESC, u, v LIMIT 20"""
)


@register(
    "x359_adamic_adar",
    _X359_ORACLE,
    doc="Adamic-Adar link prediction over the support>=2 co-purchase "
        "graph (x210's edge set): for NON-adjacent pairs among the "
        "top-30-degree parts, score = sum_z 1/ln(deg z) over common "
        "neighbors z (rare shared neighbors count more) plus raw "
        "common-neighbor count and neighborhood Jaccard -- 'parts "
        "that SHOULD sell together but don't yet', the "
        "recommendation/assortment-gap primitive on top of the graph "
        "x104/x210/x302 analyze. Determinism: per-neighbor terms "
        "round 8 into DECIMAL before the order-free sum (ln is the "
        "only transcendental, applied to exact integer degrees); "
        "candidate set and top-20 under total ORDER BY. Scale: the "
        "candidate restriction bounds the quadratic leg to 30 "
        "adjacency lists (broadcast-size); common neighbors come "
        "from one equi-join on the shared neighbor id, existing "
        "edges anti-join out -- the corpus-sized work is exactly "
        "x210's edge derivation, shared and checkpointed once per "
        "session",
)
def x359_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _support2_edges(spark, sf_dir)
    sym, deg = _sym_deg(e)
    cand = deg.orderBy(F.desc("deg"), "node").limit(30)
    adj = sym.join(
        F.broadcast(cand.select(F.col("node").alias("cnode"))),
        sym.u == F.col("cnode"),
    ).select("cnode", F.col("v").alias("z"))
    a = adj.select(F.col("cnode").alias("cu"), "z")
    b = adj.select(F.col("cnode").alias("cv"), F.col("z").alias("zb"))
    cp = a.join(
        b, (F.col("z") == F.col("zb")) & (F.col("cu") < F.col("cv"))
    ).select(F.col("cu").alias("u"), F.col("cv").alias("v"), "z")
    ne = cp.join(e, ["u", "v"], "left_anti")
    sc = (
        ne.join(
            deg.select(F.col("node").alias("z"), F.col("deg").alias("dz")),
            "z",
        )
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(
                F.round(F.lit(1.0) / F.log(F.col("dz")), 8).cast(
                    "decimal(28,8)"
                )
            )
            .cast("decimal(28,8)")
            .alias("aa"),
        )
    )
    # degree lookups only for the 30 candidate nodes (broadcast-size by
    # construction), never the full node-sized degree table
    degc = cand.select("node", "deg")
    j = (
        sc.join(
            F.broadcast(
                degc.select(F.col("node").alias("u"), F.col("deg").alias("du"))
            ),
            "u",
        )
        .join(
            F.broadcast(
                degc.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
            ),
            "v",
        )
        .select(
            "u",
            "v",
            "common_neighbors",
            F.round(F.col("aa").cast("double"), 6).alias("aa_score"),
            F.round(
                F.col("common_neighbors")
                / (
                    F.col("du") + F.col("dv") - F.col("common_neighbors")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.desc("aa_score"), "u", "v").limit(20)


_X360_ORACLE = (
    "WITH "
    + _SUPPORT2_CTE
    + """,
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
tn AS (
  SELECT x AS node, CAST(count(*) AS BIGINT) AS tri_cnt
  FROM (SELECT a AS x FROM tri UNION ALL SELECT b AS x FROM tri
        UNION ALL SELECT c AS x FROM tri) q
  GROUP BY 1
),
top AS (
  SELECT d.node, d.deg, COALESCE(t.tri_cnt, 0) AS triangles
  FROM deg d LEFT JOIN tn t ON d.node = t.node
  ORDER BY d.deg DESC, d.node LIMIT 20
)
SELECT node, deg AS degree, triangles,
       ROUND(CASE WHEN deg >= 2
                  THEN 2.0 * triangles / (deg * (deg - 1.0))
                  ELSE 0.0 END, 6) AS lcc
FROM top ORDER BY degree DESC, node"""
)


@register(
    "x360_clustering_coefficient",
    _X360_ORACLE,
    doc="local clustering coefficient for the top-20-degree parts of "
        "the support>=2 co-purchase graph: lcc = 2*triangles / "
        "(deg*(deg-1)) -- how CLIQUE-LIKE each hub's neighborhood is "
        "(x210 counts the corpus' triangles; this distributes them "
        "to nodes and normalizes by possible wedges, separating "
        "bridge hubs from community hubs). Exact BIGINT triangle "
        "counts via x210's id-orientation (each triangle credited "
        "once to each corner from the oriented list), one double "
        "division per node at the end. Scale: rides the shared "
        "checkpointed edge list; the triangle join is two edge-sized "
        "equi-joins; per-node counts one groupBy over 3x the "
        "triangle count -- never a neighborhood cross product",
)
def x360_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _support2_edges(spark, sf_dir)
    sym, deg = _sym_deg(e)
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e.join(e2, e.v == e2.b2)
        .join(e3, (e.u == e3.a3) & (e2.c2 == e3.c3))
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            F.col("c2").alias("c"),
        )
    )
    tn = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri_cnt"))
    )
    top = (
        deg.join(tn, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("tri_cnt"), F.lit(0))
            .cast("long")
            .alias("triangles"),
        )
        .orderBy(F.desc("deg"), "node")
        .limit(20)
    )
    return top.select(
        "node",
        F.col("deg").alias("degree"),
        "triangles",
        F.round(
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.col("triangles")
                / (F.col("deg") * (F.col("deg") - F.lit(1.0))),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("lcc"),
    ).orderBy(F.desc("degree"), "node")


_X361_ORACLE = (
    "WITH "
    + _SUPPORT2_CTE
    + """,
de AS (
  SELECT du.deg AS ju, dv.deg AS kv
  FROM sym s
  JOIN deg du ON s.u = du.node
  JOIN deg dv ON s.v = dv.node
),
mo AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(SUM(CAST(ju AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(ju * ju AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS s2,
         CAST(SUM(CAST(ju * kv AS DECIMAL(38,0))) AS DECIMAL(38,0))
           AS s11
  FROM de
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT nn.n_nodes, CAST(mo.m / 2 AS BIGINT) AS n_edges,
       ROUND((mo.m * CAST(s11 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
             / (mo.m * CAST(s2 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 6)
         AS assortativity
FROM mo CROSS JOIN nn"""
)


@register(
    "x361_degree_assortativity",
    _X361_ORACLE,
    doc="degree assortativity of the support>=2 co-purchase graph: "
        "Pearson correlation of endpoint degrees over the DIRECTED "
        "edge list (Newman's r; symmetric list makes source/target "
        "moments equal, so r = (M*S_jk - S_j^2)/(M*S_jj - S_j^2)) -- "
        "one number for 'do hubs link to hubs or to leaves', the "
        "structural complement of x351's attribute modularity and "
        "x108's key-skew Gini. All moments accumulate as exact "
        "DECIMAL(38,0) integer products; ONE double division at the "
        "end. Scale: two edge-sized equi-joins to attach endpoint "
        "degrees, then a 1-row aggregate -- node state never "
        "broadcasts, nothing quadratic",
)
def x361_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _support2_edges(spark, sf_dir)
    sym, deg = _sym_deg(e)
    de = (
        sym.join(
            deg.select(F.col("node").alias("u"), F.col("deg").alias("ju")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("kv")),
            "v",
        )
        .select("ju", "kv")
    )
    d38 = "decimal(38,0)"
    mo = de.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("ju").cast(d38)).cast(d38).alias("s1"),
        F.sum((F.col("ju") * F.col("ju")).cast(d38)).cast(d38).alias("s2"),
        F.sum((F.col("ju") * F.col("kv")).cast(d38)).cast(d38).alias("s11"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    s1d = F.col("s1").cast("double")
    return (
        mo.crossJoin(F.broadcast(nn))
        .select(
            "n_nodes",
            (F.col("m") / 2).cast("long").alias("n_edges"),
            F.round(
                (F.col("m") * F.col("s11").cast("double") - s1d * s1d)
                / (F.col("m") * F.col("s2").cast("double") - s1d * s1d),
                6,
            ).alias("assortativity"),
        )
    )


_X362_ORACLE = """
WITH src AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS s
  FROM src
),
caps AS (
  SELECT source, n_tokens, 4 * n_tokens AS cap,
         CAST(row_number() OVER (ORDER BY 4 * n_tokens, source)
              AS BIGINT) AS r,
         CAST(SUM(4 * n_tokens) OVER (ORDER BY 4 * n_tokens, source)
              AS BIGINT) AS p
  FROM src
),
bound AS (
  SELECT c.r, 2 * t.total - (c.p - c.cap) AS num, t.s - c.r + 1
           AS denom
  FROM caps c CROSS JOIN tot t
  WHERE c.cap * (t.s - c.r + 1) > 2 * t.total - (c.p - c.cap)
  ORDER BY c.r LIMIT 1
),
alloc AS (
  SELECT c.source, c.n_tokens, c.cap,
         CASE WHEN b.r IS NULL OR c.r < b.r THEN CAST(c.cap AS DOUBLE)
              ELSE b.num / CAST(b.denom AS DOUBLE) END AS a,
         CASE WHEN b.r IS NULL OR c.r < b.r THEN 1 ELSE 0
           END AS capped
  FROM caps c LEFT JOIN bound b ON 1 = 1
)
SELECT source, n_tokens, cap AS cap_tokens,
       ROUND(a, 2) AS alloc_tokens,
       ROUND(a / n_tokens, 4) AS epochs,
       capped
FROM alloc ORDER BY source
"""


@register(
    "x362_unimax_allocation",
    _X362_ORACLE,
    doc="UniMax training-mixture allocation (Chung et al. 2023 "
        "pattern, public): distribute a token budget B = 2x the "
        "corpus across sources as uniformly as possible subject to a "
        "4-epoch repetition cap per source -- small sources cap out, "
        "the rest split the remainder evenly (water-filling), the "
        "principled alternative to ad-hoc mixture weights that "
        "over-repeats rare sources (x128 measures mix drift; this "
        "PRESCRIBES the mix). The waterline solves in CLOSED FORM: "
        "sort by capacity, one prefix sum, the boundary is the first "
        "rank where cap*(remaining) > budget-consumed -- an exact "
        "INTEGER inequality, no float comparisons, no iteration; "
        "tau emerges as an exact rational num/denom divided once in "
        "DOUBLE. Scale: one corpus pass to the source-cardinality "
        "aggregate; windows and the boundary probe run on <=10 rows",
)
def x362_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_tokens")
    )
    tot = src.agg(
        F.sum("n_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("s"),
    )
    wr = Window.orderBy(F.col("cap"), F.col("source"))
    caps = src.withColumn("cap", 4 * F.col("n_tokens")).select(
        "source",
        "n_tokens",
        "cap",
        F.row_number().over(wr).cast("long").alias("r"),
        F.sum("cap")
        .over(wr.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("p"),
    )
    bound = (
        caps.crossJoin(F.broadcast(tot))
        .filter(
            F.col("cap") * (F.col("s") - F.col("r") + 1)
            > 2 * F.col("total") - (F.col("p") - F.col("cap"))
        )
        .select(
            F.col("r").alias("br"),
            (2 * F.col("total") - (F.col("p") - F.col("cap"))).alias("num"),
            (F.col("s") - F.col("r") + 1).alias("denom"),
        )
        .orderBy("br")
        .limit(1)
    )
    alloc = caps.join(F.broadcast(bound), F.lit(True), "left").select(
        "source",
        "n_tokens",
        "cap",
        F.when(
            F.col("br").isNull() | (F.col("r") < F.col("br")),
            F.col("cap").cast("double"),
        )
        .otherwise(F.col("num") / F.col("denom").cast("double"))
        .alias("a"),
        F.when(
            F.col("br").isNull() | (F.col("r") < F.col("br")), 1
        )
        .otherwise(0)
        .alias("capped"),
    )
    return alloc.select(
        "source",
        "n_tokens",
        F.col("cap").alias("cap_tokens"),
        F.round("a", 2).alias("alloc_tokens"),
        F.round(F.col("a") / F.col("n_tokens"), 4).alias("epochs"),
        "capped",
    ).orderBy("source")


_X363_ORACLE = """
WITH ov AS (
  SELECT CAST(FLOOR(o.o_totalprice / 100) AS BIGINT) AS v,
         c.c_mktsegment AS g
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
pv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_v
  FROM ov GROUP BY 1
),
cumv AS (
  SELECT v, n_v,
         CAST(SUM(n_v) OVER (ORDER BY v) - n_v AS BIGINT) AS cb
  FROM pv
),
pvg AS (
  SELECT v, g, CAST(count(*) AS BIGINT) AS n_vg
  FROM ov GROUP BY 1, 2
),
rg AS (
  SELECT p.g,
         CAST(SUM(p.n_vg) AS BIGINT) AS n_g,
         CAST(SUM(p.n_vg * (2 * c.cb + c.n_v + 1)) AS BIGINT) AS r2g
  FROM pvg p JOIN cumv c USING (v)
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_v) AS BIGINT) AS n,
         CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS ties
  FROM pv
),
hterm AS (
  SELECT g, n_g, r2g, t.n, t.ties,
         CAST(ROUND((r2g / 2.0) * (r2g / 2.0) / n_g, 6)
              AS DECIMAL(38,6)) AS rterm
  FROM rg CROSS JOIN tot t
),
h AS (
  SELECT MAX(n) AS n, MAX(ties) AS ties,
         CAST(count(*) AS BIGINT) AS k,
         ROUND(12.0 / (MAX(n) * (MAX(n) + 1.0))
               * CAST(SUM(rterm) AS DOUBLE)
               - 3.0 * (MAX(n) + 1), 6) AS h_raw
  FROM hterm
)
SELECT ht.g AS segment, ht.n_g,
       ROUND(ht.r2g / 2.0 / ht.n_g, 4) AS mean_rank,
       h.h_raw,
       ROUND(h.h_raw / (1.0 - h.ties
                        / (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)),
             6) AS h_tie_corrected,
       h.k - 1 AS df
FROM hterm ht CROSS JOIN h
ORDER BY ht.g
"""


@register(
    "x363_kruskal_wallis",
    _X363_ORACLE,
    doc="Kruskal-Wallis H across the 5 market segments on $100-binned "
        "order totals: the nonparametric k-group location test "
        "completing the inference suite (x286 Welch t is 2-group "
        "parametric, x349 Mann-Whitney is 2-group ranks; this is "
        "k-group ranks) -- 'do segments differ in order-value "
        "DISTRIBUTION' without normality assumptions. Binning makes "
        "the value domain bounded AND is stated as part of the test "
        "(ranks of binned values, deterministic); midranks stay "
        "exact integers via x349's 2*midrank = 2*cum_before + n_v + "
        "1 identity, per-group rank sums are exact BIGINTs, the "
        "R_g^2/n_g terms round 6 into DECIMAL before the order-free "
        "sum, tie correction sum(t^3-t) exact. Scale: two "
        "corpus-pass groupBys (value domain, value x group); the "
        "cumulative window rides the <=5000-row bin aggregate (x340 "
        "contract); everything after is group-cardinality arithmetic",
)
def x363_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ov = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.floor(F.col("o_totalprice") / 100).cast("long").alias("v"),
        F.col("c_mktsegment").alias("g"),
    )
    pv = ov.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("n_v"))
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cumv = pv.select(
        "v",
        "n_v",
        (F.sum("n_v").over(w) - F.col("n_v")).cast("long").alias("cb"),
    )
    pvg = ov.groupBy("v", "g").agg(
        F.count(F.lit(1)).cast("long").alias("n_vg")
    )
    rg = (
        pvg.join(cumv, "v")
        .groupBy("g")
        .agg(
            F.sum("n_vg").cast("long").alias("n_g"),
            F.sum(
                F.col("n_vg") * (2 * F.col("cb") + F.col("n_v") + 1)
            )
            .cast("long")
            .alias("r2g"),
        )
    )
    tot = pv.agg(
        F.sum("n_v").cast("long").alias("n"),
        F.sum(
            F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v")
        )
        .cast("long")
        .alias("ties"),
    )
    hterm = rg.crossJoin(F.broadcast(tot)).select(
        "g",
        "n_g",
        "r2g",
        "n",
        "ties",
        F.round(
            (F.col("r2g") / 2.0) * (F.col("r2g") / 2.0) / F.col("n_g"),
            6,
        )
        .cast("decimal(38,6)")
        .alias("rterm"),
    )
    h = hterm.agg(
        F.max("n").alias("n"),
        F.max("ties").alias("ties"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.round(
            F.lit(12.0)
            / (F.max("n") * (F.max("n") + F.lit(1.0)))
            * F.sum("rterm").cast("double")
            - 3.0 * (F.max("n") + 1),
            6,
        ).alias("h_raw"),
    )
    return (
        hterm.select("g", "n_g", "r2g")
        .crossJoin(F.broadcast(h))
        .select(
            F.col("g").alias("segment"),
            "n_g",
            F.round(F.col("r2g") / 2.0 / F.col("n_g"), 4).alias(
                "mean_rank"
            ),
            "h_raw",
            F.round(
                F.col("h_raw")
                / (
                    F.lit(1.0)
                    - F.col("ties")
                    / (
                        F.col("n").cast("double")
                        * F.col("n")
                        * F.col("n")
                        - F.col("n")
                    )
                ),
                6,
            ).alias("h_tie_corrected"),
            (F.col("k") - 1).alias("df"),
        )
        .orderBy("segment")
    )


def _x364_oracle() -> str:
    head = """WITH ex AS MATERIALIZED (
  SELECT vec_id,
         CAST(unnest(range(0, len(embedding))) AS BIGINT) AS i,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6)
              AS BIGINT) AS q
  FROM embeddings
),
sm AS MATERIALIZED (
  SELECT i, CAST(SUM(CAST(q AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS s
  FROM ex GROUP BY 1
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
pp AS MATERIALIZED (
  SELECT a.i AS ii, b.i AS jj,
         CAST(SUM(CAST(a.q AS DECIMAL(19,0))
                  * CAST(b.q AS DECIMAL(19,0))) AS DECIMAL(19,0))
           AS sqq
  FROM ex a JOIN ex b USING (vec_id)
  GROUP BY 1, 2
),
m AS MATERIALIZED (
  SELECT p.ii, p.jj,
         ROUND(CAST(CAST(t.n AS DECIMAL(19,0)) * p.sqq
                    - si.s * sj.s AS DOUBLE)
               / (t.n * (t.n - 1.0) * 1e12), 12) AS c
  FROM pp p
  JOIN sm si ON p.ii = si.i
  JOIN sm sj ON p.jj = sj.i
  CROSS JOIN nt t
),
v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS w FROM sm)"""
    steps = []
    prev = "v0"
    for it in (1, 2, 3):
        steps.append(f"""u{it} AS MATERIALIZED (
  SELECT m.ii AS i,
         CAST(SUM(CAST(ROUND(m.c * v.w, 12) AS DECIMAL(28,12)))
              AS DOUBLE) AS vu
  FROM m JOIN {prev} v ON m.jj = v.i
  GROUP BY 1
),
n{it} AS (
  SELECT sqrt(CAST(SUM(CAST(ROUND(vu * vu, 12) AS DECIMAL(28,12)))
              AS DOUBLE)) AS nrm
  FROM u{it}
),
v{it} AS MATERIALIZED (
  SELECT i, ROUND(vu / nrm, 12) AS w FROM u{it} CROSS JOIN n{it}
)""")
        prev = f"v{it}"
    tail = """tr AS (
  SELECT CAST(SUM(CAST(ROUND(c, 12) AS DECIMAL(28,12))) AS DOUBLE)
    AS trace
  FROM m WHERE ii = jj
)
SELECT v3.i AS dim, ROUND(v3.w, 6) AS loading,
       ROUND(n3.nrm, 6) AS top_eigenvalue,
       ROUND(n3.nrm / tr.trace, 6) AS explained_share
FROM v3 CROSS JOIN n3 CROSS JOIN tr
ORDER BY dim"""
    return head + ",\n" + ",\n".join(steps) + ",\n" + tail


@register(
    "x364_pca_power_iteration",
    _x364_oracle(),
    doc="FIXED-DEPTH (3-step) power-iteration sketch of the dominant "
        "principal direction of the embedding covariance -- the "
        "anisotropy audit of the embedding space: the Rayleigh "
        "readout (final iterate norm) is a LOWER bound on the top "
        "eigenvalue that converges at rate (l2/l1)^k, so "
        "explained_share near 1/d (as on this near-isotropic "
        "fixture, l2/l1=0.93 -- pytest-checked against numpy's full "
        "eigendecomposition) IS the diagnostic conclusion: no "
        "dominant direction, embedding dimensions carry balanced "
        "variance; on an anisotropic space (duplicated dims, "
        "collapsed encoder) the share spikes and the loadings name "
        "the direction. Depth is a parameter, fixed for oracle "
        "replay (x104's fixed-depth recipe): covariance "
        "entries from ONE corpus pass (per-doc coordinate pairs "
        "equi-joined on vec_id, micro-unit integer products "
        "DECIMAL-summed, scatter-matrix identity n*Sqq - Si*Sj kept "
        "exact to the single double division), then each iteration "
        "is a 4096x64 join + groupBy with round-12 DECIMAL "
        "contribution sums and an L2 renormalization -- x104's "
        "fixed-depth iterative recipe applied to a MATRIX instead "
        "of a graph. Top eigenvalue = final iterate norm (Rayleigh "
        "on the unit previous iterate), share = lambda/trace(C). "
        "Scale: corpus work is the coordinate explode (n*d rows) "
        "and the per-doc outer products (n*d^2 rows, one shuffle to "
        "d^2 cells); iterations touch only d^2-sized state -- "
        "independent of corpus size",
)
def x364_pca_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # rebalance the single-split embeddings scan BEFORE the checkpoint:
    # the checkpointed (vec_id, i, q) frame otherwise pins ONE partition
    # and the |dims|^2 self-join expansion below it runs in one task
    # (measured 2.8 s single-task CPU at sf0.1; no-op at real scale)
    ex = rebalanced(emb).select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
            )
        ).alias("i", "q"),
    ).localCheckpoint(eager=False)
    d19 = "decimal(19,0)"
    sm = ex.groupBy("i").agg(
        F.sum(F.col("q").cast(d19)).cast(d19).alias("s")
    )
    nt = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = ex.select("vec_id", F.col("i").alias("ii"), F.col("q").alias("qa"))
    b = ex.select("vec_id", F.col("i").alias("jj"), F.col("q").alias("qb"))
    pp = (
        a.join(b, "vec_id")
        .groupBy("ii", "jj")
        .agg(
            F.sum(F.col("qa").cast(d19) * F.col("qb").cast(d19))
            .cast(d19)
            .alias("sqq")
        )
    )
    m = (
        pp.join(
            F.broadcast(
                sm.select(F.col("i").alias("ii"), F.col("s").alias("si"))
            ),
            "ii",
        )
        .join(
            F.broadcast(
                sm.select(F.col("i").alias("jj"), F.col("s").alias("sj"))
            ),
            "jj",
        )
        .crossJoin(F.broadcast(nt))
        .select(
            "ii",
            "jj",
            F.round(
                (
                    F.col("n").cast(d19) * F.col("sqq")
                    - F.col("si") * F.col("sj")
                ).cast("double")
                / (F.col("n") * (F.col("n") - F.lit(1.0)) * F.lit(1e12)),
                12,
            ).alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    v = sm.select("i", F.lit(0.125).cast("double").alias("w"))
    nrm = None
    for _ in range(3):
        u = (
            m.join(F.broadcast(v), m.jj == v.i)
            .groupBy(F.col("ii").alias("i"))
            .agg(
                F.sum(
                    F.round(F.col("c") * F.col("w"), 12).cast(
                        "decimal(28,12)"
                    )
                )
                .cast("double")
                .alias("vu")
            )
        )
        nrm = u.agg(
            F.sqrt(
                F.sum(
                    F.round(F.col("vu") * F.col("vu"), 12).cast(
                        "decimal(28,12)"
                    )
                ).cast("double")
            ).alias("nrm")
        )
        v = u.crossJoin(F.broadcast(nrm)).select(
            "i", F.round(F.col("vu") / F.col("nrm"), 12).alias("w")
        )
    tr = m.filter(F.col("ii") == F.col("jj")).agg(
        F.sum(F.round("c", 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("trace")
    )
    return (
        v.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("i").alias("dim"),
            F.round("w", 6).alias("loading"),
            F.round("nrm", 6).alias("top_eigenvalue"),
            F.round(F.col("nrm") / F.col("trace"), 6).alias(
                "explained_share"
            ),
        )
        .orderBy("dim")
    )


_X365_ORACLE = """
WITH scored AS (
  SELECT source,
         CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
per AS (
  SELECT p_s, CAST(count(*) AS BIGINT) AS n_s,
         CAST(SUM(pos) AS BIGINT) AS pos_s
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(pos_s) AS BIGINT) AS n_pos FROM per
),
cum AS (
  SELECT p_s,
         CAST(SUM(pos_s) OVER (ORDER BY p_s DESC) AS BIGINT) AS tp,
         CAST(SUM(n_s) OVER (ORDER BY p_s DESC) AS BIGINT) AS pred_pos
  FROM per
),
thr AS (
  SELECT c.p_s AS t
  FROM cum c CROSS JOIN tot
  QUALIFY row_number() OVER (
    ORDER BY ROUND(2.0 * c.tp / (c.pred_pos + tot.n_pos), 8) DESC,
             c.p_s) = 1
),
grp AS (
  SELECT s.source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN s.p_s >= t.t THEN 1 ELSE 0 END)
           AS BIGINT) AS sel,
         CAST(SUM(s.pos) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN s.p_s >= t.t THEN s.pos ELSE 0 END)
           AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN s.p_s >= t.t AND s.pos = 0 THEN 1
                  ELSE 0 END) AS BIGINT) AS fp
  FROM scored s CROSS JOIN thr t
  GROUP BY 1
),
mx AS (
  SELECT MAX(ROUND(sel / CAST(n AS DOUBLE), 6)) AS max_rate FROM grp
)
SELECT g.source, g.n, g.sel,
       ROUND(g.sel / CAST(g.n AS DOUBLE), 6) AS selection_rate,
       ROUND(ROUND(g.sel / CAST(g.n AS DOUBLE), 6) / m.max_rate, 6)
         AS disparate_impact,
       ROUND(g.tp / CAST(g.n_pos AS DOUBLE), 6) AS tpr,
       ROUND(g.fp / CAST(g.n - g.n_pos AS DOUBLE), 6) AS fpr
FROM grp g CROSS JOIN mx m
ORDER BY g.source
""" % (_STOP_EN,)


@register(
    "x365_fairness_audit",
    _X365_ORACLE,
    doc="group-fairness audit of x315's scorer at x350's best-F1 "
        "operating point: per SOURCE, selection rate (demographic "
        "parity), disparate-impact ratio vs the most-selected group "
        "(the four-fifths-rule number), TPR and FPR (equalized "
        "odds) -- the bias readout every production quality filter "
        "needs BEFORE it gates a corpus (a filter whose selection "
        "rate collapses for one source silently rewrites the "
        "training mix x128/x362 manage). The threshold derives "
        "in-query from the same suffix-cumulative sweep as x350 "
        "(deterministic tie-break), so the audit is self-contained. "
        "Exact BIGINT confusion counts per group; divisions at "
        "output only. Scale: one corpus pass to the score-domain "
        "aggregate for the threshold + one pass to the "
        "source-cardinality confusion aggregate; the threshold "
        "rides a broadcast 1-row frame",
)
def x365_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        "source",
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    ).localCheckpoint(eager=False)
    per = scored.groupBy("p_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("pos").cast("long").alias("pos_s"),
    )
    tot = per.agg(F.sum("pos_s").cast("long").alias("n_pos"))
    wd = Window.orderBy(F.desc("p_s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "p_s",
        F.sum("pos_s").over(wd).cast("long").alias("tp"),
        F.sum("n_s").over(wd).cast("long").alias("pred_pos"),
    )
    wf = Window.orderBy(
        F.desc(
            F.round(
                2.0 * F.col("tp") / (F.col("pred_pos") + F.col("n_pos")),
                8,
            )
        ),
        "p_s",
    )
    thr = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select(F.col("p_s").alias("t"))
    )
    sel = F.when(F.col("p_s") >= F.col("t"), 1).otherwise(0)
    grp = (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(sel).cast("long").alias("sel"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum(F.when(F.col("p_s") >= F.col("t"), F.col("pos")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    (F.col("p_s") >= F.col("t")) & (F.col("pos") == 0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    rate = F.round(F.col("sel") / F.col("n").cast("double"), 6)
    mx = grp.agg(F.max(rate).alias("max_rate"))
    return (
        grp.crossJoin(F.broadcast(mx))
        .select(
            "source",
            "n",
            "sel",
            rate.alias("selection_rate"),
            F.round(rate / F.col("max_rate"), 6).alias("disparate_impact"),
            F.round(F.col("tp") / F.col("n_pos").cast("double"), 6).alias(
                "tpr"
            ),
            F.round(
                F.col("fp") / (F.col("n") - F.col("n_pos")).cast("double"),
                6,
            ).alias("fpr"),
        )
        .orderBy("source")
    )


_X366_ORACLE = """
WITH p AS (
  SELECT event_id AS pid, user_id, CAST(epoch_us(ts) AS BIGINT) AS pus
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id AS tid, user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS tus
  FROM events WHERE event_type IN ('view', 'click')
),
tc AS (
  SELECT p.pid, t.tid, t.event_type, t.tus
  FROM p JOIN t ON p.user_id = t.user_id
   AND t.tus <= p.pus AND t.tus > p.pus - 86400000000
),
k AS (
  SELECT pid, CAST(count(*) AS BIGINT) AS k FROM tc GROUP BY 1
),
fl AS (
  SELECT pid,
         MIN(ROW(tus, tid)) AS first_t,
         MAX(ROW(tus, tid)) AS last_t
  FROM tc GROUP BY 1
),
credit AS (
  SELECT 'linear' AS model, tc.event_type,
         CAST(ROUND(1.0 / k.k, 8) AS DECIMAL(28,8)) AS c
  FROM tc JOIN k USING (pid)
  UNION ALL
  SELECT 'first_touch', tc.event_type, CAST(1 AS DECIMAL(28,8))
  FROM tc JOIN fl USING (pid)
  WHERE ROW(tc.tus, tc.tid) = fl.first_t
  UNION ALL
  SELECT 'last_touch', tc.event_type, CAST(1 AS DECIMAL(28,8))
  FROM tc JOIN fl USING (pid)
  WHERE ROW(tc.tus, tc.tid) = fl.last_t
)
SELECT model, event_type AS touch_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       ROUND(CAST(SUM(c) AS DOUBLE), 4) AS credit
FROM credit GROUP BY 1, 2 ORDER BY model, touch_type
"""


@register(
    "x366_multitouch_attribution",
    _X366_ORACLE,
    doc="batch multi-touch conversion attribution: every purchase "
        "credits its same-user view/click touches from the trailing "
        "24 h under three industry models side by side -- linear "
        "(1/k to each touch), first-touch, last-touch -- rolled up "
        "by touch type: the marketing-analytics readout x103's "
        "stream join feeds (x103 proves the STREAM leg of "
        "view->purchase matching; this is the batch CREDIT "
        "assignment over all touch types and models at once). "
        "Determinism: linear credits round 8 into DECIMAL before "
        "the order-free sum; first/last picked by (ts, event_id) "
        "struct min/max so timestamp ties break on the id. Scale: "
        "ONE user-key interval join (touches partition by user, "
        "intervals bound state -- x103's shape), per-purchase k and "
        "first/last from one groupBy over the match table; no "
        "window over the corpus",
)
def x366_multitouch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("timestampdiff(MICROSECOND, timestamp '1970-01-01', ts)")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        us.alias("pus"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("t_user"),
        "event_type",
        us.alias("tus"),
    )
    tc = p.join(
        t,
        (p.user_id == t.t_user)
        & (F.col("tus") <= F.col("pus"))
        & (F.col("tus") > F.col("pus") - F.lit(86400000000)),
    ).select("pid", "tid", "event_type", "tus").localCheckpoint(
        eager=False
    )
    k = tc.groupBy("pid").agg(F.count(F.lit(1)).cast("long").alias("k"))
    fl = tc.groupBy("pid").agg(
        F.min(F.struct("tus", "tid")).alias("first_t"),
        F.max(F.struct("tus", "tid")).alias("last_t"),
    )
    lin = tc.join(k, "pid").select(
        F.lit("linear").alias("model"),
        "event_type",
        F.round(F.lit(1.0) / F.col("k"), 8)
        .cast("decimal(28,8)")
        .alias("c"),
    )
    ft = tc.join(fl, "pid").filter(
        F.struct("tus", "tid") == F.col("first_t")
    ).select(
        F.lit("first_touch").alias("model"),
        "event_type",
        F.lit(1).cast("decimal(28,8)").alias("c"),
    )
    lt = tc.join(fl, "pid").filter(
        F.struct("tus", "tid") == F.col("last_t")
    ).select(
        F.lit("last_touch").alias("model"),
        "event_type",
        F.lit(1).cast("decimal(28,8)").alias("c"),
    )
    return (
        lin.union(ft)
        .union(lt)
        .groupBy("model", F.col("event_type").alias("touch_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.round(F.sum("c").cast("double"), 4).alias("credit"),
        )
        .orderBy("model", "touch_type")
    )


_X367_ORACLE = """
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
         CAST(SUM(CASE WHEN o_orderdate IS NULL
                    OR o_orderdate < TIMESTAMP '1990-01-01'
                    OR o_orderdate >= TIMESTAMP '2006-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                    OR o_orderstatus IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS v_nullkey,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
           AS v_unique
  FROM orders
),
ref AS (
  SELECT CAST(count(*) AS BIGINT) AS v_ref
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
),
rules AS (
  SELECT 'custkey_not_null' AS rule, n, v_nullkey AS violations
    FROM base
  UNION ALL
  SELECT 'custkey_refs_customer', b.n, r.v_ref FROM base b, ref r
  UNION ALL
  SELECT 'orderdate_in_range', n, v_date FROM base
  UNION ALL
  SELECT 'orderkey_unique', n, v_unique FROM base
  UNION ALL
  SELECT 'status_accepted_values', n, v_status FROM base
  UNION ALL
  SELECT 'totalprice_positive', n, v_price FROM base
)
SELECT rule, n AS n_checked, violations,
       CASE WHEN violations = 0 THEN 1 ELSE 0 END AS pass
FROM rules ORDER BY rule
"""


@register(
    "x367_expectation_suite",
    _X367_ORACLE,
    doc="data-contract expectation suite over the orders feed (the "
        "Great-Expectations/dbt-test primitive as ONE query): range "
        "(totalprice > 0), domain (orderdate in the business "
        "window), accepted-values (status in O/F/P), not-null key, "
        "key UNIQUENESS (count minus distinct), and REFERENTIAL "
        "integrity to customer (anti-join count) -- each a named "
        "rule row with checked/violation counts and a pass flag, "
        "the machine-readable gate an ingestion pipeline evaluates "
        "before publishing a partition (the reference publishes "
        "blind; x54's quality rules score DOCUMENTS, this contracts "
        "the FEED). Scale: five of six rules fold into ONE "
        "conditional-aggregate corpus pass (x237's FILTER shape); "
        "uniqueness adds a distinct-count to the same pass; only "
        "referential integrity pays a join, and it is the "
        "key-distribution-friendly LEFT anti pattern",
)
def x367_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    base = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull()
                | (F.col("o_totalprice") <= 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_price"),
        F.sum(
            F.when(
                F.col("o_orderdate").isNull()
                | (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2006-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_date"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P")
                | F.col("o_orderstatus").isNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_status"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("v_nullkey"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("v_unique"),
    )
    ref = (
        orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("v_ref"))
    )
    b = base.crossJoin(F.broadcast(ref))

    def rule(name: str, col: str) -> DataFrame:
        return b.select(
            F.lit(name).alias("rule"),
            F.col("n").alias("n_checked"),
            F.col(col).alias("violations"),
        )

    rules = (
        rule("custkey_not_null", "v_nullkey")
        .union(rule("custkey_refs_customer", "v_ref"))
        .union(rule("orderdate_in_range", "v_date"))
        .union(rule("orderkey_unique", "v_unique"))
        .union(rule("status_accepted_values", "v_status"))
        .union(rule("totalprice_positive", "v_price"))
    )
    return rules.select(
        "rule",
        "n_checked",
        "violations",
        F.when(F.col("violations") == 0, 1).otherwise(0).alias("pass"),
    ).orderBy("rule")


_X368_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST((epoch_us(max(ts)) - epoch_us(min(ts)))
              // 3600000000 AS BIGINT) AS lt,
         CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
  FROM events GROUP BY 1
),
mx AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS max_us FROM events),
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
na AS (
  SELECT lt, deaths, at_risk,
         SUM(CAST(ROUND(CAST(deaths AS DOUBLE) / at_risk, 12)
             AS DECIMAL(28,12)))
           OVER (ORDER BY lt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS h,
         SUM(CAST(ROUND(CAST(deaths AS DOUBLE)
                        / (CAST(at_risk AS DOUBLE) * at_risk), 12)
             AS DECIMAL(28,12)))
           OVER (ORDER BY lt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS hv
  FROM r WHERE deaths > 0
)
SELECT lt AS lt_hours, at_risk, deaths,
       ROUND(CAST(h AS DOUBLE), 6) AS cum_hazard,
       ROUND(CAST(hv AS DOUBLE), 8) AS hazard_var,
       ROUND(exp(-CAST(h AS DOUBLE)), 4) AS survival_fh
FROM na ORDER BY lt_hours
"""


@register(
    "x368_nelson_aalen",
    _X368_ORACLE,
    doc="Nelson-Aalen cumulative hazard over x305's censored "
        "engagement lifetimes: H(t) = sum d_i/n_i with the Poisson "
        "variance sum d_i/n_i^2 and the Fleming-Harrington survival "
        "exp(-H) -- the hazard-scale twin of Kaplan-Meier (KM "
        "multiplies survival factors, NA sums hazard increments; FH "
        "is the small-sample-stabler curve, and H(t) itself is the "
        "input to hazard-ratio eyeballing). Same censoring rule, "
        "exact integer-microsecond lifetimes, same descending "
        "at-risk window; per-step d/n terms round 12 into "
        "DECIMAL(28,12) cumulative sums (x305's recipe), exp last. "
        "Scale: one user groupBy + windows over the "
        "lifetime-cardinality aggregate (x81 contract)",
)
def x368_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
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
    wdesc = Window.orderBy(F.desc("lt")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = d.select(
        "lt",
        "deaths",
        F.sum("ending").over(wdesc).cast("long").alias("at_risk"),
    )
    wasc = Window.orderBy("lt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    na = r.filter(F.col("deaths") > 0).select(
        "lt",
        "deaths",
        "at_risk",
        F.sum(
            F.round(
                F.col("deaths").cast("double") / F.col("at_risk"), 12
            ).cast("decimal(28,12)")
        )
        .over(wasc)
        .alias("h"),
        F.sum(
            F.round(
                F.col("deaths").cast("double")
                / (F.col("at_risk").cast("double") * F.col("at_risk")),
                12,
            ).cast("decimal(28,12)")
        )
        .over(wasc)
        .alias("hv"),
    )
    return na.select(
        F.col("lt").alias("lt_hours"),
        "at_risk",
        "deaths",
        F.round(F.col("h").cast("double"), 6).alias("cum_hazard"),
        F.round(F.col("hv").cast("double"), 8).alias("hazard_var"),
        F.round(F.exp(-F.col("h").cast("double")), 4).alias(
            "survival_fh"
        ),
    ).orderBy("lt_hours")


def _x369_oracle() -> str:
    head = """WITH cells AS MATERIALIZED (
  SELECT n.n_name AS r, c.c_mktsegment AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
dims AS (
  SELECT CAST((SELECT count(DISTINCT r) FROM cells) AS BIGINT) AS nr,
         CAST((SELECT count(DISTINCT s) FROM cells) AS BIGINT) AS ns,
         CAST((SELECT SUM(n) FROM cells) AS BIGINT) AS tot
),
w0 AS (SELECT r, s, n, CAST(1.0 AS DOUBLE) AS w FROM cells)"""
    steps = []
    prev = "w0"
    for it in (1, 2):
        steps.append(f"""rm{it} AS MATERIALIZED (
  SELECT r,
         CAST(SUM(CAST(ROUND(n * w, 12) AS DECIMAL(28,12)))
              AS DOUBLE) AS rowsum
  FROM {prev} GROUP BY 1
),
wr{it} AS MATERIALIZED (
  SELECT p.r, p.s, p.n,
         ROUND(p.w * (d.tot / CAST(d.nr AS DOUBLE)) / m.rowsum, 12)
           AS w
  FROM {prev} p JOIN rm{it} m USING (r) CROSS JOIN dims d
),
cm{it} AS MATERIALIZED (
  SELECT s,
         CAST(SUM(CAST(ROUND(n * w, 12) AS DECIMAL(28,12)))
              AS DOUBLE) AS colsum
  FROM wr{it} GROUP BY 1
),
w{it} AS MATERIALIZED (
  SELECT p.r, p.s, p.n,
         ROUND(p.w * (d.tot / CAST(d.ns AS DOUBLE)) / m.colsum, 12)
           AS w
  FROM wr{it} p JOIN cm{it} m USING (s) CROSS JOIN dims d
)""")
        prev = f"w{it}"
    tail = """err AS (
  SELECT CAST(MAX(ABS(rowdev)) AS DOUBLE) AS max_row_dev FROM (
    SELECT r,
           CAST(SUM(CAST(ROUND(n * w, 12) AS DECIMAL(28,12)))
                AS DOUBLE)
           / MAX(d.tot / CAST(d.nr AS DOUBLE)) - 1.0 AS rowdev
    FROM w2 CROSS JOIN dims d GROUP BY r
  ) q
)
SELECT w2.r AS nation, w2.s AS segment, w2.n,
       ROUND(w2.w, 6) AS weight,
       ROUND(CAST(ROUND(w2.n * w2.w, 12) AS DOUBLE), 4)
         AS weighted_n,
       ROUND(e.max_row_dev, 6) AS max_row_dev
FROM w2 CROSS JOIN err e
ORDER BY nation, segment"""
    return head + ",\n" + ",\n".join(steps) + ",\n" + tail


@register(
    "x369_ipf_raking",
    _x369_oracle(),
    doc="iterative proportional fitting (raking) of the nation x "
        "segment customer contingency toward UNIFORM row and column "
        "margins, 2 fixed rounds -- the survey-weighting / "
        "dataset-reweighting primitive (make a skewed corpus match "
        "target marginals by CELL WEIGHTS instead of resampling; "
        "x348 resamples rows, this reweights strata -- the two "
        "standard distribution-matching levers). Each round is one "
        "margin groupBy + one rescale join per axis over the "
        "cell-cardinality table (x104's fixed-depth recipe on a "
        "CONTINGENCY table); weighted masses round 12 into DECIMAL "
        "before every margin sum, weights re-round 12 per rescale "
        "so both engines iterate on identical state; the residual "
        "row-margin deviation after the final COLUMN fit is "
        "reported (the convergence diagnostic). Scale: the corpus "
        "collapses to nation x segment cells in ONE pass; "
        "everything after is 125-row arithmetic",
)
def x369_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cells = (
        cust.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            cust.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("r"), F.col("c_mktsegment").alias("s"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    dims = cells.agg(
        F.countDistinct("r").cast("long").alias("nr"),
        F.countDistinct("s").cast("long").alias("ns"),
        F.sum("n").cast("long").alias("tot"),
    )
    w = cells.withColumn("w", F.lit(1.0).cast("double"))
    mass = lambda: F.sum(
        F.round(F.col("n") * F.col("w"), 12).cast("decimal(28,12)")
    ).cast("double")
    for _ in range(2):
        rm = w.groupBy("r").agg(mass().alias("rowsum"))
        w = (
            w.join(F.broadcast(rm), "r")
            .crossJoin(F.broadcast(dims))
            .select(
                "r",
                "s",
                "n",
                F.round(
                    F.col("w")
                    * (F.col("tot") / F.col("nr").cast("double"))
                    / F.col("rowsum"),
                    12,
                ).alias("w"),
            )
        )
        cm = w.groupBy("s").agg(mass().alias("colsum"))
        w = (
            w.join(F.broadcast(cm), "s")
            .crossJoin(F.broadcast(dims))
            .select(
                "r",
                "s",
                "n",
                F.round(
                    F.col("w")
                    * (F.col("tot") / F.col("ns").cast("double"))
                    / F.col("colsum"),
                    12,
                ).alias("w"),
            )
        )
    err = (
        w.crossJoin(F.broadcast(dims))
        .groupBy("r")
        .agg(
            (
                mass()
                / F.max(F.col("tot") / F.col("nr").cast("double"))
                - F.lit(1.0)
            ).alias("rowdev")
        )
        .agg(F.max(F.abs(F.col("rowdev"))).alias("max_row_dev"))
    )
    return (
        w.crossJoin(F.broadcast(err))
        .select(
            F.col("r").alias("nation"),
            F.col("s").alias("segment"),
            "n",
            F.round("w", 6).alias("weight"),
            F.round(
                F.round(F.col("n") * F.col("w"), 12).cast("double"), 4
            ).alias("weighted_n"),
            F.round("max_row_dev", 6).alias("max_row_dev"),
        )
        .orderBy("nation", "segment")
    )


_X370_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST((epoch_us(max(ts)) - epoch_us(min(ts)))
              // 3600000000 AS BIGINT) AS lt,
         CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                          1, 4) < '8000'
              THEN 1 ELSE 0 END AS g
  FROM events GROUP BY 1
),
mx AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS max_us FROM events),
lab AS (
  SELECT lt, g,
         CASE WHEN mx.max_us - last_us > 86400000000
              THEN 1 ELSE 0 END AS observed
  FROM u, mx
),
d AS (
  SELECT lt, g, CAST(SUM(observed) AS BIGINT) AS deaths,
         CAST(count(*) AS BIGINT) AS ending
  FROM lab GROUP BY 1, 2
),
lts AS (SELECT DISTINCT lt FROM d),
grid AS (
  SELECT lts.lt, gg.g
  FROM lts CROSS JOIN (SELECT 0 AS g UNION ALL SELECT 1) gg
),
f AS (
  SELECT grid.lt, grid.g,
         COALESCE(d.deaths, 0) AS deaths,
         COALESCE(d.ending, 0) AS ending
  FROM grid LEFT JOIN d USING (lt, g)
),
r AS (
  SELECT lt, g, deaths,
         CAST(SUM(ending) OVER (PARTITION BY g ORDER BY lt DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS at_risk
  FROM f
),
t AS (
  SELECT lt,
         CAST(SUM(deaths) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN g = 1 THEN deaths ELSE 0 END)
           AS BIGINT) AS d1,
         CAST(SUM(at_risk) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN g = 1 THEN at_risk ELSE 0 END)
           AS BIGINT) AS n1
  FROM r GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(d - d1) AS BIGINT) AS o0,
         CAST(SUM(CAST(ROUND(d * (n1 / CAST(n AS DOUBLE)), 12)
                  AS DECIMAL(28,12))) AS DECIMAL(28,12)) AS e1,
         CAST(SUM(CASE WHEN n > 1 THEN
                  CAST(ROUND(d * (n1 / CAST(n AS DOUBLE))
                             * (1.0 - n1 / CAST(n AS DOUBLE))
                             * (n - d) / (n - 1.0), 12)
                  AS DECIMAL(28,12)) END) AS DECIMAL(28,12)) AS v
  FROM t WHERE d > 0
)
SELECT o1, o0,
       ROUND(CAST(e1 AS DOUBLE), 4) AS e1,
       ROUND(CAST(o1 + o0 - e1 AS DOUBLE), 4) AS e0,
       ROUND((o1 - CAST(e1 AS DOUBLE)) * (o1 - CAST(e1 AS DOUBLE))
             / CAST(v AS DOUBLE), 4) AS chi2,
       1 AS df
FROM agg
"""


@register(
    "x370_logrank_test",
    _X370_ORACLE,
    doc="log-rank test comparing engagement-lifetime survival between "
        "x303's treatment arms (same censoring rule as x305/x368): "
        "at every pooled event time, observed group-1 deaths vs the "
        "hypergeometric expectation d*n1/n and variance "
        "d*(n1/n)(1-n1/n)(n-d)/(n-1); chi2 = (O1-E1)^2/V with df=1 "
        "-- THE standard two-curve comparison (KM draws the curves, "
        "this tests them; completes the survival suite and welds it "
        "to the experiment suite: 'did treatment change churn "
        "TIMING', which mean-based uplift x303 can't see). Exact "
        "machinery: per-group at-risk from one PARTITIONed "
        "descending window over the (lifetime x group) grid "
        "(zero-filled so cumulative counts stay aligned), O/E/V "
        "terms round 12 into DECIMAL sums, two divisions at output. "
        "Scale: one user groupBy; windows and the grid ride the "
        "lifetime-cardinality aggregate (x81 contract)",
)
def x370_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    g = F.when(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab"))),
            1,
            4,
        )
        < "8000",
        1,
    ).otherwise(0)
    u = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.min("ts").alias("first_ts"),
    ).select(
        F.expr(
            "CAST(timestampdiff(MICROSECOND, first_ts, last_ts) "
            "DIV 3600000000 AS BIGINT)"
        ).alias("lt"),
        "last_ts",
        g.alias("g"),
    )
    mx = ev.agg(F.max("ts").alias("max_ts"))
    lab = u.crossJoin(F.broadcast(mx)).select(
        "lt",
        "g",
        F.when(
            F.expr("timestampdiff(MICROSECOND, last_ts, max_ts)")
            > F.lit(86400000000),
            1,
        )
        .otherwise(0)
        .alias("observed"),
    )
    d = lab.groupBy("lt", "g").agg(
        F.sum("observed").cast("long").alias("deaths"),
        F.count(F.lit(1)).cast("long").alias("ending"),
    )
    lts = d.select("lt").distinct()
    gg = lts.sparkSession.range(0, 2).select(
        F.col("id").cast("int").alias("g")
    )
    grid = lts.crossJoin(F.broadcast(gg))
    f = grid.join(d, ["lt", "g"], "left").select(
        "lt",
        "g",
        F.coalesce(F.col("deaths"), F.lit(0)).cast("long").alias("deaths"),
        F.coalesce(F.col("ending"), F.lit(0)).cast("long").alias("ending"),
    )
    wdesc = (
        Window.partitionBy("g")
        .orderBy(F.desc("lt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = f.select(
        "lt",
        "g",
        "deaths",
        F.sum("ending").over(wdesc).cast("long").alias("at_risk"),
    )
    t = r.groupBy("lt").agg(
        F.sum("deaths").cast("long").alias("d"),
        F.sum(F.when(F.col("g") == 1, F.col("deaths")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum("at_risk").cast("long").alias("n"),
        F.sum(F.when(F.col("g") == 1, F.col("at_risk")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    frac = F.col("n1") / F.col("n").cast("double")
    agg = t.filter(F.col("d") > 0).agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.col("d") - F.col("d1")).cast("long").alias("o0"),
        F.sum(
            F.round(F.col("d") * frac, 12).cast("decimal(28,12)")
        )
        .cast("decimal(28,12)")
        .alias("e1"),
        F.sum(
            F.when(
                F.col("n") > 1,
                F.round(
                    F.col("d")
                    * frac
                    * (F.lit(1.0) - frac)
                    * (F.col("n") - F.col("d"))
                    / (F.col("n") - F.lit(1.0)),
                    12,
                ).cast("decimal(28,12)"),
            )
        )
        .cast("decimal(28,12)")
        .alias("v"),
    )
    e1d = F.col("e1").cast("double")
    return agg.select(
        "o1",
        "o0",
        F.round(e1d, 4).alias("e1"),
        F.round((F.col("o1") + F.col("o0")).cast("double") - e1d, 4).alias(
            "e0"
        ),
        F.round(
            (F.col("o1") - e1d)
            * (F.col("o1") - e1d)
            / F.col("v").cast("double"),
            4,
        ).alias("chi2"),
        F.lit(1).alias("df"),
    )


_X371_ORACLE = """
WITH scored AS (
  SELECT CAST(FLOOR(ROUND(CAST(len(list_filter(
                string_split(lower(text), ' '),
                t -> t IN (%s))) AS DOUBLE)
              / len(string_split(lower(text), ' ')), 4)
              * 10000 + 0.5) AS BIGINT) AS p_s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents
),
per AS (
  SELECT p_s, CAST(count(*) AS BIGINT) AS n_s,
         CAST(SUM(pos) AS BIGINT) AS pos_s
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(pos_s) AS BIGINT) AS n_pos,
         CAST(SUM(n_s - pos_s) AS BIGINT) AS n_neg
  FROM per
),
cum AS (
  SELECT p_s, pos_s,
         CAST(SUM(pos_s) OVER (ORDER BY p_s DESC) AS BIGINT) AS tp,
         CAST(SUM(n_s) OVER (ORDER BY p_s DESC) AS BIGINT) AS pred
  FROM per
),
ap AS (
  SELECT CAST(SUM(CAST(ROUND(
           (c.pos_s / CAST(t.n_pos AS DOUBLE))
           * (c.tp / CAST(c.pred AS DOUBLE)), 10)
           AS DECIMAL(28,10))) AS DECIMAL(28,10)) AS ap
  FROM cum c CROSS JOIN tot t WHERE c.pos_s > 0
)
SELECT t.n_pos, t.n_neg,
       ROUND(CAST(a.ap AS DOUBLE), 6) AS average_precision,
       ROUND(t.n_pos / CAST(t.n_pos + t.n_neg AS DOUBLE), 6)
         AS prevalence
FROM ap a CROSS JOIN tot t
""" % _STOP_EN


@register(
    "x371_average_precision",
    _X371_ORACLE,
    doc="average precision (area under the precision-recall curve, "
        "step form: AP = sum_k dR_k * P_k, sklearn's "
        "interpolation-free definition) for x315's scorer -- the "
        "imbalance-honest companion to x349's ROC AUC (ROC flatters "
        "a scorer when negatives dominate; AP compares against the "
        "prevalence baseline -- the random scorer's expectation, "
        "reported alongside; an anti-correlated scorer lands BELOW "
        "it, as this fixture's does). Rides the SAME "
        "suffix-cumulative score-domain machinery as x350: each "
        "distinct score contributes recall-gain x precision as an "
        "exact-integer ratio product, rounded 10 into DECIMAL "
        "before the order-free sum. Scale: one corpus pass to the "
        "<=10001-row score aggregate, one window, one 1-row "
        "aggregate",
)
def x371_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    p_s = F.floor(
        text.stop_ratio_column("text") * 10000 + F.lit(0.5)
    ).cast("long")
    scored = docs.select(
        p_s.alias("p_s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per = scored.groupBy("p_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("pos").cast("long").alias("pos_s"),
    )
    tot = per.agg(
        F.sum("pos_s").cast("long").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("pos_s")).cast("long").alias("n_neg"),
    )
    wd = Window.orderBy(F.desc("p_s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "p_s",
        "pos_s",
        F.sum("pos_s").over(wd).cast("long").alias("tp"),
        F.sum("n_s").over(wd).cast("long").alias("pred"),
    )
    ap = (
        cum.filter(F.col("pos_s") > 0)
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    (F.col("pos_s") / F.col("n_pos").cast("double"))
                    * (F.col("tp") / F.col("pred").cast("double")),
                    10,
                ).cast("decimal(28,10)")
            )
            .cast("decimal(28,10)")
            .alias("ap")
        )
    )
    return ap.crossJoin(F.broadcast(tot)).select(
        "n_pos",
        "n_neg",
        F.round(F.col("ap").cast("double"), 6).alias("average_precision"),
        F.round(
            F.col("n_pos")
            / (F.col("n_pos") + F.col("n_neg")).cast("double"),
            6,
        ).alias("prevalence"),
    )


_X372_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         CASE WHEN label < 5 THEN 'a' ELSE 'b' END AS grp
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 10),
d AS (
  SELECT e.vec_id, e.grp, c.cid,
         ROUND(list_dot_product(e.v, e.v)
               - 2 * list_dot_product(e.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM e CROSS JOIN c
),
md AS (SELECT vec_id, min(d2) AS mind FROM d GROUP BY 1),
asg AS (
  SELECT d.vec_id, min(d.grp) AS grp, min(d.cid) AS cid
  FROM d JOIN md ON d.vec_id = md.vec_id AND d.d2 = md.mind
  GROUP BY 1
),
h AS (
  SELECT cid,
         CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b
  FROM asg GROUP BY 1
),
tt AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
         CAST(SUM(n_b) AS BIGINT) AS tb
  FROM h
),
terms AS (
  SELECT h.cid, h.n_a, h.n_b,
         h.n_a / CAST(t.ta AS DOUBLE) AS p,
         h.n_b / CAST(t.tb AS DOUBLE) AS q
  FROM h CROSS JOIN tt t
),
js AS (
  SELECT CAST(SUM(CAST(ROUND(
           CASE WHEN p > 0
                THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END
           + CASE WHEN q > 0
                  THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END,
           12) AS DECIMAL(28,12))) AS DECIMAL(28,12)) AS js
  FROM terms
)
SELECT t.cid, t.n_a, t.n_b,
       ROUND(t.p, 6) AS share_a, ROUND(t.q, 6) AS share_b,
       ROUND(CAST(j.js AS DOUBLE), 6) AS js_divergence
FROM terms t CROSS JOIN js j
ORDER BY t.cid
"""


@register(
    "x372_embedding_js_divergence",
    _X372_ORACLE,
    doc="Jensen-Shannon divergence between two corpus halves (label "
        "< 5 vs >= 5) IN EMBEDDING SPACE: both groups' vectors "
        "assign to x341's deterministic seed centroids (same "
        "round-6 distance + min-cid tie-break), and JS compares the "
        "two cluster-occupancy histograms -- the semantic "
        "drift/domain-shift number x250's schema drift and x128's "
        "source-mix KL cannot see (two sources can have identical "
        "metadata yet live in different embedding regions; this is "
        "the MAUVE-style discretize-then-diverge recipe in exact "
        "arithmetic). Per-cell ln terms round 12 into the order-"
        "free DECIMAL sum; zero cells contribute 0 by the 0*ln0 "
        "convention; JS is symmetric and bounded by ln 2 -- both "
        "ends pytest-pinned. Scale: centroids broadcast, assignment "
        "map-side, histograms are k-cell aggregates",
)
def x372_embedding_js_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
        F.when(F.col("label") < 5, "a").otherwise("b").alias("grp"),
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
        "grp",
        "cid",
        F.round(
            dot(F.col("v"), F.col("v"))
            - 2 * dot(F.col("v"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
            6,
        ).alias("d2"),
    )
    asg = d.groupBy("vec_id").agg(
        F.min("grp").alias("grp"),
        F.min(F.struct("d2", "cid")).getField("cid").alias("cid"),
    )
    h = asg.groupBy("cid").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    tt = h.agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
    )
    terms = h.crossJoin(F.broadcast(tt)).select(
        "cid",
        "n_a",
        "n_b",
        (F.col("n_a") / F.col("ta").cast("double")).alias("p"),
        (F.col("n_b") / F.col("tb").cast("double")).alias("q"),
    )
    mmid = (F.col("p") + F.col("q")) / 2
    term = F.when(
        F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / mmid)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / mmid)
    ).otherwise(F.lit(0.0))
    js = terms.agg(
        F.sum(F.round(term, 12).cast("decimal(28,12)"))
        .cast("decimal(28,12)")
        .alias("js")
    )
    return (
        terms.crossJoin(F.broadcast(js))
        .select(
            "cid",
            "n_a",
            "n_b",
            F.round("p", 6).alias("share_a"),
            F.round("q", 6).alias("share_b"),
            F.round(F.col("js").cast("double"), 6).alias("js_divergence"),
        )
        .orderBy("cid")
    )


_X373_ORACLE = """
WITH k AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           AS BIGINT) AS nv,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS np
  FROM events GROUP BY 1
),
act AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(SUM(nv * np) AS BIGINT) AS predicted_pairs
  FROM k WHERE nv > 0 AND np > 0
),
samp AS (
  SELECT CAST(count(*) AS BIGINT) AS sampled_keys,
         CAST(COALESCE(SUM(nv * np), 0) * 64 AS BIGINT)
           AS sample_estimate
  FROM k
  WHERE nv > 0 AND np > 0
    AND substr(md5(CAST(user_id AS VARCHAR) || ':cbo'), 1, 2) < '04'
)
SELECT a.n_keys, a.predicted_pairs, s.sampled_keys,
       s.sample_estimate,
       ROUND(ABS(s.sample_estimate - a.predicted_pairs)
             / CAST(a.predicted_pairs AS DOUBLE), 4) AS rel_error
FROM act a CROSS JOIN samp s
"""


@register(
    "x373_join_size_estimation",
    _X373_ORACLE,
    doc="join-cardinality estimation audit -- the cost-based-"
        "optimizer primitive made measurable: the view x purchase "
        "self-join's output size computed EXACTLY from one key-"
        "histogram pass (sum over users of views*purchases -- the "
        "join never materializes: at 100 TB you size the shuffle "
        "BEFORE paying it), beside the 1/64 key-sample estimate "
        "(md5 bucket, the deterministic stand-in for CBO's sampled "
        "statistics) with its realized relative error -- the number "
        "that tells you how much to trust sampled stats on a skewed "
        "key distribution (x108's Gini says skew exists; this "
        "prices what skew does to estimation). All exact BIGINTs; "
        "one corpus groupBy, two 1-row aggregates. The pytest gate "
        "materializes the join at sf0.001 and confirms the "
        "histogram identity",
)
def x373_join_size_estimation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("nv"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("np"),
    ).filter((F.col("nv") > 0) & (F.col("np") > 0))
    act = k.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("nv") * F.col("np"))
        .cast("long")
        .alias("predicted_pairs"),
    )
    samp = k.filter(
        F.substring(
            F.md5(
                F.concat(F.col("user_id").cast("string"), F.lit(":cbo"))
            ),
            1,
            2,
        )
        < "04"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("sampled_keys"),
        (F.coalesce(F.sum(F.col("nv") * F.col("np")), F.lit(0)) * 64)
        .cast("long")
        .alias("sample_estimate"),
    )
    return act.crossJoin(F.broadcast(samp)).select(
        "n_keys",
        "predicted_pairs",
        "sampled_keys",
        "sample_estimate",
        F.round(
            F.abs(F.col("sample_estimate") - F.col("predicted_pairs"))
            / F.col("predicted_pairs").cast("double"),
            4,
        ).alias("rel_error"),
    )


_X374_ORACLE = """
WITH t AS (
  SELECT doc_id, source, lower(text) AS lt,
         CAST(length(lower(text)) AS BIGINT) AS len
  FROM documents
),
g AS (
  SELECT doc_id, (p).pos AS pos, (p).g AS gram
  FROM t, LATERAL (
    SELECT unnest(list_transform(range(1, len - 28),
             i -> struct_pack(pos := i, g := substr(lt, i, 30)))) AS p
  )
  WHERE len >= 30
),
rep AS (
  SELECT gram FROM g GROUP BY 1
  HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT g.doc_id, g.pos FROM g JOIN rep USING (gram)
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + 29) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -1)
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
grp AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM isl
),
spans AS (
  SELECT doc_id, isl_id,
         MIN(pos) AS s, MAX(pos) + 29 AS e
  FROM grp GROUP BY 1, 2
),
per_doc AS (
  SELECT t.doc_id, t.source, t.len,
         CAST(COALESCE(SUM(sp.e - sp.s + 1), 0) AS BIGINT) AS dup_chars
  FROM t LEFT JOIN spans sp ON t.doc_id = sp.doc_id
  GROUP BY 1, 2, 3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN dup_chars > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_dup,
       CAST(SUM(dup_chars) AS BIGINT) AS total_dup_chars,
       ROUND(CAST(SUM(CAST(ROUND(dup_chars / CAST(len AS DOUBLE), 6)
                  AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
         AS mean_dup_fraction
FROM per_doc GROUP BY 1 ORDER BY source
"""


@register(
    "x374_substring_dedup_spans",
    _X374_ORACLE,
    doc="exact-substring duplication audit (the Lee et al. 2022 "
        "'Deduplicating Training Data' METHOD family, public): "
        "character 30-grams repeated across >= 2 DISTINCT documents "
        "mark duplicated spans; per doc, overlapping hits merge "
        "into maximal islands (x149's interval-island recipe, "
        "per-doc windows) and the duplicated-character fraction "
        "rolls up per source -- catches the copied PARAGRAPH inside "
        "otherwise-distinct documents that whole-doc hashing (x01) "
        "and shingle Jaccard (x03) both miss, which is exactly the "
        "memorization-risk span a substring dedup pass would CUT. "
        "Determinism: island merging is exact integer position "
        "arithmetic; per-doc fractions round 6 into DECIMAL before "
        "the source mean. Scale: the gram explode is corpus-chars-"
        "sized (the price every suffix-array method pays once), the "
        "repeated-gram filter is one groupBy with an early "
        "HAVING, hits re-join on the gram equi-key, and islands "
        "need only per-doc windows -- per-key parallel, no "
        "corpus-wide sort. Short docs (< 30 chars) are span-free by "
        "construction (the sequence guard x274 documents)",
)
def x374_substring_dedup_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.lower(F.col("text")).alias("lt"),
        F.length(F.lower(F.col("text"))).cast("long").alias("len"),
    ).localCheckpoint(eager=False)
    lt = F.col("lt")
    g = (
        t.filter(F.col("len") >= 30)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("len") - 29),
                    lambda i: F.struct(
                        i.alias("pos"),
                        lt.substr(i, F.lit(30)).alias("g"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.pos").alias("pos"), F.col("p.g").alias("gram"))
    )
    rep = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = g.join(rep, "gram").select("doc_id", "pos")
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = hits.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + 29).over(wprev), F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = isl.select(
        "doc_id",
        "pos",
        F.sum("new_island").over(wrun).alias("isl_id"),
    )
    spans = grp.groupBy("doc_id", "isl_id").agg(
        F.min("pos").alias("s"), (F.max("pos") + 29).alias("e")
    )
    per_doc = (
        t.join(spans, "doc_id", "left")
        .groupBy("doc_id", "source", "len")
        .agg(
            F.coalesce(F.sum(F.col("e") - F.col("s") + 1), F.lit(0))
            .cast("long")
            .alias("dup_chars")
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("dup_chars") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_with_dup"),
            F.sum("dup_chars").cast("long").alias("total_dup_chars"),
            F.round(
                F.sum(
                    F.round(
                        F.col("dup_chars") / F.col("len").cast("double"),
                        6,
                    ).cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_dup_fraction"),
        )
        .orderBy("source")
    )


def _x375_hex3_sql(col: str, salt: str) -> str:
    """DuckDB: last-3-hex-chars of md5(col || salt) as 0..4095 via
    strpos position math (no conv() in DuckDB -- x312's recipe)."""
    h = f"md5(CAST({col} AS VARCHAR) || '{salt}')"
    d = "'0123456789abcdef'"
    return (
        f"((strpos({d}, substr({h}, 30, 1)) - 1) * 256"
        f" + (strpos({d}, substr({h}, 31, 1)) - 1) * 16"
        f" + (strpos({d}, substr({h}, 32, 1)) - 1))"
    )


_X375_ORACLE = f"""
WITH rows_h AS (
  SELECT user_id,
         {_x375_hex3_sql('user_id', ':cm0')} % 1024 AS c0,
         {_x375_hex3_sql('user_id', ':cm1')} % 1024 AS c1,
         {_x375_hex3_sql('user_id', ':cm2')} % 1024 AS c2,
         {_x375_hex3_sql('user_id', ':cm3')} % 1024 AS c3
  FROM events
),
cms AS (
  SELECT j, cell, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT 0 AS j, c0 AS cell FROM rows_h
    UNION ALL SELECT 1, c1 FROM rows_h
    UNION ALL SELECT 2, c2 FROM rows_h
    UNION ALL SELECT 3, c3 FROM rows_h
  ) q GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         MIN(c0) AS c0, MIN(c1) AS c1, MIN(c2) AS c2, MIN(c3) AS c3
  FROM rows_h GROUP BY user_id
  ORDER BY n DESC, user_id LIMIT 20
),
est AS (
  SELECT e.user_id, e.n,
         LEAST(m0.cnt, m1.cnt, m2.cnt, m3.cnt) AS estimate
  FROM exact e
  JOIN cms m0 ON m0.j = 0 AND m0.cell = e.c0
  JOIN cms m1 ON m1.j = 1 AND m1.cell = e.c1
  JOIN cms m2 ON m2.j = 2 AND m2.cell = e.c2
  JOIN cms m3 ON m3.j = 3 AND m3.cell = e.c3
)
SELECT user_id, n AS exact_count, estimate,
       estimate - n AS overestimate,
       ROUND((estimate - n) / CAST(n AS DOUBLE), 4) AS rel_error
FROM est ORDER BY exact_count DESC, user_id
"""


@register(
    "x375_count_min_sketch",
    _X375_ORACLE,
    doc="deterministic count-min sketch audit (depth 4 x width 1024, "
        "md5-derived row hashes): per-user event counts estimated as "
        "the MIN over the four hashed cells, reported for the top-20 "
        "exact heavy hitters beside truth -- the mergeable fixed-"
        "memory frequency structure completing the sketch family "
        "(x16/x261 HLL count distinct things, x272 finds heavy "
        "hitters, CMS answers POINT queries on any key; its "
        "one-sided error -- estimate >= exact, ALWAYS -- is emitted "
        "as a column and pytest-pinned). The 4x1024 table builds in "
        "one conditional-explode groupBy (4 map-side partial-agg "
        "cells per event, mergeable across partitions/days exactly "
        "like production CMS shards); estimates are four "
        "broadcast-sized lookups. Scale: sketch size is CONSTANT in "
        "corpus size -- that is the whole point",
)
def x375_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def cell(j: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(f":cm{j}"),
                        )
                    ),
                    30,
                    3,
                ),
                16,
                10,
            ).cast("long")
            % 1024
        )

    rows_h = ev.select(
        "user_id",
        cell(0).alias("c0"),
        cell(1).alias("c1"),
        cell(2).alias("c2"),
        cell(3).alias("c3"),
    ).localCheckpoint(eager=False)
    cms = (
        rows_h.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.col(f"c{j}").alias("cell"),
                        )
                        for j in range(4)
                    ]
                )
            ).alias("p")
        )
        .groupBy(F.col("p.j").alias("j"), F.col("p.cell").alias("cell"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    exact = (
        rows_h.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("c0").alias("c0"),
            F.min("c1").alias("c1"),
            F.min("c2").alias("c2"),
            F.min("c3").alias("c3"),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(20)
    )
    est = exact
    for j in range(4):
        mj = cms.filter(F.col("j") == j).select(
            F.col("cell").alias(f"mc{j}"), F.col("cnt").alias(f"cnt{j}")
        )
        est = est.join(
            F.broadcast(mj), F.col(f"c{j}") == F.col(f"mc{j}")
        )
    return est.select(
        "user_id",
        F.col("n").alias("exact_count"),
        F.least(*[F.col(f"cnt{j}") for j in range(4)]).alias("estimate"),
        (
            F.least(*[F.col(f"cnt{j}") for j in range(4)]) - F.col("n")
        ).alias("overestimate"),
        F.round(
            (
                F.least(*[F.col(f"cnt{j}") for j in range(4)])
                - F.col("n")
            )
            / F.col("n").cast("double"),
            4,
        ).alias("rel_error"),
    ).orderBy(F.desc("exact_count"), "user_id")


_X376_ORACLE = """
WITH dt AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - 1),
           i -> array_to_string(list_slice(
                  string_split(lower(text), ' '), i, i + 2), ' ')))
           AS toks
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 3
),
sz AS MATERIALIZED (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS s FROM dt
),
tk AS MATERIALIZED (SELECT doc_id, unnest(toks) AS tok FROM dt),
df AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY 1
),
arr AS MATERIALIZED (
  SELECT tk.doc_id, list(tk.tok ORDER BY df.df, tk.tok) AS arr
  FROM tk JOIN df USING (tok) GROUP BY tk.doc_id
),
pre AS MATERIALIZED (
  SELECT a.doc_id,
         unnest(list_slice(a.arr, 1,
                s.s - ((3 * s.s + 4) // 5) + 1)) AS tok
  FROM arr a JOIN sz s USING (doc_id)
),
cand AS MATERIALIZED (
  SELECT DISTINCT p1.doc_id AS ia, p2.doc_id AS ib
  FROM pre p1 JOIN pre p2
    ON p1.tok = p2.tok AND p1.doc_id < p2.doc_id
),
ov AS MATERIALIZED (
  SELECT c.ia, c.ib, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN tk a ON a.doc_id = c.ia
  JOIN tk b ON b.doc_id = c.ib AND b.tok = a.tok
  GROUP BY 1, 2
),
v AS (
  SELECT o.ia, o.ib, o.inter, sa.s AS ssa, sb.s AS ssb
  FROM ov o
  JOIN sz sa ON o.ia = sa.doc_id
  JOIN sz sb ON o.ib = sb.doc_id
)
SELECT ia AS id_a, ib AS id_b, inter,
       ROUND(inter / CAST(ssa + ssb - inter AS DOUBLE), 6) AS jaccard
FROM v
WHERE inter / CAST(ssa + ssb - inter AS DOUBLE) >= 0.6
ORDER BY id_a, id_b
"""


@register(
    "x376_prefix_filter_simjoin",
    _X376_ORACLE,
    doc="prefix-filtered set-similarity self-join (the AllPairs/"
        "PPJoin family, Bayardo/Xiao et al., public) over 3-shingle "
        "SETS: shingle Jaccard >= 0.6 pairs found by blocking ONLY "
        "on each doc's prefix -- its (s - ceil(0.6 s) + 1) globally-"
        "RAREST shingles (frequency-ascending total order) -- with "
        "the prefix-filter lemma's guarantee that qualifying pairs "
        "share a prefix shingle (pytest proves completeness against "
        "the brute-force pair set). The third blocking family in "
        "the dedup suite: x03 posts EVERY shingle (pair cost = sum "
        "of df^2 over all shingles), x40 hashes into MinHash bands "
        "(approximate), this posts only each doc's rare TAIL -- "
        "exact answers at a fraction of x03's join cost, and "
        "measured necessary on THIS corpus: the same filter on raw "
        "token sets degenerates to 88M candidates (24 distinct "
        "prefix tokens, hottest bucket 3838 docs) where shingle "
        "sets yield 312k (hottest bucket 10) -- the blocking DOMAIN "
        "is the scale decision, exactly as at 100 TB. Exact integer "
        "prefix lengths (ceil(0.6 s) as (3s+4) DIV 5 -- no float "
        "ceil), exact intersect verify, single-division Jaccard "
        "filter identical cross-engine. Scale: one shingle explode "
        "+ df groupBy, per-doc sort row-local, candidate join keys "
        "on rare shingles by construction",
)
def x376_prefix_filter_simjoin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # checkpoint the shingle ARRAYS once: sizes, postings, df, the
    # rarity sort and both verify sides all derive from this -- without
    # it the shingle expression re-evaluates per consumer
    dt = (
        dedup.shingle_arrays(docs, "doc_id", "text")
        .select(F.col("doc").alias("doc_id"), F.col("sh").alias("toks"))
        .localCheckpoint(eager=False)
    )
    sz = dt.select("doc_id", F.size("toks").cast("long").alias("s"))
    # the shingle postings feed the df groupBy, the per-doc rarity
    # sort AND both sides of the overlap-count verify: checkpoint once
    tk = dt.select(
        "doc_id", F.explode("toks").alias("tok")
    ).localCheckpoint(eager=False)
    df = tk.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    arr = (
        tk.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("df", "tok"))
                ),
                lambda x: x.getField("tok"),
            ).alias("arr")
        )
    )
    pre = (
        arr.join(sz, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.slice(
                    F.col("arr"),
                    F.lit(1),
                    (
                        F.col("s")
                        - ((3 * F.col("s") + 4) / 5).cast("long")
                        + 1
                    ).cast("int"),
                )
            ).alias("tok"),
        )
        # prefix postings feed both sides of the candidate self-join
        .localCheckpoint(eager=False)
    )
    p2 = pre.select(
        F.col("doc_id").alias("ib"), F.col("tok").alias("tok2")
    )
    cand = (
        pre.join(
            p2,
            (F.col("tok") == F.col("tok2"))
            & (F.col("doc_id") < F.col("ib")),
        )
        .select(F.col("doc_id").alias("ia"), "ib")
        .distinct()
    )
    # PPJoin-style verify: overlap counted on the POSTINGS equi-join
    # restricted to candidate pairs -- never a per-pair array
    # intersect (measured ~3x cheaper at sf0.1: per-pair arrays
    # materialize the token lists for every candidate, the postings
    # hash-join streams)
    tka = tk.select(F.col("doc_id").alias("ia"), "tok")
    tkb = tk.select(
        F.col("doc_id").alias("ibb"), F.col("tok").alias("tok2")
    )
    ov = (
        cand.join(tka, "ia")
        .join(
            tkb,
            (F.col("ibb") == F.col("ib"))
            & (F.col("tok2") == F.col("tok")),
        )
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    v = (
        ov.join(
            sz.select(F.col("doc_id").alias("ia"), F.col("s").alias("ssa")),
            "ia",
        )
        .join(
            sz.select(F.col("doc_id").alias("ib"), F.col("s").alias("ssb")),
            "ib",
        )
    )
    jac = F.col("inter") / (
        F.col("ssa") + F.col("ssb") - F.col("inter")
    ).cast("double")
    return (
        v.filter(jac >= 0.6)
        .select(
            F.col("ia").alias("id_a"),
            F.col("ib").alias("id_b"),
            "inter",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


_X377_ORACLE = """
WITH tok AS (
  SELECT doc_id, source, lang, unnest(string_split(lower(text), ' '))
           AS w
  FROM documents
),
lm AS (
  SELECT w,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS cnt_t,
         CAST(count(*) AS BIGINT) AS cnt_s
  FROM tok GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(cnt_t) AS BIGINT) AS n_t,
         CAST(SUM(cnt_s) AS BIGINT) AS n_s,
         CAST(count(*) AS BIGINT) AS v
  FROM lm
),
ds AS (
  SELECT t.doc_id, t.source,
         CAST(SUM(CAST(ROUND(ln(
           ((l.cnt_t + 1) * (o.n_s + o.v))
           / CAST((l.cnt_s + 1) * (o.n_t + o.v) AS DOUBLE)), 8)
           AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS score
  FROM tok t JOIN lm l USING (w) CROSS JOIN tot o
  GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(score) AS DOUBLE) / count(*), 4) AS mean_score,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_positive,
       ROUND(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS positive_share
FROM ds GROUP BY 1 ORDER BY source
"""


@register(
    "x377_dsir_importance",
    _X377_ORACLE,
    doc="DSIR-style importance scores (Xie et al. 2023 pattern, "
        "public): per-doc sum of unigram log-ratios ln(p_target/"
        "p_source) between the TARGET distribution (en docs, the "
        "quality exemplar) and the full-corpus source distribution, "
        "Laplace-smoothed over the shared vocab -- the "
        "importance-resampling SCORE that decides which raw docs "
        "look like the target domain (x348 resamples by length, "
        "x342 compares sources pairwise; this scores every DOC for "
        "selection), rolled up per source as mean score + "
        "positive-importance share: which sources DSIR would "
        "upweight. Determinism: each token's log-ratio is ONE ln of "
        "an exact-integer ratio ((c_t+1)(N_s+V))/((c_s+1)(N_t+V)) "
        "rounded 8 into DECIMAL before the per-doc sum -- "
        "engine-identical, partition-order free. Scale: one token "
        "explode, the LM is a token-keyed aggregate joined back on "
        "the token equi-key (x342's shape), doc scores partial-"
        "aggregate into the source rollup",
)
def x377_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(_toks("text")).alias("w"),
    ).localCheckpoint(eager=False)
    lm = tok.groupBy("w").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("cnt_t"),
        F.count(F.lit(1)).cast("long").alias("cnt_s"),
    )
    tot = lm.agg(
        F.sum("cnt_t").cast("long").alias("n_t"),
        F.sum("cnt_s").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    ds = (
        tok.join(lm, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.sum(
                F.round(
                    F.log(
                        (
                            (F.col("cnt_t") + 1)
                            * (F.col("n_s") + F.col("v"))
                        )
                        / (
                            (F.col("cnt_s") + 1)
                            * (F.col("n_t") + F.col("v"))
                        ).cast("double")
                    ),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("decimal(28,8)")
            .alias("score")
        )
    )
    return (
        ds.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("score").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_score"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_positive"),
            F.round(
                F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("positive_share"),
        )
        .orderBy("source")
    )


_X378_ORACLE = """
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
  SELECT COALESCE(MAX(CASE WHEN CAST(p_val AS DOUBLE)
                              <= 0.10 * rnk / m_tests
                       THEN rnk END), 0) AS k_star
  FROM r
)
SELECT r.brand, r.z_stat, CAST(r.p_val AS DOUBLE) AS p_val, r.rnk,
       ROUND(0.10 * r.rnk / r.m_tests, 8) AS bh_threshold,
       CASE WHEN r.rnk <= c.k_star THEN 1 ELSE 0 END AS rejected
FROM r CROSS JOIN cut c
ORDER BY r.rnk
"""


@register(
    "x378_benjamini_hochberg",
    _X378_ORACLE,
    doc="Benjamini-Hochberg FDR step-up over the per-brand Welch z "
        "family -- the multiple-testing correction the per-test "
        "entries (x286 Welch, x148 chi2, x363 Kruskal-Wallis) all "
        "stop short of: 25 simultaneous brand-level tests of "
        "returned-vs-kept price at alpha=0.10 would expect ~2.5 "
        "false positives under naive thresholding; BH finds the "
        "largest rank k with p_(k) <= k/m*alpha and rejects ranks "
        "<= k (step-UP: rejected tests can individually sit above "
        "their own threshold). p from the logistic approximation of "
        "the normal CDF 2/(1+exp(1.702|z|)) on the ROUNDED z -- one "
        "transcendental per 25-row aggregate, x377's round-8-"
        "then-DECIMAL precedent, so rank ties are impossible and "
        "the step-up cut is engine-exact. Scale: the test family is "
        "a brand-cardinality aggregate of exact integer moment sums "
        "(x286's DECIMAL(38,0) contract); every window runs over "
        "those 25 rows -- the corpus pays one join + one groupBy",
)
def x378_benjamini_hochberg(
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
    # rank window over the 25-row brand aggregate -- bounded contract
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
            F.max(
                F.when(
                    F.col("p_val").cast("double")
                    <= 0.10 * F.col("rnk") / F.col("m_tests"),
                    F.col("rnk"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("k_star")
    )
    return (
        r.crossJoin(F.broadcast(cut))
        .select(
            "brand",
            "z_stat",
            F.col("p_val").cast("double").alias("p_val"),
            "rnk",
            F.round(0.10 * F.col("rnk") / F.col("m_tests"), 8).alias(
                "bh_threshold"
            ),
            F.when(F.col("rnk") <= F.col("k_star"), 1)
            .otherwise(0)
            .alias("rejected"),
        )
        .orderBy("rnk")
    )


_X379_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
),
topw AS (
  SELECT w FROM (
    SELECT w, count(*) AS cnt FROM tok GROUP BY 1
  ) ORDER BY cnt DESC, w LIMIT 30
),
srcs AS (SELECT DISTINCT source FROM tok),
tots AS (
  SELECT source, CAST(count(*) AS BIGINT) AS tot FROM tok GROUP BY 1
),
cnts AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
  FROM tok WHERE w IN (SELECT w FROM topw) GROUP BY 1, 2
),
freq AS (
  SELECT s.source, t.w,
         CAST(ROUND(COALESCE(c.cnt, 0) * 1000000.0 / o.tot, 8)
           AS DECIMAL(20,8)) AS f
  FROM srcs s CROSS JOIN topw t
  JOIN tots o ON o.source = s.source
  LEFT JOIN cnts c ON c.source = s.source AND c.w = t.w
),
stats AS (
  SELECT w,
         CAST(SUM(f) AS DECIMAL(28,8)) AS sf,
         CAST(SUM(CAST(f AS DECIMAL(28,8)) * CAST(f AS DECIMAL(28,8)))
           AS DECIMAL(38,8)) AS sf2,
         CAST(count(*) AS BIGINT) AS ns
  FROM freq GROUP BY 1
),
zs AS (
  SELECT q.source, q.w,
         CAST(ROUND((CAST(q.f AS DOUBLE) - CAST(s.sf AS DOUBLE) / s.ns)
               / sqrt(CAST(s.sf2 AS DOUBLE) / s.ns
                      - (CAST(s.sf AS DOUBLE) / s.ns)
                        * (CAST(s.sf AS DOUBLE) / s.ns)), 6)
           AS DECIMAL(18,6)) AS z
  FROM freq q JOIN stats s ON q.w = s.w
  WHERE CAST(s.sf2 AS DOUBLE) / s.ns
        - (CAST(s.sf AS DOUBLE) / s.ns) * (CAST(s.sf AS DOUBLE) / s.ns)
        > 0
)
SELECT a.source AS source_a, b.source AS source_b,
       ROUND(CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(18,6)))
                    AS DOUBLE) / count(*), 4) AS delta
FROM zs a JOIN zs b ON a.w = b.w AND a.source < b.source
GROUP BY 1, 2 ORDER BY source_a, source_b
"""


@register(
    "x379_burrows_delta",
    _X379_ORACLE,
    doc="Burrows' Delta stylometric distance between sources (the "
        "standard authorship-attribution measure, public since "
        "Burrows 2002): the 30 highest-frequency corpus words play "
        "the function-word role, per-source rates normalize to "
        "occurrences-per-million, each word z-scores across the 20 "
        "sources (population std), and Delta(a,b) = mean |z_a - z_b| "
        "over the word panel -- near-0 pairs share register/style "
        "(dedup-adjacent signal on template corpora), large pairs "
        "diverge. Missing words materialize as explicit rate-0 rows "
        "via the sources x top-words frame (a LEFT JOIN on the "
        "counts -- absence is data, not a dropped row); zero-"
        "variance words drop from the panel on BOTH sides (a z "
        "would divide by 0 -- NULL in Spark, inf in DuckDB: the "
        "guard is the determinism fix, not cosmetics). Determinism: "
        "rates round-8 into DECIMAL, moment sums accumulate in "
        "DECIMAL (exact), the one sqrt runs per 30-row word panel, "
        "z rounds 6 into DECIMAL before the pairwise |diff| sum. "
        "Scale: one token explode feeds a vocab groupBy; top-30 is "
        "a TakeOrdered (no global sort); everything after is "
        "30 x 20 = 600 aggregate rows -- the pair join is "
        "aggregate x aggregate, never corpus-sized",
)
def x379_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(_toks("text")).alias("w"),
    ).localCheckpoint(eager=False)
    topw = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(30)
        .select("w")
    )
    srcs = tok.select("source").distinct()
    tots = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("tot")
    )
    cnts = (
        tok.join(F.broadcast(topw), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    freq = (
        srcs.crossJoin(F.broadcast(topw))
        .join(tots, "source")
        .join(cnts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.round(
                F.coalesce(F.col("cnt"), F.lit(0))
                * 1000000.0
                / F.col("tot"),
                8,
            )
            .cast("decimal(20,8)")
            .alias("f"),
        )
    )
    fd = F.col("f").cast("decimal(28,8)")
    stats = freq.groupBy("w").agg(
        F.sum("f").cast("decimal(28,8)").alias("sf"),
        F.sum(fd * fd).cast("decimal(38,8)").alias("sf2"),
        F.count(F.lit(1)).cast("long").alias("ns"),
    )
    var = (
        F.col("sf2").cast("double") / F.col("ns")
        - (F.col("sf").cast("double") / F.col("ns"))
        * (F.col("sf").cast("double") / F.col("ns"))
    )
    zs = (
        freq.join(stats.filter(var > 0), "w")
        .selectExpr(
            "source",
            "w",
            """CAST(ROUND((CAST(f AS DOUBLE) - CAST(sf AS DOUBLE) / ns)
                    / sqrt(CAST(sf2 AS DOUBLE) / ns
                           - (CAST(sf AS DOUBLE) / ns)
                             * (CAST(sf AS DOUBLE) / ns)), 6)
               AS DECIMAL(18,6)) AS z""",
        )
        .localCheckpoint(eager=False)
    )
    a = zs.select(
        F.col("source").alias("source_a"), "w", F.col("z").alias("za")
    )
    b = zs.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("w2"),
        F.col("z").alias("zb"),
    )
    return (
        a.join(
            b,
            (F.col("w") == F.col("w2"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("za") - F.col("zb")).cast(
                        "decimal(18,6)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("delta")
        )
        .orderBy("source_a", "source_b")
    )


_X380_ORACLE = """
WITH d AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
           string_split(lower(text), ' '))), ' ')) AS c,
         md5(lower(text)) AS t
  FROM documents
),
cell AS (
  SELECT c, t, CAST(count(*) AS BIGINT) AS n_ct
  FROM d GROUP BY 1, 2
),
cs AS (SELECT c, CAST(count(*) AS BIGINT) AS n_c FROM d GROUP BY 1),
ts AS (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM d GROUP BY 1),
acc AS (
  SELECT CAST(SUM(CAST(ROUND(e.n_ct * e.n_ct
                             / CAST(c.n_c AS DOUBLE), 8)
                    AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS sp,
         CAST(SUM(CAST(ROUND(e.n_ct * e.n_ct
                             / CAST(t.n_t AS DOUBLE), 8)
                    AS DECIMAL(28,8))) AS DECIMAL(28,8)) AS sr,
         CAST(SUM(e.n_ct) AS BIGINT) AS n
  FROM cell e JOIN cs c ON e.c = c.c JOIN ts t ON e.t = t.t
)
SELECT n AS n_docs,
       (SELECT CAST(count(*) AS BIGINT) FROM cs) AS n_pred_clusters,
       (SELECT CAST(count(*) AS BIGINT) FROM ts) AS n_true_clusters,
       ROUND(CAST(sp AS DOUBLE) / n, 6) AS bcubed_precision,
       ROUND(CAST(sr AS DOUBLE) / n, 6) AS bcubed_recall,
       ROUND(2 * (CAST(sp AS DOUBLE) / n) * (CAST(sr AS DOUBLE) / n)
             / (CAST(sp AS DOUBLE) / n + CAST(sr AS DOUBLE) / n), 6)
         AS bcubed_f1
FROM acc
"""


@register(
    "x380_bcubed_clusters",
    _X380_ORACLE,
    doc="B-cubed extrinsic clustering evaluation (Bagga & Baldwin "
        "1998; the metric of record for dedup-cluster quality, "
        "Amigo et al. 2009): PREDICTED clusters = x02's sorted-"
        "distinct-token-bag fingerprint, TRUTH = x01's exact lowered"
        "-text hash; per-item precision n_ct/|c| and recall n_ct/"
        "|t| averaged over items collapse to the contingency-cell "
        "identity sum n_ct^2/|c| (resp /|t|) / N -- so the whole "
        "metric is three groupBys and two key joins, NO per-item "
        "iteration. x322 measures pairwise method agreement; this "
        "scores a clustering against truth with the metric that "
        "(unlike pair-F1) does not let one giant cluster dominate. "
        "Determinism: cell terms round-8 into DECIMAL before the "
        "sum (partition-order free), counts exact. Scale: clusters "
        "are md5-keyed groupBys (cannot skew); the cell join is "
        "key-partitioned aggregate x aggregate",
)
def x380_bcubed_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(_toks("text"))),
                " ",
            )
        ).alias("c"),
        F.md5(F.lower(F.col("text"))).alias("t"),
    ).localCheckpoint(eager=False)
    cell = d.groupBy("c", "t").agg(
        F.count(F.lit(1)).cast("long").alias("n_ct")
    )
    cs = d.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_c"))
    ts = d.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    acc = (
        cell.join(cs, "c")
        .join(ts, "t")
        .agg(
            F.sum(
                F.round(
                    F.col("n_ct")
                    * F.col("n_ct")
                    / F.col("n_c").cast("double"),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("decimal(28,8)")
            .alias("sp"),
            F.sum(
                F.round(
                    F.col("n_ct")
                    * F.col("n_ct")
                    / F.col("n_t").cast("double"),
                    8,
                ).cast("decimal(28,8)")
            )
            .cast("decimal(28,8)")
            .alias("sr"),
            F.sum("n_ct").cast("long").alias("n"),
        )
    )
    npred = cs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pred_clusters")
    )
    ntrue = ts.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_clusters")
    )
    pcol = F.col("sp").cast("double") / F.col("n")
    rcol = F.col("sr").cast("double") / F.col("n")
    return (
        acc.crossJoin(F.broadcast(npred))
        .crossJoin(F.broadcast(ntrue))
        .select(
            F.col("n").alias("n_docs"),
            "n_pred_clusters",
            "n_true_clusters",
            F.round(pcol, 6).alias("bcubed_precision"),
            F.round(rcol, 6).alias("bcubed_recall"),
            F.round(2 * pcol * rcol / (pcol + rcol), 6).alias(
                "bcubed_f1"
            ),
        )
    )
