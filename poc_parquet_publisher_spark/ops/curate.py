"""End-to-end corpus curation: the composed pre-training data pipeline.

One call chains the individual operators this package provides --
scrub -> quality gate -> language gate -> exact dedup -> near-dup
removal -> split assignment -- in the order a production pipeline runs
them (cheap narrow filters first so every later shuffle sees fewer
rows; the near-dup join, the only expensive stage, runs last on the
already-shrunk corpus).

Everything stays a DataFrame plan end to end: one action materializes
the curated corpus, and Catalyst fuses the narrow stages into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scale import rebalanced
from . import dedup, sampling, text


CURATE_LANGUAGES = ("en",)
CURATE_MAX_TOKENS = 1_000_000
CURATE_MIN_ALPHA_RATIO = 0.05
CURATE_MIN_TOKENS = 5
CURATE_NEAR_DUP_JACCARD = 0.8
CURATE_TEST_FRACTION = 0.05


def curate(
    docs: DataFrame, languages: tuple[str, ...] = CURATE_LANGUAGES
) -> DataFrame:
    """Returns (id, scrubbed text, pred_lang, split) for surviving docs.

    Survivorship rules: PII/URL spans scrubbed; token count within
    [min_tokens, max_tokens] and alpha ratio >= threshold; predicted
    language in ``languages``; exactly-duplicate texts keep the smallest
    id; each near-duplicate cluster (connected component of shingle-
    Jaccard >= threshold pairs) keeps only its smallest id. Split
    assignment is a pure
    hash of the id, so reruns and rescales never reshuffle the holdout.
    """
    # the scrub + gate projection is regex-heavy per-row CPU; on a
    # single-split input the eager checkpoint below would run it in ONE
    # task (measured 3.6 s -> 1.4 s at sf0.1 rebalanced). No-op at real
    # scale where splits already outnumber cores.
    scrubbed = text.scrub(
        rebalanced(docs), "doc_id", "text"
    ).withColumnRenamed("scrubbed", "text")

    # quality + language gates are row-local expressions: compute them
    # INLINE in one projection (no id-joins -- a join per gate would put
    # two full shuffles in front of a narrow filter)
    n_toks = F.size(text._toks("text")).cast("long")
    alpha = F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""))
    alpha_ratio = alpha.cast("double") / F.length("text").cast("double")
    kept = (
        scrubbed.withColumn("pred_lang", text.lang_pred_column("text"))
        .filter(
            (n_toks >= CURATE_MIN_TOKENS)
            & (n_toks <= CURATE_MAX_TOKENS)
            & (alpha_ratio >= CURATE_MIN_ALPHA_RATIO)
            & F.col("pred_lang").isin(*languages)
        )
        .select("doc_id", "text", "pred_lang")
        # the gated corpus feeds three consumers (pair generation, the
        # exact-dedup probe, the final anti-join); materialize it once
        # instead of re-running scrub+gates per consumer. At cluster
        # scale this is the standard persist-the-reused-intermediate
        # call: the gated corpus is already the post-filter survivor
        # set, far smaller than the input scan.
        .localCheckpoint()
    )

    # exact dedup: smallest id per identical text survives. Measured
    # alternative (min(id) over a text-hash window, one shuffle instead
    # of agg+semi-join): identical wall at sf0.1 -- the pipeline cost is
    # stage count, not this join -- and strictly worse under skew: a
    # heavily-duplicated text serializes into one window partition,
    # while the agg's map-side combine + AQE skew-join absorb it.
    survivors = dedup.exact_dedup(kept, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    # the exactly-deduped corpus feeds TWO consumers (the near-dup pair
    # derivation and the final anti-join): without its own checkpoint
    # the md5-groupBy + semi-join replay once per consumer
    kept = kept.join(survivors, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )

    # near-dup removal, transitively: connected components over the
    # qualifying pairs, keep only each cluster's minimum id. (Greedy
    # per-pair dropping is wrong under chains: dropping b of (a,b) and
    # (b,c) leaves both a and c alive even though a~b~c.)
    pairs = dedup.ngram_jaccard_pairs(
        kept, "doc_id", "text", threshold=CURATE_NEAR_DUP_JACCARD
    )
    drop = (
        dedup.duplicate_clusters(pairs)
        .filter(F.col("node") != F.col("rep"))
        .select(F.col("node").alias("doc_id"))
    )
    kept = kept.join(drop, "doc_id", "left_anti")

    return sampling.deterministic_split(
        kept, "doc_id", test_fraction=CURATE_TEST_FRACTION
    )


def curate_oracle_sql() -> str:
    """One DuckDB query reproducing ``curate`` end to end, composed from
    the SAME stage oracles that are individually hash-verified (x20
    scrub, x12 lang-id ladder, x01 exact dedup, x03 pair CTE, x24
    recursive-CTE components, x18 split threshold) -- so the COMPOSED
    pipeline, not just its stages, is driver-hash-checkable.
    """
    # scrub chain (x20's oracle expression)
    expr = "text"
    for pat, repl in text.SCRUB_PATTERNS:
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"

    # lang-id CASE ladder (x12's oracle, over the scrubbed text)
    langs = list(text.LANG_STOPWORDS)
    score_cols = []
    for lang in langs:
        inlist = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang])
        score_cols.append(
            "CAST(len(list_filter(string_split(lower(text), ' '), "
            f"t -> t IN ({inlist}))) AS BIGINT) AS score_{lang}"
        )
    whens = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs[i + 1 :]
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    lang_case = f"CASE {' '.join(whens)} ELSE '{langs[-1]}' END"
    lang_list = ", ".join(f"'{lang}'" for lang in CURATE_LANGUAGES)

    thr_hex = sampling._threshold_hex(CURATE_TEST_FRACTION)

    return f"""
WITH RECURSIVE scrubbed AS (
  SELECT doc_id, {expr} AS text FROM documents
), langed AS (
  SELECT doc_id, text, {lang_case} AS pred_lang
  FROM (SELECT doc_id, text, {', '.join(score_cols)} FROM scrubbed)
), gated AS (
  SELECT doc_id, text, pred_lang FROM langed
  WHERE len(string_split(lower(text), ' ')) BETWEEN {CURATE_MIN_TOKENS}
        AND {CURATE_MAX_TOKENS}
    AND CAST(strlen(regexp_replace(lower(text), '[^a-z]', '', 'g'))
             AS DOUBLE) / strlen(text) >= {CURATE_MIN_ALPHA_RATIO}
    AND pred_lang IN ({lang_list})
), surv AS (
  SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(lower(text))
), ded AS (
  SELECT g.* FROM gated g JOIN surv USING (doc_id)
), sh_t AS (
  SELECT doc_id AS doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - 1),
           i -> array_to_string(
                  (string_split(lower(text), ' '))[i:i+2], ' ')
         )) AS sh
  FROM ded
  WHERE len(string_split(lower(text), ' ')) >= 3
), e AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh_t
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
  FROM e a JOIN e b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), pairs AS (
  SELECT id_a, id_b FROM p
  WHERE ROUND(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 4)
        >= {CURATE_NEAR_DUP_JACCARD}
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), walk (node, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e2.u, w.lbl FROM edges e2 JOIN walk w ON w.node = e2.v
), reps AS (
  SELECT node, MIN(lbl) AS rep FROM walk GROUP BY node
), drops AS (
  SELECT node AS doc_id FROM reps WHERE node != rep
)
SELECT d.doc_id, d.text, d.pred_lang,
       CASE WHEN substr(md5(concat(CAST(d.doc_id AS VARCHAR),
                 ':split')), 1, 4) < '{thr_hex}'
            THEN 'test' ELSE 'train' END AS split
FROM ded d
WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
ORDER BY d.doc_id
"""


FUNNEL_LANGUAGES = ("en", "es")
FUNNEL_MIN_ALPHA_RATIO = 0.5
FUNNEL_MIN_TOKENS = 20


def curation_funnel(docs: DataFrame) -> DataFrame:
    """Curation funnel: documents surviving each successive gate
    (input -> length -> +alpha -> +language -> +exact-dedup) -- the
    observability table every curation run publishes (where did the
    corpus shrink, which gate is too aggressive).

    Output: (stage, gate, n_surviving), stages 0..4 in pipeline order.

    Scale shape: gate booleans are row-local expressions folded into ONE
    aggregate pass over the corpus (conjunction sums + one conditional
    count-distinct for the dedup stage); the 5-row funnel falls out of a
    stack() unpivot of that single row. No joins, one scan.
    """
    n_toks = F.size(text._toks("text")).cast("long")
    alpha = F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""))
    alpha_ratio = alpha.cast("double") / F.length("text").cast("double")
    g1 = n_toks >= FUNNEL_MIN_TOKENS
    g2 = g1 & (alpha_ratio >= FUNNEL_MIN_ALPHA_RATIO)
    g3 = g2 & text.lang_pred_column("text").isin(*FUNNEL_LANGUAGES)
    h = F.md5(F.lower(F.col("text")))
    agg = docs.agg(
        F.count(F.lit(1)).cast("long").alias("s0"),
        F.sum(g1.cast("long")).cast("long").alias("s1"),
        F.sum(g2.cast("long")).cast("long").alias("s2"),
        F.sum(g3.cast("long")).cast("long").alias("s3"),
        F.count_distinct(F.when(g3, h)).cast("long").alias("s4"),
    )
    return agg.select(
        F.expr(
            "stack(5, 0, 'input', s0, 1, 'min_tokens', s1, "
            "2, 'alpha_ratio', s2, 3, 'language', s3, "
            "4, 'exact_dedup', s4) AS (stage, gate, n_surviving)"
        )
    ).select(
        F.col("stage").cast("int").alias("stage"),
        "gate",
        "n_surviving",
    )


def curation_funnel_oracle_sql() -> str:
    """DuckDB SQL mirroring ``curation_funnel``."""
    langs = list(text.LANG_STOPWORDS)
    score_cols = []
    for lang in langs:
        inlist = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang])
        score_cols.append(
            "CAST(len(list_filter(string_split(lower(text), ' '), "
            f"t -> t IN ({inlist}))) AS BIGINT) AS score_{lang}"
        )
    whens = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs[i + 1 :]
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    lang_case = f"CASE {' '.join(whens)} ELSE '{langs[-1]}' END"
    lang_list = ", ".join(f"'{lang}'" for lang in FUNNEL_LANGUAGES)
    return f"""
WITH scored AS (
  SELECT text AS text, {', '.join(score_cols)} FROM documents
), flags AS (
  SELECT text,
         (len(string_split(lower(text), ' ')) >= {FUNNEL_MIN_TOKENS}) AS g1,
         (len(string_split(lower(text), ' ')) >= {FUNNEL_MIN_TOKENS}
          AND CAST(strlen(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                   AS DOUBLE) / strlen(text) >= {FUNNEL_MIN_ALPHA_RATIO}) AS g2,
         (len(string_split(lower(text), ' ')) >= {FUNNEL_MIN_TOKENS}
          AND CAST(strlen(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                   AS DOUBLE) / strlen(text) >= {FUNNEL_MIN_ALPHA_RATIO}
          AND {lang_case} IN ({lang_list})) AS g3
  FROM scored
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS s0,
         CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         CAST(count(DISTINCT CASE WHEN g3 THEN md5(lower(text)) END)
              AS BIGINT) AS s4
  FROM flags
)
SELECT * FROM (
  SELECT 0 AS stage, 'input' AS gate, s0 AS n_surviving FROM agg
  UNION ALL SELECT 1, 'min_tokens', s1 FROM agg
  UNION ALL SELECT 2, 'alpha_ratio', s2 FROM agg
  UNION ALL SELECT 3, 'language', s3 FROM agg
  UNION ALL SELECT 4, 'exact_dedup', s4 FROM agg
) ORDER BY stage
"""
