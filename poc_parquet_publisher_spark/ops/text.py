"""Text analysis operators: language-ID, quality scoring, token counting,
fingerprinting. All pure built-in expressions (narrow, shuffle-free,
whole-stage-codegen) -- at 100 TB these run at parquet-scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword-vote heuristic.
# Order matters: ties resolve to the earlier language.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "les", "des", "et", "une", "pour", "dans"),
    "de": ("der", "die", "das", "und", "ist", "von", "nicht"),
}

TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def _toks(text_col: str | Column) -> Column:
    # INVARIANT consumers rely on: F.split on ' ' returns [''] for empty
    # text, so F.size(_toks(...)) >= 1 always -- ratio denominators
    # downstream (stop_ratio_column, quality_scores) divide by it with
    # no zero guard. Any tokenizer change that can yield an empty array
    # must add F.greatest(size, lit(1)) at those sites.
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(c), " ")


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def stop_ratio_column(text_col: str | Column) -> Column:
    """English-stopword share of whitespace tokens as a round(4) double --
    the single-column form of ``quality_scores``'s stop_ratio, for
    entries that consume the score inline (x315 calibration)."""
    toks = _toks(text_col)
    return F.round(
        _count_in(toks, LANG_STOPWORDS["en"]).cast("double")
        / F.size(toks).cast("long"),
        4,
    )


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    toks = _toks(text_col)
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)
        )
        .cast("long")
        .alias("n_re_tokens"),
        F.octet_length(text_col).cast("long").alias("n_bytes"),
    )


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features: length, mean token length, stopword
    ratio, alpha ratio. Round(4) doubles for oracle determinism."""
    toks = _toks(text_col)
    n_toks = F.size(toks).cast("long")
    non_space_len = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    stop = _count_in(toks, LANG_STOPWORDS["en"])
    alpha = F.length(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", ""))
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars_m"),
        n_toks.alias("n_toks"),
        F.round(non_space_len.cast("double") / n_toks, 4).alias("avg_tok_len"),
        F.round(stop.cast("double") / n_toks, 4).alias("stop_ratio"),
        F.round(
            alpha.cast("double") / F.length(text_col).cast("double"), 4
        ).alias("alpha_ratio"),
    )


def lang_pred_column(text_col: str | Column) -> Column:
    """The lang_id CASE ladder as a single inline column (no intermediate
    score columns, no join) -- for single-pass pipelines like curate()."""
    toks = _toks(text_col)
    scores = {
        lang: _count_in(toks, words)
        for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    pred = F.lit(langs[-1])
    for i in range(len(langs) - 1, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = scores[langs[i]] >= scores[langs[j]]
            cond = c if cond is None else (cond & c)
        if cond is None:
            continue
        pred = F.when(cond, F.lit(langs[i])).otherwise(pred)
    return pred


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-vote language ID: per-language hit counts + argmax.

    Ties break in LANG_STOPWORDS declaration order (en first), which the
    matching oracle SQL reproduces with the same CASE ladder.
    """
    toks = _toks(text_col)
    scores = {
        lang: _count_in(toks, words) for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    pred = F.lit(langs[-1])
    # build the CASE ladder back-to-front so earlier languages win ties
    for i in range(len(langs) - 1, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = F.col(f"score_{langs[i]}") >= F.col(f"score_{langs[j]}")
            cond = c if cond is None else (cond & c)
        if cond is None:
            continue
        pred = F.when(cond, F.lit(langs[i])).otherwise(pred)
    scored = df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
    )
    return scored.withColumn("pred_lang", pred)


def lang_id_oracle_sql() -> str:
    """DuckDB SQL mirroring ``lang_id`` exactly (same CASE ladder)."""
    langs = list(LANG_STOPWORDS)
    score_cols = []
    for lang in langs:
        inlist = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
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
    case = f"CASE {' '.join(whens)} ELSE '{langs[-1]}' END AS pred_lang"
    return (
        f"SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)}, "
        f"{case} "
        f"FROM (SELECT doc_id, {', '.join(score_cols)} FROM documents) "
        "ORDER BY doc_id"
    )


FINGERPRINT_WINDOW = 8


def rolling_fingerprint(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document rolling-hash fingerprint (winnowing-style).

    md5 each ``FINGERPRINT_WINDOW``-token shingle, keep the per-document
    minimum hash as the document fingerprint (a 1-sample winnow).
    Expression-only.
    Tokens are bound as an attribute before the transform so split() runs
    once per row, not once per shingle position (the HOF-lambda CSE trap;
    see ops/dedup.py shingles()).
    """
    toks = F.col("__toks")
    sh = F.transform(
        F.sequence(
            F.lit(0), F.greatest(F.size(toks) - FINGERPRINT_WINDOW, F.lit(0))
        ),
        lambda i: F.md5(
            F.concat_ws(
                " ",
                *[
                    F.element_at(toks, i + j + 1)
                    for j in range(FINGERPRINT_WINDOW)
                ],
            )
        ),
    )
    return (
        df.select(F.col(id_col), _toks(text_col).alias("__toks"))
        .select(
            F.col(id_col),
            F.array_min(sh).alias("min_shingle_hash"),
        )
    )


def rolling_fingerprint_oracle_sql() -> str:
    """DuckDB SQL mirroring ``rolling_fingerprint``.

    Spark's concat_ws skips the nulls element_at yields past the array
    end; DuckDB's slice truncates at the list end -- identical shingle
    text for documents shorter than the window either way.
    """
    return (
        "WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks"
        " FROM documents) "
        "SELECT doc_id, list_min(list_transform("
        f"range(1, greatest(len(toks) - {FINGERPRINT_WINDOW} + 1, 1) + 1), "
        f"i -> md5(array_to_string(toks[i:i+{FINGERPRINT_WINDOW - 1}], ' ')))) "
        "AS min_shingle_hash FROM t ORDER BY doc_id"
    )


# Scrub patterns: applied in order. Spark regexp_replace is replace-all;
# DuckDB needs the explicit 'g' flag (the dialect map's only difference).
SCRUB_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
)


def scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Replace URLs / emails / phone-shaped spans with typed placeholders.

    The standard pre-training privacy pass; chained regexp_replace stays
    in codegen (one pass per pattern over the row's text, no Python).
    Returns (id, scrubbed, n_redactions)."""
    scrubbed = F.col(text_col)
    for pat, repl in SCRUB_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    n_redactions = (
        F.size(F.split(scrubbed, "<URL>|<EMAIL>|<PHONE>")) - 1
    ).cast("long")
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed"),
        n_redactions.alias("n_redactions"),
    )


def scrub_oracle_sql() -> str:
    """DuckDB SQL mirroring ``scrub`` (regexp_replace with the 'g' flag)."""
    expr = "text"
    for pat, repl in SCRUB_PATTERNS:
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return (
        f"SELECT doc_id, {expr} AS scrubbed, "
        f"CAST(len(string_split_regex({expr}, '<URL>|<EMAIL>|<PHONE>')) - 1 "
        f"AS BIGINT) AS n_redactions "
        "FROM documents ORDER BY doc_id"
    )


BOILERPLATE_K = 3
BOILERPLATE_MIN_DOCS = 3


def boilerplate_ngrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """k-gram shingles shared by >= min_docs documents: the corpus
    boilerplate profile (headers, footers, templates) that curation
    pipelines strip before training.

    Reuses the dedup shingle machinery (per-document DISTINCT shingles,
    so count(*) per shingle == document frequency without a distinct
    aggregate); one hash-groupBy on the shingle, partial+final, same
    cost shape as exact dedup. Returns (shingle, n_docs) with a total
    order (n_docs DESC, shingle).
    """
    from . import dedup

    sh = dedup.shingles(df, id_col, text_col)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.desc("n_docs"), "shingle")
    )


def boilerplate_ngrams_oracle_sql() -> str:
    """DuckDB SQL mirroring ``boilerplate_ngrams`` (same shingle spec as
    the x03 jaccard oracle)."""
    return f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(lower(text), ' ')) - {BOILERPLATE_K - 2}),
           i -> array_to_string(
                  (string_split(lower(text), ' '))[i:i+{BOILERPLATE_K - 1}], ' ')
         )) AS sh
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {BOILERPLATE_K}
), e AS (SELECT doc_id, unnest(sh) AS shingle FROM t)
SELECT shingle, count(*) AS n_docs FROM e
GROUP BY shingle HAVING count(*) >= {BOILERPLATE_MIN_DOCS}
ORDER BY n_docs DESC, shingle
"""


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Within-document repetition features (the Gopher-style repetition
    gates): duplicate-token ratio and most-frequent-bigram mass.

    - ``dup_token_ratio`` = 1 - distinct_tokens / tokens: pure narrow
      expression, runs at scan speed.
    - ``top_bigram_ratio`` = count of the modal bigram / total bigrams:
      needs a per-(doc, bigram) count, so bigrams explode then two
      hash-groupBys reusing the doc_id shuffle key, and the tiny
      per-doc aggregate joins back to the narrow base. Nothing here is
      ever corpus-quadratic; the widest intermediate is one row per
      (doc, distinct bigram).

    Documents with fewer than 2 tokens have no bigrams; their
    ``top_bigram_ratio`` is defined as 0.0. Doubles rounded to 4.
    """
    toks_expr = _toks(text_col)
    base = df.select(
        F.col(id_col),
        F.size(toks_expr).cast("long").alias("__n_toks"),
        F.size(F.array_distinct(toks_expr)).cast("long").alias("__n_distinct"),
    )
    # bind tokens as an attribute so split() runs once per row, not once
    # per bigram position (the HOF-lambda CSE trap; see rolling_fingerprint)
    toks = F.col("__toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    grams = (
        df.select(F.col(id_col), toks_expr.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select(F.col(id_col), F.explode(bigrams).alias("gram"))
    )
    per_doc = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(
            F.max("__c").alias("__max_c"),
            F.sum("__c").alias("__tot"),
        )
    )
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.round(
            F.lit(1.0)
            - F.col("__n_distinct").cast("double") / F.col("__n_toks"),
            4,
        ).alias("dup_token_ratio"),
        F.round(
            F.coalesce(
                F.col("__max_c").cast("double") / F.col("__tot"), F.lit(0.0)
            ),
            4,
        ).alias("top_bigram_ratio"),
    )


def repetition_scores_oracle_sql() -> str:
    """DuckDB SQL mirroring ``repetition_scores`` (same tokenization as
    the x02/x03 oracles; 1-based inclusive list slices)."""
    return """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_toks,
         len(list_distinct(toks)) AS n_distinct
  FROM t
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                i -> array_to_string(toks[i:i+1], ' '))) AS gram
  FROM t WHERE len(toks) >= 2
), gc AS (
  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
), agg AS (
  SELECT doc_id, max(c) AS max_c, sum(c) AS tot FROM gc GROUP BY 1
)
SELECT b.doc_id,
       ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_toks, 4)
           AS dup_token_ratio,
       ROUND(COALESCE(CAST(max_c AS DOUBLE) / tot, 0.0), 4)
           AS top_bigram_ratio
FROM base b LEFT JOIN agg USING (doc_id)
ORDER BY b.doc_id
"""


TFIDF_MIN_DF = 2
TFIDF_TOP_TERMS = 5


def tf_idf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Top TF-IDF terms per document: (doc, term, tf, df_cnt, tfidf).

    Shape at scale: explode to (doc, term, tf) -- one groupBy; document
    frequency -- a second groupBy over distinct (doc, term), re-using the
    same shuffle key (term); idf joins back on term (hash join on the
    aggregated, already-small term table). No collect, no pivot: the
    widest intermediate is one row per distinct (doc, term).

    tfidf = tf * ln(N / df), rounded to 4 decimals; ties broken by term
    so the per-doc top-k is total-ordered.
    """
    from pyspark.sql.window import Window

    # N rides along as a broadcast 1-row aggregate (the scalar-subquery
    # shape) instead of a driver-side df.count() -- keeps the whole
    # build a single Spark job.
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    terms = df.select(
        F.col(id_col).alias("doc"),
        F.explode(_toks(text_col)).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_cnt"))
        .filter(F.col("df_cnt") >= TFIDF_MIN_DF)
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("__n_docs") / F.col("df_cnt")), 4
            ),
        )
        .drop("__n_docs")
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_TOP_TERMS)
        .select("doc", "term", "tf", "df_cnt", "tfidf", "rnk")
    )


def tf_idf_oracle_sql() -> str:
    """DuckDB SQL mirroring ``tf_idf`` (N inlined as a scalar subquery)."""
    return f"""
WITH terms AS (
  SELECT doc_id AS doc,
         unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc, term, count(*) AS tf FROM terms WHERE term != ''
  GROUP BY doc, term
), dfreq AS (
  SELECT term, count(*) AS df_cnt FROM tf GROUP BY term
  HAVING count(*) >= {TFIDF_MIN_DF}
), scored AS (
  SELECT tf.doc, tf.term, tf.tf, dfreq.df_cnt,
         ROUND(tf.tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
                          / dfreq.df_cnt), 4) AS tfidf
  FROM tf JOIN dfreq USING (term)
), ranked AS (
  SELECT doc, term, tf, df_cnt, tfidf,
         CAST(row_number() OVER (PARTITION BY doc
                                 ORDER BY tfidf DESC, term) AS BIGINT) AS rnk
  FROM scored
)
SELECT doc, term, tf, df_cnt, tfidf FROM ranked
WHERE rnk <= {TFIDF_TOP_TERMS}
ORDER BY doc, rnk
"""


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean unigram log10-probability under the corpus's own
    unigram model -- the classic cheap fluency/quality proxy (a document
    full of corpus-rare junk tokens scores low, a document of common
    well-distributed tokens scores high; the statistical-LM ancestor of
    perplexity filtering).

    Output: (doc, n_toks, mean_logp) with
    mean_logp = round(sum_t c_t * log10(freq_t / total) / n_toks, 4).

    Scale shape: token frequencies are one groupBy over the exploded
    corpus (map-side partial agg); the corpus total rides along as a
    broadcast 1-row aggregate; per-doc scoring joins (doc, term, c_dt)
    against the aggregated (already small) term table -- the same
    two-groupBys-plus-term-join shape as tf_idf, no collect, no window.

    Cross-engine determinism: each term's log10 is computed once from
    identical doubles, rounded to 6 decimals, and accumulated in DECIMAL
    (order-independent exact sums), so partition order never changes the
    hash; only then is the mean cast to DOUBLE and rounded to 4.
    """
    terms = df.select(
        F.col(id_col).alias("doc"),
        F.explode(_toks(text_col)).alias("term"),
    ).filter(F.col("term") != "")
    doc_tf = terms.groupBy("doc", "term").agg(
        F.count(F.lit(1)).alias("c_dt")
    )
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c_t"))
    total = terms.agg(F.count(F.lit(1)).cast("double").alias("__total"))
    logp = (
        F.round(F.log10(F.col("c_t") / F.col("__total")), 6)
        .cast("decimal(18,6)")
        .alias("logp")
    )
    term_logp = freq.crossJoin(F.broadcast(total)).select("term", logp)
    return (
        doc_tf.join(term_logp, "term")
        .groupBy("doc")
        .agg(
            F.sum("c_dt").cast("long").alias("n_toks"),
            F.sum(
                F.col("c_dt").cast("decimal(18,0)") * F.col("logp")
            ).alias("__sum_logp"),
        )
        .withColumn(
            "mean_logp",
            F.round(
                F.col("__sum_logp").cast("double") / F.col("n_toks"), 4
            ),
        )
        .select("doc", "n_toks", "mean_logp")
    )


def unigram_logprob_oracle_sql() -> str:
    """DuckDB SQL mirroring ``unigram_logprob`` (total inlined as a
    scalar subquery; the same round-then-DECIMAL accumulation)."""
    return """
WITH terms AS (
  SELECT doc_id AS doc,
         unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), t AS (
  SELECT doc, term FROM terms WHERE term != ''
), doc_tf AS (
  SELECT doc, term, count(*) AS c_dt FROM t GROUP BY doc, term
), freq AS (
  SELECT term, count(*) AS c_t FROM t GROUP BY term
), term_logp AS (
  SELECT term,
         CAST(ROUND(log10(c_t / (SELECT CAST(count(*) AS DOUBLE) FROM t)),
                    6) AS DECIMAL(18,6)) AS logp
  FROM freq
)
SELECT doc, CAST(SUM(c_dt) AS BIGINT) AS n_toks,
       ROUND(CAST(SUM(CAST(c_dt AS DECIMAL(18,0)) * logp) AS DOUBLE)
             / CAST(SUM(c_dt) AS BIGINT), 4) AS mean_logp
FROM doc_tf JOIN term_logp USING (term)
GROUP BY doc
ORDER BY doc
"""


def source_mix_stats(
    df: DataFrame, strata_col: str, text_col: str
) -> DataFrame:
    """Mixture report per stratum (source/language/domain): document and
    token counts, token share, and the uniform-target reweight factor
    (target_share / actual_share) a mixer would apply to rebalance the
    corpus -- the bookkeeping half of data mixing (the enforcement half
    is stratified_sample / token_budget_sample).

    Output: (stratum, n_docs, n_tokens, token_share, reweight).

    Scale shape: one hash-groupBy over the corpus (map-side partial
    agg); the grand totals ride a broadcast 1-row aggregate -- no
    window, no second shuffle.
    """
    n_toks = F.size(_toks(text_col)).cast("long")
    per = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_toks).cast("long").alias("n_tokens"),
    )
    totals = per.agg(
        F.sum("n_tokens").cast("double").alias("__total_tokens"),
        F.count(F.lit(1)).cast("double").alias("__n_strata"),
    )
    share = F.col("n_tokens") / F.col("__total_tokens")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "stratum",
            "n_docs",
            "n_tokens",
            F.round(share, 4).alias("token_share"),
            F.round((1.0 / F.col("__n_strata")) / share, 4).alias(
                "reweight"
            ),
        )
    )


def source_mix_stats_oracle_sql() -> str:
    """DuckDB SQL mirroring ``source_mix_stats``."""
    return """
WITH per AS (
  SELECT source AS stratum, count(*) AS n_docs,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
             AS n_tokens
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total_tokens,
         CAST(count(*) AS DOUBLE) AS n_strata
  FROM per
)
SELECT stratum, n_docs, n_tokens,
       ROUND(n_tokens / total_tokens, 4) AS token_share,
       ROUND((1.0 / n_strata) / (n_tokens / total_tokens), 4) AS reweight
FROM per, tot
ORDER BY stratum
"""


VOCAB_TOP_N = 100


def vocab_coverage(
    df: DataFrame, text_col: str, top_n: int = VOCAB_TOP_N
) -> DataFrame:
    """Vocabulary coverage curve: the ``top_n`` most frequent tokens with
    rank and CUMULATIVE corpus-coverage fraction -- the first artifact of
    tokenizer/vocab construction (how much of the token stream the next
    vocab slot buys) and the sanity check behind "top 100 tokens cover
    X% of the corpus" claims.

    Output: (rank, term, cnt, cum_coverage), rank 1..top_n by
    (cnt DESC, term) -- the total tiebreak keeps it deterministic.

    Scale shape: one explode + hash-groupBy(term) with map-side partial
    aggregation, the grand total as a broadcast 1-row aggregate, and
    TakeOrderedAndProject for the top-N -- the only window runs over the
    ALREADY-LIMITED top_n rows (driver-scale), never the full vocab.
    Counts stay BIGINT so the running sum is exact; the single division
    at the end is IEEE-deterministic.
    """
    counts = (
        df.select(F.explode(_toks(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(
        F.sum("cnt").cast("double").alias("__total")
    )
    top = counts.orderBy(F.desc("cnt"), "term").limit(top_n)
    w = Window.orderBy(F.desc("cnt"), "term").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("cnt"), "term")
        ))
        .withColumn("cum", F.sum("cnt").over(w).cast("long"))
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "term",
            "cnt",
            F.round(F.col("cum") / F.col("__total"), 4).alias(
                "cum_coverage"
            ),
        )
        .orderBy("rank")
    )


def vocab_coverage_sql() -> str:
    """DuckDB SQL mirroring ``vocab_coverage``."""
    return f"""
WITH tok AS (
  SELECT unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), c AS (
  SELECT term, count(*) AS cnt FROM tok GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c
), top AS (
  SELECT term, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT)
             AS rank
  FROM c ORDER BY cnt DESC, term LIMIT {VOCAB_TOP_N}
)
SELECT rank, term, cnt,
       ROUND(CAST(SUM(cnt) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS DOUBLE) / total, 4)
           AS cum_coverage
FROM top, tot ORDER BY rank
"""


def pii_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII counts by type -- the AUDIT half of the privacy
    pass (``scrub`` is the enforcement half): how much URL/email/phone
    mass each document carries, before anything is redacted.

    Counts mirror scrub's replacement order exactly (URLs counted on the
    raw text, emails on URL-masked text, phones on email-masked text),
    so ``n_pii`` per document EQUALS scrub's ``n_redactions`` -- the
    reconciliation invariant tests assert. Pure regexp_count chain,
    codegen, scan-speed.

    Output: (id, n_url, n_email, n_phone, n_pii).
    """
    url_pat, email_pat, phone_pat = (p for p, _ in SCRUB_PATTERNS)
    raw = F.col(text_col)
    masked_url = F.regexp_replace(raw, url_pat, "<URL>")
    masked_email = F.regexp_replace(masked_url, email_pat, "<EMAIL>")
    n_url = F.regexp_count(raw, F.lit(url_pat)).cast("long")
    n_email = F.regexp_count(masked_url, F.lit(email_pat)).cast("long")
    n_phone = F.regexp_count(masked_email, F.lit(phone_pat)).cast("long")
    return df.select(
        F.col(id_col),
        n_url.alias("n_url"),
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        (n_url + n_email + n_phone).alias("n_pii"),
    )


def pii_stats_sql() -> str:
    """DuckDB SQL mirroring ``pii_stats`` (regexp_extract_all lengths)."""
    url_pat, email_pat, phone_pat = (
        p.replace("'", "''") for p, _ in SCRUB_PATTERNS
    )
    masked_url = (
        f"regexp_replace(text, '{url_pat}', '<URL>', 'g')"
    )
    masked_email = (
        f"regexp_replace({masked_url}, '{email_pat}', '<EMAIL>', 'g')"
    )
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{url_pat}')) AS BIGINT)
           AS n_url,
       CAST(len(regexp_extract_all({masked_url}, '{email_pat}'))
           AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all({masked_email}, '{phone_pat}'))
           AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '{url_pat}'))
            + len(regexp_extract_all({masked_url}, '{email_pat}'))
            + len(regexp_extract_all({masked_email}, '{phone_pat}'))
           AS BIGINT) AS n_pii
FROM documents ORDER BY doc_id
"""


def oov_ratio(
    df: DataFrame, id_col: str, text_col: str, top_n: int = VOCAB_TOP_N
) -> DataFrame:
    """Per-document out-of-vocabulary ratio against the corpus's own
    top-``top_n`` vocabulary -- the quality signal behind OOV filtering
    (documents full of tokens a tokenizer's vocab won't cover are noise,
    boilerplate, or the wrong language). The measurement side of the
    x47 coverage curve.

    Output: (id, n_tokens, n_oov, oov_ratio).

    Scale shape: the vocab is a TakeOrdered top-N (tiny, broadcast); the
    corpus explodes once and LEFT-joins the broadcast vocab (no shuffle
    of the token stream beyond the doc-key groupBy). Counts stay
    BIGINT; the single division is IEEE-deterministic.
    """
    counts = (
        df.select(F.explode(_toks(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = (
        counts.orderBy(F.desc("cnt"), "term")
        .limit(top_n)
        .select("term", F.lit(True).alias("__in_vocab"))
    )
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(_toks(text_col)).alias("term")
    )
    flagged = toks.join(F.broadcast(vocab), "term", "left")
    per = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(
            F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_oov"),
    )
    return per.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "n_oov",
        F.round(
            F.col("n_oov") / F.col("n_tokens"), 4
        ).alias("oov_ratio"),
    )


def oov_ratio_sql() -> str:
    """DuckDB SQL mirroring ``oov_ratio``."""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), c AS (
  SELECT term, count(*) AS cnt FROM tok GROUP BY 1
), vocab AS (
  SELECT term FROM c ORDER BY cnt DESC, term LIMIT {VOCAB_TOP_N}
), per AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov
  FROM tok t LEFT JOIN vocab v USING (term)
  GROUP BY 1
)
SELECT doc_id, n_tokens, n_oov,
       ROUND(CAST(n_oov AS DOUBLE) / n_tokens, 4) AS oov_ratio
FROM per ORDER BY doc_id
"""


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean bigram conditional log10-probability under the
    corpus's own bigram model: mean over a doc's positional bigrams of
    log10 P(w2 | w1), P MLE-estimated from corpus bigram counts with the
    context count derived from the bigram table itself (sum_z c(w1,z),
    so the conditional normalizes exactly). One order up from x37's
    unigram proxy: junk token SEQUENCES score low even when each token
    is individually common -- the next rung toward perplexity filtering.

    Output: (doc, n_bigrams, mean_logp), docs with >= 2 tokens.

    Scale shape: positional bigrams explode once; corpus model is two
    hash-groupBys (bigram, then context w1) plus one w1 equi-join --
    all partial-aggregating; per-doc scoring joins (doc, bigram, c_db)
    against the aggregated bigram table. No window, no collect.

    Cross-engine determinism: x37's recipe -- each bigram's log10 is
    computed once from identical doubles, rounded to 6 decimals, cast
    to DECIMAL, accumulated exactly; the mean is the only double op.
    """
    t = df.select(
        F.col(id_col).alias("doc"), _toks(text_col).alias("__toks")
    ).filter(F.size("__toks") >= 2)
    toks = F.col("__toks")
    bg = t.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ).alias("bg"),
    )
    doc_bf = bg.groupBy("doc", "bg").agg(F.count(F.lit(1)).alias("c_db"))
    big = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c_12"))
    big = big.withColumn("w1", F.split(F.col("bg"), " ")[0])
    ctx = big.groupBy("w1").agg(F.sum("c_12").alias("c_1"))
    logp = (
        F.round(F.log10(F.col("c_12") / F.col("c_1")), 6)
        .cast("decimal(18,6)")
        .alias("logp")
    )
    bg_logp = big.join(ctx, "w1").select("bg", logp)
    return (
        doc_bf.join(bg_logp, "bg")
        .groupBy("doc")
        .agg(
            F.sum("c_db").cast("long").alias("n_bigrams"),
            F.sum(
                F.col("c_db").cast("decimal(18,0)") * F.col("logp")
            ).alias("__sum_logp"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_bigrams",
            F.round(
                F.col("__sum_logp").cast("double") / F.col("n_bigrams"), 4
            ).alias("mean_logp"),
        )
    )


def bigram_logprob_oracle_sql() -> str:
    """DuckDB SQL mirroring ``bigram_logprob``."""
    return """
WITH t AS (
  SELECT doc_id AS doc, string_split(lower(text), ' ') AS toks
  FROM documents
  WHERE len(string_split(lower(text), ' ')) >= 2
), bg AS (
  SELECT doc,
         unnest(list_transform(
           range(1, len(toks)),
           i -> array_to_string(toks[i:i+1], ' ')
         )) AS bg
  FROM t
), doc_bf AS (
  SELECT doc, bg, count(*) AS c_db FROM bg GROUP BY doc, bg
), big AS (
  SELECT bg, count(*) AS c_12,
         string_split(bg, ' ')[1] AS w1
  FROM bg GROUP BY bg
), ctx AS (
  SELECT w1, SUM(c_12) AS c_1 FROM big GROUP BY w1
), bg_logp AS (
  SELECT bg,
         CAST(ROUND(log10(CAST(c_12 AS DOUBLE) / c_1), 6)
              AS DECIMAL(18,6)) AS logp
  FROM big JOIN ctx USING (w1)
)
SELECT doc AS doc_id, CAST(SUM(c_db) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(c_db AS DECIMAL(18,0)) * logp) AS DOUBLE)
             / CAST(SUM(c_db) AS BIGINT), 4) AS mean_logp
FROM doc_bf JOIN bg_logp USING (bg)
GROUP BY doc ORDER BY doc
"""


def dataset_card(df: DataFrame) -> DataFrame:
    """One-row dataset-card summary: the corpus-level numbers a data
    card / datasheet reports (doc and token counts, language and source
    cardinality, exact duplicate rate, mean doc length) -- the roll-up
    of the per-axis tables (x38/x60) into the headline row.

    Scale shape: ONE aggregate pass over one scan; count-distincts are
    two-phase partial aggs; no joins.
    """
    n_toks = F.size(_toks("text")).cast("long")
    h = F.md5(F.lower(F.col("text")))
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(n_toks).cast("long").alias("n_tokens"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.count_distinct(h).cast("long").alias("n_distinct_texts"),
        F.round(
            F.lit(1.0) - F.count_distinct(h) / F.count(F.lit(1)), 4
        ).alias("dup_rate"),
        F.round(
            F.sum(n_toks) / F.count(F.lit(1)), 4
        ).alias("mean_tokens_per_doc"),
    )


def compression_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes): the
    classic repetitive-junk detector -- templated or looping text
    compresses far below prose, catching degenerate documents that
    token-level gates miss. No SQL-engine equivalent exists, so this is
    a rows-only operator; its behavior is gated in tests (ratio for
    repeated text << ratio for high-entropy text, determinism).

    Scale shape: an Arrow-batched pandas UDF (zlib in C, one call per
    row inside the batch loop -- no per-row Python dispatch overhead at
    the Spark layer); narrow, no shuffle.
    """
    import zlib

    import pandas
    from pyspark.sql.functions import pandas_udf

    def _ratio(texts):
        def one(t):
            if t is None or len(t) == 0:
                return None
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, 6)) / len(raw), 4)

        return texts.map(one)

    # explicit signature (not type hints): the module's `from __future__
    # import annotations` stringifies hints, which pandas_udf cannot
    # resolve against function-local imports
    _ratio.__annotations__ = {
        "texts": pandas.Series, "return": pandas.Series
    }
    ratio = pandas_udf(_ratio, "double")

    return df.select(
        F.col(id_col),
        F.octet_length(text_col).cast("long").alias("n_bytes"),
        ratio(F.col(text_col)).alias("zlib_ratio"),
    )


# Normalization steps, applied in order (the canonical pre-hash cleanup:
# identical VISIBLE text must hash identically before any dedup pass).
NORMALIZE_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[\t\r\n]+", " "),      # control whitespace -> space
    (r" {2,}", " "),           # collapse runs of spaces
    (r"^ +| +$", ""),          # trim
)


def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace/control-character normalization -- the cleanup pass
    that MUST precede content-hash dedup (x01): tab-vs-space and
    double-space variants of identical visible text otherwise hash as
    distinct documents and silently survive dedup.

    Output: (id, normalized, changed) -- chained regexp_replace,
    codegen, scan-speed; ``changed`` flags rows the pass altered.
    """
    norm = F.col(text_col)
    for pat, repl in NORMALIZE_PATTERNS:
        norm = F.regexp_replace(norm, pat, repl)
    return df.select(
        F.col(id_col),
        norm.alias("normalized"),
        (norm != F.col(text_col)).alias("changed"),
    )


def normalize_text_sql(source: str) -> str:
    """DuckDB SQL mirroring ``normalize_text`` ('g' flag; DuckDB's RE2
    anchors ^/$ behave the same on single-line strings)."""
    expr = "text"
    for pat, repl in NORMALIZE_PATTERNS:
        # DuckDB single-quoted strings are escape-free: the backslash
        # sequences reach RE2 verbatim, exactly like Spark's Java regex
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return (
        f"SELECT doc_id, {expr} AS normalized, "
        f"({expr} != text) AS changed "
        f"FROM {source} ORDER BY doc_id"
    )


LINE_MIN_DOCS = 3
LINE_TOKENS = 8


def line_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style LINE deduplication stats: mark every line occurring in
    >= ``LINE_MIN_DOCS`` DISTINCT documents as boilerplate (the "remove any
    line appearing three or more times" rule that strips headers,
    cookie banners, and navigation chrome exact doc-level dedup never
    sees), and report per document how much survives.

    Lines here are fixed ``LINE_TOKENS``-token windows (the corpus
    fixture is single-line, so structural lines are derived
    deterministically from token positions -- on real data pass the
    text pre-split on '\\n' through the same counting).

    Output: (id, n_lines, n_dropped, kept_hash) where kept_hash is the
    md5 of the surviving lines joined in order ('' when everything was
    dropped) -- the content key a downstream exact-dedup pass would
    consume.

    Scale shape: lines explode once (linear, ~n_tokens/line_tokens per
    doc); document frequency is ONE hash-groupBy on the line text with
    an exact distinct count (partial-aggregating); the boilerplate
    verdict comes back via an equi-join of the line stream to the
    frequent-line keys (df >= min_docs is a tiny fraction of distinct
    lines -- at 100 TB broadcast it); per-doc recomposition is one
    groupBy(doc) with a sorted collect of (pos, line) structs. Never
    pairwise, no window over the corpus.
    """
    toks = _toks(text_col)
    n_lines = F.ceil(F.size("__toks") / F.lit(LINE_TOKENS)).cast("int")
    lines = (
        df.select(F.col(id_col).alias("doc"), toks.alias("__toks"))
        .select(
            "doc",
            "__toks",
            F.posexplode(
                F.sequence(F.lit(0), n_lines - 1)
            ).alias("pos", "__i"),
        )
        .select(
            "doc",
            "pos",
            F.array_join(
                F.slice(
                    F.col("__toks"),
                    F.col("__i") * LINE_TOKENS + 1,
                    LINE_TOKENS,
                ),
                " ",
            ).alias("line"),
        )
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct("doc").alias("df"))
        .filter(F.col("df") >= LINE_MIN_DOCS)
        .select("line")
    )
    marked = lines.join(
        boiler.withColumn("__b", F.lit(True)), "line", "left"
    ).select(
        "doc",
        "pos",
        "line",
        F.coalesce(F.col("__b"), F.lit(False)).alias("is_boiler"),
    )
    return (
        marked.groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("pos", "is_boiler", "line")
                                )
                            ),
                            lambda s: ~s["is_boiler"],
                        ),
                        lambda s: s["line"],
                    ),
                    " ",
                )
            ).alias("kept_hash"),
        )
    )


def line_dedup_stats_sql() -> str:
    """DuckDB SQL mirroring ``line_dedup_stats`` (same fixed-window
    lines, same >= min_docs distinct-doc rule, same kept-text md5)."""
    lt = LINE_TOKENS
    return f"""
WITH t AS (
  SELECT doc_id AS doc, string_split(lower(text), ' ') AS toks
  FROM documents
), i AS (
  SELECT doc, toks,
         unnest(range(0, CAST(ceil(len(toks) / {lt}.0) AS BIGINT)))
             AS pos
  FROM t
), l AS (
  SELECT doc, pos,
         array_to_string(toks[(pos * {lt} + 1):(pos * {lt} + {lt})],
                         ' ') AS line
  FROM i
), b AS (
  SELECT line FROM l GROUP BY line
  HAVING count(DISTINCT doc) >= {LINE_MIN_DOCS}
), m AS (
  SELECT l.doc, l.pos, l.line, (b.line IS NOT NULL) AS is_boiler
  FROM l LEFT JOIN b ON l.line = b.line
)
SELECT doc AS doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN line END,
                               ' ' ORDER BY pos), '')) AS kept_hash
FROM m GROUP BY doc ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Blocklist filtering (C4-style bad-word document gate)
# ---------------------------------------------------------------------------

# Deterministic stand-in for a real bad-words list (the C4 rule drops any
# document containing a blocked term). Swap for the production list; the
# operator shape is identical.
BLOCKLIST_TERMS: tuple[str, ...] = ("slow", "dup", "big")


def blocklist_stats(
    df: DataFrame,
    source_col: str,
    text_col: str,
) -> DataFrame:
    """Per-source blocklist filtering stats (the C4 bad-words gate).

    For each source: documents scanned, documents containing >= 1 blocked
    term (these would be DROPPED), drop rate, and total term hits. The
    term list rides inline in the expression (a real list would be a
    broadcast join against exploded tokens -- same one-scan shape). Pure
    narrow expressions + one small groupBy: parquet-scan speed at 100 TB.
    """
    toks = _toks(text_col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*BLOCKLIST_TERMS))).cast(
        "long"
    )
    per_doc = df.select(F.col(source_col).alias("source"), hits.alias("n_hits"))
    n_docs = F.count(F.lit(1)).cast("long")
    n_flagged = F.sum((F.col("n_hits") > 0).cast("long")).cast("long")
    return per_doc.groupBy("source").agg(
        n_docs.alias("n_docs"),
        n_flagged.alias("n_flagged"),
        F.sum("n_hits").cast("long").alias("total_hits"),
        F.round(
            F.sum((F.col("n_hits") > 0).cast("long"))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("flag_rate"),
    )


def blocklist_stats_sql() -> str:
    """DuckDB SQL mirroring ``blocklist_stats``."""
    inlist = ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS)
    return f"""
WITH d AS (
  SELECT source AS source,
         len(list_filter(string_split(lower(text), ' '),
                         t -> t IN ({inlist}))) AS n_hits
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_flagged,
       CAST(SUM(n_hits) AS BIGINT) AS total_hits,
       ROUND(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) /
             CAST(count(*) AS DOUBLE), 4) AS flag_rate
FROM d GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# BPE merge-pair counting (the first tokenizer-training iteration)
# ---------------------------------------------------------------------------


BPE_PAIR_TOP_K = 50


def bpe_pair_counts(
    df: DataFrame, text_col: str, top_k: int = BPE_PAIR_TOP_K
) -> DataFrame:
    """Corpus-frequency-weighted adjacent character-pair counts -- the
    first merge-selection step of BPE tokenizer training (the most
    frequent pair becomes the first merge rule).

    Two-level aggregation keeps it linear: token counts collapse the
    corpus to vocab cardinality FIRST (one hash-groupBy over the token
    explode), then pairs expand inside each distinct word (word-length
    factor over vocab rows, trivial) weighted by the word's corpus count.
    At 100 TB the pair table is alphabet^2-sized -- nothing here scales
    with corpus size except the first partial-aggregating groupBy.
    """
    words = (
        df.select(F.explode(_toks(text_col)).alias("w"))
        .filter((F.length("w") >= 2) & F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(top_k)
    )


def bpe_pair_counts_sql() -> str:
    """DuckDB SQL mirroring ``bpe_pair_counts``."""
    return f"""
WITH w AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) WHERE len(w) >= 2 AND regexp_full_match(w, '[a-z]+')
  GROUP BY w
), p AS (
  SELECT unnest(list_transform(range(1, len(w)),
                i -> substr(w, CAST(i AS INT), 2))) AS pair,
         cnt
  FROM w
)
SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT {BPE_PAIR_TOP_K}
"""


# ---------------------------------------------------------------------------
# Charset / encoding audit (mojibake + control-char detector)
# ---------------------------------------------------------------------------

_NON_ASCII_RE = "[^\\x00-\\x7f]"
_CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
_REPLACEMENT_RE = "\\x{fffd}"  # U+FFFD: the decode-failure marker


def charset_audit(
    df: DataFrame, source_col: str, text_col: str
) -> DataFrame:
    """Per-source encoding-health audit: non-ASCII character counts,
    C0 control characters (broken extraction), U+FFFD replacement
    characters (upstream decode failures -- the mojibake signal), and
    whitespace ratio. A spike in any column isolates a broken feed
    before its documents poison tokenizer training.

    Pure regexp_count chain (codegen, scan-speed) + one small groupBy;
    the fixture corpus is clean ASCII so the synthetic-dirt test in
    tests/test_ops_quality.py exercises the nonzero paths.
    """
    t = F.col(text_col)
    per_doc = df.select(
        F.col(source_col).alias("source"),
        F.length(t).cast("long").alias("n_chars"),
        F.regexp_count(t, F.lit(_NON_ASCII_RE)).cast("long").alias("non_ascii"),
        F.regexp_count(t, F.lit(_CONTROL_RE)).cast("long").alias("control"),
        F.regexp_count(t, F.lit(_REPLACEMENT_RE))
        .cast("long")
        .alias("replacement"),
        F.regexp_count(t, F.lit("\\s")).cast("long").alias("ws"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("non_ascii").cast("long").alias("n_non_ascii"),
        F.sum("control").cast("long").alias("n_control"),
        F.sum("replacement").cast("long").alias("n_replacement"),
        F.round(F.sum("ws") / F.sum("n_chars").cast("double"), 4).alias(
            "ws_ratio"
        ),
    )


def charset_audit_sql() -> str:
    """DuckDB SQL mirroring ``charset_audit`` (RE2 accepts the same
    \\x / \\x{{}} escapes as the Java patterns)."""
    return """
WITH d AS (
  SELECT source AS source,
         len(text) AS n_chars,
         len(regexp_extract_all(text, '[^\\x00-\\x7f]')) AS non_ascii,
         len(regexp_extract_all(text,
             '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS control,
         len(regexp_extract_all(text, '\\x{fffd}')) AS replacement,
         len(regexp_extract_all(text, '\\s')) AS ws
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(non_ascii) AS BIGINT) AS n_non_ascii,
       CAST(SUM(control) AS BIGINT) AS n_control,
       CAST(SUM(replacement) AS BIGINT) AS n_replacement,
       ROUND(SUM(ws) / CAST(SUM(n_chars) AS DOUBLE), 4) AS ws_ratio
FROM d GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Zipf slope (log-log least squares over the top-k frequency curve)
# ---------------------------------------------------------------------------


ZIPF_TOP_K = 100


def zipf_fit(
    df: DataFrame, text_col: str, top_k: int = ZIPF_TOP_K
) -> DataFrame:
    """Least-squares slope of ln(freq) vs ln(rank) over the top-k terms
    -- the Zipf diagnostic (natural corpora fit slope ~= -1; synthetic
    or templated corpora flatten toward 0, single-domain crawls steepen).

    Scale shape: one partial-aggregating token groupBy collapses the
    corpus to vocab cardinality, TakeOrdered picks top-k, and the window
    + regression run over exactly k rows. Determinism: ln() is rounded
    to 6 decimals THEN accumulated in DECIMAL (x88's round-log trick,
    because transcendental libm results are not cross-engine exact);
    the closed-form slope divides two exact decimal sums in DOUBLE.
    """
    terms = (
        df.select(F.explode(_toks(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("cnt"), "term")  # over <= top_k rows only
    ranked = terms.withColumn("rank", F.row_number().over(w))
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col(
        "n"
    ).cast("double")
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(intercept, 4).alias("zipf_intercept"),
    )


def zipf_fit_sql() -> str:
    """DuckDB SQL mirroring ``zipf_fit`` (same round-log-then-DECIMAL
    accumulation, same closed-form division order)."""
    return f"""
WITH terms AS (
  SELECT term, count(*) AS cnt FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) GROUP BY term ORDER BY cnt DESC, term LIMIT {ZIPF_TOP_K}
), ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank
  FROM terms
), xy AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM ranked
), sums AS (
  SELECT CAST(count(*) AS DECIMAL(18,0)) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
             CAST(n * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE) -
              (CAST(n * sxy - sx * sy AS DOUBLE) /
               CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) /
             CAST(n AS DOUBLE), 4) AS zipf_intercept
FROM sums
"""


# ---------------------------------------------------------------------------
# BM25 retrieval (the classic lexical ranker, corpus-side)
# ---------------------------------------------------------------------------

BM25_QUERY_TERMS: tuple[str, ...] = ("spark", "join", "stream")


BM25_TOP_K = 20


def bm25_topk(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Okapi BM25 top-k documents for a fixed query (k1=1.2, b=0.75) --
    the lexical retrieval baseline every RAG pipeline starts from, and
    the hard-negative miner for embedding training.

    Scale shape: token explode filtered to the query's terms BEFORE the
    (doc, term) groupBy (postings only for query terms, never the full
    vocab), document-frequency and corpus stats ride broadcast 1-row /
    term-cardinality aggregates, one partial-aggregating per-doc sum,
    TakeOrdered top-k. Determinism: idf ln() rounds to 6 then every
    per-term contribution rounds to 8 and accumulates in DECIMAL
    (x88's recipe); tf/length arithmetic is correctly-rounded double
    ops mirrored operation-for-operation in the oracle.
    """
    toks = _toks(text_col)
    lens = df.select(
        F.col(id_col).alias("doc"), F.size(toks).cast("long").alias("len_d")
    )
    corpus = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum("len_d").cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    tf = (
        df.select(
            F.col(id_col).alias("doc"), F.explode(toks).alias("term")
        )
        .filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_cnt"))
    idf = (
        dfreq.crossJoin(F.broadcast(corpus))
        .select(
            "term",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df_cnt") + F.lit(0.5))
                    / (F.col("df_cnt") + F.lit(0.5))
                ),
                6,
            ).alias("idf"),
            "avgdl",
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(lens, "doc")
        .select(
            "doc",
            F.round(
                F.col("idf")
                * (
                    (F.col("tf").cast("double") * F.lit(2.2))
                    / (
                        F.col("tf").cast("double")
                        + F.lit(1.2)
                        * (
                            F.lit(0.25)
                            + F.lit(0.75)
                            * (F.col("len_d") / F.col("avgdl"))
                        )
                    )
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("doc")
        .agg(F.round(F.sum("c").cast("double"), 4).alias("bm25"))
        .select(F.col("doc").alias(id_col), "bm25")
        .orderBy(F.desc("bm25"), id_col)
        .limit(BM25_TOP_K)
    )


def bm25_topk_sql() -> str:
    """DuckDB SQL mirroring ``bm25_topk`` operation-for-operation."""
    inlist = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH lens AS (
  SELECT doc_id AS doc,
         len(string_split(lower(text), ' ')) AS len_d
  FROM documents
), corpus AS (
  SELECT count(*) AS n_docs,
         CAST(SUM(len_d) AS DOUBLE) / count(*) AS avgdl
  FROM lens
), tf AS (
  SELECT doc, term, count(*) AS tf FROM (
    SELECT doc_id AS doc,
           unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) WHERE term IN ({inlist})
  GROUP BY doc, term
), dfreq AS (
  SELECT term, count(*) AS df_cnt FROM tf GROUP BY term
), idf AS (
  SELECT term,
         ROUND(ln(CAST(1.0 AS DOUBLE) +
                  (n_docs - df_cnt + CAST(0.5 AS DOUBLE)) /
                  (df_cnt + CAST(0.5 AS DOUBLE))), 6) AS idf,
         avgdl
  FROM dfreq, corpus
), contrib AS (
  SELECT tf.doc,
         CAST(ROUND(idf.idf *
                ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
                 (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                  (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
                   (lens.len_d / idf.avgdl)))), 8)
              AS DECIMAL(18,8)) AS c
  FROM tf JOIN idf USING (term) JOIN lens ON lens.doc = tf.doc
)
SELECT doc AS doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 4) AS bm25
FROM contrib GROUP BY doc
ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# BPE merge learning (fixed-depth tokenizer training, the iterative leg)
# ---------------------------------------------------------------------------


BPE_MERGES = 3


def bpe_learn_merges(df: DataFrame, text_col: str) -> DataFrame:
    """Learn the first ``BPE_MERGES`` BPE merge rules -- x98 run to its
    logical conclusion: each round counts corpus-frequency-weighted
    adjacent symbol pairs, picks the argmax (ties lexicographic), and
    REWRITES every word with the merge applied before the next round.
    The same fixed-depth iterative-plan shape as x104's PageRank, on
    text.

    Output: (it, pair, merged, n) -- one row per learned merge.

    Symbol encoding makes the rewrite safe as a plain string replace:
    every symbol is wrapped in angle brackets ('<a> <b> <c>'), so the
    pattern '<a> <b>' can never match INSIDE a multi-char symbol, and
    left-to-right non-overlapping replace() (identical semantics in
    Spark and DuckDB) is exactly BPE's greedy leftmost merge order --
    '<a> <a> <a>' under merge <a>+<a> becomes '<aa> <a>', not
    '<a> <aa>'.

    Scale shape: ONE corpus-scale groupBy collapses text to (word,
    cnt) vocab rows up front; every iteration after that is
    vocab-sized -- pair explode (word-length factor), pair-count
    groupBy, a 1-row TakeOrdered argmax broadcast back, one narrow
    replace projection. Nothing returns to corpus scale, nothing
    collects to the driver.
    """
    words = (
        df.select(F.explode(_toks(text_col)).alias("w"))
        .filter((F.length("w") >= 2) & F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seqd = words.select(
        "cnt",
        F.trim(
            F.regexp_replace(F.col("w"), "(.)", "<$1> ")
        ).alias("seq"),
    ).localCheckpoint(eager=False)

    merges = []
    cur = seqd
    for it in range(1, BPE_MERGES + 1):
        toks = F.split(F.col("seq"), " ")
        # Single-symbol rows must be dropped BEFORE the explode: sequence(1, 0)
        # yields [1, 0], so the lambda would index element_at(toks, 0). Filtering
        # on `cur` keeps that guarantee independent of predicate pushdown.
        pairs = cur.filter(F.size(toks) >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(toks, i),
                        F.element_at(toks, i + 1),
                    ),
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .select(
                F.lit(it).cast("long").alias("it"),
                "pair",
                F.replace(
                    F.col("pair"), F.lit("> <"), F.lit("")
                ).alias("merged"),
                "n",
            )
        )
        merges.append(best)
        cur = cur.crossJoin(F.broadcast(best.select("pair", "merged"))).select(
            "cnt",
            F.replace(F.col("seq"), F.col("pair"), F.col("merged")).alias(
                "seq"
            ),
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def bpe_learn_merges_sql() -> str:
    """DuckDB SQL replaying ``bpe_learn_merges`` as chained CTEs (same
    wrapped-symbol encoding, same replace semantics, same tiebreak)."""
    ctes = [
        """w0 AS (
  SELECT cnt,
         trim(regexp_replace(w, '(.)', '<\\1> ', 'g')) AS seq
  FROM (
    SELECT w, count(*) AS cnt FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ) WHERE len(w) >= 2 AND regexp_full_match(w, '[a-z]+')
    GROUP BY w
  )
)"""
    ]
    for it in range(1, BPE_MERGES + 1):
        prev = f"w{it - 1}"
        ctes.append(
            f"""m{it} AS (
  SELECT CAST({it} AS BIGINT) AS it, pair,
         replace(pair, '> <', '') AS merged,
         CAST(SUM(cnt) AS BIGINT) AS n
  FROM (
    SELECT cnt,
           unnest(list_transform(
             range(1, len(string_split(seq, ' '))),
             i -> array_to_string(
                    (string_split(seq, ' '))[i:i+1], ' ')
           )) AS pair
    FROM {prev}
    WHERE len(string_split(seq, ' ')) >= 2
  )
  GROUP BY pair ORDER BY n DESC, pair LIMIT 1
)"""
        )
        if it < BPE_MERGES:
            ctes.append(
                f"""w{it} AS (
  SELECT cnt,
         replace(seq, (SELECT pair FROM m{it}),
                 (SELECT merged FROM m{it})) AS seq
  FROM {prev}
)"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT it, pair, merged, n FROM m{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union + "\nORDER BY it"
